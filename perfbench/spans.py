"""In-memory spans around the benchmark's calls into each layer, plus the
Spark counters read for them.

A span records name, start, end, parent span and run id. While a span
is open its id is the Spark job group of the calling thread, so every
job launched inside it can be attributed to it afterwards from Spark's
status store (``attribute_jobs``). Spans stay in memory and are written
out once, by ``dump``, when the run ends. With tracing off ``span`` is
a no-op context manager and nothing touches Spark.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 1
        self._spark = None
        self._jsc = None
        self._seen_jobs: set[int] = set()
        #: seconds spent inside the tracer itself (span bookkeeping,
        #: job-group switches, status-store reads): the tracing overhead
        self.self_s = 0.0

    def bind(self, spark) -> None:
        self._spark = spark
        self._jsc = spark.sparkContext._jsc

    def _set_group(self, span: dict | None) -> None:
        if self._jsc is None:
            return
        if span is None:
            self._jsc.clearJobGroup()
        else:
            self._jsc.setJobGroup(f"pb-{span['id']}", span["name"], False)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": self._next,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "run": self.run_id,
            "counts": dict(attrs),
        }
        self._next += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self.self_s += time.perf_counter() - rec["end"]

    # ------------------------------------------------------------ counters
    def attribute_jobs(self) -> None:
        """Add Spark job, stage and task counters to the spans whose job
        group launched them (jobs not yet attributed only)."""
        if not self.enabled or self._jsc is None:
            return
        t0 = time.perf_counter()
        sc = self._jsc.sc()
        jvm = self._spark._jvm
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        by_id = {s["id"]: s for s in self.spans}
        for job in _seq(jvm, store.jobsList(None)):
            jid = job.jobId()
            group = _opt(job.jobGroup())
            if jid in self._seen_jobs or not group or not group.startswith("pb-"):
                continue
            self._seen_jobs.add(jid)
            span = by_id.get(int(group[3:]))
            if span is None:
                continue
            c = span["counts"]
            c["jobs"] = c.get("jobs", 0) + 1
            for sid in _seq(jvm, job.stageIds()):
                for st in _seq(jvm, store.stageData(sid, False, None, False, None)):
                    if st.status().toString() != "COMPLETE":
                        continue
                    c["stages"] = c.get("stages", 0) + 1
                    c["tasks"] = c.get("tasks", 0) + st.numCompleteTasks()
                    c["task_s"] = c.get("task_s", 0.0) + st.executorRunTime() / 1e3
                    c["task_cpu_s"] = c.get("task_cpu_s", 0.0) + st.executorCpuTime() / 1e9
                    c["gc_s"] = c.get("gc_s", 0.0) + st.jvmGcTime() / 1e3
                    c["shuffle_read_mb"] = c.get("shuffle_read_mb", 0.0) + (
                        st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                    ) / 2**20
                    c["shuffle_write_mb"] = c.get("shuffle_write_mb", 0.0) + (
                        st.shuffleWriteBytes() / 2**20
                    )
                    c["spill_mb"] = c.get("spill_mb", 0.0) + (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / 2**20
        self.self_s += time.perf_counter() - t0

    def join_rows(self, span: dict) -> None:
        """Record, on an execution span, the output rows of every join
        operator in the executed SQL plans its jobs ran (the similarity
        operators' candidate pairs)."""
        if not self.enabled or self._jsc is None:
            return
        t0 = time.perf_counter()
        jvm = self._spark._jvm
        self._jsc.sc().listenerBus().waitUntilEmpty()
        sql_store = self._spark._jsparkSession.sharedState().statusStore()
        group_jobs = set()
        store = self._jsc.sc().statusStore()
        for job in _seq(jvm, store.jobsList(None)):
            if _opt(job.jobGroup()) == f"pb-{span['id']}":
                group_jobs.add(job.jobId())
        cand = 0
        for ex in _seq(jvm, sql_store.executionsList()):
            jobs = {int(k) for k in jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs().keySet())}
            if not jobs & group_jobs:
                continue
            values = {
                int(k): str(v)
                for k, v in jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                    sql_store.executionMetrics(ex.executionId())
                ).items()
            }
            graph = sql_store.planGraph(ex.executionId())
            for node in _seq(jvm, graph.allNodes()):
                if "Join" not in node.name():
                    continue
                for m in _seq(jvm, node.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(int(m.accumulatorId()), "")
                        cand += int(v.replace(",", "") or 0)
        span["counts"]["candidate_rows"] = cand
        self.self_s += time.perf_counter() - t0

    # --------------------------------------------------------------- output
    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
