"""spark-graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload lab_sql --seed 1 --seconds 8 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` (cached under ``perfbench/.cache``), resets the benchmark's
own state directory (``perfbench/.state``: Spark local dirs, TMPDIR, the
sketch store, checkpoints, warehouse, stream spool), starts the worker
in a process group of its own, samples the RSS of the process tree, and
afterwards stops every process the run started. Human-readable lines
come first; the last line of stdout is the JSON result. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import procs  # noqa: E402

PACKAGE = "training_flink_sql_cc_src_spark"
WORKLOADS = ("lab_sql", "stream_events")
#: The whole command ends within this many seconds, stopping the worker
#: if it must.
DEADLINE_S = 170.0
#: Driver heap (SPARK_GRAFT_DRIVER_MEM; the engine default is 48g).
DRIVER_MEM = "3g"
INPUT_CACHE_KEEP = 6

#: End-to-end metrics of the JSON result (BENCHMARK.json). peak_rss_mb is
#: printed in the table only: the JVM's off-heap RSS varied 1.6-5.1 GB
#: between runs of the same job, too wide for a regression bound.
E2E = (
    ("setup_s", "s"),
    ("stmt_p50_s", "s"),
    ("stmt_p90_s", "s"),
    ("suite_s", "s"),
)
#: The full metric table printed per workload (not all apply to
#: every workload; see README.md for each definition).
TABLE = (
    ("setup_s", "s"), ("stmt_p50_s", "s"), ("stmt_p90_s", "s"), ("suite_s", "s"),
    ("failed_frac", "ratio"), ("wrong_results", "count"), ("peak_rss_mb", "MB"),
    ("stream_sustained_eps", "1/s"), ("stream_window_lat_p50_s", "s"),
    ("stream_window_lat_p90_s", "s"), ("stream_cep_lat_p50_s", "s"),
    ("stream_cep_lat_p90_s", "s"),
)
_STREAM_LAYER = (
    ("batch_ms", "ms"), ("add_batch_ms", "ms"), ("source_ms", "ms"),
    ("commit_ms", "ms"), ("batches", "count"), ("input_rows", "count"),
    ("state_rows", "count"), ("state_mb", "MB"), ("late_dropped_rows", "count"),
    ("watermark_lag_s", "s"), ("backlog_rows", "count"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.load_calls", "count"), ("sources.load_s", "s"), ("sources.load_jobs", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("router.build_s", "s"), ("router.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.core_busy_frac", "ratio"),
    ("operators.candidate_rows", "count"), ("operators.result_rows", "count"),
    ("operators.pair_yield", "ratio"),
    ("operators.sketch_store.load_s", "s"), ("operators.sketch_store.hit_frac", "ratio"),
    *((f"streaming.{q}.{k}", u) for q in ("window", "cep") for k, u in _STREAM_LAYER),
    ("streaming.sustained_eps", "1/s"),
    ("streaming.cpus1.window.batch_ms", "ms"), ("streaming.cpus1.cep.batch_ms", "ms"),
    ("streaming.cpus1.sustained_eps", "1/s"),
    ("sink.write_ms", "ms"),
    ("gen.late_ms_max", "ms"),
    ("trace.overhead_frac", "ratio"),
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def cached_inputs(cache: str, seed: int) -> str:
    """Directory of the seed's generated parquet inputs, generating them
    on first use; keeps the INPUT_CACHE_KEEP most recently used."""
    root = os.path.join(cache, "inputs")
    out = os.path.join(root, f"fixtures-s{seed}-v{inputs.GEN_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        inputs.write_tables(inputs.fixture_tables(seed), out)
        open(os.path.join(out, "_DONE"), "w").close()
    os.utime(out)
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime
    )
    for old in entries[:-INPUT_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def source_digest(root: str) -> str:
    """Hash of the engine's Python sources: the oracle cache key's code part."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:24]


def expected_hashes(cache: str, seed: int, sf_dir: str, root: str) -> dict:
    """DuckDB oracle hashes of the workload's registry entries over its
    inputs, cached per (inputs, engine sources)."""
    import oracle
    import worker

    path = os.path.join(
        cache, "oracle",
        f"lab-s{seed}-v{inputs.GEN_VERSION}-{source_digest(root)}.json",
    )
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from training_flink_sql_cc_src_spark.registry import all_oracles

    names = worker.LAB_QUERIES
    out = oracle.duck_hashes(sf_dir, {n: s for n, s in all_oracles().items() if n in names})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        json.dump(out, f)
    os.replace(f"{path}.tmp", path)
    return out


def run_worker(cfg: dict, state: str, deadline: float) -> tuple[dict | None, float]:
    """Run one worker process to completion (or the deadline); returns
    its result and the peak RSS (MB) of its process tree, generator
    excluded. Every process it started is stopped before returning."""
    cfg_path = os.path.join(state, "worker.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    tmp = os.path.join(state, "tmp")
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(state, "local"),
        SPARK_GRAFT_SKETCH_STORE=os.path.join(state, "sketch_store"),
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(state, 'warehouse')} "
            "pyspark-shell"
        ),
        # every JVM, the launcher's too: no hsperfdata file in the system /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PERFBENCH_RUN=cfg["run_id"],
    )
    for d in ("tmp", "local", "sketch_store", "warehouse"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    log = open(os.path.join(state, "worker.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=os.getcwd(), env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    gen_marker = os.path.join(HERE, "generator.py")
    marker = os.path.join(cfg["state_dir"], "measuring")
    peak_kb = peak_jvm_kb = 0
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                print(f"# {cfg['workload']}: deadline reached, stopping the worker",
                      file=sys.stderr)
                break
            if not os.path.exists(marker):
                time.sleep(0.2)
                continue
            total = jvm = 0
            for pid in procs.descendants(os.getpid()):
                cmd = procs.cmdline(pid)
                if gen_marker not in cmd:
                    kb = procs.rss_kb(pid)
                    total += kb
                    jvm += kb if "java" in cmd.split(" ", 1)[0] else 0
            peak_kb = max(peak_kb, total)
            peak_jvm_kb = max(peak_jvm_kb, jvm)
            time.sleep(0.2)
    finally:
        left = procs.kill_tree(os.getpid(), proc.pid)
        if proc.returncode is None:
            proc.wait()
        log.close()
        if left:
            print(f"# processes still alive after stop: {left}", file=sys.stderr)
    if left or not os.path.exists(cfg["result"]):
        return None, peak_kb / 1024
    with open(cfg["result"]) as f:
        res = json.load(f)
    res["counts"]["peak_jvm_mb"] = peak_jvm_kb / 1024
    return res, peak_kb / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("hygiene",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--deadline", type=float, default=DEADLINE_S)
    args = ap.parse_args()
    deadline = time.monotonic() + args.deadline
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    procs.become_subreaper()
    # a terminated supervisor still stops its tree (run_worker's finally)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    state = os.path.join(HERE, ".state")
    cache = os.path.join(HERE, ".cache")
    reset_dir(state)

    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": nproc(), "state_dir": state,
        "run_id": os.environ.get("PERFBENCH_RUN_PREFIX", "") + uuid.uuid4().hex[:12],
        "expected": {}, "sf_dir": None,
        "result": os.path.join(state, "result.json"),
        "trace_out": os.path.join(HERE, ".out", f"spans-{args.workload}-s{args.seed}.json"),
    }
    if args.workload == "lab_sql":
        cfg["sf_dir"] = cached_inputs(cache, args.seed)
        cfg["expected"] = expected_hashes(cache, args.seed, cfg["sf_dir"], root)

    res, peak_mb = run_worker(cfg, state, deadline)
    if res is None or not res["ok"]:
        print("run.py: the workload did not complete; see perfbench/.state/worker.log",
              file=sys.stderr)
        for note in (res or {}).get("notes", [])[:20]:
            print(f"# note: {note}", file=sys.stderr)
        return 1
    if args.trace and args.workload == "stream_events" and cfg["cpus"] > 1:
        # single-thread baseline of the same job
        base_state = os.path.join(state, "cpus1")
        reset_dir(base_state)
        base_cfg = dict(cfg, cpus=1, trace=0, state_dir=base_state,
                        result=os.path.join(base_state, "result.json"))
        base, _ = run_worker(base_cfg, base_state, deadline)
        for q in ("window", "cep"):
            res["layer"][f"streaming.cpus1.{q}.batch_ms"] = (
                base["e2e"].get(f"stream_{q}_batch_ms", 0.0) if base else 0.0
            )
        res["layer"]["streaming.cpus1.sustained_eps"] = (
            base["e2e"].get("stream_sustained_eps", 0.0) if base else 0.0
        )
    res["e2e"]["peak_rss_mb"] = peak_mb
    attempted = max(1, res["attempted"])
    failed = res["failed"] + res["wrong_results"]
    res["e2e"]["failed_frac"] = failed / attempted
    res["e2e"]["wrong_results"] = res["wrong_results"]

    cells = []
    for name, unit in TABLE:
        v = res["e2e"].get(name)
        cells.append(f"{name}={'n/a' if v is None else f'{v:.4g}'}{'' if v is None else ' ' + unit}")
    print(f"# {args.workload} seed={args.seed} cpus={cfg['cpus']} trace={args.trace} "
          f"samples={res['counts'].get('samples', 0)}: " + "; ".join(cells))
    print(f"# peak RSS of the JVM: {res['counts'].get('peak_jvm_mb', 0):.0f} MB")
    for note in res["notes"][:20]:
        print(f"# note: {note}")
    if args.trace:
        metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in E2E}
    print(json.dumps({
        "correct": res["wrong_results"] == 0,
        "attempted": int(attempted), "failed": int(failed), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
