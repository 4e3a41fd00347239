"""Benchmark worker: one workload in one fresh Spark process.

Started by ``run.py`` with the checkout root as its working directory;
reads its settings from the JSON file named by ``argv[1]`` and writes
its result JSON to ``cfg["result"]``. It calls the engine only through
public entry points (``session.get_spark``, ``sources.fixtures``,
``registry.all_queries()``, ``Engine.sql`` / ``StatementRouter.execute``,
``Engine.sql_stream``) and times each call; with tracing on, a span is
opened around each of them (see ``spans.py``).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())  # the engine package at the checkout root

from spans import Tracer, self_times  # noqa: E402

import inputs  # noqa: E402
import oracle  # noqa: E402

#: The lab statement mix: registry entries of each lab family, one
#: similarity-join entry over the Zipf corpus, plus the ten verbatim
#: reference statements (VERBATIM below). Seven of those ten are DDL
#: that finish in milliseconds, so the mix holds more entries that run
#: jobs than DDL statements: the median then falls inside the cluster
#: of job-running statements, not on the gap below it.
LAB_QUERIES = (
    "window_tumble",
    "window_tumble_offset_sql",
    "window_dedup_sql",
    "join_temporal_sql",
    "join_semi",
    "agg_having",
    "topn_per_group",
    "pattern_match_recognize_next",
    "dedup_jaccard_blocked_pairs",
)
#: Entries whose plan build derives the persisted token-sketch artifact
#: (operators/sketch_store): built once during set-up.
ARTIFACT_QUERIES = ("dedup_jaccard_blocked_pairs",)

#: Rows per datagen quickstart topic for the verbatim statements.
VERBATIM_ROWS = 2_000
#: The reference's ten Flink SQL statements, character for character
#: (lab-aggregations S1-S6, lab-joins S7-S10).
VERBATIM = (
    "CREATE TABLE shoe_customers_keyed (customer_id STRING,first_name "
    "STRING,last_name STRING,email STRING,PRIMARY KEY (customer_id) "
    "NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;",
    "INSERT INTO shoe_customers_keyed SELECT id,first_name,last_name,"
    "email FROM shoe_customers;",
    "CREATE TABLE shoe_products_keyed(product_id STRING, brand STRING, "
    "`model` STRING, sale_price INT, rating DOUBLE, PRIMARY KEY "
    "(product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;",
    "INSERT INTO shoe_products_keyed SELECT id, brand, `name`, "
    "sale_price, rating FROM shoe_products;",
    "CREATE TABLE shoe_orders_enriched(order_id INT, first_name STRING, "
    "last_name STRING, email STRING, brand STRING, `model` STRING, "
    "sale_price INT, rating DOUBLE) DISTRIBUTED INTO 1 BUCKETS WITH "
    "('changelog.mode' = 'retract');",
    "INSERT INTO shoe_orders_enriched(order_id, first_name, last_name, "
    "email, brand, `model`, sale_price, rating) SELECT so.order_id, "
    "sc.first_name, sc.last_name, sc.email, sp.brand, sp.`model`, "
    "sp.sale_price, sp.rating FROM shoe_orders so INNER JOIN "
    "shoe_customers_keyed sc  ON so.customer_id = sc.customer_id "
    "INNER JOIN shoe_products_keyed sp ON so.product_id = "
    "sp.product_id;",
    "ALTER TABLE shoe_customers MODIFY (`key` STRING);",
    "ALTER TABLE shoe_products MODIFY (`key` STRING);",
    "ALTER TABLE shoe_orders MODIFY WATERMARK FOR `ts` AS `ts`;",
    "ALTER TABLE shoe_clickstream MODIFY WATERMARK FOR `ts` AS `ts`;",
)
SETUP_REPEATS = 3


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """State shared by the workloads: config, tracer, outcome counters."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.seed = cfg["seed"]
        self.tr = Tracer(bool(cfg["trace"]), cfg["run_id"])
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.notes: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.spark = None
        #: per-statement latencies of the measured passes (result file only)
        self.stmt_s: dict[str, list[float]] = {}
        #: result rows of the similarity-join statements (one pass)
        self.result_rows = 0

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {exc}"
        self.notes.append(msg[:400])

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        from training_flink_sql_cc_src_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cfg["cpus"])
        start_s = time.perf_counter() - t0
        self.tr.bind(self.spark)
        if self.tr.enabled:
            self._instrument()
        return start_s

    def _instrument(self) -> None:
        """Wrap the public layer entry points the queries call into, so
        each call gets a span (traced runs only)."""
        from training_flink_sql_cc_src_spark.operators import sketch_store
        from training_flink_sql_cc_src_spark.plans.router import StatementRouter
        from training_flink_sql_cc_src_spark.sources import fixtures

        tr = self.tr

        def wrap(owner, attr, span_name, hit=None):
            orig = getattr(owner, attr)

            def wrapped(*a, **k):
                with tr.span(span_name) as sp:
                    out = orig(*a, **k)
                    if hit is not None:
                        sp["counts"]["hit"] = int(hit(out))
                    return out

            setattr(owner, attr, wrapped)

        wrap(fixtures, "load_fixture", "sources.load")
        wrap(StatementRouter, "execute", "router.execute")
        wrap(sketch_store, "load", "sketch_store.load", hit=lambda o: o is not None)
        wrap(sketch_store, "load_kind", "sketch_store.load", hit=lambda o: o is not None)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def measuring(run: Run, on: bool) -> None:
    """Mark the measured phase for the supervisor's RSS sampling."""
    path = os.path.join(run.cfg["state_dir"], "measuring")
    if on:
        open(path, "w").close()
    elif os.path.exists(path):
        os.remove(path)


# ======================================================== batch statements
def run_query(run: Run, fn, name: str, sf_dir: str, collect: bool = False):
    """Build, plan and execute one registry entry; returns the result
    frame as pandas when ``collect``, else None (noop write)."""
    tr = run.tr
    with tr.span("queries.build", stmt=name):
        df = fn(run.spark, sf_dir)
    with tr.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()
    with tr.span("exec", stmt=name) as sp:
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
    if sp is not None and name.startswith("dedup_"):
        tr.join_rows(sp)
    return None


def check_result(run: Run, name: str, pdf, expected: dict) -> None:
    want = expected.get(name)
    if want is None:  # no oracle: rows-only check
        if len(pdf) == 0:
            run.wrong += 1
            run.notes.append(f"{name}: no rows")
        return
    got_hash, got_rows = oracle.value_hash(pdf)
    if want[0] != got_hash:
        run.wrong += 1
        run.notes.append(f"{name}: value hash mismatch (rows {got_rows} vs {want[1]})")


def register_datagen_views(run: Run, offset: int) -> None:
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.sources.datagen import QUICKSTARTS

    for view, quickstart, key_src in (
        ("shoe_customers", "SHOE_CUSTOMERS", "id"),
        ("shoe_products", "SHOES", "id"),
        ("shoe_orders", "SHOE_ORDERS", "order_id"),
        ("shoe_clickstream", "SHOE_CLICKSTREAM", "product_id"),
    ):
        df = (
            run.spark.range(offset, offset + VERBATIM_ROWS)
            .select(*QUICKSTARTS[quickstart](F.col("id")))
            .withColumn("key", F.encode(F.col(key_src).cast("string"), "UTF-8"))
        )
        df.createOrReplaceTempView(view)


def verbatim_chain(run: Run, lat: list[float] | None, check: bool) -> None:
    """S1-S10 through a fresh Engine over seed-offset datagen topics."""
    from training_flink_sql_cc_src_spark.engine import Engine

    with run.tr.span("sources.datagen"):
        register_datagen_views(run, (run.seed * 7919) % 1_000_000)
    eng = Engine(run.spark)
    eng.sql("SET 'sql.current-catalog' = 'shoe_env'")
    eng.sql("SET 'sql.current-database' = 'shoe_cluster'")
    for i, stmt in enumerate(VERBATIM, 1):
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.tr.span("statement", stmt=f"S{i}"):
                eng.sql(stmt)
        except Exception as e:  # noqa: BLE001 - counted as failed
            run.fail(f"S{i}", e)
            continue
        if lat is not None:
            lat.append(time.perf_counter() - t0)
            run.stmt_s.setdefault(f"S{i}", []).append(lat[-1])
    if check:
        t = run.spark.table
        want = {
            "shoe_customers_keyed": min(VERBATIM_ROWS, 1000),
            "shoe_products_keyed": min(VERBATIM_ROWS, 500),
            "shoe_orders_enriched": VERBATIM_ROWS,
        }
        for tbl, n in want.items():
            got = t(tbl).count()
            if got != n:
                run.wrong += 1
                run.notes.append(f"{tbl}: {got} rows, expected {n}")


def lab_workload(run: Run) -> None:
    cfg = run.cfg
    sf_dir = cfg["sf_dir"]

    # ---- set-up: session, fixture registration (repeated), artifacts
    start_s = run.start_session()
    from training_flink_sql_cc_src_spark.registry import all_queries
    from training_flink_sql_cc_src_spark.sources.fixtures import register_fixture_views

    queries = all_queries()
    reg = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with run.tr.span("sources.register"):
            register_fixture_views(run.spark, sf_dir)
        reg.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for name in ARTIFACT_QUERIES:
        with run.tr.span("artifact.build", stmt=name):
            queries[name](run.spark, sf_dir)
    artifact_s = time.perf_counter() - t0
    run.e2e["setup_s"] = start_s + median(reg) + artifact_s
    run.layer["session.start_s"] = start_s

    units = [("q", n) for n in LAB_QUERIES] + [("verbatim", "")]

    # ---- untimed warm-up pass, which also checks every output
    expected = cfg["expected"]
    t_warm = time.perf_counter()
    for kind, name in units:
        if kind == "verbatim":
            verbatim_chain(run, None, check=True)
            continue
        run.attempted += 1
        try:
            pdf = run_query(run, queries[name], name, sf_dir, collect=True)
            check_result(run, name, pdf, expected)
            if name.startswith("dedup_"):
                run.result_rows += len(pdf)
        except Exception as e:  # noqa: BLE001 - counted as failed
            run.fail(name, e)
    warm_spans = len(run.tr.spans)
    run.counts["warmup_s"] = time.perf_counter() - t_warm

    # ---- measured closed loop: whole passes in seed-permuted order; a
    # further pass starts only if it is expected to end within --seconds
    rng = random.Random(run.seed)
    lat: list[float] = []
    passes: list[float] = []
    t_start = time.perf_counter()
    measuring(run, True)
    while not passes or time.perf_counter() - t_start + passes[-1] <= cfg["seconds"]:
        order = rng.sample(units, len(units))
        t_pass = time.perf_counter()
        for kind, name in order:
            if kind == "verbatim":
                verbatim_chain(run, lat, check=False)
                continue
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with run.tr.span("statement", stmt=name):
                    run_query(run, queries[name], name, sf_dir)
            except Exception as e:  # noqa: BLE001 - counted as failed
                run.fail(name, e)
                continue
            lat.append(time.perf_counter() - t0)
            run.stmt_s.setdefault(name, []).append(lat[-1])
        passes.append(time.perf_counter() - t_pass)
        run.tr.attribute_jobs()
    measuring(run, False)
    if not lat:
        raise RuntimeError("no statement completed in the measured passes")
    run.e2e.update(
        stmt_p50_s=median(lat),
        stmt_p90_s=pct(lat, 90),
        suite_s=median(passes),
    )
    run.counts.update(samples=len(lat), passes=len(passes), pass_s=passes)
    if run.tr.enabled:
        batch_layers(run, run.tr.spans[warm_spans:], len(passes))


def batch_layers(run: Run, spans: list[dict], n_pass: int) -> None:
    """Per-pass layer totals over the measured spans."""
    selft = self_times(run.tr.spans)

    def tot(name: str, key: str | None = None, self_time: bool = False) -> float:
        v = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            if key is None:
                v += selft[s["id"]] if self_time else s["end"] - s["start"]
            else:
                v += s["counts"].get(key, 0)
        return v / max(1, n_pass)

    L = run.layer
    L["sources.load_calls"] = sum(1 for s in spans if s["name"] == "sources.load") / max(1, n_pass)
    L["sources.load_s"] = tot("sources.load")
    L["sources.load_jobs"] = tot("sources.load", "jobs")
    L["queries.build_s"] = tot("queries.build", self_time=True)
    L["queries.build_jobs"] = tot("queries.build", "jobs")
    L["router.build_s"] = tot("router.execute", self_time=True)
    L["router.build_jobs"] = tot("router.execute", "jobs")
    L["catalyst.plan_s"] = tot("catalyst.plan")
    for key in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        L[f"exec.{key}"] = tot("exec", key)
    L["exec.s"] = tot("exec")
    task_s = tot("exec", "task_s")
    L["exec.core_busy_frac"] = task_s / L["exec.s"] / run.cfg["cpus"] if L["exec.s"] else 0.0
    cand = tot("exec", "candidate_rows")
    L["operators.candidate_rows"] = cand
    L["operators.result_rows"] = run.result_rows
    L["operators.pair_yield"] = run.result_rows / cand if cand else 0.0
    # the store is read through an in-process cache: count its loads over
    # the whole run (set-up included), not per pass
    loads = [s for s in run.tr.spans if s["name"] == "sketch_store.load"]
    L["operators.sketch_store.load_s"] = sum(s["end"] - s["start"] for s in loads)
    L["operators.sketch_store.hit_frac"] = (
        sum(s["counts"].get("hit", 0) for s in loads) / len(loads) if loads else 0.0
    )


# ================================================================ stream
WINDOW_SQL = (
    "SELECT window_start, window_end, event_type, COUNT(*) AS n, "
    "MAX(`value`) AS max_value, MAX(gen_ts) AS last_gen_ts "
    "FROM TABLE(TUMBLE(TABLE ev_stream, DESCRIPTOR(ts), "
    f"INTERVAL '{inputs.STREAM_WINDOW_S}' SECOND)) "
    "GROUP BY window_start, window_end, event_type"
)
CEP_SQL = """
    SELECT user_id, a_ts, b_ts, b_gen FROM ev_stream
    MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES A.ts AS a_ts, B.ts AS b_ts, B.gen_ts AS b_gen
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B)
        WITHIN INTERVAL '10' SECOND
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'click'
    )
"""
#: Reference rate, and the ladder of higher rates stepped through after it.
STREAM_REF_EPS = 5_000
STREAM_LADDER_EPS = (20_000, 80_000)
STREAM_RUNG_S = 3.0
STREAM_TICK_S = 0.25
#: Warm-up ticks, written one at a time, each waited for until both
#: statements have processed it (the first batches compile and start
#: the Python workers; they are excluded from every metric).
STREAM_WARM_TICKS = 2
STREAM_WARM_TIMEOUT_S = 60.0


class Sink:
    """foreachBatch sink: writes each batch's rows to a parquet file and
    records the wall-clock time at which they arrived."""

    def __init__(self, out_dir: str, gen_col: str):
        self.dir, self.gen_col = out_dir, gen_col
        self.received: list[tuple[float, float]] = []  # (receipt, last gen_ts)
        self.write_ms: list[float] = []
        os.makedirs(out_dir, exist_ok=True)

    def __call__(self, df, batch_id: int) -> None:
        pdf = df.toPandas()
        t_recv = time.time()
        t0 = time.perf_counter()
        if len(pdf):
            pdf.to_parquet(os.path.join(self.dir, f"b{batch_id:06d}.parquet"))
        self.write_ms.append((time.perf_counter() - t0) * 1e3)
        self.received.extend((t_recv, g) for g in pdf[self.gen_col].tolist())


class StreamWatch:
    """Input rows processed per query, accumulated from recentProgress."""

    def __init__(self, queries: dict):
        self.queries = queries
        self.rows = {n: 0 for n in queries}
        #: keyed by (batchId, timestamp): idle triggers report progress
        #: under the id of the next batch, with no input rows
        self.progress: dict[str, dict[tuple, dict]] = {n: {} for n in queries}

    def poll(self) -> None:
        for n, q in self.queries.items():
            exc = q.exception()
            if exc is not None:
                raise RuntimeError(f"stream {n} terminated: {exc}")
            for p in q.recentProgress:
                key = (p["batchId"], p["timestamp"])
                if key not in self.progress[n]:
                    self.progress[n][key] = p
                    self.rows[n] += p["numInputRows"]

    def wait_rows(self, want: int, timeout_s: float) -> None:
        deadline = time.monotonic() + timeout_s
        while min(self.rows.values()) < want:
            if time.monotonic() > deadline:
                raise RuntimeError(f"streams did not process {want} warm-up rows")
            time.sleep(0.05)
            self.poll()

    def batches(self, n: str) -> list[dict]:
        return [self.progress[n][k] for k in sorted(self.progress[n])]


def stream_workload(run: Run) -> None:
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    from generator import write_tick

    cfg = run.cfg
    state = cfg["state_dir"]
    spool = os.path.join(state, "spool")
    os.makedirs(spool, exist_ok=True)
    start_s = run.start_session()
    from training_flink_sql_cc_src_spark.engine import Engine

    spark = run.spark
    schema = StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()), StructField("gen_ts", DoubleType()),
    ])
    reg = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with run.tr.span("sources.register"):
            eng = Engine(spark)
            spark.createDataFrame([], schema).createOrReplaceTempView("ev_stream")
            eng.sql(
                "ALTER TABLE ev_stream MODIFY WATERMARK FOR `ts` AS `ts` - "
                f"INTERVAL '{inputs.STREAM_WATERMARK_S}' SECOND"
            )
        reg.append(time.perf_counter() - t0)
    run.e2e["setup_s"] = start_s + median(reg)
    run.layer["session.start_s"] = start_s

    ref_s = float(cfg["seconds"])
    schedule = [(STREAM_REF_EPS, ref_s)] + [(eps, STREAM_RUNG_S) for eps in STREAM_LADDER_EPS]
    sched = inputs.EventSchedule(run.seed)
    warm_n = int(STREAM_REF_EPS * STREAM_TICK_S)
    sinks, queries = {}, {}
    gen = None
    write_tick(sched, spool, 0, warm_n, STREAM_TICK_S)
    try:
        for name, sql, gen_col in (("window", WINDOW_SQL, "last_gen_ts"),
                                   ("cep", CEP_SQL, "b_gen")):
            src = spark.readStream.schema(schema).parquet(spool)
            with run.tr.span("stream.plan", stmt=name):
                out = eng.sql_stream(sql, {"ev_stream": src})
            sinks[name] = Sink(os.path.join(state, "sink", name), gen_col)
            queries[name] = (
                out.writeStream.foreachBatch(sinks[name])
                .outputMode("append")
                .option("checkpointLocation", os.path.join(state, "checkpoints", name))
                .queryName(f"pb_{name}")
                .start()
            )
        watch = StreamWatch(queries)
        # ---- warm-up: one tick at a time until both statements are warm
        for k in range(STREAM_WARM_TICKS):
            if k:
                write_tick(sched, spool, k, warm_n, STREAM_TICK_S)
            watch.wait_rows((k + 1) * warm_n, STREAM_WARM_TIMEOUT_S)
        warm_batches = {n: len(watch.progress[n]) for n in queries}

        # ---- generator: open loop, its own process, fixed schedule
        t_gen0 = time.time() + 0.5
        gen_cfg = {
            "seed": run.seed, "spool": spool, "start": t_gen0,
            "first_tick": STREAM_WARM_TICKS, "tick_s": STREAM_TICK_S,
            "schedule": schedule, "report": os.path.join(state, "generator.json"),
        }
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
             json.dumps(gen_cfg)],
        )
        rung_ends, n_gen, t_cur = [], STREAM_WARM_TICKS * warm_n, t_gen0
        for eps, dur in schedule:
            ticks = int(dur / STREAM_TICK_S)
            t_cur += ticks * STREAM_TICK_S
            n_gen += ticks * int(eps * STREAM_TICK_S)
            rung_ends.append((eps, t_cur, n_gen))
        backlog_at: dict[str, list[int]] = {n: [] for n in queries}
        measuring(run, True)
        for eps, t_end, n_due in rung_ends:
            while time.time() < t_end:
                time.sleep(0.1)
                watch.poll()
            for n in queries:
                backlog_at[n].append(n_due - watch.rows[n])
            measuring(run, False)  # the measured phase is the first rung
        gen.wait(timeout=60)
        with open(gen_cfg["report"]) as f:
            gen_report = json.load(f)
        # ---- drain, then stop (stopping mid-batch is not safe)
        for n, q in queries.items():
            with run.tr.span("stream.drain", stmt=n):
                q.processAllAvailable()
        watch.poll()
    finally:
        for q in queries.values():
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - already failed
                pass
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()

    batches = {n: watch.batches(n) for n in queries}
    run.counts["batches"] = {
        n: [(round(pd.Timestamp(p["timestamp"]).timestamp() - t_gen0, 2), p["numInputRows"],
             p["durationMs"].get("triggerExecution", 0)) for p in ps]
        for n, ps in batches.items()
    }
    # ---- correctness: drained window state == batch answer; rows in == rows out
    n_gen = STREAM_WARM_TICKS * warm_n + gen_report["rows"]
    run.attempted += 2
    for n in queries:
        if watch.rows[n] != n_gen:
            run.wrong += 1
            run.notes.append(f"{n}: processed {watch.rows[n]} rows of {n_gen} generated")
    spark.read.schema(schema).parquet(spool).createOrReplaceTempView("ev_stream")
    want = eng.sql(WINDOW_SQL).toPandas()
    last_wm = max(
        (pd.Timestamp(p["eventTime"]["watermark"]) for p in batches["window"]
         if "watermark" in p.get("eventTime", {})),
        default=None,
    )
    if last_wm is not None:
        wm = last_wm.tz_convert("UTC").tz_localize(None) if last_wm.tzinfo else last_wm
        want = want[pd.to_datetime(want["window_end"]) <= wm]
    files = sorted(os.listdir(sinks["window"].dir))
    got = (pd.concat([pd.read_parquet(os.path.join(sinks["window"].dir, f)) for f in files])
           if files else want.iloc[:0])
    if not len(want) or oracle.value_hash(got)[0] != oracle.value_hash(want)[0]:
        run.wrong += 1
        run.notes.append(f"window: streamed state ({len(got)} rows) != batch answer ({len(want)} rows)")

    # ---- end-to-end: result latency at the reference rate, per-batch wall
    ref_lo, ref_hi = t_gen0, t_gen0 + ref_s
    lat = {n: [r - g for r, g in s.received if ref_lo <= g < ref_hi] for n, s in sinks.items()}
    pooled = lat["window"] + lat["cep"]
    ref_batches = {
        n: [p for p in batches[n][warm_batches[n]:]
            if pd.Timestamp(p["timestamp"]).timestamp() < ref_hi and p["numInputRows"] > 0]
        for n in queries
    }
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for n in queries for p in ref_batches[n]]
    if not lat["window"] or not lat["cep"] or not batch_ms:
        raise RuntimeError("stream: no results or batches in the reference window")
    run.e2e.update(
        stmt_p50_s=median(pooled), stmt_p90_s=pct(pooled, 90),
        suite_s=median(batch_ms) / 1e3,
    )
    for n in queries:
        run.e2e[f"stream_{n}_batch_ms"] = median(
            [p["durationMs"].get("triggerExecution", 0) for p in ref_batches[n]]
        )
        run.e2e[f"stream_{n}_lat_p50_s"] = median(lat[n])
        run.e2e[f"stream_{n}_lat_p90_s"] = pct(lat[n], 90)
        run.counts[f"{n}_lat_samples"] = len(lat[n])
    # a rung is sustained when, at its end, neither statement is behind by
    # more than two of its reference-rate batches plus one second of input
    sustained = 0
    for i, (eps, _, _) in enumerate(rung_ends):
        if all(backlog_at[n][i] <= eps * (2 * run.e2e[f"stream_{n}_batch_ms"] / 1e3 + 1.0)
               for n in queries):
            sustained = eps
        else:
            break
    run.e2e["stream_sustained_eps"] = sustained
    run.counts["samples"] = len(pooled)
    run.layer["gen.late_ms_max"] = gen_report["late_ms_max"]
    if gen_report["late_ms_max"] > 1000 * STREAM_TICK_S * 4:
        run.fail(f"generator ran {gen_report['late_ms_max']:.0f} ms late: run invalid")

    # ---- per-layer (traced runs): recentProgress of the reference window
    if run.tr.enabled:
        t_event0 = STREAM_WARM_TICKS * STREAM_TICK_S
        for n in queries:
            stream_layers(run, n, ref_batches[n], backlog_at[n][0], t_gen0 - t_event0)
        run.layer["sink.write_ms"] = median(sinks["window"].write_ms + sinks["cep"].write_ms)
        run.layer["streaming.sustained_eps"] = sustained


def stream_layers(run: Run, n: str, batches: list[dict], backlog: int, t_gen0: float) -> None:
    import pandas as pd

    def med(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in batches])

    L, pre = run.layer, f"streaming.{n}."
    ops = [o for p in batches for o in p.get("stateOperators", [])]
    lags = []
    for p in batches:
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            # event time runs at wall-clock speed from the schedule start
            nominal = inputs.EPOCH_2024_S + (pd.Timestamp(p["timestamp"]).timestamp() - t_gen0)
            lags.append(nominal - pd.Timestamp(wm).timestamp())
    L[pre + "batch_ms"] = med("triggerExecution")
    L[pre + "add_batch_ms"] = med("addBatch")
    L[pre + "source_ms"] = median(
        [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in batches]
    )
    L[pre + "commit_ms"] = median(
        [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in batches]
    )
    L[pre + "batches"] = len(batches)
    L[pre + "input_rows"] = sum(p["numInputRows"] for p in batches)
    L[pre + "state_rows"] = max([o.get("numRowsTotal", 0) for o in ops] or [0])
    L[pre + "state_mb"] = max([o.get("memoryUsedBytes", 0) for o in ops] or [0]) / 2**20
    L[pre + "late_dropped_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    L[pre + "watermark_lag_s"] = median(lags)
    L[pre + "backlog_rows"] = backlog


# ============================================================== hygiene
def hygiene_workload(run: Run) -> None:
    """A tiny run for the process-hygiene self-test: a Spark session, a
    job on Python workers, and a generator left running on purpose, so
    the supervisor has a JVM, workers and a stray child to stop."""
    run.e2e["setup_s"] = run.start_session()
    run.attempted += 1
    t0 = time.perf_counter()
    measuring(run, True)
    total = run.spark.range(1000).rdd.map(lambda r: r.id * 2).sum()
    measuring(run, False)
    run.e2e.update(stmt_p50_s=time.perf_counter() - t0, suite_s=time.perf_counter() - t0)
    run.e2e["stmt_p90_s"] = run.e2e["stmt_p50_s"]
    if total != 999_000:
        run.wrong += 1
    state = run.cfg["state_dir"]
    spool = os.path.join(state, "spool")
    os.makedirs(spool, exist_ok=True)
    gen_cfg = {
        "seed": run.seed, "spool": spool, "start": time.time(), "tick_s": 0.5,
        "schedule": [[100, 600]], "report": os.path.join(state, "generator.json"),
    }
    subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
         json.dumps(gen_cfg)],
    )


# ================================================================= main
WORKLOADS = {
    "hygiene": hygiene_workload,
    "lab_sql": lab_workload,
    "stream_events": stream_workload,
}


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    run = Run(cfg)
    ok = True
    t0 = time.perf_counter()
    try:
        WORKLOADS[cfg["workload"]](run)
    except Exception as e:  # noqa: BLE001 - the run is reported as failed
        ok = False
        run.fail("workload aborted", e)
        traceback.print_exc()
    finally:
        wall = time.perf_counter() - t0
        try:
            run.stop_session()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
    if run.tr.enabled:
        run.layer["trace.overhead_frac"] = run.tr.self_s / wall
        run.tr.dump(cfg["trace_out"])
    result = {
        "ok": ok, "attempted": run.attempted, "failed": run.failed,
        "wrong_results": run.wrong, "e2e": run.e2e, "layer": run.layer,
        "counts": run.counts, "notes": run.notes, "stmt_s": run.stmt_s,
    }
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
