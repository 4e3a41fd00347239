"""Batch↔stream parity (SURVEY.md §5, M8): the same query function run on
a readStream replay must produce the batch answer; watermarks drop late
rows; datagen streams replay deterministically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from training_flink_sql_cc_src_spark.queries._util import t
from training_flink_sql_cc_src_spark.sources.datagen import datagen_batch, datagen_stream
from training_flink_sql_cc_src_spark.streaming.parity import (
    run_stream_over_batch,
    stream_from_batch,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_windowed_agg_parity(spark, sf_small):
    """Tumbling-window count/sum per event_type: streaming complete-mode
    final state == batch recompute (the dynamic-table reading of S9/S10's
    windowed lab queries)."""
    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")

    def transform(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("ws"), "event_type", "n")
        )

    batch = transform(ev)
    stream = run_stream_over_batch(spark, ev, transform, output_mode="complete")
    assert _rows(batch) == _rows(stream)


def test_stateless_projection_parity(spark, sf_small):
    ev = t(spark, sf_small, "events").select("event_id", "event_type", "value")

    def transform(df):
        return df.filter(F.col("event_type") == "purchase").select(
            "event_id", (F.col("value") * 2).alias("v2")
        )

    batch = transform(ev)
    stream = run_stream_over_batch(spark, ev, transform, output_mode="append")
    assert _rows(batch) == _rows(stream)


def test_watermark_append_emits_closed_windows_with_late_drops(spark, sf_small):
    """S9/S10 watermark semantics in append mode: a window is emitted only
    once the watermark passes its end, and rows arriving after that are
    DROPPED (the zero-delay watermark of the labs). The replay is
    round-robin (out of ts order), so drops must actually occur — emitted
    counts may only ever undercount the batch result, never inflate it."""
    ev = t(spark, sf_small, "events").select("ts", "value")

    def transform(df):
        return (
            df.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("ws"), "n")
        )

    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("ws"), "n")
    )
    stream = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4
    )
    b = {ws: n for ws, n in _rows(batch)}
    s = {ws: n for ws, n in _rows(stream)}
    assert set(s) <= set(b)  # only real windows are emitted
    assert all(s[ws] <= b[ws] for ws in s)  # late rows drop, never inflate
    assert len(s) >= len(b) // 2  # the replay actually closed most windows
    assert any(s[ws] < b[ws] for ws in s)  # out-of-order replay did drop


def test_datagen_stream_matches_batch_replay(spark):
    """The datagen rate-source generators are pure functions of the row
    index: a drained stream prefix equals the batch replay on the same
    indices (EP2 connector semantics, deterministically)."""
    import tempfile, time, uuid

    stream = datagen_stream(spark, "SHOE_ORDERS", rows_per_second=500)
    sink = f"dg_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(sink).outputMode("append").start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table(sink).count() < 100:
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.table(sink)
    n = got.count()
    assert n >= 100
    ids = [r.order_id for r in got.collect()]
    replay = datagen_batch(spark, "SHOE_ORDERS", max(ids) + 1)
    want = {r.order_id: (r.product_id, r.customer_id) for r in replay.collect()}
    for r in got.collect():
        assert want[r.order_id] == (r.product_id, r.customer_id)


def test_stream_stream_interval_join_parity(spark, sf_small):
    """The lab-joins interval join (S9/S10 watermarks on both sides) run as
    a native stream-stream join: same results as the batch interval join."""
    ev = t(spark, sf_small, "events").select("event_id", "user_id", "ts", "event_type")

    def transform(df):
        p = (
            df.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            df.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return p.join(
            c,
            (p.user_id == c.c_user_id)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
            & (c.c_ts <= p.p_ts),
            "inner",
        ).select("purchase_id", "click_id")

    from training_flink_sql_cc_src_spark.registry import all_queries

    batch_rows = all_queries()["join_interval"](spark, sf_small).collect()
    batch = {(r.purchase_id, r.click_id) for r in batch_rows}
    # stream-stream joins need BOTH sides streaming from one source here;
    # append mode emits matches once the watermark closes them. In-order
    # replay (order_by ts) makes the watermark advance monotonically, so
    # exactly the matches OUTSIDE the final watermark horizon (1h delay +
    # 30m join range behind max ts, which never closes) must be emitted.
    max_epoch = max(r.purchase_epoch for r in batch_rows)
    must_emit = {
        (r.purchase_id, r.click_id)
        for r in batch_rows
        if r.purchase_epoch < max_epoch - 2 * 3600
    }
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4, order_by="ts"
    )
    got = {(r.purchase_id, r.click_id) for r in streamed.collect()}
    assert got <= batch  # no phantom matches
    assert must_emit <= got  # every watermark-closed match is emitted


def test_streaming_dedup_drop_duplicates(spark, sf_small):
    """Streaming dedup (SURVEY.md §2.6): dropDuplicates on a key column
    over a replay keeps exactly one row per key — final state equals the
    batch distinct."""
    ev = t(spark, sf_small, "events").select("user_id", "event_type")

    def transform(df):
        return df.dropDuplicates(["user_id", "event_type"])

    batch = {(r.user_id, r.event_type) for r in ev.distinct().collect()}
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4
    )
    got = [(r.user_id, r.event_type) for r in streamed.collect()]
    assert len(got) == len(set(got))  # no duplicates emitted
    assert set(got) == batch  # exactly the batch-distinct state


def test_apply_in_pandas_with_state_running_totals(spark, sf_small):
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals evolved across micro-batches; each key's LAST update equals the
    batch aggregate."""
    from training_flink_sql_cc_src_spark.streaming.parity import stream_from_batch
    from training_flink_sql_cc_src_spark.streaming.stateful import running_totals
    import uuid

    ev = t(spark, sf_small, "events").select("user_id", "value")
    stream = stream_from_batch(spark, ev, n_files=4)
    out = running_totals(stream, "user_id", "value")
    sink = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pandas as pd

    emitted = spark.table(sink).toPandas()
    # multiple updates per key were emitted (state really evolved)
    assert (emitted.groupby("user_id").size() > 1).any()
    # last update per key (max n) must equal the batch aggregate
    last = emitted.sort_values("n").groupby("user_id").tail(1).set_index("user_id")
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("peak"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(last) == len(batch)
    joined = last.join(batch, lsuffix="_s", rsuffix="_b")
    assert (joined.n_s == joined.n_b).all()
    assert (abs(joined.total_s - joined.total_b) < 1e-6).all()
    assert (joined.peak_s == joined.peak_b).all()


def test_foreach_batch_upsert_sink(spark, sf_small):
    """Streaming upsert sink (foreachBatch merge): replaying per-user
    events into a PK=user_id table leaves exactly the latest row per user
    (the S2/S4 streaming materialization of a keyed table)."""
    import tempfile, uuid

    from training_flink_sql_cc_src_spark.streaming.parity import stream_from_batch
    from training_flink_sql_cc_src_spark.streaming.upsert_sink import start_upsert_sink

    ev = t(spark, sf_small, "events").select("user_id", "event_id", "value", "ts")
    path = tempfile.mkdtemp(prefix=f"upsert-{uuid.uuid4().hex[:8]}-") + "/table"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt-{uuid.uuid4().hex[:8]}-")
    # in-order replay so "latest" is well-defined by event time
    q = start_upsert_sink(
        stream_from_batch(spark, ev, n_files=4, order_by="ts"),
        path,
        keys=["user_id"],
        checkpoint=ckpt,
        order_col="ts",
    )
    q.awaitTermination()
    got = spark.read.parquet(path)
    assert got.count() == ev.select("user_id").distinct().count()
    # exact invariant: (batch seq, ts) ordering stores each user's max-ts
    # event — the event-time upsert view
    latest_ts = ev.groupBy("user_id").agg(F.max("ts").alias("max_ts"))
    mismatch = got.join(latest_ts, "user_id").filter(
        F.col("ts") != F.col("max_ts")
    )
    assert mismatch.count() == 0


def test_session_window_streaming_parity(spark, sf_small):
    """Merging session windows (F.session_window) in streaming complete
    mode: final state equals the batch gaps-and-islands result."""
    ev = t(spark, sf_small, "events").select("ts", "user_id")

    def transform(df):
        return (
            df.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("w.start").cast("long").alias("ws"),
                "n",
            )
        )

    batch = transform(ev)
    stream = run_stream_over_batch(spark, ev, transform, output_mode="complete")
    assert _rows(batch) == _rows(stream)


def test_drop_duplicates_within_watermark(spark, sf_small):
    """Streaming dedup with bounded state (the compacted-topic /
    latest-per-key trick under a watermark): first occurrence of each
    (user_id, event_type) is kept; re-occurrences are dropped only while
    the key is inside the watermark horizon — so the streamed result sits
    between global-distinct and raw counts, never invents keys, and
    covers every key batch dedup finds."""
    ev = t(spark, sf_small, "events").select("event_id", "user_id", "ts", "event_type")

    def transform(df):
        return (
            df.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    batch_keys = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    total = ev.count()
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4, order_by="ts"
    ).collect()
    got_keys = {(r.user_id, r.event_type) for r in streamed}
    assert got_keys == batch_keys  # no phantom keys, full coverage
    assert len(batch_keys) <= len(streamed) <= total


def test_stream_stream_left_outer_interval_join(spark, sf_small):
    """Flink's OUTER interval join analog: purchases left-joined to the
    clicks that preceded them within 30 minutes. Null rows for
    never-matched purchases are only emittable once the watermark proves
    no match can arrive — native Structured Streaming semantics; batch
    left join is the final-state reference."""
    ev = t(spark, sf_small, "events").select("event_id", "user_id", "ts", "event_type")

    def split(df):
        p = (
            df.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            df.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return p, c

    def cond(p, c):
        return (
            (p.user_id == c.c_user_id)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
            & (c.c_ts <= p.p_ts)
        )

    def transform(df):
        p, c = split(df)
        return p.join(c, cond(p, c), "left_outer").select(
            "purchase_id", "click_id", F.unix_timestamp("p_ts").alias("p_epoch")
        )

    p_b, c_b = split(ev)
    batch_rows = p_b.join(c_b, cond(p_b, c_b), "left_outer").select(
        "purchase_id", "click_id", F.unix_timestamp("p_ts").alias("p_epoch")
    ).collect()
    batch = {(r.purchase_id, r.click_id) for r in batch_rows}
    max_epoch = max(r.p_epoch for r in batch_rows)
    # rows whose join window is provably closed by the final watermark
    must_emit = {
        (r.purchase_id, r.click_id)
        for r in batch_rows
        if r.p_epoch < max_epoch - 2 * 3600
    }
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4, order_by="ts"
    ).collect()
    got = {(r.purchase_id, r.click_id) for r in streamed}
    assert got <= batch  # no phantom matches / no premature nulls
    assert must_emit <= got  # closed inner matches AND closed null rows


def test_tvf_statement_streams_through_engine(spark, sf_small):
    """A lab-dialect TUMBLE TVF statement runs as a CONTINUOUS query via
    Engine.sql_stream (the reference's execution model: every statement is
    a streaming job): final streamed state == the same statement executed
    in batch through the same front door."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    eng = Engine(spark)
    stmt = (
        "SELECT window_start, event_type, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE events_tvf_stream, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR)) GROUP BY window_start, event_type"
    )
    ev.createOrReplaceTempView("events_tvf_stream")
    batch = eng.sql(stmt)
    stream = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_tvf_stream": s}),
        output_mode="complete",
    )
    assert _rows(batch) == _rows(stream) and batch.count() > 0


def test_tvf_non_aggregating_select_streams(spark, sf_small):
    """A TUMBLE TVF select WITHOUT GROUP BY is a stateless window
    assignment — append-mode safe; the streaming router must fall through
    to the batch TVF rewrite instead of rejecting it."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    eng = Engine(spark)
    stmt = (
        "SELECT window_start, event_type, value "
        "FROM TABLE(TUMBLE(TABLE events_tvf_sel_stream, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR))"
    )
    ev.createOrReplaceTempView("events_tvf_sel_stream")
    batch = eng.sql(stmt)
    stream = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_tvf_sel_stream": s}),
        output_mode="append",
    )
    assert _rows(batch) == _rows(stream) and batch.count() > 0


def test_tvf_statement_streams_update_mode_upsert_sink(spark, sf_small):
    """HOP TVF statement in UPDATE mode — the Flink upsert-sink analog
    (OUTPUT_MODE_FOR_CHANGELOG['upsert']): each micro-batch re-emits
    changed windows; collapsing the update stream to latest-per-window
    (max of a monotone count) must equal the batch answer. (Append mode
    needs the native F.window groupBy path: extracting window_start as a
    plain SQL column strips Spark's event-time metadata — covered by
    test_watermark_append_emits_closed_windows_with_late_drops.)"""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    eng = Engine(spark)
    stmt = (
        "SELECT window_start, COUNT(*) AS n "
        "FROM TABLE(HOP(TABLE events_hop_stream, DESCRIPTOR(ts), "
        "INTERVAL '30' MINUTES, INTERVAL '1' HOUR)) GROUP BY window_start"
    )
    ev.createOrReplaceTempView("events_hop_stream")
    batch = {tuple(r) for r in eng.sql(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_hop_stream": s}),
        output_mode="update",
        order_by="ts",
    )
    final = (
        streamed.groupBy("window_start").agg(F.max("n").alias("n")).collect()
    )
    assert {tuple(r) for r in final} == batch and batch


def test_stream_stream_full_outer_interval_join(spark, sf_small):
    """FULL outer stream-stream interval join: unmatched rows from BOTH
    sides must eventually emit with nulls once watermarks close their
    windows. Batch full join is the final-state reference; every streamed
    row must appear there, and all early-enough rows must have emitted."""
    ev = t(spark, sf_small, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )

    def split(df):
        p = (
            df.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            df.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        return p, c

    def cond(p, c):
        return (
            (p.user_id == c.c_user_id)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTES"))
            & (c.c_ts <= p.p_ts)
        )

    def transform(df):
        p, c = split(df)
        return p.join(c, cond(p, c), "full_outer").select(
            "purchase_id",
            "click_id",
            F.unix_timestamp("p_ts").alias("p_epoch"),
            F.unix_timestamp("c_ts").alias("c_epoch"),
        )

    p_b, c_b = split(ev)
    batch_rows = p_b.join(c_b, cond(p_b, c_b), "full_outer").select(
        "purchase_id",
        "click_id",
        F.unix_timestamp("p_ts").alias("p_epoch"),
        F.unix_timestamp("c_ts").alias("c_epoch"),
    ).collect()
    batch = {(r.purchase_id, r.click_id) for r in batch_rows}
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4, order_by="ts"
    )
    got = {(r.purchase_id, r.click_id) for r in streamed.collect()}
    assert got <= batch  # nothing fabricated
    # outer-null eviction lags one micro-batch behind the watermark, so
    # the still-open tail never emits — but it must be a SMALL tail
    assert len(got) >= 0.95 * len(batch)
    # unmatched rows from BOTH sides made it out with nulls
    assert any(c is None for (_, c) in got)
    assert any(p is None for (p, _) in got)


def test_cumulate_tvf_statement_streams(spark, sf_small):
    """CUMULATE TVF statement as a continuous query (complete mode): the
    explode-based rewrite is stateless row expansion + windowed agg, so
    streaming final state == the batch answer exactly."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "value")
    eng = Engine(spark)
    stmt = (
        "SELECT window_start, window_end, COUNT(*) AS n "
        "FROM TABLE(CUMULATE(TABLE events_cml_stream, DESCRIPTOR(ts), "
        "INTERVAL '15' MINUTES, INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    ev.createOrReplaceTempView("events_cml_stream")
    batch = eng.sql(stmt)
    stream = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_cml_stream": s}),
        output_mode="complete",
    )
    assert _rows(batch) == _rows(stream) and batch.count() > 0


def test_session_tvf_statement_streams(spark, sf_small):
    """The lab-time SESSION TVF statement as a CONTINUOUS query: the
    batch path lowers SESSION via gaps-and-islands (window functions,
    which streaming rejects); sql_stream swaps in the native
    session_window grouping. Final streamed state (complete mode) must
    equal the batch answer through the same front door — including the
    window_end = last event + gap convention."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "user_id", "value")
    eng = Engine(spark)
    stmt = (
        "SELECT user_id, window_start, window_end, COUNT(*) AS n "
        "FROM TABLE(SESSION(TABLE events_sess_stream PARTITION BY user_id, "
        "DESCRIPTOR(ts), INTERVAL '10' MINUTES)) "
        "GROUP BY user_id, window_start, window_end"
    )
    ev.createOrReplaceTempView("events_sess_stream")
    batch = eng.sql(stmt)
    stream = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_sess_stream": s}),
        output_mode="complete",
        order_by="ts",
    )
    assert _rows(batch) == _rows(stream) and batch.count() > 0


def test_stream_static_dim_join_parity(spark, sf_small):
    """The streaming reading of the S1/S3 temporal join (SURVEY.md §2.3):
    a stream joined to a STATIC keyed dim is re-evaluated against the
    dim's current snapshot each micro-batch — with a stable dim, final
    state equals the batch join exactly."""
    ev = t(spark, sf_small, "events").select("event_id", "user_id", "value")
    dim = (
        t(spark, sf_small, "customer")
        .select(
            (F.col("c_custkey") % 50).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        .dropDuplicates(["user_id"])
    )

    def transform(df):
        return df.join(F.broadcast(dim), "user_id", "left").select(
            "event_id", "segment"
        )

    batch = transform(ev)
    streamed = run_stream_over_batch(
        spark, ev, transform, output_mode="append", n_files=4
    )
    assert _rows(batch) == _rows(streamed)


def test_three_step_sequence_statement_streams_matches_batch(spark, sf_small):
    """A 3-step adjacent sequence MATCH_RECOGNIZE streamed through
    Engine.sql_stream (decision-window leg, state = last L-1 rows per
    key) over an in-order replay finds exactly the batch (A B C)
    matches, including sequences split across micro-batch
    boundaries."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stmt = """
        SELECT user_id, a_ts, b_ts, c_ts FROM __cep3_events
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, B.ts AS b_ts, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B C)
            WITHIN INTERVAL '7' DAY
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click',
                   C AS C.event_type = 'purchase'
        )
    """
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"__cep3_events": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {(r.user_id, r.a_ts, r.b_ts, r.c_ts) for r in streamed.collect()}
    ev.createOrReplaceTempView("__cep3_events")
    batch = StatementRouter(spark).execute(stmt)
    want = {(r.user_id, r.a_ts, r.b_ts, r.c_ts) for r in batch.collect()}
    assert got == want and want


def test_match_recognize_statement_streams_through_engine(spark, sf_small):
    """The SAME MATCH_RECOGNIZE statement runs in batch (LEAD-chain
    lowering) and as a continuous query (sql_stream routes it to the
    stateful sequence matcher) with identical results — the reference's
    every-statement-is-a-streaming-job model."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    eng = Engine(spark)
    stmt = """
        SELECT user_id, CAST(a_ts AS LONG) AS a_e, CAST(b_ts AS LONG) AS b_e
        FROM events_mr_stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            WITHIN INTERVAL '1' HOUR
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
    """
    ev.createOrReplaceTempView("events_mr_stream")
    batch = {tuple(r) for r in eng.sql(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_mr_stream": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_stream_match_recognize_general_leg_guards(spark, sf_small):
    """The general-predicate streaming leg accepts numeric literals,
    non-string define columns and non-bigint keys; cross-variable
    DEFINEs, PREV/NEXT navigation and WITHIN on an A+ B run stream via
    the decision-window legs; only unknown functions inside a DEFINE
    stay loud."""
    import pytest

    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    eng = Engine(spark)
    tmpl = """
        SELECT {key}, a_ts FROM events_mr_guard
        MATCH_RECOGNIZE (
            PARTITION BY {key}
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS {da},
                   B AS {db}
        )
    """
    # numeric equality literals over a numeric column: now streams
    num = ev.withColumn("code", ev.user_id % 3)
    assert eng.sql_stream(
        tmpl.format(key="user_id", da="A.code = 1", db="B.code = 2"),
        {"events_mr_guard": num},
    ) is not None
    # non-bigint partition key: now streams (schemas derive the type)
    keyed = ev.withColumn("skey", ev.user_id.cast("string"))
    assert eng.sql_stream(
        tmpl.format(
            key="skey",
            da="A.event_type = 'view'",
            db="B.event_type = 'click'",
        ),
        {"events_mr_guard": keyed},
    ) is not None
    # cross-variable DEFINE on a BOUNDED sequence: streams on the
    # decision-window leg (round 7)
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > A.event_id",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # cross-variable DEFINE on an UNBOUNDED run: streams since round 8
    # via the BREAK-ROW-decided leg (note: B's row-local remainder is
    # TRUE, so a key with no all-false rows hits the loud state cap at
    # runtime — the plan itself constructs)
    assert eng.sql_stream(
        """
        SELECT user_id, b_ts FROM events_mr_guard
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_id > A.event_id
        )
        """,
        {"events_mr_guard": ev},
    ) is not None
    # physical PREV navigation: streams via the keyed lag pre-pass
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > PREV(B.event_id)",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # NEXT that stays INSIDE the match window: streams (A at position 0
    # looking 1 ahead lands on B, the window's last row)
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_id < NEXT(A.event_id)",
            db="B.event_type = 'click'",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # NEXT past the match window (lookahead from the LAST variable):
    # streams since round 8 — the decision window waits for the
    # successors it reads
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > NEXT(B.event_id)",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # FIRST/LAST(OTHER.col) cross bindings on a bounded sequence:
    # stream via the decision window (round 7)
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > LAST(A.event_id)",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # SELF-referencing FIRST/LAST match bindings: stream since round 8
    # (same cross-check mechanism; the defining variable's rows include
    # the current candidate — test_self_nav_defines_stream for parity)
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > LAST(B.event_id, 1)",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # rich arithmetic over bindings streams too (round 12 — compiled
    # by compile_rich_cross, evaluated in the decision window); parity
    # pinned in test_bounded_pattern_stream_cross_variable_defines
    assert eng.sql_stream(
        tmpl.format(
            key="user_id",
            da="A.event_type = 'view'",
            db="B.event_id > LAST(B.event_id, 1) + 1",
        ),
        {"events_mr_guard": ev},
    ) is not None
    # unknown functions inside DEFINE stay loud on every leg
    with pytest.raises(NotImplementedError, match="cross-variable"):
        eng.sql_stream(
            tmpl.format(
                key="user_id",
                da="A.event_type = 'view'",
                db="B.event_id > SQRT(A.event_id)",
            ),
            {"events_mr_guard": ev},
        )
    # WITHIN on a general-predicate A+ B run: streams since round 8 —
    # the WITHIN horizon bounds the decision window (time-bounded leg)
    assert eng.sql_stream(
        """
        SELECT user_id, b_ts FROM events_mr_guard
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            WITHIN INTERVAL '1' HOUR
            DEFINE A AS A.event_id >= 0, B AS B.event_id < 0
        )
        """,
        {"events_mr_guard": ev},
    ) is not None


def _cep_overlap_df(spark):
    """Adversarial fixture for the general-predicate matchers: per key,
    rows where the A and B predicates OVERLAP (a row satisfying both),
    keyed by a STRING (exercising the derived key schema)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [12, 15, 8, 11, 14, 13, 9, 16, 7, 12, 6],
        "b": [10, 10, 10, 5, 12, 2, 3, 11, 4],
        "c": [1, 3, 5, 7, 9],
    }.items():
        for i, v in enumerate(vals):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, v int")


def test_general_run_pattern_stream_matches_batch(spark):
    """PATTERN (A+ B) with OVERLAPPING general predicates (A: v >= 10,
    B: v even — rows like 12 satisfy both): the O(1)-state greedy
    matcher with the remembered in-run end candidate equals the batch
    NFA, including matches finalized across micro-batch boundaries."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    stmt = """
        SELECT k, CAST(last_a AS LONG) AS la, CAST(b_ts AS LONG) AS be
        FROM cep_overlap
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS last_a, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 0
        )
    """
    df.createOrReplaceTempView("cep_overlap")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_overlap": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_general_sequence_stream_matches_batch_both_skip_modes(spark):
    """Fixed-length (A B C) with overlapping predicates: matches can
    share rows, so SKIP PAST LAST ROW and SKIP TO NEXT ROW genuinely
    differ — the streaming leg reproduces the batch answer for BOTH."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    tmpl = """
        SELECT k, CAST(a_ts AS LONG) AS ae, CAST(c_ts AS LONG) AS ce
        FROM cep_seq_overlap
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS a_ts, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP {skip}
            PATTERN (A B C)
            DEFINE A AS A.v >= 5, B AS B.v % 2 = 0, C AS C.v >= 7
        )
    """
    df.createOrReplaceTempView("cep_seq_overlap")
    eng = Engine(spark)
    results = {}
    for skip in ("PAST LAST ROW", "TO NEXT ROW"):
        stmt = tmpl.format(skip=skip)
        # sql_stream re-registers the source view as a stream; restore
        # the batch view before each batch oracle run
        df.createOrReplaceTempView("cep_seq_overlap")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_seq_overlap": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, skip
        results[skip] = got
    # the fixture is adversarial enough that the two modes differ
    assert results["PAST LAST ROW"] != results["TO NEXT ROW"]


def test_general_sequence_stream_prev_navigation_matches_batch(spark):
    """PATTERN (A B) where B's DEFINE navigates PHYSICALLY with
    PREV(B.v) (= the A row) and PREV(B.v, 2) (= the row BEFORE the
    match start): the streaming keyed-lag pre-pass must reproduce the
    batch lowering's lag helper columns, including predecessors that
    live in an earlier micro-batch, and NULL lags at partition heads."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    for db in ("B.v > PREV(B.v)", "B.v > PREV(B.v, 2)"):
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae, CAST(b_ts AS LONG) AS be
            FROM cep_prev_seq
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.ts AS a_ts, B.ts AS b_ts
                ONE ROW PER MATCH
                AFTER MATCH SKIP TO NEXT ROW
                PATTERN (A B)
                DEFINE A AS A.v >= 5, B AS {db}
            )
        """
        df.createOrReplaceTempView("cep_prev_seq")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        eng = Engine(spark)
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_prev_seq": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, db


def test_general_sequence_stream_next_navigation_matches_batch(spark):
    """NEXT lookahead that stays INSIDE the match window streams: for
    PATTERN (A B) / (A B C), NEXT(A.v, n) from position 0 lands on a
    later window row, so the conjunct resolves when the candidate
    window is assembled — no future-row buffering. Must equal the batch
    lowering's physical lookahead across micro-batch splits, including
    windows whose rows straddle batches."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    cases = [
        # rise into the B row (lookahead 1 from A)
        ("(A B)", "A AS A.v < NEXT(A.v), B AS B.v % 2 = 0"),
        # lookahead 2 from A spans the whole window; B checks its own row
        ("(A B C)", "A AS NEXT(A.v, 2) > A.v, B AS B.v >= 5, "
                    "C AS C.v % 2 = 1"),
        # falling step seen from A, plus a row-local conjunct on B
        ("(A B)", "A AS NEXT(A.v) < A.v, B AS B.v >= 2"),
    ]
    eng = Engine(spark)
    for pat, defines in cases:
        meas = "A.ts AS a_ts"
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae FROM cep_next_seq
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES {meas}
                ONE ROW PER MATCH
                AFTER MATCH SKIP TO NEXT ROW
                PATTERN {pat}
                DEFINE {defines}
            )
        """
        df.createOrReplaceTempView("cep_next_seq")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_next_seq": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, (pat, defines)


def test_general_run_stream_prev_navigation_matches_batch(spark):
    """PATTERN (A+ B) where A is a strictly-RISING run (A.v > PREV(A.v))
    and B a drop (B.v < PREV(B.v)): the classic physical-navigation CEP.
    The lag column rides per row, so the O(1)-state run matcher streams
    it unchanged — equal to the batch lowering across batch splits."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    stmt = """
        SELECT k, CAST(last_a AS LONG) AS la, CAST(b_ts AS LONG) AS be
        FROM cep_prev_run
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS last_a, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v > PREV(A.v), B AS B.v < PREV(B.v)
        )
    """
    df.createOrReplaceTempView("cep_prev_run")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_prev_run": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def _cep_funnel_df(spark):
    """Overlap fixture for the general-predicate A B+ C funnel: the
    _cep_overlap_df rows plus a terminal v=0 row per key. v=0 fails
    every A/B predicate used in the funnel tests, so open B-runs break
    at stream end — the matcher's longest-match-needs-a-terminator
    contract — while still exercising the emit-on-break-C path when a
    C predicate admits 0."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [12, 15, 8, 11, 14, 13, 9, 16, 7, 12, 6, 0],
        "b": [10, 10, 10, 5, 12, 2, 3, 11, 4, 0],
        "c": [1, 3, 5, 7, 9, 0],
    }.items():
        for i, v in enumerate(vals):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, v int")


def test_general_funnel_stream_matches_batch(spark):
    """PATTERN (A B+ C) with ARBITRARY, OVERLAPPING row-local
    predicates streams: the O(1)-state machine with the remembered
    backtrack candidate (a run row satisfying both B and C) and the
    break-row-restart must equal the batch NFA across micro-batch
    splits, for predicate mixes where rows satisfy several variables
    at once."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_funnel_df(spark)
    cases = [
        # B∩C overlap (odd rows <= 9 satisfy both): pend backtracking
        ("A.v >= 10", "B.v % 2 = 1", "C.v <= 9"),
        # A⊂B overlap (every A row is also a B row): leftmost priority
        ("A.v >= 10", "B.v >= 5", "C.v % 2 = 1"),
        # A=B overlap + C admits the terminal 0 row: emit-on-break-C
        ("A.v >= 5", "B.v >= 5", "C.v <= 6"),
        # disjoint sanity (mirrors the eq-funnel assumptions)
        ("A.v >= 10", "B.v BETWEEN 5 AND 9", "C.v < 5"),
    ]
    eng = Engine(spark)
    for da, db, dc in cases:
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae, CAST(c_ts AS LONG) AS ce
            FROM cep_funnel
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.ts AS a_ts, C.ts AS c_ts
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS {da}, B AS {db}, C AS {dc}
            )
        """
        df.createOrReplaceTempView("cep_funnel")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_funnel": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, (da, db, dc)


def test_general_funnel_stream_prev_and_payload_match_batch(spark):
    """The general funnel's PREV conjuncts (evaluated from the bounded
    arrival history in the same keyed state) and payload measures (A.v
    / LAST-B.v / C.v carried through the O(1) state) equal the batch
    lowering."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_funnel_df(spark)
    eng = Engine(spark)
    # payload measures with overlapping predicates
    stmt = """
        SELECT k, av, bv, cv, CAST(c_ts AS LONG) AS ce FROM cep_funnel_p
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.v AS av, B.v AS bv, C.v AS cv, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 1, C AS C.v <= 9
        )
    """
    df.createOrReplaceTempView("cep_funnel_p")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_funnel_p": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # physical PREV in the run predicate: strictly-falling B run
    stmt2 = """
        SELECT k, CAST(a_ts AS LONG) AS ae, CAST(c_ts AS LONG) AS ce
        FROM cep_funnel_prev
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS a_ts, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v >= 10, B AS B.v < PREV(B.v),
                   C AS C.v >= 10
        )
    """
    df.createOrReplaceTempView("cep_funnel_prev")
    batch2 = {
        tuple(r) for r in StatementRouter(spark).execute(stmt2).collect()
    }
    streamed2 = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt2, {"cep_funnel_prev": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got2 = {tuple(r) for r in streamed2.collect()}
    assert got2 == batch2 and batch2


def test_general_funnel_stream_guards(spark):
    """Every funnel skip/WITHIN combination streams: SKIP PAST LAST ROW
    on the O(1) funnel matcher; SKIP TO NEXT ROW without WITHIN via the
    BREAK-ROW-decided leg (round 8 — per-start emission from the
    break-free stretch); both skips WITH a WITHIN bound via the
    time-bounded window leg."""
    from training_flink_sql_cc_src_spark.engine import Engine

    df = _cep_funnel_df(spark)
    eng = Engine(spark)
    tmpl = """
        SELECT k, a_ts FROM cep_funnel_g
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP {skip}
            PATTERN (A B+ C)
            {within}
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 1, C AS C.v <= 9
        )
    """
    for within in ("", "WITHIN INTERVAL '1' HOUR"):
        for skip in ("PAST LAST ROW", "TO NEXT ROW"):
            assert eng.sql_stream(
                tmpl.format(skip=skip, within=within),
                {"cep_funnel_g": df},
            ) is not None


def test_cross_define_foreign_left_qualifier_streams_with_parity(spark):
    """DEFINE C AS A.v > B.v — left side qualified by a variable other
    than the one being defined. Pre-round-12 streaming had to reject
    this loudly (the simple-comparison path would have misread A.v as
    current-row.v, ADVICE r7); the rich compiler now navigates BOTH
    references over the partial match's mapped rows, so the shape
    streams and must match the batch lowering exactly."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_funnel_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, CAST(a_ts AS LONG) AS ae FROM cep_badsv
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B C)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 1, C AS A.v > B.v
        )
    """
    df.createOrReplaceTempView("cep_badsv")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_badsv": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def _over_agg_df(spark):
    """Fixture for continuous OVER aggregation: 3 keys, DUPLICATE event
    times inside a key (RANGE peer semantics), NULL values (aggregate
    null-skipping), interleaved arrival."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rng_rows = []
    vals = [5, 2, None, 7, 2, 9, 1, None, 4, 8, 3, 6, 2, 7]
    for ki in range(3):
        # seconds: duplicates at positions 3/4 and 8/9 within each key
        secs = [0, 10, 25, 40, 40, 55, 70, 90, 110, 110, 130, 150, 170, 185]
        for i, (s, v) in enumerate(zip(secs, vals)):
            rng_rows.append(
                (f"k{ki}", base + dt.timedelta(seconds=s + ki), v, ki * 100 + i)
            )
    return spark.createDataFrame(
        rng_rows, "k string, ts timestamp, v int, rid int"
    )


def test_over_aggregation_streams_match_batch(spark):
    """Flink's Over Aggregation statement streams through sql_stream:
    the keyed frame buffer (applyInPandasWithState) must equal the
    batch window plan for a RANGE time frame (including duplicate-
    event-time peer groups and NULL value skipping) and a ROWS count
    frame, with multiple aggregates over one window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.engine import Engine

    df = _over_agg_df(spark)
    eng = Engine(spark)
    # --- RANGE 60 seconds, SUM + COUNT + AVG + MIN over one window
    stmt = """
        SELECT k, rid, v,
               SUM(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                   AND CURRENT ROW) AS sv,
               COUNT(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                   AND CURRENT ROW) AS cv,
               AVG(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                   AND CURRENT ROW) AS av,
               MIN(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                   AND CURRENT ROW) AS mv
        FROM over_src
    """
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"over_src": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-60, Window.currentRow)
    )
    batch = {
        tuple(r)
        for r in df.select(
            "k",
            "rid",
            "v",
            F.sum("v").over(w).alias("sv"),
            F.count("v").over(w).alias("cv"),
            F.avg("v").over(w).alias("av"),
            F.min("v").over(w).alias("mv"),
        ).collect()
    }
    # typed-output contract: stream schema == batch plan schema
    assert dict(streamed.dtypes) == {
        "k": "string", "rid": "int", "v": "int",
        "sv": "bigint", "cv": "bigint", "av": "double", "mv": "int",
    }
    assert got == batch and batch
    # --- ROWS 3 PRECEDING (unique arrival order per key via rid tiebreak
    # is unnecessary: event times are processed in ts order and the peer
    # group keeps arrival order, matching the batch ts-ordered frame on
    # keys whose duplicate rows carry equal aggregate inputs) — use the
    # deduplicated subset to keep ROWS frames well-defined
    uniq = df.filter(~F.col("rid").isin(4, 9, 104, 109, 204, 209))
    stmt2 = """
        SELECT k, rid,
               SUM(v) OVER (PARTITION BY k ORDER BY ts
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sv,
               COUNT(*) OVER (PARTITION BY k ORDER BY ts
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cn
        FROM over_src2
    """
    streamed2 = run_stream_over_batch(
        spark,
        uniq,
        lambda s: eng.sql_stream(stmt2, {"over_src2": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got2 = {tuple(r) for r in streamed2.collect()}
    w2 = Window.partitionBy("k").orderBy("ts").rowsBetween(-3, Window.currentRow)
    batch2 = {
        tuple(r)
        for r in uniq.select(
            "k",
            "rid",
            F.sum("v").over(w2).alias("sv"),
            F.count("*").over(w2).alias("cn"),
        ).collect()
    }
    assert got2 == batch2 and batch2


def test_over_aggregation_tie_split_drops_stragglers(spark):
    """A RANGE peer group force-split across micro-batches: the earlier
    peers were emitted with their batch-local peer aggregate; a later
    batch's equal-time straggler must be DROPPED (Flink's
    lastTriggeringTs late contract), never re-aggregated — so the
    streamed output equals the batch window plan evaluated over exactly
    the surviving rows. Uses a hand-spooled file stream because the
    harness's range-partitioned spool keeps equal-ts rows together."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.engine import Engine

    base = dt.datetime(2024, 3, 1)
    schema = "k string, ts timestamp, v int, rid int"
    file1 = [("k1", base, 5, 0), ("k1", base + dt.timedelta(seconds=10), 2, 1)]
    # rid=2 shares ts with rid=1 but arrives in the NEXT micro-batch
    file2 = [
        ("k1", base + dt.timedelta(seconds=10), 7, 2),
        ("k1", base + dt.timedelta(seconds=20), 9, 3),
    ]
    spool = tempfile.mkdtemp(prefix=f"tiesplit-{uuid.uuid4().hex[:8]}-")
    stamp = time.time() - 3600
    for i, rows in enumerate([file1, file2]):
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        dst = os.path.join(spool, f"part-{i:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (stamp + i, stamp + i))
        shutil.rmtree(tmp)

    eng = Engine(spark)
    stmt = """
        SELECT k, rid, v,
               SUM(v) OVER (PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                   AND CURRENT ROW) AS sv
        FROM over_tie
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(spool)
    )
    sink = f"tie_{uuid.uuid4().hex[:12]}"
    q = (
        eng.sql_stream(stmt, {"over_tie": stream})
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(sink).collect()}
    surviving = spark.createDataFrame(file1 + [file2[1]], schema)
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-60, Window.currentRow)
    )
    want = {
        tuple(r)
        for r in surviving.select(
            "k", "rid", "v", F.sum("v").over(w).alias("sv")
        ).collect()
    }
    assert got == want and len(got) == 3  # rid=2 dropped, others exact
    shutil.rmtree(spool, ignore_errors=True)


def test_over_aggregation_registered_statement_streams(spark):
    """The EXACT registered over_agg_sql statement shape — CAST(SUM(CAST(
    value AS DECIMAL(38,6))) OVER (...) AS DOUBLE) — must route through
    sql_stream (not fall through to Catalyst's streaming rejection) and
    match the batch plan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.engine import Engine

    df = _over_agg_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, rid,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER (
                   PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                         AND CURRENT ROW
               ) AS DOUBLE) AS rolling_sum,
               COUNT(*) OVER (
                   PARTITION BY k ORDER BY ts
                   RANGE BETWEEN INTERVAL '60' SECOND PRECEDING
                         AND CURRENT ROW
               ) AS rolling_n
        FROM over_cast
    """
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"over_cast": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    assert dict(streamed.dtypes)["rolling_sum"] == "double"
    got = {tuple(r) for r in streamed.collect()}
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-60, Window.currentRow)
    )
    batch = {
        tuple(r)
        for r in df.select(
            "k",
            "rid",
            F.sum("v").over(w).cast("double").alias("rolling_sum"),
            F.count("*").over(w).alias("rolling_n"),
        ).collect()
    }
    assert got == batch and batch


def _cep_bounded_df(spark):
    """Fixture for the bounded-window streaming matcher: overlap-dense
    values plus FOUR trailing v=-1000 rows per key (every DEFINE used
    in the bounded tests requires a non-negative range, so padding rows
    satisfy no variable). The padding lets every real start accumulate
    its Lmax-row decision window — the bounded analog of the run
    matchers' terminator contract — while provably never joining or
    anchoring a match in either engine."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [12, 15, 8, 11, 14, 13, 9, 16, 7, 12, 6],
        "b": [10, 10, 10, 5, 12, 2, 3, 11, 4],
        "c": [1, 3, 5, 7, 9, 2, 4, 6],
    }.items():
        # all-fail terminator pads decide every pending head: the
        # bounded-window leg only decides a start once Lmax rows from
        # it exist, and the widest case below (A{0,8} B{0,8} C) has
        # Lmax = 17 — shorter pads left its heads forever-pending
        # (appending all-fail rows can never create or change a match)
        for i, v in enumerate(vals + [-1000] * 20):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, v int")


def test_bounded_pattern_stream_matches_batch(spark):
    """Quantifiers, optionals, alternation groups, quantified groups,
    nested groups, and PERMUTE — every bounded shape — stream through
    the Lmax-row window matcher with the batch NFA's preference order.
    Overlapping predicates make greedy-vs-optional and alternative
    choice genuinely matter; both skip modes and WITHIN covered."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    cases = [
        # optional middle variable, overlapping with A
        ("(A B? C)", "A AS A.v >= 10, B AS B.v >= 8, C AS C.v BETWEEN 0 AND 9",
         "PAST LAST ROW", ""),
        ("(A B? C)", "A AS A.v >= 10, B AS B.v >= 8, C AS C.v BETWEEN 0 AND 9",
         "TO NEXT ROW", ""),
        # bounded quantifier, greedy
        ("(A{1,2} B)", "A AS A.v >= 8, B AS B.v BETWEEN 0 AND 9",
         "PAST LAST ROW", ""),
        # reluctant quantifier
        ("(A{1,2}? B)", "A AS A.v >= 8, B AS B.v BETWEEN 0 AND 9",
         "TO NEXT ROW", ""),
        # alternation group with overlapping alternatives
        ("((A|B) C)", "A AS A.v >= 12, B AS B.v >= 8, C AS C.v BETWEEN 0 AND 9",
         "TO NEXT ROW", ""),
        # quantified alternation group
        ("(A (B|C){0,2} D)",
         "A AS A.v >= 10, B AS B.v BETWEEN 8 AND 16, "
         "C AS C.v BETWEEN 0 AND 7, D AS D.v BETWEEN 0 AND 9",
         "PAST LAST ROW", ""),
        # nested group alternation of different lengths
        ("(((A B)|C) D)",
         "A AS A.v >= 10, B AS B.v >= 8, C AS C.v >= 14, "
         "D AS D.v BETWEEN 0 AND 9",
         "PAST LAST ROW", ""),
        # PERMUTE: listed-order preference (previously a silent
        # plain-sequence fallthrough over streams)
        ("(PERMUTE (A, B))",
         "A AS A.v BETWEEN 10 AND 13, B AS B.v BETWEEN 8 AND 16",
         "PAST LAST ROW", ""),
        # PERMUTE 5: the matched-set automaton node (round 11) on the
        # stream leg — overlapping BETWEEN ranges so ordering choice
        # matters; predicates all FAIL on the -1000 terminator pads
        ("(PERMUTE (A, B, C, D, E))",
         "A AS A.v BETWEEN 10 AND 16, B AS B.v BETWEEN 8 AND 15, "
         "C AS C.v BETWEEN 6 AND 13, D AS D.v BETWEEN 9 AND 16, "
         "E AS E.v BETWEEN 7 AND 14",
         "PAST LAST ROW", ""),
        ("(PERMUTE (A, B, C, D, E))",
         "A AS A.v BETWEEN 10 AND 16, B AS B.v BETWEEN 8 AND 15, "
         "C AS C.v BETWEEN 6 AND 13, D AS D.v BETWEEN 9 AND 16, "
         "E AS E.v BETWEEN 7 AND 14",
         "TO NEXT ROW", ""),
        # WITHIN bound on an optional shape
        ("(A B? C)", "A AS A.v >= 10, B AS B.v >= 8, C AS C.v BETWEEN 0 AND 9",
         "PAST LAST ROW", "WITHIN INTERVAL '2' SECOND"),
        # 81-variant / 17-row bounded expansion: past the LEAD-chain
        # budget, re-routed through the NFA AST (round 11 — was a loud
        # UnsupportedPatternError); overlapping predicates so greedy
        # repetition choice matters on both legs
        ("(A{0,8} B{0,8} C)",
         "A AS A.v >= 8, B AS B.v BETWEEN 5 AND 14, "
         "C AS C.v BETWEEN 0 AND 9",
         "PAST LAST ROW", ""),
        ("(A{0,8}? B{0,8} C)",
         "A AS A.v >= 8, B AS B.v BETWEEN 5 AND 14, "
         "C AS C.v BETWEEN 0 AND 9",
         "TO NEXT ROW", ""),
    ]
    for pat, defines, skip, within in cases:
        # MATCH_NUMBER() / CLASSIFIER() under ONE ROW: the window leg
        # emits through the batch NFA's measure emitter
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae, mn, cls FROM cep_bounded
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.ts AS a_ts, MATCH_NUMBER() AS mn,
                         CLASSIFIER() AS cls
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN {pat}
                {within}
                DEFINE {defines}
            )
        """
        df.createOrReplaceTempView("cep_bounded")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_bounded": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, (pat, skip, within)


def test_bounded_pattern_stream_payload_measures(spark):
    """Bounded-leg payload measures: per-variable LAST-row values ride
    the window state; an optional variable that mapped no row emits
    NULL — exactly the batch binding."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, av, bv, cv, CAST(c_ts AS LONG) AS ce FROM cep_bpay
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.v AS av, B.v AS bv, C.v AS cv, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B? C)
            DEFINE A AS A.v >= 10, B AS B.v >= 8,
                   C AS C.v BETWEEN 0 AND 9
        )
    """
    df.createOrReplaceTempView("cep_bpay")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_bpay": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # NULL bv rows (B unmatched) must exist for the binding check to bite
    assert any(r[2] is None for r in got)


def test_bounded_pattern_stream_aggregate_measures(spark):
    """Aggregate MEASURES (COUNT/SUM/AVG/MIN/MAX over a variable's
    matched rows) stream on the bounded leg — the decision window holds
    every matched row, so they compute exactly; a quantified variable
    that mapped no row aggregates to NULL (COUNT to 0), matching the
    batch NFA's bindings."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, nb, sb, avb, mnb, mxb, CAST(a_ts AS LONG) AS ae
        FROM cep_bagg
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(B.v) AS nb, SUM(B.v) AS sb, AVG(B.v) AS avb,
                     MIN(B.v) AS mnb, MAX(B.v) AS mxb, A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B{0,2} C)
            DEFINE A AS A.v >= 10, B AS B.v BETWEEN 8 AND 16,
                   C AS C.v BETWEEN 0 AND 9
        )
    """
    df.createOrReplaceTempView("cep_bagg")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_bagg": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # the zero-B case must occur for the NULL/0 binding check to bite
    assert any(r[1] == 0 for r in got)


def test_bounded_pattern_stream_first_last_nav_measures(spark):
    """FIRST()/LAST() measure navigation on the bounded ONE-ROW leg:
    a quantified variable's FIRST and LAST rows bind from the decision
    window (including FIRST(Var.ts), which rides the payload path —
    pos_col only carries the LAST binding); the run matchers reject
    FIRST over a multiply-mapped variable loudly."""
    import pytest

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, fb, lb, CAST(fts AS LONG) AS fe, CAST(a_ts AS LONG) AS ae
        FROM cep_bnav
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES FIRST(B.v) AS fb, LAST(B.v) AS lb,
                     FIRST(B.ts) AS fts, A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B{1,2} C)
            DEFINE A AS A.v >= 10, B AS B.v BETWEEN 8 AND 16,
                   C AS C.v BETWEEN 0 AND 9
        )
    """
    df.createOrReplaceTempView("cep_bnav")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_bnav": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # a 2-row B run must occur so FIRST != LAST genuinely bites
    assert any(r[1] != r[2] for r in got)
    # run matchers: FIRST over the A+ B run and the funnel's middle
    # run both STREAM (O(1) first-of-run slots) — see
    # test_run_first_navigation_measures_match_batch and
    # test_funnel_first_navigation_measures_match_batch. Repeated
    # pattern variables (the other multiply-mapped shape) are rejected
    # at parse time, so every variable reaching the general leg binds
    # FIRST exactly.
    assert eng.sql_stream(
        """
        SELECT k, fb FROM cep_bnav2
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES FIRST(B.v) AS fb
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v >= 8, B AS B.v BETWEEN 4 AND 7,
                   C AS C.v < 4
        )
        """,
        {"cep_bnav2": df},
    ) is not None
    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        UnsupportedPatternError,
    )

    with pytest.raises(UnsupportedPatternError, match="distinct"):
        eng.sql_stream(
            """
            SELECT k, fa FROM cep_bnav3
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES FIRST(A.v) AS fa
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B A)
                DEFINE A AS A.v >= 8, B AS B.v BETWEEN 4 AND 7
            )
            """,
            {"cep_bnav3": df},
        )


def test_bounded_pattern_stream_cross_variable_defines(spark):
    """Cross-variable DEFINE comparisons stream on the bounded leg:
    the decision window holds the partial match's bindings, so
    SELF.col OP OTHER.col (and FIRST/LAST(OTHER.col)) evaluate exactly
    as in the batch NFA — including the alternative-labeling
    backtracking case (a row passing several variables where only one
    labeling lets the cross check hold)."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    cases = [
        # rising pair: C must beat the A row's value
        ("(A B? C)",
         "A AS A.v >= 8, B AS B.v >= 5, C AS C.v > A.v"),
        # quantified middle with a LAST() reference from the closer
        ("(A B{1,2} C)",
         "A AS A.v >= 8, B AS B.v >= 5, C AS C.v < LAST(B.v)"),
        # FIRST() reference across a quantified run
        ("(A B{1,2} C)",
         "A AS A.v >= 8, B AS B.v >= 5, C AS C.v <= FIRST(B.v)"),
        # alternative labeling matters: rows pass both B and C but the
        # D check only holds under one labeling
        ("(A (B|C){1,2} D)",
         "A AS A.v >= 8, B AS B.v >= 9, C AS C.v BETWEEN 5 AND 12, "
         "D AS D.v < C.v"),
        # RICH expressions (round 12): arithmetic over a foreign ref
        ("(A B{1,2} C)",
         "A AS A.v >= 8, B AS B.v >= 5, "
         "C AS C.v < FIRST(A.v) * 0.5 + 10"),
        # ... and combining TWO foreign references
        ("(A B{1,2} C)",
         "A AS A.v >= 8, B AS B.v >= 5, "
         "C AS C.v < (A.v + LAST(B.v)) / 2"),
        # left side qualified by ANOTHER variable: both refs navigate
        # mapped rows (the Flink semantics, round 12)
        ("(A B C)",
         "A AS A.v >= 8, B AS B.v >= 5, C AS A.v > B.v - 3"),
        # AGGREGATES inside DEFINE (round 12): the closing row must
        # undercut the running average of the buffered run
        ("(A B{1,2} C)",
         "A AS A.v >= 8, B AS B.v >= 4, "
         "C AS C.v * COUNT(B.*) < SUM(B.v)"),
    ]
    for pat, defines in cases:
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae FROM cep_cross
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.ts AS a_ts
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN {pat}
                DEFINE {defines}
            )
        """
        df.createOrReplaceTempView("cep_cross")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_cross": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, (pat, defines)


def test_bounded_pattern_stream_prev_navigation(spark):
    """Physical PREV conjuncts stream on the bounded legs: evaluated
    per arriving row against the bounded arrival history in the same
    keyed state (exactly the run legs' mechanism), composing with
    quantifiers/optionals — ONE ROW and ALL ROWS both equal the batch
    lowering's lag-column semantics, including NULL lags at partition
    heads and predecessors in earlier micro-batches."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, CAST(a_ts AS LONG) AS ae FROM cep_bprev
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B{1,2} C?)
            DEFINE A AS A.v >= 10, B AS B.v < PREV(B.v),
                   C AS C.v >= 10 AND C.v > PREV(C.v, 2)
        )
    """
    df.createOrReplaceTempView("cep_bprev")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_bprev": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # ALL ROWS with the same PREV define
    stmt2 = """
        SELECT k, CAST(ts AS LONG) AS e, v, cls FROM cep_bprev2
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B{1,2})
            DEFINE A AS A.v >= 10, B AS B.v < PREV(B.v)
        )
    """
    df.createOrReplaceTempView("cep_bprev2")
    batch2 = {
        tuple(r) for r in StatementRouter(spark).execute(stmt2).collect()
    }
    streamed2 = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt2, {"cep_bprev2": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got2 = {tuple(r) for r in streamed2.collect()}
    assert got2 == batch2 and batch2


def test_bounded_pattern_stream_skip_to_var(spark):
    """AFTER MATCH SKIP TO FIRST/LAST <var> streams on the bounded
    leg: matching resumes AT the target row (inclusive — overlapping
    matches), exactly the batch scan's walk; unbounded shapes keep the
    loud rejection."""
    import pytest

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    for skip in ("TO LAST B", "TO FIRST B"):
        stmt = f"""
            SELECT k, CAST(a_ts AS LONG) AS ae, CAST(c_ts AS LONG) AS ce
            FROM cep_skipto
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.ts AS a_ts, C.ts AS c_ts
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN (A B{{1,2}} C)
                DEFINE A AS A.v >= 8, B AS B.v BETWEEN 5 AND 16,
                       C AS C.v BETWEEN 0 AND 9
            )
        """
        df.createOrReplaceTempView("cep_skipto")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_skipto": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, skip
    # SKIP TO over an unbounded run with NO WITHIN streams since round
    # 8 via the BREAK-ROW-decided leg (construction; note these
    # DEFINEs cover every v, so a run with no break rows would hit the
    # loud state cap at runtime rather than grow silently)
    assert eng.sql_stream(
        """
        SELECT k, b_ts FROM cep_skipto2
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO LAST A
            PATTERN (A+ B)
            DEFINE A AS A.v >= 8, B AS B.v < 8
        )
        """,
        {"cep_skipto2": df},
    ) is not None


def test_all_rows_per_match_streams_bounded(spark):
    """ALL ROWS PER MATCH streams for bounded patterns: every matched
    input row emits with RUNNING (default) and FINAL measures,
    CLASSIFIER(), per-key MATCH_NUMBER() (held in the matcher's
    state across micro-batches), and aggregate measures — equal to
    the batch NFA's ALL ROWS emission."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    for pat, defines, mvar in [
        ("(A B{0,2} C)",
         "A AS A.v >= 10, B AS B.v BETWEEN 8 AND 16, "
         "C AS C.v BETWEEN 0 AND 9", "B"),
        # plain sequence: ALL ROWS routes through the bounded leg too
        ("(A C)", "A AS A.v >= 10, C AS C.v BETWEEN 0 AND 9", "A"),
    ]:
        stmt = f"""
            SELECT k, CAST(ts AS LONG) AS e, v, cls, mn, m_run, n_m
            FROM cep_allrows
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
                         RUNNING {mvar}.v AS m_run,
                         COUNT({mvar}.v) AS n_m
                ALL ROWS PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN {pat}
                DEFINE {defines}
            )
        """
        df.createOrReplaceTempView("cep_allrows")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_allrows": s}),
            output_mode="append",
            n_files=5,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, pat


def test_all_rows_unmatched_and_exclusions_stream(spark):
    """WITH UNMATCHED ROWS and {- X -} exclusions stream on the
    bounded ALL ROWS leg: unmatched rows emit once with NULL measures
    when their last possible covering start is decided; excluded
    variables match but do not emit. Padding rows are filtered from
    BOTH sides — at stream end they sit in undecided windows (the
    terminator contract), while batch sees the partition end."""
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_bounded_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, CAST(ts AS LONG) AS e, v, mn FROM cep_unm
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES MATCH_NUMBER() AS mn
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A {- B? -} C)
            DEFINE A AS A.v >= 10, B AS B.v >= 8,
                   C AS C.v BETWEEN 0 AND 9
        )
    """
    df.createOrReplaceTempView("cep_unm")
    batch = {
        tuple(r)
        for r in StatementRouter(spark).execute(stmt).collect()
        if r[2] is None or r[2] > -1000
    }
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_unm": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {
        tuple(r)
        for r in streamed.collect()
        if r[2] is None or r[2] > -1000
    }
    assert got == batch and batch
    # both unmatched (NULL mn) and matched rows must be present
    assert any(r[3] is None for r in got) and any(
        r[3] is not None for r in got
    )


def test_unwindowed_dedup_statement_streams(spark, sf_small):
    """Flink's plain Deduplication statement (ROW_NUMBER rn=1 over a
    NON-windowed partition) streams through sql_stream: ORDER BY ASC
    keeps the first row per key, DESC the last — one min_by/max_by
    upsert aggregate, exact against the batch plan under any arrival
    order (complete-mode final state == batch recompute)."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    eng = Engine(spark)
    for direction in ("ASC", "DESC"):
        stmt = f"""
            SELECT user_id, event_id, event_type FROM (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY ts {direction}, event_id
                  {direction}) AS rn
              FROM events_plain_dedup
            ) WHERE rn = 1
        """
        ev.createOrReplaceTempView("events_plain_dedup")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        streamed = run_stream_over_batch(
            spark,
            ev,
            lambda s, stmt=stmt: eng.sql_stream(
                stmt, {"events_plain_dedup": s}
            ),
            output_mode="complete",
            n_files=6,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, direction


def test_unwindowed_topn_statement_streams(spark, sf_small):
    """Flink's plain (non-windowed) Top-N statement streams: the
    stateful top-N operator keeps O(N) rows per key and re-emits a
    key's current top-N when it changes (update changelog). Draining
    the changelog into a last-write-wins store keyed by (key, rn) —
    the upsert-sink contract — must equal the batch ROW_NUMBER plan."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter
    from training_flink_sql_cc_src_spark.streaming.parity import (
        stream_from_batch,
    )

    ev = t(spark, sf_small, "events").select("event_id", "user_id", "value")
    stmt = """
        SELECT user_id, event_id, value, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY value DESC, event_id DESC
          ) AS rn
          FROM events_topn_plain
        ) WHERE rn <= 3
    """
    ev.createOrReplaceTempView("events_topn_plain")
    batch = {
        tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
    }
    eng = Engine(spark)
    stream = stream_from_batch(spark, ev, n_files=6, order_by="event_id")
    out = eng.sql_stream(stmt, {"events_topn_plain": stream})
    store: dict = {}

    def upsert(bdf, _bid):
        for r in bdf.collect():
            store[(r["user_id"], r["rn"])] = tuple(r)

    q = (
        out.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert set(store.values()) == batch and batch


def test_unwindowed_topn_null_ordering_matches_batch(spark):
    """NULL order values through the stateful top-N operator must rank
    exactly as the batch ROW_NUMBER plan: Spark's default null ordering
    is ASC NULLS FIRST / DESC NULLS LAST — i.e. null is the smallest
    value in BOTH directions (ADVICE r7: the old fallback keyed NULLs
    largest, putting them FIRST under DESC)."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter
    from training_flink_sql_cc_src_spark.streaming.parity import (
        stream_from_batch,
    )

    rows = [
        ("u1", 1, None), ("u1", 2, 50), ("u1", 3, None), ("u1", 4, 80),
        ("u2", 5, None), ("u2", 6, None), ("u2", 7, 10),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id int, value int")
    eng = Engine(spark)
    for direction in ("DESC", "ASC"):
        stmt = f"""
            SELECT user_id, event_id, value, rn FROM (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY value {direction},
                      event_id {direction}
              ) AS rn
              FROM events_topn_nulls
            ) WHERE rn <= 2
        """
        df.createOrReplaceTempView("events_topn_nulls")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        stream = stream_from_batch(spark, df, n_files=3, order_by="event_id")
        out = eng.sql_stream(stmt, {"events_topn_nulls": stream})
        store: dict = {}

        def upsert(bdf, _bid):
            for r in bdf.collect():
                store[(r["user_id"], r["rn"])] = tuple(r)

        q = (
            out.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert set(store.values()) == batch and batch, direction


@pytest.mark.parametrize("direction", ["DESC", "ASC"])
@pytest.mark.parametrize("filt", ["= 1", "<= 2"], ids=["eq1", "le2"])
def test_windowed_rank_null_ordering_matches_batch(spark, direction, filt):
    """NULL order values through the windowed rank aggregate (min/max
    of the order struct for rn = 1, the sorted collected structs for
    rn <= N) must rank exactly as the batch ROW_NUMBER plan: a NULL
    struct field orders first, i.e. ASC NULLS FIRST / DESC NULLS LAST.
    The last row opens a far-later window, so every window holding the
    other rows closes and the comparison is exact."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    rows = [
        ("u1", 1, None, 300), ("u1", 2, 50, 600), ("u1", 3, None, 1200),
        ("u1", 4, 80, 1800), ("u2", 5, None, 900), ("u2", 6, None, 1500),
        ("u2", 7, 10, 2100), ("u1", 8, 5, 3900), ("u1", 9, None, 4200),
        ("u2", 10, 7, 4800), ("u9", 11, 0, 36000),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, value int, s long"
    ).selectExpr("user_id", "event_id", "value", "timestamp_seconds(s) AS ts")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_wrank_nulls MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = f"""
        SELECT window_start, user_id, event_id, value, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end, user_id
              ORDER BY value {direction}, event_id {direction}) AS rn
          FROM TABLE(TUMBLE(TABLE ev_wrank_nulls, DESCRIPTOR(ts),
                            INTERVAL '1' HOUR))
        ) WHERE rn {filt}
    """
    df.createOrReplaceTempView("ev_wrank_nulls")
    batch = {
        tuple(r)
        for r in StatementRouter(spark).execute(stmt).collect()
        if r.user_id != "u9"
    }
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"ev_wrank_nulls": s}),
        output_mode="append",
        n_files=3,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect() if r.user_id != "u9"}
    assert got == batch and batch


def test_stream_fuzz_smoke_vs_batch_nfa(spark):
    """A fixed-seed slice of scripts/fuzz_cep_stream.py runs in-suite
    so random streamable shapes (sequences / A+ B / A B+ C with
    overlapping predicates, PREV/NEXT conjuncts, both skip modes,
    WITHIN) keep being replayed micro-batched and compared against the
    batch NFA. The full sweep runs standalone:
    ``python scripts/fuzz_cep_stream.py 150 <seed>``."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "fuzz_cep_stream.py"
    )
    spec = importlib.util.spec_from_file_location("fuzz_cep_stream", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main(6, 42) == 0


def test_general_run_stream_aggregate_measures(spark):
    """Aggregate MEASURES over the A+ B run stream through O(1)
    accumulators (count/sum/min/max folded incrementally, with a pend
    snapshot for the backtrack candidate) — COUNT(A.*), COUNT/SUM/AVG/
    MIN/MAX(A.v) over the run rows and SUM(B.v) on the end row must
    equal the batch NFA, including matches finalized via the pend
    fallback and across micro-batch boundaries."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_funnel_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, na, nav_, sa, ava, mna, mxa, sb,
               CAST(b_ts AS LONG) AS be
        FROM cep_run_agg
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(A.*) AS na, COUNT(A.v) AS nav_,
                     SUM(A.v) AS sa, AVG(A.v) AS ava,
                     MIN(A.v) AS mna, MAX(A.v) AS mxa,
                     SUM(B.v) AS sb, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 0
        )
    """
    df.createOrReplaceTempView("cep_run_agg")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_run_agg": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    # multi-row runs must occur so the accumulators genuinely fold
    assert any(r[1] > 1 for r in got)


def test_general_funnel_stream_aggregate_measures(spark):
    """Aggregate MEASURES over the A B+ C funnel stream through the
    same O(1) accumulators — COUNT(B.*)/SUM/AVG/MIN/MAX(B.v) over the
    run plus single-row aggregates on A and C — equal to the batch NFA
    including pend-fallback matches."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_funnel_df(spark)
    eng = Engine(spark)
    stmt = """
        SELECT k, nb, sb, avb, mnb, mxb, sa, sc,
               CAST(a_ts AS LONG) AS ae
        FROM cep_funnel_agg
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(B.*) AS nb, SUM(B.v) AS sb, AVG(B.v) AS avb,
                     MIN(B.v) AS mnb, MAX(B.v) AS mxb,
                     SUM(A.v) AS sa, SUM(C.v) AS sc, A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 1,
                   C AS C.v <= 9
        )
    """
    df.createOrReplaceTempView("cep_funnel_agg")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_funnel_agg": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch
    assert any(r[1] >= 1 for r in got)


def test_general_sequence_stream_payload_measures_match_batch(spark):
    """MEASURES beyond Var.<order col>: A.v and B.v ride the sequence
    matcher's window state as payload columns — values must equal the
    batch lowering's struct-bound measures, under both skip modes."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    for skip in ("PAST LAST ROW", "TO NEXT ROW"):
        stmt = f"""
            SELECT k, av, bv, CAST(b_ts AS LONG) AS be FROM cep_payload
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES A.v AS av, B.v AS bv, B.ts AS b_ts
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN (A B)
                DEFINE A AS A.v >= 5, B AS B.v % 2 = 0
            )
        """
        df.createOrReplaceTempView("cep_payload")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        eng = Engine(spark)
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"cep_payload": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch, skip


def test_general_run_stream_payload_measures_match_batch(spark):
    """PATTERN (A+ B) with MEASURES A.v (the run's LAST row — Flink's
    binding) and B.v: the O(1)-state matcher must remember the payload
    of the greedy run end AND of the in-run end candidate (the
    backtracking emission path), across micro-batch splits."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_overlap_df(spark)
    stmt = """
        SELECT k, av, bv, CAST(b_ts AS LONG) AS be FROM cep_run_payload
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES A.v AS av, B.v AS bv, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 0
        )
    """
    df.createOrReplaceTempView("cep_run_payload")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_run_payload": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_eq_literal_statement_with_payload_measures_streams(spark, sf_small):
    """An eq-literal statement whose MEASURES read payload columns
    (Var.event_id) carries them through the decision window's
    keyed state — same SQL, batch-equal results."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stmt = """
        SELECT user_id, a_id, b_id FROM events_eq_payload
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES A.event_id AS a_id, B.event_id AS b_id
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'
        )
    """
    ev.createOrReplaceTempView("events_eq_payload")
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_eq_payload": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_run_statement_streams_matches_batch_plus(spark, sf_small):
    """PATTERN (A+ B) under SKIP PAST LAST ROW streamed through
    Engine.sql_stream (the O(1)-state run leg) over an in-order replay
    equals the batch gaps-and-islands lowering, including runs split
    across micro-batch boundaries."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stmt = """
        SELECT user_id, last_a, b_ts FROM __cep_plus_events
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS last_a, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
    """
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"__cep_plus_events": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {(r.user_id, r.last_a, r.b_ts) for r in streamed.collect()}
    ev.createOrReplaceTempView("__cep_plus_events")
    batch = StatementRouter(spark).execute(stmt)
    want = {(r.user_id, r.last_a, r.b_ts) for r in batch.collect()}
    assert got == want and want


def test_within_run_reanchors_past_too_old_run_head(spark):
    """PATTERN (A+ B) WITHIN 10 s over one key's view@0s view@8s
    view@9s click@12s: the run head at 0 s is too old, so batch
    re-anchors the match to the run row at 8 s. The streamed statement
    must return that match too (a run matcher that keeps only the run
    head returns nothing). A terminator row past every start's WITHIN
    horizon flushes the decision window."""
    import datetime as dt

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(seconds=sec), et)
        for sec, et in (
            (0, "view"), (8, "view"), (9, "view"), (12, "click"),
            (30, "purchase"),
        )
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    stmt = """
        SELECT user_id, a_ts, b_ts FROM __cep_reanchor
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES A.ts AS a_ts, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            WITHIN INTERVAL '10' SECOND
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
    """
    df.createOrReplaceTempView("__cep_reanchor")
    batch = sorted(
        tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
    )
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"__cep_reanchor": s}),
        output_mode="append",
        n_files=2,
        order_by="ts",
    )
    got = sorted(tuple(r) for r in streamed.collect())
    assert batch == [
        (1, base + dt.timedelta(seconds=9), base + dt.timedelta(seconds=12))
    ]
    assert got == batch


def test_adjacent_statement_streams_matches_batch_match_recognize(
    spark, sf_small
):
    """PATTERN (A B) streamed through Engine.sql_stream (per-key state =
    the last row) over an in-order replay finds EXACTLY the matches of
    the batch MATCH_RECOGNIZE lowering — including pairs whose A and B
    land in different micro-batches, which a per-batch LEAD would
    drop."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stmt = """
        SELECT user_id, first_ts, second_ts FROM __cep_events
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS first_ts, B.ts AS second_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            WITHIN INTERVAL '1' HOUR
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
    """
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"__cep_events": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {
        (r.user_id, r.first_ts, r.second_ts) for r in streamed.collect()
    }
    ev.createOrReplaceTempView("__cep_events")
    batch = StatementRouter(spark).execute(stmt)
    want = {(r.user_id, r.first_ts, r.second_ts) for r in batch.collect()}
    assert got == want and want


def test_tumble_tvf_statement_streams_append_mode(spark, sf_small):
    """TUMBLE TVF statement in APPEND mode — the production sink mode:
    the native-window streaming rewrite keeps event-time metadata, so a
    watermarked statement emits each closed window exactly once. With an
    in-order replay the emitted windows carry exact batch counts; only
    the never-closing tail may be missing."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "value")
    eng = Engine(spark)
    eng.sql("ALTER TABLE events_app_stream MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = (
        "SELECT window_start, COUNT(*) AS n "
        "FROM TABLE(TUMBLE(TABLE events_app_stream, DESCRIPTOR(ts), "
        "INTERVAL '1' HOUR)) GROUP BY window_start"
    )
    ev.createOrReplaceTempView("events_app_stream")
    batch = {r.window_start: r.n for r in eng.sql(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_app_stream": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {r.window_start: r.n for r in streamed.collect()}
    assert set(got) <= set(batch)
    assert all(got[w] == batch[w] for w in got)  # in-order: exact counts
    assert len(got) >= len(batch) - 2  # only the open tail may be missing
    assert len(got) > 0


def test_window_topn_streaming_parity(spark, sf_small):
    """Continuous Window Top-N through ``Engine.sql_stream`` (nested
    ROW_NUMBER over a TUMBLE TVF aggregate, append mode) == the batch
    window_topn registry query on the closed windows: an in-order replay
    closes every window except the tail, and each closed window's top-3
    carries the batch count multiset with ranks 1..k (ROW_NUMBER breaks
    count ties arbitrarily, so the tied event types may differ)."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.queries.time_windows import window_topn

    ev = t(spark, sf_small, "events").select("ts", "event_type")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_wtopn_port MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = """
        SELECT CAST(window_start AS LONG) AS window_start, event_type,
               n_events, CAST(rnk AS LONG) AS rnk
        FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end
              ORDER BY n_events DESC) AS rnk
          FROM (
            SELECT window_start, window_end, event_type,
                   COUNT(*) AS n_events
            FROM TABLE(TUMBLE(TABLE ev_wtopn_port, DESCRIPTOR(ts),
                              INTERVAL '1' HOUR))
            GROUP BY window_start, window_end, event_type
          )
        ) WHERE rnk <= 3
    """
    ev.createOrReplaceTempView("ev_wtopn_port")
    batch = {}
    for r in window_topn(spark, sf_small).collect():
        batch.setdefault(r.window_start, []).append((r.n_events, r.rnk))
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"ev_wtopn_port": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {}
    for r in streamed.collect():
        got.setdefault(r.window_start, []).append((r.n_events, r.rnk))
    assert set(got) <= set(batch)
    assert len(got) >= len(batch) - 2  # only the open tail may be missing
    assert len(got) > 0
    for w in got:  # per closed window: the top-3 counts, ranks 1..k
        assert sorted(got[w]) == sorted(batch[w])


def test_window_dedup_streaming_parity(spark, sf_small):
    """Continuous Window Deduplication through ``Engine.sql_stream``
    (ROW_NUMBER rn = 1 over a TUMBLE TVF, append mode) == the batch
    window_dedup_first registry query on closed windows — the first
    (ts, event_id) row per (hour, user) survives incremental
    micro-batch merging."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.queries.time_windows import (
        window_dedup_first,
    )

    ev = t(spark, sf_small, "events").select("ts", "user_id", "event_id")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_wdedup_port MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = """
        SELECT CAST(window_start AS LONG) AS window_start, user_id,
               CAST(ts AS LONG) AS first_ts_epoch,
               event_id AS first_event_id
        FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end, user_id
              ORDER BY ts, event_id) AS rn
          FROM TABLE(TUMBLE(TABLE ev_wdedup_port, DESCRIPTOR(ts),
                            INTERVAL '1' HOUR))
        ) WHERE rn = 1
    """
    ev.createOrReplaceTempView("ev_wdedup_port")
    batch = {
        (r.window_start, r.user_id): (r.first_ts_epoch, r.first_event_id)
        for r in window_dedup_first(spark, sf_small).collect()
    }
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"ev_wdedup_port": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {
        (r.window_start, r.user_id): (r.first_ts_epoch, r.first_event_id)
        for r in streamed.collect()
    }
    assert set(got) <= set(batch)
    assert all(got[k] == batch[k] for k in got)
    assert len(got) > 0
    closed = {w for w, _ in got}
    full = {w for w, _ in batch}
    assert len(closed) >= len(full) - 2


_TOPN_OVER_AGG = """
    SELECT window_start, event_type, n_events, rn FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY window_start, window_end
          ORDER BY n_events {direction}) AS rn
      FROM (
        SELECT window_start, window_end, event_type,
               COUNT(*) AS n_events
        FROM TABLE(TUMBLE(TABLE ev_topn_stream, DESCRIPTOR(ts),
                          INTERVAL '1' HOUR))
        GROUP BY window_start, window_end, event_type
      )
    ) WHERE rn {filter}
"""


@pytest.mark.parametrize(
    "stmt",
    [
        _TOPN_OVER_AGG.format(direction="DESC", filter="<= 3"),
        # rn = 1 over the TVF aggregate (Window Top-1)
        _TOPN_OVER_AGG.format(direction="DESC", filter="= 1"),
        # ascending Window Top-N: the bottom 3 counts
        _TOPN_OVER_AGG.format(direction="ASC", filter="<= 3"),
        # Window Top-N over the TVF's rows (no inner aggregate)
        """
        SELECT window_start, event_type, value AS n_events, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end
              ORDER BY value DESC) AS rn
          FROM TABLE(TUMBLE(TABLE ev_topn_stream, DESCRIPTOR(ts),
                            INTERVAL '1' HOUR))
        ) WHERE rn <= 2
        """,
    ],
    ids=["desc_top3", "top1_eq", "asc_top3", "tvf_rows_top2"],
)
def test_window_topn_sql_statement_streams(spark, sf_small, stmt):
    """Flink's Window Top-N SQL statement (nested ROW_NUMBER over a
    TUMBLE TVF aggregate, or over the TVF's rows) runs CONTINUOUSLY
    through sql_stream: the rank layer is lowered to a windowed rank
    aggregate in append mode, and each closed window's top-N matches
    the batch front-door answer exactly."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_topn_stream MODIFY WATERMARK FOR `ts` AS `ts`")
    ev.createOrReplaceTempView("ev_topn_stream")
    batch = {}
    for r in eng.sql(stmt).collect():
        batch.setdefault(r.window_start, []).append(r.n_events)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"ev_topn_stream": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got, ranks = {}, {}
    for r in streamed.collect():
        got.setdefault(r.window_start, []).append(r.n_events)
        ranks.setdefault(r.window_start, []).append(r.rn)
    assert set(got) <= set(batch)
    assert len(got) >= len(batch) - 2  # only the open tail may be missing
    assert len(got) > 0
    for w in got:
        # ROW_NUMBER breaks count-ties arbitrarily in batch, so compare
        # the rank-determining count multiset (deterministic either way)
        assert sorted(got[w]) == sorted(batch[w])
        assert sorted(ranks[w]) == list(range(1, len(ranks[w]) + 1))


_TUMBLE_1H = "TUMBLE(TABLE ev_dd_stream, DESCRIPTOR(ts), INTERVAL '1' HOUR)"


@pytest.mark.parametrize(
    "tvf, order",
    [
        (_TUMBLE_1H, "ts, event_id"),
        # keep-last Window Deduplication
        (_TUMBLE_1H, "ts DESC, event_id DESC"),
        (
            "HOP(TABLE ev_dd_stream, DESCRIPTOR(ts), INTERVAL '30' MINUTE, "
            "INTERVAL '1' HOUR)",
            "ts, event_id",
        ),
    ],
    ids=["tumble_first", "tumble_last", "hop_first"],
)
def test_window_dedup_sql_statement_streams(spark, sf_small, tvf, order):
    """Flink's Window Deduplication SQL statement (nested ROW_NUMBER
    over a TUMBLE/HOP TVF, rn = 1; ORDER BY ASC keeps the first row,
    DESC the last) runs CONTINUOUSLY: the rank layer lowers to one
    windowed min/max over the order struct, append mode, matching the
    batch front door on closed windows."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "user_id", "event_id")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_dd_stream MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = f"""
        SELECT window_start, user_id, event_id FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end, user_id
              ORDER BY {order}) AS rn
          FROM TABLE({tvf})
        ) WHERE rn = 1
    """
    ev.createOrReplaceTempView("ev_dd_stream")
    batch = {
        (r.window_start, r.user_id): r.event_id
        for r in eng.sql(stmt).collect()
    }
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"ev_dd_stream": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {
        (r.window_start, r.user_id): r.event_id
        for r in streamed.collect()
    }
    assert set(got) <= set(batch)
    assert all(got[k] == batch[k] for k in got)
    assert len(got) > 0
    closed = {w for w, _ in got}
    assert len(closed) >= len({w for w, _ in batch}) - 2


def test_window_join_streaming_parity(spark, sf_small):
    """Continuous Window Join: two windowed aggregates joined on their
    event-time window structs (chained stateful operators) == the batch
    window_join registry query on closed windows, append mode."""
    from training_flink_sql_cc_src_spark.registry import all_queries
    from training_flink_sql_cc_src_spark.streaming.window_rank import (
        window_join_stream,
    )

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    batch = {
        r.window_start: (r.n_clicks, r.n_purchases, float(r.purchase_value))
        for r in all_queries()["window_join"](spark, sf_small).collect()
    }
    streamed = run_stream_over_batch(
        spark, ev, window_join_stream, output_mode="append",
        n_files=4, order_by="ts",
    )
    got = {
        r.window_start: (r.n_clicks, r.n_purchases, round(r.purchase_value, 6))
        for r in streamed.collect()
    }
    assert set(got) <= set(batch)
    assert len(got) >= len(batch) - 2
    assert len(got) > 0
    for w in got:
        b = batch[w]
        assert got[w][0] == b[0] and got[w][1] == b[1]
        assert abs(got[w][2] - float(b[2])) < 1e-6


def test_window_topn_sql_streams_with_extra_partition_key(spark, sf_small):
    """Window Top-N SQL with an EXTRA partition key beyond the window
    (top event per (hour, user)): the chained-aggregation rewrite keys
    the re-aggregation on (window, user) and per-group ranks match the
    batch front door."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select("ts", "user_id", "event_type")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ev_topnk_stream MODIFY WATERMARK FOR `ts` AS `ts`")
    stmt = """
        SELECT window_start, user_id, event_type, n, rn FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start, window_end, user_id
              ORDER BY n DESC) AS rn
          FROM (
            SELECT window_start, window_end, user_id, event_type,
                   COUNT(*) AS n
            FROM TABLE(TUMBLE(TABLE ev_topnk_stream, DESCRIPTOR(ts),
                              INTERVAL '6' HOUR))
            GROUP BY window_start, window_end, user_id, event_type
          )
        ) WHERE rn <= 1
    """
    ev.createOrReplaceTempView("ev_topnk_stream")
    batch = {}
    for r in eng.sql(stmt).collect():
        batch.setdefault((r.window_start, r.user_id), []).append(r.n)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"ev_topnk_stream": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {}
    for r in streamed.collect():
        assert r.rn == 1
        got.setdefault((r.window_start, r.user_id), []).append(r.n)
    assert set(got) <= set(batch)
    assert len(got) > 0
    for k in got:  # top-1 count per (window, user) matches exactly
        assert sorted(got[k]) == sorted(batch[k])


def test_mid_run_statement_streams_matches_batch_nfa(spark, sf_small):
    """PATTERN (A B+ C) (unbounded run at a middle position) with
    COUNT(B.*) under SKIP TO NEXT ROW streamed through Engine.sql_stream:
    the DEFINEs are provably disjoint, so the O(1)-state funnel leg
    takes the skip mode and equals the batch general-NFA lowering over
    an in-order replay, including matches split across micro-batch
    boundaries."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    stmt = """
        SELECT user_id, a_ts, n_b, c_ts FROM __cep_midrun_events
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, COUNT(B.*) AS n_b, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+ C)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click',
                   C AS C.event_type = 'purchase'
        )
    """
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"__cep_midrun_events": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {(r.user_id, r.a_ts, r.n_b, r.c_ts) for r in streamed.collect()}
    ev.createOrReplaceTempView("__cep_midrun_events")
    batch = StatementRouter(spark).execute(stmt)
    want = {(r.user_id, r.a_ts, r.n_b, r.c_ts) for r in batch.collect()}
    assert got == want and want


def test_mid_run_statement_streams_through_engine(spark, sf_small):
    """The SAME A B+ C MATCH_RECOGNIZE statement runs in batch (general
    NFA lowering) and continuously with identical results: the
    DEFINEs are provably disjoint, so the O(1)-state funnel leg takes
    SKIP TO NEXT ROW and emits each match at its C row (no later row
    needed to decide it)."""
    from training_flink_sql_cc_src_spark.engine import Engine

    ev = t(spark, sf_small, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    eng = Engine(spark)
    stmt = """
        SELECT user_id, CAST(a_ts AS LONG) AS a_e,
               CAST(b_ts AS LONG) AS b_e, CAST(c_ts AS LONG) AS c_e
        FROM events_midrun_stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, B.ts AS b_ts, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+ C)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click',
                   C AS C.event_type = 'purchase'
        )
    """
    ev.createOrReplaceTempView("events_midrun_stream")
    batch = {tuple(r) for r in eng.sql(stmt).collect()}
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"events_midrun_stream": s}),
        output_mode="append",
        n_files=8,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_disjoint_funnel_within_drops_too_old_match(spark):
    """A B+ C over provably disjoint DEFINEs under WITHIN, in both skip
    modes: the funnel leg drops the match whose C row is 12 s after its
    A row and keeps the 6 s one, exactly like batch. No rows follow the
    last C, so only a leg that decides each match at its C row can
    return the kept match."""
    import datetime as dt

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rows = [
        (7, base + dt.timedelta(seconds=sec), et)
        for sec, et in (
            (0, "view"), (3, "click"), (6, "purchase"),
            (20, "view"), (25, "click"), (29, "click"), (32, "purchase"),
            (40, "view"), (41, "click"), (44, "purchase"),
        )
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )
    eng = Engine(spark)
    for skip in ("PAST LAST ROW", "TO NEXT ROW"):
        stmt = f"""
            SELECT user_id, CAST(a_ts AS LONG) AS a_e, n_b
            FROM __cep_funnel_within
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts
                MEASURES A.ts AS a_ts, COUNT(B.*) AS n_b
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN (A B+ C)
                WITHIN INTERVAL '10' SECOND
                DEFINE A AS A.event_type = 'view',
                       B AS B.event_type = 'click',
                       C AS C.event_type = 'purchase'
            )
        """
        df.createOrReplaceTempView("__cep_funnel_within")
        batch = sorted(
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        )
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(
                stmt, {"__cep_funnel_within": s}
            ),
            output_mode="append",
            n_files=3,
            order_by="ts",
        )
        got = sorted(tuple(r) for r in streamed.collect())
        t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
        assert batch == [(7, t0, 1), (7, t0 + 40, 1)], skip
        assert got == batch, skip


def test_funnel_equal_valued_literals_match_batch(spark):
    """A B+ C whose DEFINE literals differ as text but not as values
    (``1`` / ``01`` / ``1.0`` on an int column; ``'1'`` / ``'01'``, which
    Spark casts to the int column's type) is NOT disjoint: one row
    satisfies both A and B. Under SKIP TO NEXT ROW both overlapping
    matches must stream, and under WITHIN the too-old match at 0 s must
    re-anchor to the start at 8 s, exactly like batch. The final row
    matches no variable and lies past the WITHIN horizon, so every
    leg decides every start."""
    import datetime as dt

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rows = [
        (7, base + dt.timedelta(seconds=sec), v)
        for sec, v in ((0, 1), (8, 1), (9, 1), (12, 2), (100, -997))
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, v int")
    eng = Engine(spark)
    cases = [
        (lits, tail)
        for lits in (("1", "01", "2"), ("1", "1.0", "2"), ("'1'", "'01'", "'2'"))
        for tail in (
            "AFTER MATCH SKIP TO NEXT ROW PATTERN (A B+ C)",
            "PATTERN (A B+ C) WITHIN INTERVAL '10' SECOND",
        )
    ]
    for (a, b, c), tail in cases:
        stmt = f"""
            SELECT user_id, CAST(a_ts AS LONG) AS a_e, n_b
            FROM __cep_funnel_eqval
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts
                MEASURES A.ts AS a_ts, COUNT(B.*) AS n_b
                ONE ROW PER MATCH
                {tail}
                DEFINE A AS A.v = {a}, B AS B.v = {b}, C AS C.v = {c}
            )
        """
        df.createOrReplaceTempView("__cep_funnel_eqval")
        batch = sorted(
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        )
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(
                stmt, {"__cep_funnel_eqval": s}
            ),
            output_mode="append",
            n_files=3,
            order_by="ts",
        )
        got = sorted(tuple(r) for r in streamed.collect())
        t0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
        want = (
            [(7, t0, 2), (7, t0 + 8, 1)]
            if "NEXT ROW" in tail
            else [(7, t0 + 8, 1)]
        )
        assert batch == want, (a, b, tail)
        assert got == batch, (a, b, tail)


def test_stream_match_recognize_unbounded_nested_groups(spark):
    """A nested pattern with an UNBOUNDED group quantifier — (A B)+ C —
    streams since round 8 via the BREAK-ROW-decided leg (no WITHIN
    needed): rows matching no variable bound the partial-match state,
    so batch and stream agree exactly. (BOUNDED nested groups stream
    through the Lmax-window matcher —
    test_bounded_pattern_stream_matches_batch.)"""
    import datetime as dt
    import random
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(23)
    rows = []
    for k in range(4):
        # 'other' rows are the breaks; trailing pads flush the tail
        evs = [
            rnd.choice(["view", "click", "purchase", "other"])
            for _ in range(30)
        ] + ["other", "other"]
        for i, e in enumerate(evs):
            rows.append((f"u{k}", base + dt.timedelta(seconds=3 * i + k), e))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")
    stmt = """
        SELECT user_id, CAST(a_ts AS LONG) AS ae FROM events_nested_stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ((A B)+ C)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click',
                   C AS C.event_type = 'purchase'
        )
    """
    df.createOrReplaceTempView("events_nested_stream")
    batch = Counter(
        tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
    )
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"events_nested_stream": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = Counter(tuple(r) for r in streamed.collect())
    assert got == batch and batch, (batch - got, got - batch)


def _temporal_fixture(spark, sf_small):
    """Purchases (probe) + clicks (versioned dim) from the events
    fixture — the join_asof_temporal/join_temporal_sql shape."""
    ev = t(spark, sf_small, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return p, c


TEMPORAL_STMT = """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           CAST(p.ts AS LONG) AS purchase_epoch,
           CAST(c.ts AS LONG) AS last_click_epoch
    FROM tj_purchases p
    LEFT JOIN tj_clicks FOR SYSTEM_TIME AS OF p.ts AS c
    ON p.user_id = c.user_id
"""


def _temporal_batch(spark, p, c):
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    p.createOrReplaceTempView("tj_purchases")
    c.createOrReplaceTempView("tj_clicks")
    r = StatementRouter(spark)
    r.catalog.get_or_create("tj_clicks").primary_key = ["user_id"]
    r.execute("ALTER TABLE tj_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    return r, {tuple(x) for x in r.execute(TEMPORAL_STMT).collect()}


def test_temporal_join_statement_streams(spark, sf_small):
    """The lab-joins temporal join (FOR SYSTEM_TIME AS OF against the
    PK'd + watermarked dim) runs CONTINUOUSLY through sql_stream: the
    probe side streams, the versioned dim is the batch snapshot, and
    Catalyst plans a per-microbatch stream-static validity-interval
    join. Streamed result == batch router result, exactly."""
    from training_flink_sql_cc_src_spark.engine import Engine

    p, c = _temporal_fixture(spark, sf_small)
    router, batch = _temporal_batch(spark, p, c)
    eng = Engine(spark)
    eng.catalog.get_or_create("tj_clicks").primary_key = ["user_id"]
    eng.sql("ALTER TABLE tj_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    streamed = run_stream_over_batch(
        spark,
        p,
        lambda s: eng.sql_stream(TEMPORAL_STMT, {"tj_purchases": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_temporal_join_dim_stream_snapshot_composition(spark, sf_small, tmp_path):
    """The dim itself as a STREAM: temporal_join_stream drains it into
    the append version-history snapshot, registers the snapshot view,
    and the probe statement streams against it — equal to batch."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        temporal_join_stream,
    )

    p, c = _temporal_fixture(spark, sf_small)
    _, batch = _temporal_batch(spark, p, c)
    eng = Engine(spark)
    eng.catalog.get_or_create("tj_clicks").primary_key = ["user_id"]
    eng.sql("ALTER TABLE tj_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    dim_stream = stream_from_batch(spark, c, n_files=3, order_by="ts")
    probe = stream_from_batch(spark, p, n_files=3, order_by="ts")
    out, handle = temporal_join_stream(
        eng,
        TEMPORAL_STMT,
        {"tj_purchases": probe},
        "tj_clicks",
        dim_stream,
        str(tmp_path),
    )
    assert handle is None  # drained, not left running
    import uuid

    sink = f"tjs_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(sink).collect()}
    assert got == batch and batch


def test_temporal_join_version_history_pruning_parity(spark, tmp_path):
    """Watermark-based version pruning (VERDICT r8 Missing #3): with
    pk/ts/lookback set, the version-history sink compacts versions
    superseded before (max event time − lookback) to ONE
    latest-pre-cutoff row per key. The streamed temporal join over the
    PRUNED snapshot still equals the batch join over the FULL history
    — pruning only drops versions no probe at-or-after the cutoff can
    select — and the snapshot row count hits the exact bound
    (versions within lookback) + (one pre-cutoff row per key)."""
    import datetime as dt
    import uuid

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        temporal_join_stream,
    )

    base = dt.datetime(2025, 1, 1)
    # dim: 3 keys x 30 versions, 30 s apart; probe: only at/after t=500 s
    dim_rows = [
        (k, base + dt.timedelta(seconds=30 * i), 100 * k + i)
        for k in (1, 2, 3)
        for i in range(30)
    ]
    probe_rows = [
        (1000 + j, (j % 3) + 1, base + dt.timedelta(seconds=500 + 13 * j))
        for j in range(28)
    ]
    dim = spark.createDataFrame(
        dim_rows, "user_id int, ts timestamp, v int"
    )
    probe = spark.createDataFrame(
        probe_rows, "event_id int, user_id int, ts timestamp"
    )
    stmt = """
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               CAST(p.ts AS LONG) AS purchase_epoch, c.v AS clicked_v
        FROM tjp_purchases p
        LEFT JOIN tjp_clicks FOR SYSTEM_TIME AS OF p.ts AS c
        ON p.user_id = c.user_id
    """
    # batch reference over the FULL (unpruned) version history
    probe.createOrReplaceTempView("tjp_purchases")
    dim.createOrReplaceTempView("tjp_clicks")
    r = StatementRouter(spark)
    r.catalog.get_or_create("tjp_clicks").primary_key = ["user_id"]
    r.execute("ALTER TABLE tjp_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    batch = {tuple(x) for x in r.execute(stmt).collect()}

    eng = Engine(spark)
    eng.catalog.get_or_create("tjp_clicks").primary_key = ["user_id"]
    eng.sql("ALTER TABLE tjp_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    dim_stream = stream_from_batch(spark, dim, n_files=5, order_by="ts")
    probe_stream = stream_from_batch(spark, probe, n_files=3, order_by="ts")
    # cutoff = max dim ts (870 s) − lookback (370 s) = 500 s = min probe ts
    out, handle = temporal_join_stream(
        eng,
        stmt,
        {"tjp_purchases": probe_stream},
        "tjp_clicks",
        dim_stream,
        str(tmp_path),
        pk_cols=["user_id"],
        ts_col="ts",
        prune_lookback_seconds=370.0,
        prune_every=1,
    )
    assert handle is None
    sink = f"tjprune_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(x) for x in spark.table(sink).collect()}
    assert got == batch and batch
    # the snapshot is BOUNDED: versions within the lookback window plus
    # exactly one pre-cutoff version per key — not the full history
    snap = spark.read.parquet(str(tmp_path / "__temporal_tjp_clicks"))
    cutoff = base + dt.timedelta(seconds=500)
    n_recent = len([r_ for r_ in dim_rows if r_[1] >= cutoff])
    n_keys_with_old = len({r_[0] for r_ in dim_rows if r_[1] < cutoff})
    assert snap.count() == n_recent + n_keys_with_old
    assert snap.count() < len(dim_rows)


def test_temporal_join_dim_as_stream_rejected(spark, sf_small):
    """Passing the versioned dim directly as a streaming source must
    raise the instructive snapshot-composition error, never Catalyst's
    opaque window-on-stream failure."""
    import pytest

    from training_flink_sql_cc_src_spark.engine import Engine

    p, c = _temporal_fixture(spark, sf_small)
    eng = Engine(spark)
    eng.catalog.get_or_create("tj_clicks").primary_key = ["user_id"]
    eng.sql("ALTER TABLE tj_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    ps = stream_from_batch(spark, p, n_files=2, order_by="ts")
    cs = stream_from_batch(spark, c, n_files=2, order_by="ts")
    with pytest.raises(NotImplementedError, match="version-history"):
        eng.sql_stream(
            TEMPORAL_STMT, {"tj_purchases": ps, "tj_clicks": cs}
        )


def _time_bounded_df(spark, seed=11, n=16, pad=6):
    """Dense random values + TERM padding whose timestamps extend past
    any start's WITHIN horizon, so every decision window flushes."""
    import datetime as dt
    import random

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(seed)
    rows = []
    for ki in range(3):
        vals = [rnd.randint(0, 7) for _ in range(n)] + [-997] * pad
        for i, v in enumerate(vals):
            rows.append((f"k{ki}", base + dt.timedelta(seconds=3 * i + ki), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, v int")


def test_time_bounded_leg_unbounded_patterns_stream(spark):
    """Shapes every fixed-state leg rejects stream EXACTLY under a
    WITHIN bound via the time-bounded window matcher: general-predicate
    runs (incl. SKIP TO NEXT ROW), unbounded quantifiers mixed with
    bounded ones, cross-variable DEFINEs on runs, aggregate measures,
    and SKIP TO FIRST/LAST over a run."""
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _time_bounded_df(spark)
    eng = Engine(spark)
    router = StatementRouter(spark)
    cases = [
        # general-predicate A+ B, aggregate + FIRST measures
        ("A+ B", "A AS A.v >= 3, B AS B.v BETWEEN 0 AND 2",
         "FIRST(A.ts) AS m1, COUNT(A.v) AS m2", "PAST LAST ROW"),
        # overlapping-predicate run under SKIP TO NEXT ROW (was: needs
        # unbounded per-key state)
        ("A+ B", "A AS A.v >= 2, B AS B.v >= 5",
         "FIRST(A.ts) AS m1, COUNT(A.v) AS m2", "TO NEXT ROW"),
        # funnel with WITHIN + skip-to-next
        ("A B+ C", "A AS A.v >= 5, B AS B.v % 2 = 1, C AS C.v <= 3",
         "A.ts AS m1, COUNT(B.v) AS m2", "TO NEXT ROW"),
        # unbounded mixed with bounded quantifier (was: 'mixed' reject)
        ("A{1,2} B+ C",
         "A AS A.v >= 5, B AS B.v BETWEEN 2 AND 6, C AS C.v <= 1",
         "FIRST(A.ts) AS m1, COUNT(B.v) AS m2", "PAST LAST ROW"),
        # cross-variable DEFINE on an unbounded run (was: batch-only)
        ("A+ B", "A AS A.v >= 3, B AS B.v > FIRST(A.v)",
         "FIRST(A.ts) AS m1, B.ts AS m2", "PAST LAST ROW"),
        # RICH cross expression on a run under WITHIN (round 12)
        ("A+ B", "A AS A.v >= 3, B AS B.v > FIRST(A.v) * 0.5 + 1",
         "FIRST(A.ts) AS m1, B.ts AS m2", "PAST LAST ROW"),
        # SKIP TO LAST over a run shape
        ("A B+", "A AS A.v >= 5, B AS B.v BETWEEN 1 AND 4",
         "A.ts AS m1, COUNT(B.v) AS m2", "TO LAST B"),
    ]
    for pattern, defines, meas, skip in cases:
        stmt = f"""
            SELECT k, CAST(m1 AS STRING) AS m1, CAST(m2 AS STRING) AS m2
            FROM tb_parity
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY ts
                MEASURES {meas}
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN ({pattern})
                WITHIN INTERVAL '9' SECOND
                DEFINE {defines}
            )
        """
        df.createOrReplaceTempView("tb_parity")
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"tb_parity": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch, (pattern, skip, batch - got, got - batch)
        assert batch, (pattern, skip)  # every case must actually match


def test_time_bounded_leg_row_cap_is_loud(spark):
    """A key whose WITHIN span holds more undecided rows than the state
    cap must fail LOUDLY, never grow state silently."""
    import datetime as dt

    import pytest

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.streaming import stateful

    base = dt.datetime(2024, 1, 1)
    # 60 rows inside one 1-hour WITHIN span, cap forced tiny
    rows = [
        ("k", base + dt.timedelta(seconds=i), 5) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    eng = Engine(spark)
    stmt = """
        SELECT k, m1 FROM tb_cap
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES COUNT(A.v) AS m1
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            WITHIN INTERVAL '1' HOUR
            DEFINE A AS A.v >= 3, B AS B.v < 0
        )
    """
    old_cap = stateful.TIME_WINDOW_ROW_CAP
    stateful.TIME_WINDOW_ROW_CAP = 16
    try:
        with pytest.raises(Exception, match="undecided rows"):
            run_stream_over_batch(
                spark,
                df,
                lambda s: eng.sql_stream(stmt, {"tb_cap": s}),
                output_mode="append",
                n_files=2,
                order_by="ts",
            )
    finally:
        stateful.TIME_WINDOW_ROW_CAP = old_cap


def test_time_bounded_all_rows_unbounded_run_streams(spark):
    """ALL ROWS PER MATCH over an unbounded run with WITHIN streams via
    the time-bounded window leg — CLASSIFIER/MATCH_NUMBER, RUNNING and
    aggregate measures, exact batch parity."""
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _time_bounded_df(spark, seed=23)
    eng = Engine(spark)
    router = StatementRouter(spark)
    stmt = """
        SELECT k, CAST(ts AS LONG) AS e, v, cls, mn, rsum, na
        FROM tb_ar
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts
            MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
                     RUNNING SUM(A.v) AS rsum, COUNT(A.v) AS na
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            WITHIN INTERVAL '9' SECOND
            DEFINE A AS A.v >= 3, B AS B.v BETWEEN 0 AND 2
        )
    """
    df.createOrReplaceTempView("tb_ar")
    batch = Counter(tuple(r) for r in router.execute(stmt).collect())
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"tb_ar": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = Counter(tuple(r) for r in streamed.collect())
    assert got == batch and batch, (batch - got, got - batch)


def test_run_first_navigation_measures_match_batch(spark):
    """FIRST() navigation over the unbounded A+ B run streams through
    the run leg's O(1) first-row slot — including the eq-literal shape
    that previously SILENTLY emitted the LAST row's value for
    FIRST(A.ts) (the nav-unaware pos path), and the overlap/backtrack
    (pend) path where the emitted match is shorter than the live run
    but keeps the same start row."""
    import datetime as dt
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k", 1, base + dt.timedelta(seconds=i), t, 10 + i)
        for i, t in enumerate(
            ["a", "a", "a", "b", "x", "a", "b", "a", "a", "b", "x"]
        )
    ]
    rows2 = [
        ("k", 2, base + dt.timedelta(seconds=i), "z", v)
        for i, v in enumerate([5, 6, 9, 7, 9, 1, 5, 9, 2])
    ]
    df = spark.createDataFrame(
        rows + rows2, "k string, uid long, ts timestamp, et string, v int"
    )
    cases = [
        # the formerly-wrong eq-mode shape: FIRST(A.ts) vs bare A.ts
        ("A AS A.et = 'a', B AS B.et = 'b'",
         "FIRST(A.ts) AS fa, A.ts AS la",
         "CAST(fa AS LONG) AS m1, CAST(la AS LONG) AS m2"),
        # payload FIRST + LAST + aggregate together
        ("A AS A.et = 'a', B AS B.et = 'b'",
         "FIRST(A.v) AS fa, LAST(A.v) AS la, COUNT(A.v) AS ca",
         "fa AS m1, la AS m2, ca AS m3"),
        # overlapping predicates -> pend backtrack with the FIRST slot
        ("A AS A.v >= 5, B AS B.v = 9 OR B.v <= 2",
         "FIRST(A.v) AS fa, FIRST(A.ts) AS ft, SUM(A.v) AS sa",
         "fa AS m1, CAST(ft AS LONG) AS m2, sa AS m3"),
    ]
    for defines, meas, sel in cases:
        stmt = f"""
            SELECT uid, {sel} FROM first_nav_src
            MATCH_RECOGNIZE (
                PARTITION BY uid ORDER BY ts
                MEASURES {meas}
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A+ B)
                DEFINE {defines}
            )
        """
        router = StatementRouter(spark)
        eng = Engine(spark)
        df.createOrReplaceTempView("first_nav_src")
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(
                stmt, {"first_nav_src": s}
            ),
            output_mode="append",
            n_files=3,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch and batch, (meas, batch - got, got - batch)


def test_next_lookahead_bounded_and_timebound_legs(spark):
    """Physical NEXT(col, n) conjuncts stream on the bounded AND
    time-bounded window legs (round 8): evaluated at DECISION time
    against window successors, with each head decision deferred until
    every row a head-anchored match can read exists. Exact batch
    parity, including NEXT on quantified vars, alternation branches,
    an unbounded run under WITHIN (where NEXT targets may lie past the
    horizon), and a NEXT inside the match with no terminator rows."""
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _time_bounded_df(spark, seed=17)
    cases = [
        ("A{1,2} B?", "A AS A.v >= 2 AND A.v <= NEXT(A.v), B AS B.v <= 4",
         "", "TO NEXT ROW"),
        ("(A|B) C",
         "A AS A.v >= 5, B AS B.v BETWEEN 2 AND 4 AND NEXT(B.v) <= 3, "
         "C AS C.v <= 3", "", "PAST LAST ROW"),
        ("A B?", "A AS A.v >= 4 AND NEXT(A.v, 2) >= 0, B AS B.v <= 3",
         "", "PAST LAST ROW"),
        ("A+ B", "A AS A.v >= 3 AND A.v <> NEXT(A.v), B AS B.v <= 2",
         "WITHIN INTERVAL '9' SECOND", "PAST LAST ROW"),
        # bounded pattern + WITHIN + NEXT: still the length rule (its
        # rows hold every NEXT target; WITHIN only caps the match rows)
        ("A{1,2} B", "A AS A.v >= 2 AND A.v <= NEXT(A.v), B AS B.v <= 4",
         "WITHIN INTERVAL '6' SECOND", "PAST LAST ROW"),
    ]
    inputs = [(df, *case) for case in cases] + [
        # NO terminator rows, NEXT inside the match (A reads the first B
        # row): the head decides once the match's last row can have
        # arrived (3 rows here), so a key's trailing A B B match emits
        # as its last row arrives, as batch finds it
        (
            _time_bounded_df(spark, seed=17, pad=0),
            "A B{1,2}", "A AS NEXT(A.v) > A.v, B AS B.v <= 4", "",
            "PAST LAST ROW",
        ),
    ]
    for df, pattern, defines, within, skip in inputs:
        stmt = f"""
            SELECT k, CAST(m1 AS LONG) AS m1 FROM nx_parity
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES A.ts AS m1
                ONE ROW PER MATCH
                AFTER MATCH SKIP {skip}
                PATTERN ({pattern})
                {within}
                DEFINE {defines}
            )
        """
        router = StatementRouter(spark)
        eng = Engine(spark)
        df.createOrReplaceTempView("nx_parity")
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"nx_parity": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch, (pattern, batch - got, got - batch)


def test_funnel_first_navigation_measures_match_batch(spark):
    """FIRST() navigation over the A B+ C funnel's middle run streams
    via the first-of-run slot (round 8) — FIRST(B.v)/FIRST(B.ts)
    payloads, mixed with LAST/aggregate measures, through the pend
    backtrack path (overlapping B/C predicates) — exact batch parity."""
    import datetime as dt
    import random
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(2)
    rows = []
    for ki in range(3):
        vals = [rnd.randint(0, 9) for _ in range(20)] + [-997] * 2
        for i, v in enumerate(vals):
            rows.append(
                (f"k{ki}", base + dt.timedelta(seconds=3 * i + ki), v)
            )
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    stmt = """
        SELECT k, m1, m2, CAST(m3 AS LONG) AS m3, m4 FROM fnav_src
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES FIRST(B.v) AS m1, SUM(B.v) AS m2,
                     FIRST(B.ts) AS m3, LAST(B.v) AS m4
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v >= 4, B AS B.v >= 2, C AS C.v <= 3
        )
    """
    router = StatementRouter(spark)
    eng = Engine(spark)
    df.createOrReplaceTempView("fnav_src")
    batch = Counter(tuple(r) for r in router.execute(stmt).collect())
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"fnav_src": s}),
        output_mode="append",
        n_files=4,
        order_by="ts",
    )
    got = Counter(tuple(r) for r in streamed.collect())
    assert got == batch and batch, (batch - got, got - batch)
    # FIRST genuinely differs from LAST somewhere in the result
    assert any(r[1] != r[4] for r in got)


def test_multi_key_partition_by_streams_all_legs(spark):
    """Multi-column PARTITION BY streams on every MATCH_RECOGNIZE leg
    via the lossless to_json(struct(...)) composite key (engine.py):
    a plain sequence, the bounded-window leg in both PER
    MATCH modes, and the time-bounded WITHIN leg all group on the
    synthetic key and the
    registered view restores the original partition columns (types
    included — the int key must come back as int, the NULL key as
    NULL), so the outer statement reads them unchanged."""
    import datetime as dt
    import random
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(5)
    rows = []
    for g in ("x", "y", None):  # NULL group: to_json omits the field,
        for k in range(2):      # deterministically — restores as NULL
            vals = [rnd.randint(0, 9) for _ in range(30)] + [-997] * 6
            for i, v in enumerate(vals):
                rows.append(
                    (g, k, base + dt.timedelta(seconds=2 * i + k), v)
                )
    df = spark.createDataFrame(
        rows, "g string, ki int, ts timestamp, v int"
    )
    df.createOrReplaceTempView("mkey_src")
    eng = Engine(spark)
    router = StatementRouter(spark)

    seq_stmt = """
        SELECT g, ki, CAST(e AS LONG) AS e, bv FROM mkey_src
        MATCH_RECOGNIZE (
            PARTITION BY g, ki ORDER BY ts
            MEASURES LAST(B.ts) AS e, B.v AS bv
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.v >= 6, B AS B.v BETWEEN 0 AND 4
        )
    """
    all_rows_stmt = """
        SELECT g, ki, v, cls FROM mkey_src
        MATCH_RECOGNIZE (
            PARTITION BY g, ki ORDER BY ts
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B{1,2})
            DEFINE A AS A.v >= 6, B AS B.v BETWEEN 0 AND 4
        )
    """
    within_stmt = """
        SELECT g, ki, CAST(e AS LONG) AS e, nb FROM mkey_src
        MATCH_RECOGNIZE (
            PARTITION BY g, ki ORDER BY ts
            MEASURES LAST(C.ts) AS e, COUNT(B.v) AS nb
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            WITHIN INTERVAL '10' SECOND
            DEFINE A AS A.v >= 6, B AS B.v BETWEEN 2 AND 5,
                   C AS C.v <= 1
        )
    """
    bounded_stmt = """
        SELECT g, ki, CAST(e AS LONG) AS e, nb FROM mkey_src
        MATCH_RECOGNIZE (
            PARTITION BY g, ki ORDER BY ts
            MEASURES LAST(B.ts) AS e, COUNT(B.v) AS nb
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B{1,2})
            DEFINE A AS A.v >= 6, B AS B.v BETWEEN 0 AND 4
        )
    """
    for name, stmt in (
        ("seq", seq_stmt),
        ("all_rows", all_rows_stmt),
        ("within", within_stmt),
        ("bounded", bounded_stmt),
    ):
        df.createOrReplaceTempView("mkey_src")  # streaming run rebinds it
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, q=stmt: eng.sql_stream(q, {"mkey_src": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch and batch, (name, batch - got, got - batch)
        # the int partition column survived the json round-trip typed,
        # and the NULL group key restored as NULL
        assert any(r[1] == 1 for r in got), name
        assert any(r[0] is None for r in got), name


def test_grouping_sets_statement_streams(spark, sf_small):
    """GROUP BY GROUPING SETS / ROLLUP through sql_stream: Catalyst
    plans Expand + streaming aggregation natively (Flink also streams
    these in update mode), so the front door needs no rewrite — final
    complete-mode state must equal the batch recompute, NULL
    grouping-placeholder rows included."""
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine

    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    stmt = (
        "SELECT event_type, user_id % 4 AS ub, COUNT(*) AS n, "
        "GROUPING(event_type) AS g_et "
        "FROM __gs_events "
        "GROUP BY GROUPING SETS ((event_type), (event_type, user_id % 4), ())"
    )
    ev.createOrReplaceTempView("__gs_events")
    batch = Counter(tuple(r) for r in spark.sql(stmt).collect())
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        ev,
        lambda s: eng.sql_stream(stmt, {"__gs_events": s}),
        output_mode="complete",
        n_files=4,
    )
    got = Counter(tuple(r) for r in streamed.collect())
    assert got == batch and batch
    # all three grouping sets present: the () grand total, per-type,
    # and per-(type, bucket)
    assert any(r[0] is None for r in got)
    assert any(r[0] is not None and r[1] is None for r in got)
    assert any(r[0] is not None and r[1] is not None for r in got)


def test_break_decided_leg_unbounded_no_within(spark):
    """The BREAK-ROW-decided leg (round 8): unbounded patterns with NO
    WITHIN bound stream for every shape the loud rejects used to name —
    ALL ROWS over runs, SKIP TO over runs, cross-variable DEFINEs on
    runs, unbounded mixed with bounded quantifiers, SKIP TO NEXT ROW on
    runs. No match can span a row matching no pattern variable, so the
    head start decides at the first flag-mask-0 row; state is the rows
    between breaks (Flink CEP's partial-match state), loud cap."""
    import datetime as dt
    import random
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(11)
    rows = []
    for k in range(4):
        vals = [rnd.randint(0, 9) for _ in range(26)] + [-997]
        for i, v in enumerate(vals):
            rows.append((f"k{k}", base + dt.timedelta(seconds=2 * i + k), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    eng = Engine(spark)
    router = StatementRouter(spark)
    cases = {
        "all_rows_run": """
            SELECT k, v, cls FROM bd_src
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES CLASSIFIER() AS cls
                ALL ROWS PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6,
                       C AS C.v BETWEEN 0 AND 2
            )""",
        "crossvar_run": """
            SELECT k, CAST(e AS LONG) AS e, nb FROM bd_src
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(C.ts) AS e, COUNT(B.v) AS nb
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6,
                       C AS C.v BETWEEN 0 AND 2 AND C.v < A.v
            )""",
        "skip_to_on_run": """
            SELECT k, CAST(e AS LONG) AS e FROM bd_src
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e
                ONE ROW PER MATCH
                AFTER MATCH SKIP TO LAST B
                PATTERN (A B+)
                DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6
            )""",
        "mixed_unbounded": """
            SELECT k, CAST(e AS LONG) AS e FROM bd_src
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e
                ONE ROW PER MATCH
                AFTER MATCH SKIP TO NEXT ROW
                PATTERN (A{1,2} B+ C?)
                DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6,
                       C AS C.v BETWEEN 0 AND 2
            )""",
        # RICH cross expressions on an unbounded run (round 12): the
        # break-decided leg's matcher (cep_core.match_at) evaluates the
        # compiled expression against the buffered window's partial match. C
        # keeps a row-local conjunct so break rows still exist (the
        # leg decides heads at all-flags-false rows).
        "rich_crossvar_run": """
            SELECT k, CAST(e AS LONG) AS e, nb FROM bd_src
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(C.ts) AS e, COUNT(B.v) AS nb
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6,
                       C AS C.v BETWEEN 0 AND 2
                            AND C.v < (A.v + LAST(B.v)) / 2 - 1
            )""",
    }
    for name, stmt in cases.items():
        df.createOrReplaceTempView("bd_src")
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, q=stmt: eng.sql_stream(q, {"bd_src": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch and batch, (name, batch - got, got - batch)


def test_break_decided_leg_cap_is_loud(spark, monkeypatch):
    """A key whose predicates never ALL fail has no break rows: the
    break-decided leg must hit the loud row cap, never grow state
    silently (C.v <= 2 matches the would-be terminator, so every row
    maps to some variable)."""
    import datetime as dt

    import pytest

    from training_flink_sql_cc_src_spark import streaming
    from training_flink_sql_cc_src_spark.engine import Engine

    monkeypatch.setattr(
        streaming.stateful, "TIME_WINDOW_ROW_CAP", 8
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("k0", base + dt.timedelta(seconds=i), v)
        for i, v in enumerate([8, 4, 5, 1] * 5)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    eng = Engine(spark)
    with pytest.raises(Exception, match="BREAK row"):
        run_stream_over_batch(
            spark,
            df,
            lambda s: eng.sql_stream(
                """
                SELECT k, CAST(e AS LONG) AS e FROM bd_cap
                MATCH_RECOGNIZE (
                    PARTITION BY k ORDER BY ts
                    MEASURES LAST(C.ts) AS e
                    ONE ROW PER MATCH
                    AFTER MATCH SKIP PAST LAST ROW
                    PATTERN (A B+ C?)
                    DEFINE A AS A.v >= 7, B AS B.v BETWEEN 3 AND 6,
                           C AS C.v <= 2
                )
                """,
                {"bd_cap": s},
            ),
            output_mode="append",
            n_files=2,
            order_by="ts",
        )


def test_self_nav_defines_stream(spark):
    """SELF-referencing FIRST/LAST match bindings in DEFINEs stream
    (round 8): {v}.col OP FIRST/LAST({v}.col[, n]) rides the cross-check
    mechanism — the defining variable's mapped-so-far rows INCLUDE the
    current candidate row (Flink: LAST(B.v, 1) inside B's DEFINE is the
    previous B row, the ascending-run idiom). Exercised on every leg:
    break-decided (no WITHIN), row-bounded (quantifier + WITHIN),
    time-bounded (run + WITHIN), ALL ROWS, and a foreign nav offset."""
    import datetime as dt
    import random
    from collections import Counter

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rnd = random.Random(7)
    rows = []
    for k in range(4):
        vals = [rnd.randint(0, 9) for _ in range(28)] + [-997] * 8
        for i, v in enumerate(vals):
            rows.append((f"k{k}", base + dt.timedelta(seconds=3 * i + k), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    router = StatementRouter(spark)
    eng = Engine(spark)
    cases = {
        "run_self_first": """
            SELECT k, CAST(e AS LONG) AS e, nb FROM sn_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e, COUNT(B.v) AS nb
                ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+)
                DEFINE A AS A.v >= 8,
                       B AS B.v BETWEEN 1 AND 7 AND B.v >= FIRST(B.v)
            )""",
        "funnel_foreign_last1": """
            SELECT k, CAST(e AS LONG) AS e FROM sn_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(C.ts) AS e
                ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS A.v >= 8, B AS B.v BETWEEN 1 AND 7,
                       C AS C.v BETWEEN 1 AND 7 AND C.v > LAST(B.v, 1)
            )""",
        "quant_self_first_within": """
            SELECT k, CAST(e AS LONG) AS e FROM sn_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e
                ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
                PATTERN (A B{1,3})
                WITHIN INTERVAL '30' SECOND
                DEFINE A AS A.v >= 8,
                       B AS B.v BETWEEN 1 AND 7 AND B.v >= FIRST(B.v)
            )""",
        "run_self_first_within": """
            SELECT k, CAST(e AS LONG) AS e FROM sn_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e
                ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+)
                WITHIN INTERVAL '15' SECOND
                DEFINE A AS A.v >= 8,
                       B AS B.v BETWEEN 1 AND 7 AND B.v >= FIRST(B.v)
            )""",
        "all_rows_self": """
            SELECT k, v, cls FROM sn_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES CLASSIFIER() AS cls
                ALL ROWS PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+)
                DEFINE A AS A.v >= 8,
                       B AS B.v BETWEEN 1 AND 7 AND B.v >= FIRST(B.v)
            )""",
    }
    for name, stmt in cases.items():
        df.createOrReplaceTempView("sn_src")
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s, q=stmt: eng.sql_stream(q, {"sn_src": s}),
            output_mode="append",
            n_files=4,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
        assert got == batch and batch, (name, batch - got, got - batch)


def _cep_navoff_df(spark):
    """Runs with break rows (v=25 fails BOTH predicates) and terminator
    pads so every start's decision window fills — the offset-measure
    streaming fixture."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [12, 15, 8, 25, 11, 14, 9, 25, 6, 25, 25, 25, 25],
        "b": [10, 13, 2, 25, 16, 7, 25, 25, 25, 25],
        "c": [1, 25, 3, 25, 25, 25],
    }.items():
        for i, v in enumerate(vals):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, v int")


def _cep_navoff_parity(spark, df, stmt, view):
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df.createOrReplaceTempView(view)
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {view: s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_stream_measure_nav_offsets_bounded_leg(spark):
    """FIRST/LAST(A.v, n) MEASURE offsets stream exactly on the
    bounded decision-window leg (quantified pattern): the window holds
    every mapped row, so offsets index it directly."""
    _cep_navoff_parity(
        spark,
        _cep_navoff_df(spark),
        """
        SELECT k, l1, f1 FROM cep_navoff_b
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FIRST(A.v, 1) AS f1
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.v BETWEEN 10 AND 20, B AS B.v BETWEEN 1 AND 9
        )
        """,
        "cep_navoff_b",
    )


def test_stream_measure_nav_offsets_run_native(spark):
    """An offset on the RUN variable of A+ B rides the O(1) run
    matcher NATIVELY (round 9): state keeps the last/first K+1 run-row
    payload tuples, K the largest requested offset — a compile-time
    bound. The fallback decision-window leg is trapped to prove the
    run leg itself evaluated the offsets."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    df = _cep_navoff_df(spark)
    df.createOrReplaceTempView("cep_navoff_r")
    stmt = """
        SELECT k, l1, f1, CAST(b_ts AS LONG) AS be FROM cep_navoff_r
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FIRST(A.v, 1) AS f1,
                     B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v BETWEEN 10 AND 20, B AS B.v BETWEEN 1 AND 9
        )
    """
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)

    def _trap(*a, **kw):
        raise AssertionError(
            "fallback decision-window leg invoked — run-leg offsets "
            "must evaluate natively"
        )

    eng._match_recognize_stream_bounded = _trap
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_navoff_r": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_stream_measure_nav_offsets_run_backtrack(spark):
    """Run-leg offsets through the PEND BACKTRACK: overlapping
    predicates (a row can satisfy both A and B) make the greedy run
    die and re-emit from the remembered candidate — the pend snapshot
    must carry the pre-pend payload HISTORY so LAST(A.v, n) reads the
    backtracked match's own rows, offsets past its (shorter) length
    NULL."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [12, 15, 8, 11, 14, 13, 9, 16, 7, 12, 6, 5],
        "b": [10, 10, 10, 5, 12, 2, 3, 11, 4, 5],
        "c": [13, 12, 15, 14, 17, 16, 3, 5],
    }.items():
        for i, v in enumerate(vals):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    _cep_navoff_parity(
        spark,
        df,
        """
        SELECT k, l0, l1, l2, f1, CAST(b_ts AS LONG) AS be
        FROM cep_navoff_bt
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v) AS l0, LAST(A.v, 1) AS l1,
                     LAST(A.v, 2) AS l2, FIRST(A.v, 1) AS f1,
                     B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v >= 10, B AS B.v % 2 = 0
        )
        """,
        "cep_navoff_bt",
    )


def test_stream_measure_nav_offsets_funnel_native(spark):
    """Offsets on the B+ run variable of the A B+ C funnel ride the
    O(1) funnel matcher NATIVELY (round 9, same bounded payload
    histories as the run leg, incl. the pend backtrack snapshot and a
    timestamp-column offset); A/C offsets emit typed NULLs. The
    fallback decision-window leg is trapped."""
    import datetime as dt

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    base = dt.datetime(2024, 1, 1)
    rows = []
    for key, vals in {
        "a": [2, 12, 15, 11, 7, 25, 3, 13, 8, 25, 25],
        "b": [1, 14, 6, 25, 2, 16, 12, 9, 25, 25],
        # B/C overlap on even 10..20 values -> pend backtrack
        "c": [3, 13, 12, 15, 14, 17, 16, 5, 25, 25],
    }.items():
        for i, v in enumerate(vals):
            rows.append((key, base + dt.timedelta(seconds=i), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v int")
    df.createOrReplaceTempView("cep_navoff_f")
    stmt = """
        SELECT k, l1, f1, CAST(ft AS LONG) AS fte, av,
               CAST(c_ts AS LONG) AS ce
        FROM cep_navoff_f
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(B.v, 1) AS l1, FIRST(B.v, 1) AS f1,
                     LAST(B.ts, 1) AS ft, FIRST(A.v, 1) AS av,
                     C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v BETWEEN 1 AND 5, B AS B.v BETWEEN 10 AND 20,
                   C AS C.v BETWEEN 6 AND 9
                      OR C.v % 2 = 0 AND C.v BETWEEN 10 AND 20
        )
    """
    batch = {tuple(r) for r in StatementRouter(spark).execute(stmt).collect()}
    eng = Engine(spark)

    def _trap(*a, **kw):
        raise AssertionError(
            "fallback decision-window leg invoked — funnel offsets "
            "must evaluate natively"
        )

    eng._match_recognize_stream_bounded = _trap
    streamed = run_stream_over_batch(
        spark,
        df,
        lambda s: eng.sql_stream(stmt, {"cep_navoff_f": s}),
        output_mode="append",
        n_files=5,
        order_by="ts",
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch and batch


def test_stream_measure_nav_offsets_sequence_null(spark):
    """On a plain sequence every variable maps exactly ONE row, so an
    offset >= 1 measures NULL — on the decision-window leg, equal to
    batch."""
    _cep_navoff_parity(
        spark,
        _cep_navoff_df(spark),
        """
        SELECT k, l1, v0 FROM cep_navoff_s
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FIRST(B.v) AS v0
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.v >= 10, B AS B.v < 10
        )
        """,
        "cep_navoff_s",
    )


def test_stream_measure_nav_offsets_all_rows(spark):
    """ALL ROWS PER MATCH with RUNNING offset semantics (NULL until the
    (n+1)-th mapped row) and a FINAL FIRST offset — the all-rows
    decision-window leg equals the batch recompute."""
    _cep_navoff_parity(
        spark,
        _cep_navoff_df(spark),
        """
        SELECT k, v, l1, f1 FROM cep_navoff_a
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FINAL FIRST(A.v, 1) AS f1
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.v BETWEEN 10 AND 20, B AS B.v BETWEEN 1 AND 9
        )
        """,
        "cep_navoff_a",
    )


def test_window_tvf_offset_statements_stream(spark, sf_small):
    """TUMBLE/HOP window-TVF statements WITH the optional OFFSET
    argument (Flink 1.19; batch support landed round 8) run
    CONTINUOUSLY through sql_stream too (round 9): the native-window
    streaming lowering passes the offset as Spark's startTime, so the
    shifted alignment grid matches the batch rewrite exactly."""
    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter

    ev = t(spark, sf_small, "events").select("ts", "event_type", "value")
    for stmt in (
        """
        SELECT window_start, window_end, event_type, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE tvf_off_ev, DESCRIPTOR(ts),
                          INTERVAL '1' HOUR, INTERVAL '20' MINUTE))
        GROUP BY window_start, window_end, event_type
        """,
        """
        SELECT window_start, window_end, COUNT(*) AS n
        FROM TABLE(HOP(TABLE tvf_off_ev, DESCRIPTOR(ts),
                       INTERVAL '30' MINUTE, INTERVAL '1' HOUR,
                       INTERVAL '10' MINUTE))
        GROUP BY window_start, window_end
        """,
    ):
        ev.createOrReplaceTempView("tvf_off_ev")
        batch = {
            tuple(r) for r in StatementRouter(spark).execute(stmt).collect()
        }
        eng = Engine(spark)
        streamed = run_stream_over_batch(
            spark,
            ev,
            lambda s, stmt=stmt: eng.sql_stream(stmt, {"tvf_off_ev": s}),
            output_mode="complete",
            n_files=4,
            order_by="ts",
        )
        got = {tuple(r) for r in streamed.collect()}
        assert got == batch and batch


def test_temporal_prune_compaction_swap_is_crash_safe(spark, tmp_path):
    """prune_version_history writes the compacted frame to a sibling tmp
    dir and swaps it in with two atomic renames (round-9 advice: plain
    mode-overwrite deletes-then-writes, leaving a truncated snapshot on
    failure). _recover_snapshot completes a crash between the renames
    from the complete tmp generation, or rolls back from gc."""
    import datetime as dt
    import os
    import shutil

    from training_flink_sql_cc_src_spark.streaming.temporal import (
        _recover_snapshot,
        prune_version_history,
    )

    base = dt.datetime(2025, 1, 1)
    rows = [
        (k, base + dt.timedelta(seconds=30 * i), i)
        for k in (1, 2)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, v int")
    path = str(tmp_path / "snap")
    df.write.parquet(path)
    prune_version_history(spark, path, ["user_id"], "ts", 60.0)
    # cutoff = 270 - 60 = 210 s: i in {7,8,9} recent (3/key) + one
    # latest-pre-cutoff row (i=6) per key
    assert spark.read.parquet(path).count() == 8
    tmp, gc = path + ".__compact_tmp", path + ".__compact_gc"
    assert not os.path.exists(tmp) and not os.path.exists(gc)

    # crash between rename #1 and #2: live gone, complete tmp present ->
    # recovery must complete the swap from the NEW generation
    os.rename(path, gc)
    shutil.copytree(gc, tmp)
    _recover_snapshot(path)
    assert spark.read.parquet(path).count() == 8
    shutil.rmtree(gc)

    # crash before the tmp write completed (no _SUCCESS): roll back gc
    os.rename(path, gc)
    os.makedirs(tmp)
    _recover_snapshot(path)
    assert spark.read.parquet(path).count() == 8


def test_temporal_join_continuous_auto_prunes_from_catalog(spark, tmp_path):
    """VERDICT r9 #5: temporal_join_stream_continuous prunes the version
    history automatically for a dim whose PRIMARY KEY and WATERMARK are
    registered in the catalog — pk/ts columns and the lookback all
    derived from the catalog (watermark delays + the processing-lag
    margin) — while the probe, which re-registers the snapshot per
    micro-batch through its own foreachBatch, still equals the batch
    join over the FULL history."""
    import datetime as dt

    from training_flink_sql_cc_src_spark.engine import Engine
    from training_flink_sql_cc_src_spark.plans.router import StatementRouter
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        DEFAULT_PRUNE_MARGIN_SECONDS,
        derive_prune_lookback_seconds,
        temporal_join_stream_continuous,
    )

    base = dt.datetime(2025, 1, 1)
    dim_rows = [
        (k, base + dt.timedelta(seconds=30 * i), 100 * k + i)
        for k in (1, 2, 3)
        for i in range(30)
    ]
    probe_rows = [
        (1000 + j, (j % 3) + 1, base + dt.timedelta(seconds=500 + 13 * j))
        for j in range(28)
    ]
    dim = spark.createDataFrame(dim_rows, "user_id int, ts timestamp, v int")
    probe = spark.createDataFrame(
        probe_rows, "event_id int, user_id int, ts timestamp"
    )
    stmt = """
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               CAST(p.ts AS LONG) AS purchase_epoch, c.v AS clicked_v
        FROM tjc_purchases p
        LEFT JOIN tjc_clicks FOR SYSTEM_TIME AS OF p.ts AS c
        ON p.user_id = c.user_id
    """
    probe.createOrReplaceTempView("tjc_purchases")
    dim.createOrReplaceTempView("tjc_clicks")
    r = StatementRouter(spark)
    r.catalog.get_or_create("tjc_clicks").primary_key = ["user_id"]
    r.execute("ALTER TABLE tjc_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    batch = {tuple(x) for x in r.execute(stmt).collect()}

    eng = Engine(spark)
    eng.catalog.get_or_create("tjc_clicks").primary_key = ["user_id"]
    eng.sql("ALTER TABLE tjc_clicks MODIFY WATERMARK FOR `ts` AS `ts`")
    # zero-delay watermarks on both sides -> lookback == the margin
    assert (
        derive_prune_lookback_seconds(eng, "tjc_clicks", ["tjc_purchases"])
        == DEFAULT_PRUNE_MARGIN_SECONDS
    )
    dim_stream = stream_from_batch(spark, dim, n_files=5, order_by="ts")
    # probe files are released only AFTER the dim drain below, so each
    # probe micro-batch (processing-time semantics: it joins the
    # freshest snapshot) sees the complete version history — making the
    # comparison against the full-history batch join deterministic
    import os as _os

    probe_spool = str(tmp_path / "probe_spool")
    _os.makedirs(probe_spool)
    probe_stream = (
        spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(probe_spool)
    )
    probe_handle, dim_handle, out_path = temporal_join_stream_continuous(
        eng,
        stmt,
        "tjc_purchases",
        probe_stream,
        "tjc_clicks",
        dim_stream,
        str(tmp_path),
        prune_every=1,
    )
    try:
        dim_handle.processAllAvailable()  # drain dim (pruning each batch)
        probe.repartition(3).write.mode("append").parquet(probe_spool)
        probe_handle.processAllAvailable()
    finally:
        probe_handle.stop()
        dim_handle.stop()
    got = {
        tuple(x)
        for x in spark.read.parquet(out_path)
        .select("purchase_id", "user_id", "purchase_epoch", "clicked_v")
        .collect()
    }
    assert got == batch and batch
    # the snapshot was bounded WITHOUT any explicit prune argument:
    # cutoff = max dim ts (870 s) - margin (600 s) = 270 s
    snap = spark.read.parquet(str(tmp_path / "__temporal_tjc_clicks"))
    cutoff = base + dt.timedelta(seconds=870 - DEFAULT_PRUNE_MARGIN_SECONDS)
    n_recent = len([x for x in dim_rows if x[1] >= cutoff])
    n_keys_with_old = len({x[0] for x in dim_rows if x[1] < cutoff})
    assert snap.count() == n_recent + n_keys_with_old
    assert snap.count() < len(dim_rows)
