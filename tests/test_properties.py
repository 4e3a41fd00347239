"""Hypothesis property tests for the custom operators (SURVEY.md §5
'property-style checks'): latest-per-key and the as-of join checked
against direct Python references on generated inputs.

One shared Spark-roundtrip budget: hypothesis drives small generated
datasets (deadline disabled — Spark jobs are slow relative to hypothesis
defaults, examples capped instead).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from training_flink_sql_cc_src_spark.operators.dedup import latest_per_key
from training_flink_sql_cc_src_spark.queries.joins import asof_join

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=50),  # version/ts
        st.integers(min_value=0, max_value=999),  # payload
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=ROWS)
def test_latest_per_key_property(spark, rows):
    """latest_per_key == python max-by-(order, stable) per key, for rows
    with unique (key, version) pairs (ties deduped to keep the reference
    well-defined)."""
    seen = {}
    for k, v, p in rows:
        seen[(k, v)] = p  # dedupe ties: last writer wins in both references
    uniq = [(k, v, p) for (k, v), p in seen.items()]
    df = spark.createDataFrame(uniq, "k int, v int, p int")
    got = {r.k: (r.v, r.p) for r in latest_per_key(df, ["k"], "v").collect()}
    want = {}
    for k, v, p in uniq:
        if k not in want or v > want[k][0]:
            want[k] = (v, p)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30), st.integers(0, 99)),
        min_size=1,
        max_size=25,
    ),
)
def test_asof_join_property(spark, left, right):
    """asof_join == python 'latest right payload with ts <= left ts per
    key' (right deduped on (key, ts) so the reference is unique)."""
    left = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    rseen = {}
    for k, ts, p in right:
        rseen[(k, ts)] = p
    runiq = [(k, ts, p) for (k, ts), p in rseen.items()]
    ldf = spark.createDataFrame(left, "lid int, k int, ts int")
    rdf = spark.createDataFrame(runiq, "k int, ts int, payload int")
    out = asof_join(
        ldf, rdf, key="k", left_ts="ts", right_ts="ts", right_payload=["payload"]
    )
    got = {r.lid: r.payload for r in out.collect()}
    want = {}
    for lid, k, lts in left:
        cands = [(ts, p) for (kk, ts, p) in runiq if kk == k and ts <= lts]
        want[lid] = max(cands)[1] if cands else None
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.sets(st.integers(0, 11), min_size=1, max_size=9),  # dense vocab
        min_size=2,
        max_size=14,
    ),
    thr=st.sampled_from([(1, 2), (3, 5), (4, 5)]),
)
def test_ppjoin_matches_bruteforce(spark, docs, thr):
    """The set-similarity operator (prefix + positional + size + mask
    filters, and the bitmask path where it applies) == quadratic
    brute force, for every threshold, for Jaccard and containment,
    unblocked and blocked — the filters must be lossless and introduce
    no false positives, including on tiny dense vocabularies where
    every prefix bucket collides."""
    from training_flink_sql_cc_src_spark.operators.ppjoin import (
        bitmask_join,
        prefix_join,
        token_sketch,
    )

    num, den = thr
    rows = [(i, i % 2, sorted(toks)) for i, toks in enumerate(docs)]
    sketch = token_sketch(
        spark.createDataFrame(rows, "doc_id int, blk int, words array<int>")
    ).persist()

    def brute(measure, blocked):
        want = {}
        for i, a in enumerate(docs):
            for j, b in enumerate(docs):
                if blocked and i % 2 != j % 2:
                    continue
                inter = len(a & b)
                if measure == "jaccard":
                    if i < j and inter * (num + den) >= (len(a) + len(b)) * num:
                        want[(i, j)] = inter / (len(a) + len(b) - inter)
                elif i != j and inter * den >= len(a) * num:
                    want[(i, j)] = inter / len(a)
        return want

    for measure in ("jaccard", "containment"):
        for block in ((), ("blk",)):
            want = brute(measure, bool(block))
            joins = (prefix_join, bitmask_join) if block else (prefix_join,)
            for join in joins:
                got = {
                    (r.id_a, r.id_b): r[measure]
                    for r in join(sketch, measure, num, den, block).collect()
                }
                assert set(got) == set(want), (measure, block, join.__name__)
                for k, v in want.items():
                    assert abs(got[k] - v) < 1e-12
    sketch.unpersist()


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    rts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    bounds=st.tuples(st.integers(-900, 880), st.integers(20, 900)),
)
def test_range_bucket_join_matches_bruteforce(spark, lts, rts, bounds):
    """range_bucket_join == brute-force range scan for arbitrary bounds
    and timestamps — the bucket explode must produce every qualifying
    pair exactly once (the right row's bucket is unique)."""
    from pyspark.sql import functions as F

    from training_flink_sql_cc_src_spark.operators.range_join import (
        range_bucket_join,
    )

    lo, width = bounds
    hi = lo + width
    # build timestamps from epoch offsets for exactness
    left = spark.createDataFrame(
        [(i, t) for i, t in enumerate(lts)], "lid int, off int"
    ).select("lid", F.timestamp_seconds(F.col("off") + 1_700_000_000).alias("lts"))
    right = spark.createDataFrame(
        [(j, t) for j, t in enumerate(rts)], "rid int, off int"
    ).select("rid", F.timestamp_seconds(F.col("off") + 1_700_000_000).alias("rts"))
    got = {
        (r.lid, r.rid)
        for r in range_bucket_join(
            left, right, "lts", "rts", lo, hi
        ).collect()
    }
    want = {
        (i, j)
        for i, lt in enumerate(lts)
        for j, rt in enumerate(rts)
        if lt + lo <= rt <= lt + hi
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    n_strata=st.integers(min_value=1, max_value=4),
    fraction=st.sampled_from([0.1, 0.2, 0.5, 0.9]),
    coin_mod=st.sampled_from([7, 1000]),  # 7 => heavy coin ties: the
    # cutoff bucket must be split by key order exactly like the window
)
def test_stratified_threshold_matches_window_version(
    spark, keys, n_strata, fraction, coin_mod
):
    """stratified_sample_threshold (histogram + cutoff, the 100 TB path)
    must select the IDENTICAL row set as the window-rank formulation, for
    any stratum skew, fraction, and coin-tie density."""
    from training_flink_sql_cc_src_spark.queries.llm_pipeline import (
        stratified_sample_threshold,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(k, f"s{k % n_strata}") for k in keys]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    got = {
        (r.doc_id, r.lang)
        for r in stratified_sample_threshold(
            df, "lang", "doc_id", fraction, coin_mod=coin_mod
        ).collect()
    }

    coin = (F.col("doc_id") * F.lit(2654435761)) % coin_mod
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    wn = Window.partitionBy("lang")
    want_df = (
        df.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rnk") <= F.ceil(F.col("n") * fraction).cast("long"))
    )
    want = {(r.doc_id, r.lang) for r in want_df.collect()}
    assert got == want
    # exact per-stratum proportions: ceil(fraction * n) rows per stratum
    import math
    from collections import Counter

    per = Counter(lang for _, lang in want)
    got_per = Counter(lang for _, lang in got)
    n_per = Counter(lang for _, lang in rows)
    for lang, n in n_per.items():
        assert got_per[lang] == per[lang] == math.ceil(fraction * n)
