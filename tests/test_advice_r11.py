"""Pins for the round-10 ADVICE fixes (applied in round 11):

1. The version-history compaction swap and `_recover_snapshot` are
   serialized by a per-path lock, so a probe micro-batch can never
   "steal" the swap between the pruner's two renames.
2. `_delay_to_seconds` accepts every watermark delay form Spark does
   (weeks, microseconds, compound intervals) and degrades to None —
   never KeyError — on unrecognized forms.
3. The Jaccard-family token-sketch cache tracks its owning session by
   WEAK reference, so a dead session's entry can only be evicted, never
   aliased by a new session recycled at the same object id.
4. `scripts/gen_scale.py`'s vocabulary rotation is injective (the '§'
   separator), and its --zipf stopword injection keeps cross-replica
   pairs below every registry dedup threshold.
"""

from __future__ import annotations

import os
import threading
import time
import warnings

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- 1. swap lock


def test_recover_snapshot_cannot_steal_a_live_swap(tmp_path):
    """Simulate the pruner mid-swap (live dir absent, lock held) while a
    probe batch calls _recover_snapshot: recovery must BLOCK until the
    swap completes and then no-op, leaving the pruner's second rename
    intact. Pre-fix, recovery renamed tmp -> live itself and the
    pruner's own rename raised FileNotFoundError (ADVICE r10)."""
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        _recover_snapshot,
        _swap_lock,
    )

    path = str(tmp_path / "snap")
    tmp, gc = path + ".__compact_tmp", path + ".__compact_gc"
    os.makedirs(path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    os.makedirs(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()

    recovered_while_held = []

    def probe():
        _recover_snapshot(path)  # must block on the swap lock
        recovered_while_held.append(os.path.exists(tmp))

    lock = _swap_lock(path)
    with lock:  # pruner's rename-pair critical section
        os.rename(path, gc)  # rename #1: live gone
        t = threading.Thread(target=probe)
        t.start()
        time.sleep(0.3)  # give the probe every chance to misbehave
        # the probe must NOT have completed recovery: tmp still here
        assert os.path.exists(tmp)
        assert not os.path.exists(path)
        os.rename(tmp, path)  # rename #2 succeeds — nothing stole tmp
        os.remove(os.path.join(gc, "_SUCCESS"))
        os.rmdir(gc)
    t.join(timeout=5)
    assert not t.is_alive()
    # recovery ran after the swap, saw the live dir, and no-op'd
    assert recovered_while_held == [False]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_recover_snapshot_still_recovers_a_real_crash(tmp_path):
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        _recover_snapshot,
    )

    path = str(tmp_path / "snap")
    tmp = path + ".__compact_tmp"
    os.makedirs(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _recover_snapshot(path)  # crash between renames: tmp complete
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(tmp)


# ------------------------------------------------------------ 2. delay parser


@pytest.mark.parametrize(
    "delay,expected",
    [
        ("5 seconds", 5.0),
        ("2 minutes", 120.0),
        ("0 seconds", 0.0),
        ("3 weeks", 3 * 604800.0),
        ("250 microseconds", 250e-6),
        ("1 minute 30 seconds", 90.0),
        ("1 hour 15 minutes 10 seconds", 4510.0),
        ("INTERVAL 1 hour", 3600.0),
        ("10 milliseconds", 0.01),
    ],
)
def test_delay_to_seconds_accepts_spark_forms(delay, expected):
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        _delay_to_seconds,
    )

    assert _delay_to_seconds(delay) == expected


@pytest.mark.parametrize(
    "delay", ["fortnight", "1 fortnight", "x seconds", "", "5"]
)
def test_delay_to_seconds_degrades_to_none(delay):
    from training_flink_sql_cc_src_spark.streaming.temporal import (
        _delay_to_seconds,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        assert _delay_to_seconds(delay) is None


# --------------------------------------------------- 3. sketch cache identity


def test_token_sketch_cache_never_hits_a_dead_owner(spark, tmp_path):
    """An entry whose owner weakref no longer resolves to the requesting
    session must be evicted and rebuilt — even if the stored identity
    would have matched under the old id()-keyed scheme."""
    import pandas as pd

    from training_flink_sql_cc_src_spark.queries import llm_dedup

    pd.DataFrame(
        [(0, "alpha beta gamma", "en", "s0", 16)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(tmp_path / "documents.parquet")
    sf_dir = str(tmp_path)

    d = llm_dedup._token_sketch(spark, sf_dir)
    owner_ref, cached = llm_dedup._TOKEN_SKETCH_CACHE[sf_dir]
    assert owner_ref() is spark and cached is d  # live hit path

    # same sf_dir, dead owner: ref resolves to None -> must rebuild
    llm_dedup._TOKEN_SKETCH_CACHE[sf_dir] = (lambda: None, d)
    d2 = llm_dedup._token_sketch(spark, sf_dir)
    assert d2.columns == d.columns
    owner_ref2, _ = llm_dedup._TOKEN_SKETCH_CACHE[sf_dir]
    assert owner_ref2() is spark
    # and the rebuilt entry now hits
    assert llm_dedup._token_sketch(spark, sf_dir) is d2
    d2.unpersist()
    llm_dedup._TOKEN_SKETCH_CACHE.pop(sf_dir, None)


# ------------------------------------------------------ 4. rotation/zipf mode


def _load_gen_scale():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_scale",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "gen_scale.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gen_scale_rotation_is_injective_across_replicas(spark, tmp_path):
    """Digit-suffix collisions (ADVICE r10): 'tok1'+'1' used to equal
    replica-0 'tok11', and for FACTOR >= 10 replica 1 of 'x1' collided
    with replica 11 of 'x'. The '§' separator removes both classes."""
    import pandas as pd

    gs = _load_gen_scale()
    pd.DataFrame(
        [
            (0, "tok1 tok11 x1 x", "en", "s0", 15),
            (1, "tok1 tok11 x1 x", "en", "s1", 15),
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(tmp_path / "documents.parquet")
    out = gs._tile(
        spark, str(tmp_path), "documents", 12,
        {"c_custkey": 0, "s_suppkey": 0, "p_partkey": 0, "o_orderkey": 0,
         "event_id": 0, "user_id": 0, "doc_id": 2, "vec_id": 0},
    )
    toks = (
        out.select(
            (F.col("doc_id") / 2).cast("int").alias("rep"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .distinct()
    )
    # every token must belong to exactly ONE replica
    multi = (
        toks.groupBy("w")
        .agg(F.countDistinct("rep").alias("nrep"))
        .filter(F.col("nrep") > 1)
        .count()
    )
    assert multi == 0


def test_gen_scale_zipf_mode_bounds_cross_replica_truth(spark, tmp_path):
    """--zipf injects corpus-shared Zipf stopwords; the bound s <=
    n_distinct/4 must keep every cross-replica pair under the
    containment 0.8 and Jaccard 0.6 thresholds, so scale-fixture truth
    stays replica-linear."""
    import duckdb
    import pandas as pd

    gs = _load_gen_scale()
    rows = []
    for i in range(12):
        words = " ".join(f"w{i}_{j}" for j in range(4 + (i % 9)))
        rows.append((i, words, "en", f"s{i % 3}", len(words)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    out = gs._tile(
        spark, str(tmp_path), "documents", 4,
        {"c_custkey": 0, "s_suppkey": 0, "p_partkey": 0, "o_orderkey": 0,
         "event_id": 0, "user_id": 0, "doc_id": 12, "vec_id": 0},
        zipf=True,
    )
    pdf = out.toPandas()
    # stopwords present and Zipf-shaped: rank 1 strictly more frequent
    # than the tail on a big enough draw is statistical — just assert
    # presence plus the shared-vocabulary form
    allw = [w for t in pdf.text for w in t.split(" ")]
    stops = [w for w in allw if w.startswith("zz§§")]
    assert stops, "zipf mode must inject stopwords"
    con = duckdb.connect()
    con.register("docs", pdf)
    worst = con.sql(
        """
        WITH w AS (
          SELECT doc_id, doc_id // 12 AS rep,
                 list_distinct(string_split(text, ' ')) AS words,
                 len(list_distinct(string_split(text, ' '))) AS n
          FROM docs
        )
        SELECT max(len(list_intersect(a.words, b.words)) * 1.0 / a.n) AS c,
               max(len(list_intersect(a.words, b.words)) * 1.0
                   / (a.n + b.n - len(list_intersect(a.words, b.words))))
                   AS j
        FROM w a JOIN w b ON a.rep <> b.rep
        """
    ).fetchone()
    assert worst[0] is not None
    assert worst[0] < 0.8, f"cross-replica containment {worst[0]}"
    assert worst[1] < 0.6, f"cross-replica jaccard {worst[1]}"
