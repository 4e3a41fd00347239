"""Property tests for the dedup operator family (SURVEY.md §5: 'dedup
idempotence' + MinHash accuracy vs exact Jaccard)."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_flink_sql_cc_src_spark.operators.dedup import (
    exact_dedup,
    first_per_key,
    latest_per_key,
    lsh_band_pairs,
    minhash_jaccard_estimate,
    minhash_signature,
    simhash64,
    word_shingles,
    hamming64,
)


def _docs(spark):
    """Tiny corpus with a known near-dup pair and an exact dup."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    far = "completely different words describing unrelated events entirely elsewhere"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)],
        "doc_id int, text string",
    )


def test_latest_per_key_picks_max_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k int, v int, payload string"
    )
    out = {r.k: r.payload for r in latest_per_key(df, ["k"], "v").collect()}
    assert out == {1: "b", 2: "c"}


def test_first_per_key_picks_min_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k int, v int, payload string"
    )
    assert first_per_key(df, ["k"], "v").collect()[0].payload == "a"


def test_latest_per_key_idempotent(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k int, v int, payload string"
    )
    once = latest_per_key(df, ["k"], "v")
    twice = latest_per_key(once, ["k"], "v")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_exact_dedup_idempotent_and_complete(spark):
    df = _docs(spark).select("text")
    d1 = exact_dedup(df)
    assert d1.count() == 3  # doc 4 is an exact copy of doc 1
    assert exact_dedup(d1).count() == 3


def test_minhash_estimates_jaccard(spark):
    d = word_shingles(_docs(spark), "text", k=3)
    sig = minhash_signature(d, "shingles", num_hashes=64)
    pairs = lsh_band_pairs(sig, "doc_id", "minhash", bands=16, rows_per_band=4)
    est = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in minhash_jaccard_estimate(pairs).collect()
    }
    # exact dup pair must be found with estimate 1.0
    assert est.get((1, 4)) == 1.0
    # near-dup pair (one word of 13 changed → shingle jaccard ≈ 0.57) must
    # be found with a high estimate
    assert (1, 2) in est and est[(1, 2)] > 0.3
    # unrelated pair, if banded together at all, estimates low
    assert est.get((1, 3), 0.0) < 0.2


def test_simhash_orders_similarity(spark):
    d = _docs(spark).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("words")
    )
    s = {r.doc_id: r.simhash for r in simhash64(d, "words").collect()}
    ham = lambda a, b: bin((s[a] ^ s[b]) & (2**64 - 1)).count("1")
    assert ham(1, 4) == 0  # identical docs → identical simhash
    assert ham(1, 2) < ham(1, 3)  # near-dup closer than unrelated


def test_hamming64_matches_python(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    got = df.select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h
    assert got == 1


def _uf_min_labels(n_nodes: int, edge_list):
    """Reference union-find: min node id per component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for x in range(n_nodes):
        members.setdefault(find(x), []).append(x)
    out = {}
    for mem in members.values():
        m = min(mem)
        for x in mem:
            out[x] = m
    return out


def test_star_contraction_components_match_union_find(spark):
    """The large-star/small-star CC loop (round 9) equals a reference
    union-find on adversarial shapes: a long PATH (the O(n)-rounds
    killer for naive min-neighbor contraction — large-star's pointer
    doubling must converge in O(log n)), the two-parent and 2-chain
    star-forest-check counterexamples, duplicate/self-loop edges, an
    empty edge list, and random graphs."""
    import random

    from training_flink_sql_cc_src_spark.queries.llm_dedup import (
        min_label_components,
    )

    def run_case(n, edge_list):
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], "doc_id long"
        )
        if edge_list:
            edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
        else:
            edges = spark.createDataFrame([], "id_a long, id_b long")
        got = {
            r["doc_id"]: r["label"]
            for r in min_label_components(edges, nodes).collect()
        }
        assert got == _uf_min_labels(n, edge_list)

    run_case(64, [(i, i + 1) for i in range(63)])  # path
    run_case(6, [(5, 1), (5, 3)])  # two-parent
    run_case(6, [(5, 3), (3, 1)])  # 2-chain
    run_case(5, [])  # no edges
    run_case(6, [(1, 2), (2, 1), (1, 2), (4, 4)])  # dupes + self-loop
    rng = random.Random(7)
    for _ in range(4):
        n = rng.randint(2, 100)
        m = rng.randint(0, 2 * n)
        run_case(n, [tuple(rng.sample(range(n), 2)) for _ in range(m)])


def test_star_contraction_string_ids_driver_finish(spark):
    """ADVICE r13: the driver union-find finish must build its star-
    forest DataFrame from the EDGE LIST's schema, not a hardcoded
    long/long — string doc ids work in the distributed rounds and must
    keep working when the shrinking edge list hits the driver-finish
    threshold (which any small graph does immediately)."""
    from training_flink_sql_cc_src_spark.queries.llm_dedup import (
        min_label_components,
    )

    names = [f"doc-{i:03d}" for i in range(12)]
    nodes = spark.createDataFrame([(n,) for n in names], "doc_id string")
    # two components: a chain over the first 5, a pair at the end
    edge_list = [(names[i], names[i + 1]) for i in range(4)] + [
        (names[10], names[11])
    ]
    edges = spark.createDataFrame(edge_list, "id_a string, id_b string")
    got = {
        r["doc_id"]: r["label"]
        for r in min_label_components(edges, nodes).collect()
    }
    want = {n: n for n in names}
    for i in range(5):
        want[names[i]] = names[0]
    want[names[11]] = names[10]
    assert got == want


def test_star_contraction_distributed_loop_path(spark, monkeypatch):
    """The DISTRIBUTED large/small-star loop must stay correct on its
    own: with the r15 driver-finish bound raised to 1M edges, every
    small fixture takes the driver union-find path, so this test pins
    the loop by forcing the bound to (near) zero — the contraction
    rounds then run for real (the in-loop driver finish is disabled
    too) until the star-forest probe converges. Same adversarial
    shapes as the union-find equivalence test: path (pointer-doubling
    depth), two-parent, 2-chain, dupes/self-loops, random graphs."""
    import random

    from training_flink_sql_cc_src_spark.queries import llm_dedup
    from training_flink_sql_cc_src_spark.queries.llm_dedup import (
        min_label_components,
    )

    monkeypatch.setattr(llm_dedup, "_DRIVER_FINISH_EDGES", 0)

    def run_case(n, edge_list):
        nodes = spark.createDataFrame(
            [(i,) for i in range(n)], "doc_id long"
        )
        if edge_list:
            edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
        else:
            edges = spark.createDataFrame([], "id_a long, id_b long")
        got = {
            r["doc_id"]: r["label"]
            for r in min_label_components(edges, nodes).collect()
        }
        assert got == _uf_min_labels(n, edge_list)

    run_case(64, [(i, i + 1) for i in range(63)])  # path
    run_case(6, [(5, 1), (5, 3)])  # two-parent
    run_case(6, [(5, 3), (3, 1)])  # 2-chain
    run_case(6, [(1, 2), (2, 1), (1, 2), (4, 4)])  # dupes + self-loop
    rng = random.Random(23)
    for _ in range(2):
        n = rng.randint(2, 60)
        m = rng.randint(0, 2 * n)
        run_case(n, [tuple(rng.sample(range(n), 2)) for _ in range(m)])


def test_star_contraction_long_chain_converges_or_raises(spark):
    """VERDICT r9 #4: the round cap is a loud error, not a warning. A
    pathological LONG PATH (the worst case for contraction depth) must
    converge to one component well inside the 64-round bound — and the
    only alternative outcome the code allows is a RuntimeError, never a
    silent non-fixpoint return (there is no warn-and-return path left)."""
    from training_flink_sql_cc_src_spark.queries.llm_dedup import (
        min_label_components,
    )

    n = 2048  # pointer doubling: ~log2(2048)=11 large-star rounds
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = min_label_components(edges, nodes)
    labels = {r.label for r in got.select("label").distinct().collect()}
    assert labels == {0}


def test_prefix_filtered_blocked_pairs_large_vocab(spark, tmp_path):
    """The large-vocab (non-bitmask) branch of dedup_jaccard_blocked_pairs
    / dedup_containment_pairs generates candidates with a LOSSLESS PPJoin
    prefix join inside the block (the sf1 scaling fix) — results must
    equal the quadratic DuckDB oracle exactly on a corpus whose
    vocabulary exceeds the 64-word bitmask limit. The synthetic corpus
    mixes exact dups, high-overlap near-dups, contained snippets, and
    unrelated docs across two langs and several length bands."""
    import random

    import pandas as pd
    from oracle_harness import compare_one

    from training_flink_sql_cc_src_spark.queries import llm_dedup
    from training_flink_sql_cc_src_spark.registry import _REGISTRY, _load_all

    _load_all()
    rnd = random.Random(11)
    vocab = [f"tok{i}" for i in range(160)]  # > 64 -> hashed-array path
    rows = []
    doc_id = 0

    def add(words, lang):
        nonlocal doc_id
        text = " ".join(words)
        rows.append((doc_id, text, lang, f"src{doc_id % 5}", len(text)))
        doc_id += 1

    for base in range(40):
        lang = "en" if base % 3 else "de"
        words = rnd.sample(vocab, rnd.randint(8, 30))
        add(words, lang)
        if base % 4 == 0:  # exact dup
            add(list(words), lang)
        if base % 4 == 1:  # near-dup: drop one word, add another
            mut = list(words[:-1]) + [rnd.choice(vocab)]
            add(mut, lang)
        if base % 4 == 2:  # contained snippet (~85% of the container)
            k = max(1, int(len(words) * 0.85))
            add(words[:k], lang)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    # the sketch is memoized per (session, sf_dir) -> fresh dir, fresh entry
    sketch = llm_dedup._token_sketch(spark, str(tmp_path))
    assert "mask" not in sketch.columns, "corpus must exercise the prefix path"
    for name in (
        "dedup_jaccard_blocked_pairs",
        "dedup_containment_pairs",
        # downstream consumers of the blocked-pairs edge list — the
        # prefix-path rewrite must hold through CC, keep-best, and the
        # pipeline apply step too
        "dedup_connected_components",
        "dedup_keep_best",
        "pipeline_dedup_apply",
    ):
        e = _REGISTRY[name]
        res = compare_one(spark, name, e.fn, e.oracle, str(tmp_path))
        assert res.ok, f"{name}: {res.detail}"
        assert res.spark_rows > 0, f"{name}: vacuous (no qualifying pairs)"


def test_bitmask_and_prefix_paths_agree(spark, sf_med):
    """On the <=64-word fixture the sketch carries the dictionary mask,
    so the operator's two candidate paths are both callable on the one
    sketch frame: the flat bitmask block join and the prefix filter must
    return identical pairs, for blocked Jaccard and for containment."""
    from training_flink_sql_cc_src_spark.operators.ppjoin import (
        bitmask_join,
        prefix_join,
    )
    from training_flink_sql_cc_src_spark.queries import llm_dedup

    d = llm_dedup._token_sketch(spark, sf_med)
    assert "mask" in d.columns, "fixture must carry the dictionary mask"
    band = F.col("len_band")
    probe = d.withColumn(
        "len_band", F.explode(F.array(band - 1, band, band + 1))
    )
    block = ["lang", "len_band"]
    for measure, num, probe_rows in (
        ("jaccard", 3, None),
        ("containment", 4, probe),
    ):
        flat, prefix = (
            {tuple(r) for r in join(d, measure, num, 5, block, probe_rows).collect()}
            for join in (bitmask_join, prefix_join)
        )
        assert flat, f"{measure}: vacuous (no qualifying pairs)"
        assert flat == prefix, measure
