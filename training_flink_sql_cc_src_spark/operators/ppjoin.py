"""Set-similarity joins: one token sketch and one prefix-filter operator
for every pairwise dedup measure (PPJoin: Xiao et al., "Efficient
Similarity Joins for Near Duplicate Detection", WWW 2008).

``token_sketch`` derives the per-document sketch every caller shares,
one row per document:

- ``words``: the distinct tokens as xxhash64 longs, ordered RARE-FIRST
  by global document frequency ((df, hash) is a total order), so a
  document's PPJoin prefix is a plain ``slice``;
- ``n_words``: |words|;
- ``m0..m7``, ``cc``: the 512-bit token-set mask and its in-document
  collision count (operators/tokenmask);
- ``mask``, only when the corpus vocabulary fits in 64 tokens: an exact
  dictionary bitmask, so |A ∩ B| = bit_count(mask_a & mask_b).

A measure is an integer ratio t = num/den over the overlap i = |A ∩ B|:

- ``jaccard``: i / (n_a + n_b - i) >= t  <=>  i(num+den) >= (n_a+n_b)num,
  over unordered pairs id_a < id_b;
- ``containment`` (Broder 1997): i / n_a >= t  <=>  i·den >= n_a·num,
  over directed pairs id_a != id_b.

Each prune is that same inequality with i replaced by an upper bound,
so each is lossless:

- size: i <= min(n_a, n_b);
- positional: a pair first meeting at 0-based prefix positions
  (p_a, p_b) shares at most min(n_a - p_a, n_b - p_b) tokens;
- mask: ``tokenmask.mask_inter_bound``, evaluated before the pair-dedup
  exchange (at a Zipf corpus most prefix collisions are one shared rare
  token with near-zero real overlap, and this is the filter that sees
  it).

``prefix_join`` generates candidates with an equi join on (token, block
columns) over prefix postings. Any qualifying pair needs overlap
>= ceil(t·n_a), so A posts its first n_a - ceil(t·n_a) + 1 rarest
tokens. For Jaccard the same holds for B by symmetry. Containment puts
no lower bound on |A| given |B|, so B's posting length comes from the
smallest probe document of its block instead. Surviving pairs are
deduplicated once and verified with ONE array_intersect in exact integer
arithmetic. ``bitmask_join`` is the flat block join over the dictionary
``mask``; ``similarity_join`` picks it when the sketch has a mask and a
block key bounds the join (without one it is a cartesian product).

The bitmask branch stays because it measures faster than the prefix
path on the 31-word driver corpus (SCALE.md §5 has the table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .tokenmask import (
    MASK_LONGS,
    mask_bitor_agg_exprs,
    mask_inter_bound,
    mask_popcount,
)


def token_sketch(docs: DataFrame) -> DataFrame:
    """The sketch (module docstring) of ``docs``: one row per document
    with ``doc_id``, a token array ``words`` and any block columns,
    which are carried through. Launches one job: the vocabulary probe
    that decides whether the dictionary ``mask`` fits in 64 bits."""
    keys = [c for c in docs.columns if c != "words"]
    tok = docs.select(
        *keys, F.explode(F.array_distinct("words")).alias("w")
    ).withColumn("w", F.xxhash64("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    aggs = [
        F.transform(
            F.array_sort(F.collect_list(F.struct("df", "w"))),
            lambda s: s["w"],
        ).alias("words"),
        F.count(F.lit(1)).alias("n_words"),
        *mask_bitor_agg_exprs("w"),
    ]
    if freq.limit(65).count() <= 64:
        freq = F.broadcast(
            freq.withColumn("bit", F.row_number().over(Window.orderBy("w")) - 1)
        )
        aggs.append(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask")
        )
    return (
        tok.join(freq, "w")
        .groupBy(*keys)
        .agg(*aggs)
        .withColumn("cc", F.col("n_words") - mask_popcount())
    )


def _measure(measure: str, num: int, den: int):
    """(qualifies, id order, score) of a measure over joined rows
    carrying n_a, n_b: ``qualifies(bound)`` is the exact integer test
    that an overlap of ``bound`` reaches the threshold."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    if measure == "jaccard":
        return (
            lambda i: i * (num + den) >= (n_a + n_b) * num,
            F.col("id_a") < F.col("id_b"),
            lambda i: i.cast("double") / (n_a + n_b - i),
        )
    if measure == "containment":
        return (
            lambda i: i * den >= n_a * num,
            F.col("id_a") != F.col("id_b"),
            lambda i: i.cast("double") / n_a,
        )
    raise ValueError(f"unknown set-similarity measure {measure!r}")


def _postings(d: DataFrame, side: str, block, lo: Column) -> DataFrame:
    """Posting rows of join side ``side``: each document's first
    n_words - lo + 1 rare-first tokens, with their 0-based positions."""
    plen = F.greatest(F.col("n_words") - lo + 1, F.lit(0))
    return d.select(
        F.col("doc_id").alias(f"id_{side}"),
        *[F.col(c).alias(f"{c}_{side}") for c in block],
        F.col("n_words").alias(f"n_{side}"),
        F.col("cc").alias(f"cc_{side}"),
        *[F.col(f"m{i}").alias(f"m{side}{i}") for i in range(MASK_LONGS)],
        F.posexplode(F.slice("words", F.lit(1), plen)).alias(
            f"p_{side}", f"w_{side}"
        ),
    )


def _ceil_frac(n: Column, num: int, den: int) -> Column:
    return F.floor((n * num + den - 1) / den)


def _verify_side(d: DataFrame, side: str) -> DataFrame:
    return d.select(
        F.col("doc_id").alias(f"id_{side}"),
        F.col("words").alias(f"words_{side}"),
        F.col("n_words").alias(f"n_{side}"),
    )


def prefix_join(
    d: DataFrame, measure: str, num: int, den: int, block=(), probe=None
) -> DataFrame:
    """Pairs of sketch ``d`` whose ``measure`` reaches num/den, within
    equal ``block`` column values; (id_a, id_b, <measure>). ``probe``
    (default ``d``) holds the A-side rows: documents of ``d``, each
    repeated once per block it probes."""
    qualifies, order, score = _measure(measure, num, den)
    probe = d if probe is None else probe
    own_floor = _ceil_frac(F.col("n_words"), num, den)
    pa = _postings(probe, "a", block, own_floor)
    if measure == "jaccard":
        pb = _postings(d, "b", block, own_floor)
    else:
        # containment bounds no |A| from |B|: B's overlap floor comes
        # from the smallest probing document of its block
        lo = probe.groupBy(*block).agg(F.min("n_words").alias("min_n_a"))
        pb = _postings(
            d.join(F.broadcast(lo), list(block) or None),
            "b",
            block,
            _ceil_frac(F.col("min_n_a"), num, den),
        )
    # merge hint: the persisted sketch's stats would let Catalyst
    # broadcast one posting side, but the broadcast frame explodes AFTER
    # the broadcast, so every task would rebuild the posting hash table
    # (measured 5x slower; SCALE.md, round-10 sf1 curve). Pin SMJ.
    cand = (
        pa.hint("merge")
        .join(
            pb.hint("merge"),
            [F.col(f"{c}_a") == F.col(f"{c}_b") for c in ["w", *block]],
        )
        .filter(
            order
            & qualifies(F.least("n_a", "n_b"))
            & qualifies(
                F.least(
                    F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
                )
            )
            & qualifies(mask_inter_bound())
        )
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(_verify_side(d, "a"), "id_a").join(
        _verify_side(d, "b"), "id_b"
    )
    inter = F.size(F.array_intersect("words_a", "words_b"))
    return pairs.filter(qualifies(inter)).select(
        "id_a", "id_b", score(inter).alias(measure)
    )


def bitmask_join(
    d: DataFrame, measure: str, num: int, den: int, block, probe=None
) -> DataFrame:
    """``prefix_join``'s result from the flat block join over the
    dictionary ``mask`` (sketches of a <= 64-token vocabulary only)."""
    qualifies, order, score = _measure(measure, num, den)

    def side(frame, s):
        return frame.select(
            F.col("doc_id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in block],
            F.col("mask").alias(f"mask_{s}"),
            F.col("n_words").alias(f"n_{s}"),
        )

    pairs = side(d if probe is None else probe, "a").join(
        side(d, "b"),
        [F.col(f"{c}_a") == F.col(f"{c}_b") for c in block]
        + [order, qualifies(F.least("n_a", "n_b"))],
    )
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    return pairs.filter(qualifies(inter)).select(
        "id_a", "id_b", score(inter).alias(measure)
    )


def similarity_join(
    d: DataFrame, measure: str, num: int, den: int, block=(), probe=None
) -> DataFrame:
    """The set-similarity join of sketch ``d`` (see ``prefix_join``):
    the bitmask path when ``d`` carries a dictionary mask and ``block``
    bounds the flat join, else the prefix path."""
    join = bitmask_join if block and "mask" in d.columns else prefix_join
    return join(d, measure, num, den, block, probe)
