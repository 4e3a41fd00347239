"""Per-document token-set bit masks for pairwise-dedup candidate
pruning (r16, guide §3 candidate pruning / §2.3 shuffle fewer bytes).

A doc's 512-bit mask (MASK_LONGS x 64) sets bit (w & 63) of long
((w >> 6) & (MASK_LONGS-1)) for every distinct token hash w. Riding the
masks on the posting rows of a prefix-filter join lets the join prune
matched rows with a LOSSLESS upper bound on the pair's intersection —
pure codegen bit ops, evaluated BEFORE the pair-dedup exchange and the
array-attach verification joins:

    |A ∩ B| <= Σ_i bit_count(ma_i & mb_i)
               + min(n_a - popcount(ma), n_b - popcount(mb))

Every shared token sets one common bit, so bits(A∩B) ⊆ ma & mb; the
only undercount is tokens COLLIDING within one doc's mask, and a doc
loses exactly n - popcount(mask) tokens to collisions in total — adding
the smaller side's loss restores validity. The per-doc loss terms ride
the rows precomputed as cc_a / cc_b.

Width: 8 longs measured best end-to-end on the sf3z containment query
(k=4: 36 s, k=8: 22.7 s, k=16: 65.8 s — wider posting rows cost the
sort-merge join more than the sharper bound saves).

Consumer: operators/ppjoin (the token sketch builds the masks; the
prefix join prunes on the bound).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MASK_LONGS = 8


def mask_bitor_agg_exprs(w_col: str = "w") -> list:
    """Grouped-aggregate mask build: one codegen bit_or aggregate per
    mask long, for use inside an existing groupBy over (doc, token)
    rows — zero extra passes."""
    return [
        F.expr(
            f"bit_or(CASE WHEN (shiftrightunsigned({w_col}, 6) & "
            f"{MASK_LONGS - 1}) = {i} "
            f"THEN shiftleft(1L, int({w_col} & 63)) ELSE 0L END)"
        ).alias(f"m{i}")
        for i in range(MASK_LONGS)
    ]


def mask_popcount(prefix: str = "m") -> Column:
    """Σ_i bit_count(<prefix>i) over the mask columns."""
    total = None
    for i in range(MASK_LONGS):
        t = F.bit_count(F.col(f"{prefix}{i}"))
        total = t if total is None else total + t
    return total


def mask_inter_bound() -> Column:
    """The lossless |A ∩ B| upper bound (module docstring) over rows
    carrying ma0..ma{k-1}, mb0..mb{k-1}, cc_a, cc_b."""
    bits = None
    for i in range(MASK_LONGS):
        t = F.bit_count(F.col(f"ma{i}").bitwiseAND(F.col(f"mb{i}")))
        bits = t if bits is None else bits + t
    return bits + F.least("cc_a", "cc_b")
