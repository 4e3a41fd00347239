"""Streaming CEP fuzz: random streamable shapes vs the batch NFA.

Random fixed-length sequences (A B / A B C / A B C D), A+ B runs,
A B+ C funnels, and BOUNDED shapes for the Lmax-window matcher
(optionals, bounded quantifiers greedy/reluctant, alternation groups,
PERMUTE) with random OVERLAPPING integer predicates — including
physical PREV comparison conjuncts on run shapes and in-window NEXT
conjuncts on sequences — are replayed as micro-batched file streams
through ``Engine.sql_stream`` and compared row-for-row (Counter of
output tuples, payload measures included) against the batch
MATCH_RECOGNIZE lowering on the same data. This adversarially checks
the O(1)-state run matchers' overlap handling (leftmost-start
priority, the greedy backtrack candidate ``pend``, break-row
restarts), the decision window's gate (the sequence and bounded
families carry exactly the TERM padding it needs), skip modes, WITHIN
bounds, and cross-micro-batch state. Every sequence case carries a
NEXT conjunct, and half its keys end on a match's last real row (the
start the gate decides last).
A separate family draws provably disjoint DEFINEs (``v = k``, a
distinct k per variable), the only case where the A B+ C funnel leg
takes SKIP TO NEXT ROW and WITHIN itself, plus equal-valued respellings
(``v = 1`` / ``v = 01``) that must not count as disjoint.

The run matchers finalize an open run only at a break row (the
longest-match-needs-a-terminator contract), so every generated key ends
with a terminal row whose value fails every required row-local atom in
the grammar: v = -997, with atoms drawn from ``>= k`` / ``> k`` /
``= k`` (k >= 0) and ``% m = r`` (r >= 0; Spark's % keeps the
dividend's sign and 997 is prime, so -997 % m < 0 for every m in the
grammar). The run variable's DEFINE always carries at least one such
atom, so open runs break at the terminal row exactly as a batch
partition ends — making batch and stream comparable on FULL data with
no truncation bookkeeping.

Usage: python scripts/fuzz_cep_stream.py [n_cases] [seed]
"""
import math
import random
import re
import sys
from collections import Counter

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from training_flink_sql_cc_src_spark.engine import Engine
from training_flink_sql_cc_src_spark.plans.router import StatementRouter
from training_flink_sql_cc_src_spark.session import get_spark
from training_flink_sql_cc_src_spark.streaming.parity import (
    run_stream_over_batch,
)

TERM = -997  # fails every required atom; breaks any open run


def rand_atom(rng, v):
    """A row-local atom guaranteed FALSE at v = TERM."""
    r = rng.random()
    if r < 0.35:
        return f"{v}.v >= {rng.randint(0, 6)}"
    if r < 0.55:
        return f"{v}.v > {rng.randint(0, 6)}"
    if r < 0.7:
        return f"{v}.v = {rng.randint(0, 7)}"
    m = rng.randint(2, 5)
    return f"{v}.v % {m} = {rng.randint(0, m - 1)}"


def rand_local(rng, v):
    """Row-local predicate: 1-2 required atoms, optionally AND an upper
    bound (harmless at TERM because the required atom already fails)."""
    pred = rand_atom(rng, v)
    if rng.random() < 0.3:
        pred += f" AND {rand_atom(rng, v)}"
    elif rng.random() < 0.3:
        pred += f" AND {v}.v <= {rng.randint(3, 9)}"
    return pred


def rand_prev_conjunct(rng, v):
    op = rng.choice([">", ">=", "<", "<=", "=", "<>"])
    n = rng.choice(["", ", 2"])
    if rng.random() < 0.7:
        return f"{v}.v {op} PREV({v}.v{n})"
    return f"PREV({v}.v{n}) {op} {rng.randint(0, 6)}"


def rand_next_conjunct(rng, v, max_n):
    op = rng.choice([">", ">=", "<", "<=", "<>"])
    n = rng.randint(1, max_n)
    suffix = "" if n == 1 else f", {n}"
    if rng.random() < 0.7:
        return f"{v}.v {op} NEXT({v}.v{suffix})"
    return f"NEXT({v}.v{suffix}) {op} {rng.randint(0, 6)}"


def rand_selfnav_conjunct(rng, v):
    """SELF FIRST/LAST binding (round 8): {v}.v OP FIRST|LAST({v}.v[, n])
    — the defining variable's mapped-so-far rows include the current
    candidate, so LAST(v.v, 1) is the previous mapped row (NULL -> false
    on the first, which often empties strict-ascent shapes: fine)."""
    nav = rng.choice(["FIRST", "LAST"])
    op = rng.choice([">", ">=", "<", "<=", "<>"])
    n = rng.choice(["", "", ", 1"])
    return f"{v}.v {op} {nav}({v}.v{n})"


def gen_bounded(rng):
    """Bounded shapes for the decision-window matcher: optionals,
    bounded quantifiers (greedy and reluctant), alternation groups,
    PERMUTE. Returns (pattern, defines, vars, skip, within, pad) where
    pad = G - 1 trailing TERM rows decide the start at every real row:
    the matcher decides a start once G = max(Lmax, R + 1) rows exist,
    R the furthest row a match from it can read (each variable's
    latest position plus its NEXT offset). A gate that waits longer
    leaves a real start undecided, which shows as a MISMATCH."""
    if rng.random() < 0.18:
        k = rng.randint(2, 3)
        vs = ["A", "B", "C"][:k]
        rng.shuffle(vs)
        defines = ", ".join(f"{v} AS {rand_local(rng, v)}" for v in vs)
        return (
            f"PERMUTE ({', '.join(vs)})", defines, vs,
            "PAST LAST ROW", "", k - 1, "bounded",
        )
    avail = ["A", "B", "C", "D"]
    n_pos = rng.randint(2, 3)
    terms, used = [], []
    lmax = 0
    latest = {}  # var -> the latest row it can map in a match
    for pi in range(n_pos):
        if rng.random() < 0.3 and len(avail) >= n_pos - pi + 1:
            vs = [avail.pop(0), avail.pop(0)]
            used += vs
            term = "(" + "|".join(vs) + ")"
        else:
            v = avail.pop(0)
            used.append(v)
            term = v
        q = rng.random()
        if pi == 0 or q < 0.35:
            lo, hi, quant = 1, 1, ""
        elif q < 0.6:
            lo, hi = 0, 1
            quant = "?" if rng.random() < 0.7 else "??"
        else:
            lo = rng.randint(0, 2)
            hi = rng.randint(max(lo, 1), 2)
            quant = "{%d,%d}" % (lo, hi)
        if quant.startswith("{") and rng.random() < 0.3:
            quant += "?"  # reluctant ({n,m}? only — A?? not in grammar)
        terms.append(term + quant)
        for v in term.strip("()").split("|"):
            latest[v] = lmax + hi - 1
        lmax += hi
        if pi == 0:
            first_vars = set(used)
    defs = {v: rand_local(rng, v) for v in used}
    later = [v for v in used if v not in first_vars]
    # "hard-compose" slice (~1 in 5): force cross-variable DEFINE +
    # SKIP TO FIRST/LAST + WITHIN + ALL ROWS (often with an exclusion)
    # in ONE statement — the corners VERDICT r7 asked the fuzzer to
    # compose rather than sample independently
    hard = bool(later) and rng.random() < 0.2
    reach = lmax - 1
    if rng.random() < 0.25:
        # physical PREV conjunct (arrival-history evaluation)
        v = rng.choice(used)
        defs[v] += f" AND {rand_prev_conjunct(rng, v)}"
    elif rng.random() < 0.3:
        # physical NEXT conjunct (decision-window lookahead, round 8):
        # its target may lie past the match, and the decision waits
        # for it (reach, below)
        v = rng.choice(used)
        nc = rand_next_conjunct(rng, v, 2)
        reach = max(reach, latest[v] + (2 if ", 2" in nc else 1))
        defs[v] += f" AND {nc}"
    if later and (hard or rng.random() < 0.3):
        # cross-variable conjunct on a later variable, referencing an
        # earlier one (possibly unmatched -> check false, still exact)
        v = rng.choice(later)
        other = rng.choice([o for o in used if o != v])
        op = rng.choice([">", ">=", "<", "<=", "<>"])
        ref = (
            f"{other}.v"
            if rng.random() < 0.6
            else (
                f"{rng.choice(['FIRST', 'LAST'])}({other}.v"
                f"{rng.choice(['', '', ', 1'])})"
            )
        )
        defs[v] += f" AND {v}.v {op} {ref}"
    if rng.random() < 0.2:
        # SELF FIRST/LAST binding on any variable (round 8) — on a
        # single-mapped variable FIRST/LAST(v.v) is the current row
        v = rng.choice(used)
        defs[v] += f" AND {rand_selfnav_conjunct(rng, v)}"
    defines = ", ".join(f"{v} AS {defs[v]}" for v in used)
    # {- X -} exclusion around a non-first single-variable term (rows
    # matched + measured, omitted from ALL ROWS output -> forces the
    # ALL ROWS comparison); never the SKIP TO target below
    excl_var = None
    if rng.random() < (0.6 if hard else 0.2):
        singles = [
            i
            for i, tm in enumerate(terms)
            if i > 0 and tm.lstrip("(")[:1].isalpha() and "|" not in tm
        ]
        if singles:
            i = rng.choice(singles)
            excl_var = terms[i].strip("(){}?0123456789,")[:1]
            terms[i] = "{- " + terms[i] + " -}"
    skip_later = [v for v in later if v != excl_var]
    if skip_later and (hard or rng.random() < 0.2):
        # SKIP TO a var that can never map the match start (position 0
        # always consumes a row), so the loop-forever error cannot fire
        skip = f"TO {rng.choice(['FIRST', 'LAST'])} {rng.choice(skip_later)}"
    else:
        skip = rng.choice(["PAST LAST ROW", "TO NEXT ROW"])
    within = (
        f"WITHIN INTERVAL '{rng.choice([3, 6, 9])}' SECOND"
        if (hard or rng.random() < 0.25)
        else ""
    )
    kind = "bounded_ar" if (excl_var is not None or hard) else "bounded"
    return " ".join(terms), defines, used, skip, within, reach, kind


def gen_timebound(rng):
    """UNBOUNDED shapes under a WITHIN bound — the time-bounded window
    leg (round 8): general-predicate runs, runs mixed with bounded
    quantifiers/optionals/alternation groups, cross-variable DEFINEs on
    runs, both skip modes + SKIP TO. Pad rows must push every start's
    horizon past the last real row: rows step 3 s, so pad =
    within/3 + 2."""
    within = rng.choice([6, 9, 12])
    pick = rng.random()
    if pick < 0.3:
        pattern, used = "A+ B", ["A", "B"]
    elif pick < 0.5:
        pattern, used = "A B+ C", ["A", "B", "C"]
    elif pick < 0.65:
        pattern, used = "A{1,2} B+ C", ["A", "B", "C"]
    elif pick < 0.8:
        pattern, used = "A+ B? C", ["A", "B", "C"]
    else:
        pattern, used = "(A|B)+ C", ["A", "B", "C"]
    defs = {v: rand_local(rng, v) for v in used}
    max_next = 0
    if rng.random() < 0.25:
        v = rng.choice(used)
        nc = rand_next_conjunct(rng, v, 2)
        max_next = 2 if ", 2" in nc else 1
        defs[v] += f" AND {nc}"
    run_var = "B" if "B+" in pattern else "A"
    later = [v for v in used if v != used[0] or "(A|B)" in pattern]
    if later and rng.random() < 0.3:
        v = rng.choice([x for x in later if x != used[0]] or later)
        other = rng.choice([o for o in used if o != v])
        op = rng.choice([">", ">=", "<", "<=", "<>"])
        ref = (
            f"{other}.v"
            if rng.random() < 0.6
            else (
                f"{rng.choice(['FIRST', 'LAST'])}({other}.v"
                f"{rng.choice(['', '', ', 1'])})"
            )
        )
        defs[v] += f" AND {v}.v {op} {ref}"
    if rng.random() < 0.25:
        # SELF FIRST/LAST binding on any variable (round 8)
        v = rng.choice(used)
        defs[v] += f" AND {rand_selfnav_conjunct(rng, v)}"
    defines = ", ".join(f"{v} AS {defs[v]}" for v in used)
    # a SKIP TO target that can map the match START would raise the
    # loop-forever error in BOTH engines ((A|B)+ C: A and B both
    # anchor) — only vars that never sit at position 0 are safe
    first_vars = {"A", "B"} if pattern.startswith("(A|B)") else {used[0]}
    skip_tgts = [v for v in used if v not in first_vars]
    r = rng.random()
    if skip_tgts and r < 0.25:
        skip = f"TO {rng.choice(['FIRST', 'LAST'])} {rng.choice(skip_tgts)}"
    else:
        skip = rng.choice(["PAST LAST ROW", "TO NEXT ROW"])
    _ = run_var
    if rng.random() < 0.35:
        # NO WITHIN: the same unbounded shapes stream through the
        # BREAK-ROW-decided leg (round 8) — TERM rows fail every
        # grammar atom, so they are breaks; pad a couple so trailing
        # heads decide
        return (
            pattern, defines, used, skip, "",
            2 + max_next, "timebound",
        )
    return (
        pattern, defines, used, skip,
        f"WITHIN INTERVAL '{within}' SECOND",
        within // 3 + 2 + max_next, "timebound",
    )


def gen_disjoint(rng):
    """Provably disjoint DEFINEs: ``v = k`` with a distinct k per
    variable over sequences, A+ B runs and A B+ C funnels, both skip
    modes, with or without WITHIN. Data for this family draws v from
    0..2 (gen_data hi=2) so the equality atoms match often; TERM fails
    every atom, and the pad rows flush the decision-window legs that
    A+ B takes under SKIP TO NEXT ROW or WITHIN (rows step 3 s, so
    pad = within/3 + 2). A quarter of the cases respell one variable's
    literal as another's value (``01``, ``1.0``): distinct text, one
    value, so those DEFINEs overlap and every leg must treat them so."""
    pattern, used = rng.choice([
        ("A B", ["A", "B"]),
        ("A B C", ["A", "B", "C"]),
        ("A+ B", ["A", "B"]),
        ("A B+ C", ["A", "B", "C"]),
    ])
    lits = [str(k) for k in rng.sample(range(3), len(used))]
    if rng.random() < 0.25:
        i, j = rng.sample(range(len(used)), 2)
        lits[i] = rng.choice([f"0{lits[j]}", f"{lits[j]}.0"])
    defines = ", ".join(f"{v} AS {v}.v = {k}" for v, k in zip(used, lits))
    skip = rng.choice(["PAST LAST ROW", "TO NEXT ROW"])
    if rng.random() < 0.5:
        within = rng.choice([6, 9, 12])
        return (
            pattern, defines, used, skip,
            f"WITHIN INTERVAL '{within}' SECOND", within // 3 + 2,
            "disjoint",
        )
    return pattern, defines, used, skip, "", 2, "disjoint"


def gen_case(rng):
    """Return (pattern, defines_sql, vars, skip_sql, within_sql,
    n_pad_rows, family); the seq family appends its per-position
    DEFINEs (for ``key_values``)."""
    shape = rng.random()
    if shape < 0.24:
        return gen_bounded(rng)
    if shape < 0.36:
        return gen_timebound(rng)
    if shape < 0.5:
        return gen_disjoint(rng)
    if shape < 0.66:
        length = rng.randint(2, 4)
        pvars = ["A", "B", "C", "D"][:length]
        pattern = " ".join(pvars)
        defines = []
        # the decision window decides a start once G = max(L, R + 1)
        # rows exist, R the furthest row a match from it reads (the
        # last position, or a variable's position plus its NEXT
        # offset). TERM rows fail every atom, so the latest start that
        # can match is L rows before the end: pad G - L rows (gen_data
        # adds at least one), and a gate that waits past the padding
        # leaves that start undecided (a MISMATCH). Every case carries
        # a NEXT conjunct (on ``nv``, never the last variable, offset
        # up to at least 2), so the gate is always in play
        reach = length - 1
        nv = rng.randrange(length - 1)
        for vi, v in enumerate(pvars):
            d = rand_local(rng, v)
            if vi != nv and rng.random() < 0.3:
                d += f" AND {rand_prev_conjunct(rng, v)}"
            elif vi == nv or rng.random() < 0.35:
                max_n = length - 1 - vi + rng.choice([0, 0, 1, 2])
                if vi == nv:
                    max_n = max(max_n, 2)
                if max_n >= 1:
                    nc = rand_next_conjunct(rng, v, max_n)
                    m = re.search(r"NEXT\(\w+\.\w+(?:, (\d+))?\)", nc)
                    reach = max(reach, vi + int(m.group(1) or 1))
                    d += f" AND {nc}"
            defines.append((v, d))
        skip = rng.choice(["PAST LAST ROW", "TO NEXT ROW"])
        within = (
            f"WITHIN INTERVAL '{rng.choice([3, 6, 9, 12])}' SECOND"
            if rng.random() < 0.3
            else ""
        )
        return (
            pattern, ", ".join(f"{v} AS {d}" for v, d in defines), pvars,
            skip, within, reach + 1 - length, "seq",
            [d for _, d in defines],
        )
    if shape < 0.83:
        # A+ B run: A needs a required row-local atom (terminator)
        da = rand_local(rng, "A")
        if rng.random() < 0.35:
            da += f" AND {rand_prev_conjunct(rng, 'A')}"
        db = rand_local(rng, "B")
        if rng.random() < 0.3:
            db += f" AND {rand_prev_conjunct(rng, 'B')}"
        return (
            "A+ B", f"A AS {da}, B AS {db}", ["A", "B"],
            "PAST LAST ROW", "", 1, "run",
        )
    # A B+ C funnel: B needs a required row-local atom (terminator)
    parts = {}
    for v in ("A", "B", "C"):
        d = rand_local(rng, v)
        if rng.random() < 0.3:
            d += f" AND {rand_prev_conjunct(rng, v)}"
        parts[v] = d
    return (
        "A B+ C",
        ", ".join(f"{v} AS {parts[v]}" for v in ("A", "B", "C")),
        ["A", "B", "C"],
        "PAST LAST ROW",
        "",
        1,
        "run",
    )


_OPERAND = r"(?:(PREV|NEXT)\(\w\.v(?:, (\d+))?\)|\w\.v(?: % (\d+))?|(-?\d+))"
_CONJUNCT_RE = re.compile(
    rf"{_OPERAND} (>=|<=|<>|>|<|=) {_OPERAND}"
)
_CMP = {
    ">=": lambda a, b: a >= b, "<=": lambda a, b: a <= b,
    "<>": lambda a, b: a != b, ">": lambda a, b: a > b,
    "<": lambda a, b: a < b, "=": lambda a, b: a == b,
}


def _operand(groups, vals, i):
    nav, off, mod, lit = groups
    if lit is not None:
        return int(lit)
    j = i + {"PREV": -1, "NEXT": 1}.get(nav, 0) * int(off or 1)
    if not 0 <= j < len(vals):
        return None  # navigation past the partition: NULL
    # Spark's % keeps the dividend's sign (fmod), unlike Python's
    return vals[j] if mod is None else int(math.fmod(vals[j], int(mod)))


def holds(define, vals, i):
    """Evaluate a seq-family DEFINE (row-local atoms, PREV/NEXT
    comparisons, AND) at row i of one key's values; NULL is false."""
    for conj in define.split(" AND "):
        m = _CONJUNCT_RE.fullmatch(conj.strip())
        a = _operand(m.groups()[:4], vals, i)
        b = _operand(m.groups()[5:], vals, i)
        if a is None or b is None or not _CMP[m.group(5)](a, b):
            return False
    return True


def key_values(rng, pad=1, hi=7, seq_defines=None):
    """One key's values: 8-16 random values in [0, hi] plus TERM pads.
    With ``seq_defines`` (one DEFINE per sequence position) the key ends
    on a match's last real row half of the time, when one of 2000 draws
    of the last L + 2 real values (PREV reads up to 2 rows back) makes
    the last L rows match: the start the decision gate decides last."""
    n = rng.randint(8, 16)
    vals = [rng.randint(0, hi) for _ in range(n)] + [TERM] * max(1, pad)
    if seq_defines and rng.random() < 0.5:
        length = len(seq_defines)
        lo = max(0, n - length - 2)
        for _ in range(2000):
            cand = list(vals)
            cand[lo:n] = [rng.randint(0, hi) for _ in range(n - lo)]
            if all(
                holds(d, cand, n - length + j)
                for j, d in enumerate(seq_defines)
            ):
                return cand
    return vals


def gen_data(spark, rng, pad=1, hi=7, seq_defines=None):
    rows = []
    for ki in range(3):
        vals = key_values(rng, pad, hi, seq_defines)
        for i, v in enumerate(vals):
            # globally-unique interleaved event times, 3 s per key step
            rows.append((f"k{ki}", i * 3 + ki, v))
    return spark.createDataFrame(rows, "k string, seq long, v int").selectExpr(
        "k", "v", "timestamp_seconds(seq) AS ts"
    )


def check_multikey_parity(spark, router, eng, rng):
    """PARTITION BY k, k2 (a NULL-bearing second key): the streaming
    matchers key on the lossless to_json composite (round 8) — batch
    and stream must agree exactly, NULL keys included (the batch
    skip-filter's null-safe join is part of the contract). Returns 1
    on a mismatch, 0 otherwise."""
    df = gen_data(spark, rng, 1).withColumn(
        "k2",
        F.when(F.col("k") == "k2", F.lit(None).cast("string")).otherwise(
            F.length("k").cast("string")
        ),
    )
    df.createOrReplaceTempView("__fuzz_mk")
    stmt = """
        SELECT k, k2, CAST(a_ts AS LONG) AS e FROM __fuzz_mk
        MATCH_RECOGNIZE (
            PARTITION BY k, k2
            ORDER BY ts
            MEASURES A.ts AS a_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.v >= 3, B AS B.v <= 2
        )
    """
    try:
        batch = Counter(tuple(r) for r in router.execute(stmt).collect())
        df.createOrReplaceTempView("__fuzz_mk")
        streamed = run_stream_over_batch(
            spark,
            df,
            lambda s: eng.sql_stream(stmt, {"__fuzz_mk": s}),
            output_mode="append",
            n_files=2,
            order_by="ts",
        )
        got = Counter(tuple(r) for r in streamed.collect())
    except Exception as e:
        print(f"MULTIKEY ERROR: {e}", flush=True)
        return 1
    if got != batch:
        print(
            f"MULTIKEY MISMATCH: batch-only={batch - got} "
            f"stream-only={got - batch}",
            flush=True,
        )
        return 1
    return 0


def main(n_cases, seed):
    rng = random.Random(seed)
    spark = get_spark("fuzz_stream")
    spark.sparkContext.setLogLevel("ERROR")
    # ~50 rows per case: shuffle width is pure overhead here (restored
    # on exit — the in-suite smoke shares the test session)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    router = StatementRouter(spark)
    eng = Engine(spark)
    failures = tried = 0
    kinds = Counter()
    while tried < n_cases:
        pattern, defines, pvars, skip, within, pad, kind, *seq = gen_case(rng)
        df = gen_data(
            spark, rng, pad, hi=2 if kind == "disjoint" else 7,
            seq_defines=seq[0] if seq else None,
        )
        if tried % 25 == 0:
            # multi-key PARTITION BY (NULL keys included): batch and
            # stream must agree via the composite-key leg (round 8)
            failures += check_multikey_parity(spark, router, eng, rng)
        all_rows = kind == "bounded_ar" or (
            kind in ("bounded", "timebound") and rng.random() < 0.35
        )
        # WITH UNMATCHED ROWS (round 8 in the grammar): unmatched rows
        # emit when the window head DECIDES, so trailing TERM pads can
        # stay pending at stream end while batch emits them — filter
        # pads from BOTH sides (WHERE v <> TERM) for comparability;
        # every real row's decision is flushed by the pads as usual
        unmatched = all_rows and rng.random() < 0.3
        if all_rows:
            # ALL ROWS PER MATCH: per-matched-row emission with
            # CLASSIFIER / per-key MATCH_NUMBER / RUNNING-FINAL and
            # aggregate measures (padding rows match nothing, so no
            # filtering is needed for comparability)
            meas = ["CLASSIFIER() AS cls", "MATCH_NUMBER() AS mn"]
            outer = ["k", "CAST(ts AS LONG) AS e", "v", "cls", "mn"]
            av = rng.choice(pvars)
            if rng.random() < 0.6:
                mode = rng.choice(["RUNNING", "FINAL"])
                meas.append(f"{mode} {av}.v AS mv")
                outer.append("mv")
            if rng.random() < 0.5:
                fn = rng.choice(["COUNT", "SUM", "MIN", "MAX"])
                meas.append(f"{fn}({av}.v) AS agv")
                outer.append("agv")
            if rng.random() < 0.4:
                # FIRST/LAST logical offsets (round 9): RUNNING waits
                # for the (n+1)-th mapped row, FINAL reads the whole
                # match; offsets past the mapped count are NULL
                nmode = rng.choice(["", "RUNNING ", "FINAL "])
                nnav = rng.choice(["FIRST", "LAST"])
                noffv = rng.choice([1, 1, 2])
                meas.append(
                    f"{nmode}{nnav}({av}.v, {noffv}) AS novf"
                )
                outer.append("novf")
        else:
            with_payload = rng.random() < 0.7
            meas = []
            outer = ["k"]
            for i, v in enumerate(pvars):
                meas.append(f"{v}.ts AS t{i}")
                outer.append(f"CAST(t{i} AS LONG) AS e{i}")
                if with_payload:
                    meas.append(f"{v}.v AS p{i}")
                    outer.append(f"p{i}")
            run_first_ok = kind in (
                "seq", "bounded", "timebound", "run", "disjoint"
            )
            if run_first_ok and rng.random() < 0.3:
                # FIRST() navigation: run legs bind it via the O(1)
                # first-row slot (round 8, incl. the funnel middle
                # run); bounded legs from the decision window;
                # single-mapped vars == LAST
                fv = rng.choice(pvars)
                meas.append(f"FIRST({fv}.ts) AS fnav_t")
                outer.append("CAST(fnav_t AS LONG) AS fnav_e")
                if with_payload:
                    meas.append(f"FIRST({fv}.v) AS fnav_v")
                    outer.append("fnav_v")
            if rng.random() < 0.3:
                # FIRST/LAST(V.col, n) logical offsets (round 9):
                # decision-window legs index their mapped rows; the
                # A+ B and A B+ C run matchers keep bounded last/first
                # payload histories natively (pend snapshots included);
                # single-mapped vars -> NULL
                nv = rng.choice(pvars)
                nnav = rng.choice(["FIRST", "LAST"])
                noffv = rng.choice([1, 1, 2, 3])
                meas.append(f"{nnav}({nv}.v, {noffv}) AS noff_v")
                outer.append("noff_v")
            if (
                kind in ("bounded", "seq", "run", "timebound", "disjoint")
                and "PREV" not in defines
                and "NEXT" not in defines
                and rng.random() < 0.5
            ):
                # aggregate measures compute from the decision window
                # (plain sequences reroute to the bounded leg for them;
                # navigation conjuncts are bounded-leg-rejected, so skip)
                av = rng.choice(pvars)
                fn = rng.choice(["COUNT", "SUM", "MIN", "MAX", "AVG"])
                meas.append(f"{fn}({av}.v) AS agv")
                outer.append("agv")
        # ~15% of every shape runs with a MULTI-column PARTITION BY
        # (k plus a NULL-bearing derived key): same partitions, so the
        # match set is identical — this exercises the composite-key
        # wrapper (round 8) across all legs, ALL ROWS included
        pby = "k"
        if rng.random() < 0.15:
            pby = "k, k2"
            df = df.withColumn(
                "k2",
                F.when(
                    F.col("k") == "k1", F.lit(None).cast("string")
                ).otherwise(F.upper("k")),
            )
            outer.insert(1, "k2")
        rows_mode = (
            "ALL ROWS PER MATCH WITH UNMATCHED ROWS"
            if unmatched
            else ("ALL ROWS PER MATCH" if all_rows else "ONE ROW PER MATCH")
        )
        stmt = f"""
            SELECT {', '.join(outer)} FROM __fuzz_stream
            MATCH_RECOGNIZE (
                PARTITION BY {pby}
                ORDER BY ts
                MEASURES {', '.join(meas)}
                {rows_mode}
                AFTER MATCH SKIP {skip}
                PATTERN ({pattern})
                {within}
                DEFINE {defines}
            )
            {f'WHERE v <> {TERM}' if unmatched else ''}
        """
        tried += 1
        kinds[kind] += 1
        df.createOrReplaceTempView("__fuzz_stream")
        try:
            batch = Counter(
                tuple(r) for r in router.execute(stmt).collect()
            )
        except Exception as e:
            failures += 1
            print(f"BATCH ERROR {pattern!r} {defines!r}: {e}", flush=True)
            continue
        try:
            streamed = run_stream_over_batch(
                spark,
                df,
                lambda s, stmt=stmt: eng.sql_stream(
                    stmt, {"__fuzz_stream": s}
                ),
                output_mode="append",
                n_files=rng.randint(3, 6),
                order_by="ts",
            )
            got = Counter(tuple(r) for r in streamed.collect())
        except Exception as e:
            failures += 1
            print(
                f"STREAM ERROR pattern={pattern!r} skip={skip!r} "
                f"within={within!r} defines={defines!r}: {e}",
                flush=True,
            )
            continue
        if got != batch:
            failures += 1
            print(
                f"MISMATCH pattern={pattern!r} skip={skip!r} "
                f"within={within!r} defines={defines!r}\n"
                f"  batch-only: {batch - got}\n  stream-only: {got - batch}",
                flush=True,
            )
        if tried % 10 == 0:
            print(f"... {tried}/{n_cases}, {failures} failures", flush=True)
    spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
    print(
        f"DONE {tried} cases, {failures} failures, by family "
        f"{dict(sorted(kinds.items()))}",
        flush=True,
    )
    return failures


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    sys.exit(1 if main(n, seed) else 0)
