"""Adversarial CEP fuzz: random supported patterns vs Python's re engine.

Python re is an INDEPENDENT leftmost-greedy backtracking matcher with the
same preference semantics SQL row patterns specify (greedy/lazy
quantifiers, first-alternative) — so for eq-literal DEFINEs over a char
column, per-start match spans must agree exactly.

Grammar covered (round 7 widened): sequences, alternation groups, nested
groups, all quantifier forms incl. reluctant, WITHIN, both skip modes,
AFTER MATCH SKIP TO FIRST/LAST <var> (reference models the resume walk
and the Flink loop-forever error), PATTERN (PERMUTE (...)) (reference =
alternation over permutations in listed order, SQL:2016 preference), and
{- X -} exclusions (comparison is the exact emitted row set per match,
not just the span, so output suppression is verified row-for-row).

Because every DEFINE is an eq-literal on a per-variable DISTINCT char,
the row->variable mapping of any match is recoverable from the input
chars alone — which is what lets the reference model SKIP TO targets and
exclusion sets without instrumenting the regex.

The OVERLAP family (~40% of the sequential-grammar cases) breaks that
on purpose: each variable accepts a char SET (``A AS A.et IN ('a',
'b')``, ``B AS B.et IN ('b', 'c')``) and the reference uses the
matching character classes, so the alternatives of an ``(X|Y)`` group
can match the same row and only the SQL:2016 preference order (left
alternative first) decides which one maps it. Each variable becomes a
named group; for a variable outside every quantifier the group's
capture is the one row it maps, and the engine's CLASSIFIER() at that
row must name it. The family compares spans + those classifiers under
SKIP TO NEXT ROW / SKIP PAST LAST ROW, without exclusions.

Every fourth case, and every overlap case, also streams: the same
statement runs through ``Engine.sql_stream`` over a micro-batched replay
(``streaming/parity.run_stream_over_batch``) and is checked against the
same ``re`` reference — an oracle independent of the CEP core both the
batch NFA and the stream's decision window share. Each key of a stream
case is padded with non-matching ``x`` rows so every start is decided
(Lmax rows for a bounded pattern, one row past the WITHIN horizon, or
one break row); the reference sees the same padded string.
"""
import itertools
import random
import sys

sys.path.insert(0, ".")
import re as pyre

from training_flink_sql_cc_src_spark.engine import Engine
from training_flink_sql_cc_src_spark.plans.match_recognize import (
    UnsupportedPatternError,
)
from training_flink_sql_cc_src_spark.plans.router import StatementRouter
from training_flink_sql_cc_src_spark.session import get_spark
from training_flink_sql_cc_src_spark.streaming.parity import (
    run_stream_over_batch,
)

VARS = ["A", "B", "C", "D"]
CHARS = {"A": "a", "B": "b", "C": "c", "D": "d"}
# wider variable pool for PERMUTE (the matched-set automaton lowers up
# to 8); the sequential grammar keeps the 4-variable pool so quantified
# shapes stay within the LEAD-chain caps
PERM_VARS = ["A", "B", "C", "D", "E", "G", "H"]
PERM_CHARS = dict(CHARS, E="e", G="g", H="h")


def rand_pattern(rng, depth=0):
    """Return (engine_pattern, py_regex, used_vars, excluded_vars)."""
    n_terms = rng.randint(2, 3) if depth == 0 else rng.randint(1, 2)
    terms, regexes, used = [], [], []
    excluded: set[str] = set()
    avail = [v for v in VARS]
    rng.shuffle(avail)
    for _ in range(n_terms):
        kind = rng.random()
        excludable = None
        if kind < 0.55 or depth >= 2 or len(avail) < 2:
            if not avail:
                break
            v = avail.pop()
            used.append(v)
            base_e, base_r = v, CHARS[v]
            excludable = v
        elif kind < 0.8:
            # alternation group of single vars
            k = min(2, len(avail))
            vs = [avail.pop() for _ in range(k)]
            used += vs
            base_e = "(" + "|".join(vs) + ")"
            base_r = "(?:" + "|".join(CHARS[v] for v in vs) + ")"
        else:
            # nested sequence group
            sub_e, sub_r, sub_used, sub_excl = rand_pattern(rng, depth + 1)
            for v in sub_used:
                if v in avail:
                    avail.remove(v)
            used += sub_used
            excluded |= sub_excl
            base_e = "(" + sub_e + ")"
            base_r = "(?:" + sub_r + ")"
        q = rng.random()
        if q < 0.45:
            quant = ""
        elif q < 0.6:
            quant = "+"
        elif q < 0.7:
            quant = "*"
        elif q < 0.8:
            quant = "?"
        elif q < 0.9:
            lo = rng.randint(0, 2)
            hi = rng.randint(max(lo, 1), 3)
            quant = "{%d,%d}" % (lo, hi)
        else:
            quant = "{%d,}" % rng.randint(1, 2)
        if quant and rng.random() < 0.25:
            quant += "?"  # reluctant
        term_e = base_e + quant
        if excludable is not None and rng.random() < 0.2:
            # {- X -} / {- X+ -}: matched normally, rows suppressed
            term_e = "{- " + term_e + " -}"
            excluded.add(excludable)
        terms.append(term_e)
        regexes.append(base_r + quant)
    if not terms:
        v = avail.pop() if avail else "A"
        used.append(v)
        terms, regexes = [v], [CHARS[v]]
    return " ".join(terms), "".join(regexes), used, excluded


def wide_pattern(rng):
    """Bounded pattern whose alternation-choice x quantifier-length
    product exceeds the 64-variant / 12-row LEAD-chain budget — the
    round-11 re-route through the generator NFA (previously a loud
    UnsupportedPatternError). Counts >= 5 per quantified position force
    the product over the cap; a required tail variable keeps min_len
    >= 1. The reference regex is the same bounded expression, so the
    NFA's greedy/reluctant preference is cross-checked exactly."""
    while True:
        k = rng.choice([2, 2, 3])
        vs = rng.sample(VARS, k + 1)
        terms, regexes = [], []
        n_variants, max_len = 1, 1  # required tail contributes 1 row
        for v in vs[:-1]:
            lo = rng.randint(0, 2)
            hi = rng.randint(lo + 4, 8)
            lazy = "?" if rng.random() < 0.3 else ""
            terms.append("%s{%d,%d}%s" % (v, lo, hi, lazy))
            regexes.append("%s{%d,%d}%s" % (CHARS[v], lo, hi, lazy))
            n_variants *= hi - lo + 1
            max_len += hi
        # ADVICE r11: k=2 draws like A{0,4} B{0,4} C give 25 variants /
        # 9 rows and stay on the LEAD-chain path, so part of the "wide"
        # slice never reached the NFA re-route it exists to test.
        # Regenerate until the product really exceeds the 64-variant /
        # 12-row LEAD budget (the engine's cap in plans/match_recognize).
        if n_variants > 64 or max_len > 12:
            break
    tail = vs[-1]
    terms.append(tail)
    regexes.append(CHARS[tail])
    return " ".join(terms), "".join(regexes), vs, set()


def permute_pattern(rng):
    """PATTERN (PERMUTE (X, Y[, ...])): reference is the alternation of
    all orderings with listed-order (lexicographic) preference — exactly
    what itertools.permutations + first-alternative regex preference
    gives. k <= 4 exercises the LEAD-chain lowering, k >= 5 the
    matched-set automaton node (round 11; reference regex stays the
    explicit k! alternation, so the automaton is cross-checked against
    the factorial semantics it replaced)."""
    k = rng.choice([2, 2, 3, 3, 4, 5, 5, 6, 7])
    vs = rng.sample(PERM_VARS, k)
    pat_e = "PERMUTE (" + ", ".join(vs) + ")"
    pat_r = (
        "(?:"
        + "|".join(
            "".join(PERM_CHARS[v] for v in p)
            for p in itertools.permutations(vs)
        )
        + ")"
    )
    return pat_e, pat_r, vs, set()


def min_len_ok(py_regex):
    # at least one required position (engine rejects fully-optional)
    return pyre.match(py_regex, "") is None


def decision_pad(py_regex, within):
    """Trailing ``x`` rows that decide every start of a streamed key:
    Lmax rows for a bounded pattern, one row past the WITHIN horizon
    (rows are 1 s apart), and at least one break row."""
    lmax = pyre._parser.parse(py_regex).getwidth()[1]
    pad = lmax if lmax < 1000 else 1
    return max(pad, within + 1 if within else 0)


def overlap_defines(rng, used, pat_e):
    """Char-set DEFINEs for the overlap family: each variable accepts its
    own char and, 60% of the time, another used variable's; the two
    alternatives of an ``(X|Y)`` group share a char 80% of the time, so
    one row can match either. Returns (defines SQL, var -> sorted char
    set)."""
    sets = {v: {CHARS[v]} for v in used}
    for v in used:
        others = [o for o in used if o != v]
        if others and rng.random() < 0.6:
            sets[v].add(CHARS[rng.choice(others)])
    for pair in pyre.findall(r"\((\w)\|(\w)\)", pat_e):
        if rng.random() < 0.8:
            x, y = rng.sample(pair, 2)
            sets[y].add(CHARS[x])
    sets = {v: sorted(c) for v, c in sets.items()}
    defines = ", ".join(
        f"{v} AS {v}.et IN ({', '.join(repr(c) for c in sets[v])})"
        for v in sorted(sets)
    )
    return defines, sets


def class_regex(py_regex, sets):
    """The reference regex with each variable's char replaced by a named
    group over its char class: ``a`` -> ``(?P<A>[ab])``."""
    var_of = {c: v for v, c in CHARS.items()}
    return pyre.sub(
        "[a-d]",
        lambda m: f"(?P<{var_of[m[0]]}>[{''.join(sets[var_of[m[0]]])}])",
        py_regex,
    )


def pinned_vars(py_regex):
    """Named groups outside every quantifier: in a match each maps at
    most one row, the row its group captured (inside a repeat the
    capture is only the last iteration's, so those are not compared)."""
    tree = pyre._parser.parse(py_regex)
    names = {gid: v for v, gid in tree.state.groupdict.items()}
    out = set()

    def walk(items):
        for op, av in items:
            if op is pyre._constants.SUBPATTERN:
                if av[0] in names:
                    out.add(names[av[0]])
                walk(av[-1])
            elif op is pyre._constants.BRANCH:
                for branch in av[1]:
                    walk(branch)

    walk(tree)
    return out


def match_spans(rows, pins=None):
    """Emitted row set per match, keyed (partition, match_number). With
    ``pins`` (span -> ((seq, var), ...)) each span also carries the
    engine's CLASSIFIER() at the pinned rows."""
    spans, cls = {}, {}
    for r in rows:
        spans.setdefault((r.user_id, r.mn), []).append(r.seq)
        if pins is not None:
            cls[r.user_id, r.mn, r.seq] = r.cls
    out = []
    for km, seqs in spans.items():
        span = tuple(sorted(seqs))
        if pins is None:
            out.append(span)
        else:
            out.append(
                (span, tuple((q, cls[(*km, q)]) for q, _ in pins.get(span, ())))
            )
    return sorted(out)


def run_or_error(fn):
    """(rows, None), or ([], "loop") for the Flink loop-forever walk
    error; any other exception propagates."""
    try:
        return fn(), None
    except (NotImplementedError, UnsupportedPatternError):
        raise
    except Exception as e:
        if "loop forever" in str(e):
            return [], "loop"
        raise


def main(n_cases, seed):
    rng = random.Random(seed)
    spark = get_spark("fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    router = StatementRouter(spark)
    eng = Engine(spark)
    failures = 0
    tried = 0
    streamed = 0
    n_overlap = 0
    while tried < n_cases:
        roll = rng.random()
        if roll < 0.12:
            pat_e, pat_r, used, excl = permute_pattern(rng)
        elif roll < 0.22:
            pat_e, pat_r, used, excl = wide_pattern(rng)
        else:
            pat_e, pat_r, used, excl = rand_pattern(rng)
        overlap = roll >= 0.22 and rng.random() < 0.4
        if (
            len(set(used)) != len(used)
            or not min_len_ok(pat_r)
            or (overlap and excl)
        ):
            continue
        pinned = set()
        if overlap:
            defines, sets = overlap_defines(rng, used, pat_e)
            pat_r = class_regex(pat_r, sets)
            pinned = pinned_vars(pat_r)
            n_overlap += 1
        else:
            defines = ", ".join(
                f"{v} AS {v}.et = '{PERM_CHARS[v]}'"
                for v in sorted(set(used))
            )
        alphabet = [PERM_CHARS[v] for v in used] + ["x"]
        # ~30% of cases: THREE partitions incl. a NULL key (a NULL
        # partition key is its own group — the round-8 null-safe
        # skip-filter join contract), each with independent data
        multi = rng.random() < 0.3
        keys = [1, None, 2] if multi else [1]
        def _key_string():
            n = rng.randint(max(3, len(used)), 14 + 2 * len(used))
            chars = [rng.choice(alphabet) for _ in range(n)]
            if len(used) >= 5 and rng.random() < 0.7:
                # wide PERMUTE: a random-ordered full variable window,
                # spliced in so the matched-set automaton actually fires
                # (uniform draws almost never produce a 5-7 permutation)
                perm = [PERM_CHARS[v] for v in used]
                rng.shuffle(perm)
                at = rng.randint(0, max(0, n - len(perm)))
                chars[at:at + len(perm)] = perm
            return "".join(chars)

        key_types = {k: _key_string() for k in keys}
        tried += 1
        # skip mode: NEXT ROW / PAST LAST ROW / TO FIRST|LAST <var>
        # (the overlap family draws NEXT / PAST only: a SKIP TO target
        # row is not recoverable from the chars there)
        sk = rng.random() * (0.7 if overlap else 1)
        if sk < 0.35:
            skip_mode = ("NEXT",)
        elif sk < 0.7:
            skip_mode = ("PAST",)
        else:
            skip_mode = (rng.choice(["FIRST", "LAST"]), rng.choice(used))
        if skip_mode[0] == "NEXT":
            skip_sql = "SKIP TO NEXT ROW"
        elif skip_mode[0] == "PAST":
            skip_sql = "SKIP PAST LAST ROW"
        else:
            skip_sql = f"SKIP TO {skip_mode[0]} {skip_mode[1]}"
        # WITHIN k seconds with ts = seq seconds: only rows s..s+k are
        # reachable from start s — the reference matches against the
        # TRUNCATED input (greedy behavior beyond the horizon included)
        within = rng.randint(1, 6) if rng.random() < 0.3 else None
        # every overlap case streams too: the decision window is the
        # leg that runs plain sequences and alternation groups
        stream_case = tried % 4 == 0 or overlap
        if stream_case:
            pad = "x" * decision_pad(pat_r, within)
            key_types = {k: t + pad for k, t in key_types.items()}
        rows, seq_off, off = [], {}, 0
        for k in keys:
            seq_off[k] = off
            for i, tch in enumerate(key_types[k]):
                rows.append((k, off + i, tch))
            off += len(key_types[k])
        data = spark.createDataFrame(
            rows, "user_id int, seq int, et string"
        ).selectExpr(
            "user_id", "seq", "et",
            "timestamp_seconds(seq) AS ts"
        )
        data.createOrReplaceTempView("__fuzz")
        stmt = f"""
                SELECT user_id, seq, mn{', cls' if overlap else ''}
                FROM __fuzz
                MATCH_RECOGNIZE (
                    PARTITION BY user_id
                    ORDER BY ts, seq
                    MEASURES MATCH_NUMBER() AS mn
                        {', CLASSIFIER() AS cls' if overlap else ''}
                    ALL ROWS PER MATCH
                    AFTER MATCH {skip_sql}
                    PATTERN ({pat_e})
                    {f"WITHIN INTERVAL '{within}' SECOND" if within else ''}
                    DEFINE {defines}
                )
                """
        try:
            got_rows, engine_err = run_or_error(
                lambda: router.execute(stmt).collect()
            )
        except (NotImplementedError, UnsupportedPatternError) as e:
            print(f"SKIP unsupported: {pat_e!r}: {e}", flush=True)
            continue
        except Exception as e:
            failures += 1
            print(
                f"ENGINE ERROR pattern={pat_e!r} skip={skip_sql!r} "
                f"types={key_types!r}: {e}",
                flush=True,
            )
            continue
        rx = pyre.compile(pat_r)
        excl_chars = {PERM_CHARS[v] for v in excl}

        def expected_for(ktypes: str):
            """Per-partition reference: (kept spans, want_err, per
            start the (row, var) pairs of its pinned variables)."""
            per_start, row_pins = {}, {}
            for st in range(len(ktypes)):
                hay = (
                    ktypes if within is None else ktypes[: st + within + 1]
                )
                m = rx.match(hay, st)
                if m and m.end() > st:
                    per_start[st] = m.end() - 1
                    row_pins[st] = tuple(
                        sorted(
                            (m.start(v), v)
                            for v in pinned
                            if m.group(v) is not None
                        )
                    )
            if skip_mode[0] == "NEXT":
                return sorted(per_start.items()), None, row_pins
            # shared walk: keep a match when it starts at/after the
            # resume cursor; the skip mode decides the next cursor
            kept, cur = [], 0
            for st in sorted(per_start):
                if st < cur:
                    continue
                e = per_start[st]
                kept.append((st, e))
                if skip_mode[0] == "PAST":
                    cur = e + 1
                else:
                    nav, tvar = skip_mode
                    vpos = [
                        j
                        for j in range(st, e + 1)
                        if ktypes[j] == PERM_CHARS[tvar]
                    ]
                    if not vpos:
                        # target unmatched: resume past the end
                        cur = e + 1
                        continue
                    t = vpos[0] if nav == "FIRST" else vpos[-1]
                    if t <= st:
                        # resume target IS the match start: the engine
                        # raises Flink's loop-forever error
                        return kept, "loop", row_pins
                    cur = t
            return kept, None, row_pins

        want, want_err, pins = [], None, {}
        for k in keys:
            kept, err, row_pins = expected_for(key_types[k])
            if err:
                want_err = err
                break
            for st, e in kept:
                emitted = tuple(
                    seq_off[k] + j
                    for j in range(st, e + 1)
                    if key_types[k][j] not in excl_chars
                )
                if not emitted:
                    continue
                pins[emitted] = tuple(
                    (seq_off[k] + j, v) for j, v in row_pins[st]
                )
                want.append((emitted, pins[emitted]) if overlap else emitted)
        want.sort()

        def check(leg, got_rows, engine_err):
            """1 on a mismatch with the reference, else 0."""
            if engine_err or want_err:
                if engine_err == want_err:
                    return 0
                print(
                    f"ERROR MISMATCH [{leg}] pattern={pat_e!r} "
                    f"skip={skip_sql!r} types={key_types!r}: "
                    f"engine={engine_err} want={want_err}",
                    flush=True,
                )
                return 1
            got = match_spans(got_rows, pins if overlap else None)
            if got == want:
                return 0
            print(
                f"MISMATCH [{leg}] pattern={pat_e!r} regex={pat_r!r} "
                f"skip={skip_sql!r} within={within!r} types={key_types!r}\n"
                f"  got ={got}\n  want={want}",
                flush=True,
            )
            return 1

        failures += check("batch", got_rows, engine_err)
        if stream_case:
            try:
                s_rows, s_err = run_or_error(
                    lambda: run_stream_over_batch(
                        spark,
                        data,
                        lambda s: eng.sql_stream(stmt, {"__fuzz": s}),
                        output_mode="append",
                        n_files=3,
                        order_by="ts",
                    ).collect()
                )
                streamed += 1
                failures += check("stream", s_rows, s_err)
            except (NotImplementedError, UnsupportedPatternError) as e:
                print(f"SKIP stream unsupported: {pat_e!r}: {e}", flush=True)
            except Exception as e:
                failures += 1
                print(
                    f"STREAM ERROR pattern={pat_e!r} skip={skip_sql!r} "
                    f"types={key_types!r}: {e}",
                    flush=True,
                )
        tried_tick(tried, n_cases, failures)
    print(
        f"DONE: {tried} cases ({streamed} streamed, {n_overlap} "
        f"overlap), {failures} failures",
        flush=True,
    )
    return 1 if failures else 0


def tried_tick(tried, n_cases, failures):
    if tried % 25 == 0:
        print(f"... {tried}/{n_cases} ({failures} failures)", flush=True)


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
