"""One CEP matcher core: the row-pattern decisions every
MATCH_RECOGNIZE runtime shares.

The batch lowerings (``plans/match_recognize._lower_nfa`` and
``_lower_plus_overlap``) and the streaming decision-window driver
(``streaming/stateful.bounded_nfa_stream``) differ only in where rows
come from — one sorted partition, or a per-key window held in keyed
state. What a match IS, which start comes next, and what a match emits
is decided here, once:

- :func:`split_defines` — one cross-check builder: each DEFINE splits on
  top-level AND into row-local parts (compiled by the caller to a JVM
  flag column) and cross-variable parts, compiled once by
  ``compile_rich_cross`` and evaluated against the partial match;
- :func:`compile_navigation` — the row-local parts of every DEFINE
  for the streaming matchers: flag SQL plus the physical PREV/NEXT
  comparisons, parsed once for every stream leg;
- :func:`match_at` — the AST matcher over per-row variable bitmasks
  (SQL:2016 preference order, cross-variable and NEXT checks);
- :func:`next_start` / :func:`find_matches` — the AFTER MATCH skip walk;
- :func:`measure_fields` / :func:`measure_emitter` — measure typing and
  the one measure emitter. ONE ROW PER MATCH is the ALL ROWS emitter at
  the match's last row: there RUNNING equals FINAL and CLASSIFIER() is
  the last row's variable.

Agrawal et al. (SIGMOD 2008) make the same point for NFA^b: one
automaton runtime and one match buffer serve every pattern.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import pandas as pd

from .match_recognize import (
    _AGG_DEF_RE,
    _NAV_DEF_RE,
    _NEXT_RE,
    _PREV_RE,
    CLASSIFIER,
    MATCH_NUMBER,
    UnsupportedPatternError,
    _pred_at_offset,
    _split_top_and,
    compile_rich_cross,
    eval_rich_cross,
    rich_ref_columns,
)

_CMP_OPS = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<>": lambda a, b: a != b,
}


def _scalar(v):
    """numpy/pandas scalar -> plain python (None for NaN/NaT) for the
    GroupState tuple and for type-stable comparisons."""
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, pd.Timestamp):
        try:
            return item()
        except (TypeError, ValueError):
            return v
    return v


def _null(x) -> bool:
    try:
        return x is None or bool(pd.isna(x))
    except (TypeError, ValueError):
        return False  # non-scalar value: never NULL


def split_defines(spec, columns=None):
    """Split every variable's DEFINE on top-level AND. A part naming
    another pattern variable, a FIRST/LAST binding or an aggregate over
    mapped rows is a CROSS check: compiled once by
    ``compile_rich_cross`` and evaluated by :func:`match_at` against the
    partial match (the defining variable's mapped-so-far rows include
    the current candidate row, so ``LAST(B.v, 1)`` in B's DEFINE is the
    previous B row). Every other part is row-local.

    Returns ``(local, checks, cols)``: var -> row-local parts, var ->
    compiled checks, and the source columns the checks read. Raises
    UnsupportedPatternError for a cross part outside the expression
    subset."""
    local: dict[str, list[str]] = {}
    checks: dict[str, list[tuple]] = {}
    cols: set[str] = set()
    for v in dict.fromkeys(spec.pattern):
        local[v] = []
        for part in _split_top_and(spec.defines[v]):
            stripped = _NEXT_RE.sub("", _PREV_RE.sub("", part))
            foreign = (
                set(re.findall(r"\b([A-Za-z_]\w*)\s*\.", stripped)) - {v}
            )
            if not (
                foreign or _NAV_DEF_RE.search(part) or _AGG_DEF_RE.search(part)
            ):
                local[v].append(part)
                continue
            compiled = compile_rich_cross(part, v, spec.pattern, columns)
            if compiled is None:
                raise UnsupportedPatternError(
                    f"DEFINE for {v}: cross-variable predicate {part!r} is "
                    "outside the supported forms — an arithmetic/boolean "
                    "expression over current-row refs, FIRST/LAST "
                    "partial-match refs, and COUNT/SUM/AVG/MIN/MAX "
                    "aggregates over mapped rows"
                )
            checks.setdefault(v, []).append(compiled)
            cols |= rich_ref_columns(compiled[1])
    return local, checks, cols


_NAV_OPND = (
    r"(?:(?:PREV|NEXT)\s*\(\s*\w+\.\w+\s*(?:,\s*\d+)?\s*\)"
    r"|\w+(?:\.\w+)?|'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
)
_NAV_CMP_RE = re.compile(
    rf"^\s*(?P<l>{_NAV_OPND})\s*(?P<op><>|!=|>=|<=|=|>|<)\s*"
    rf"(?P<r>{_NAV_OPND})\s*$",
    re.IGNORECASE,
)


class Navigation(NamedTuple):
    """Row-local DEFINE parts compiled for a streaming matcher."""

    flags: dict  # var -> flag SQL (the navigation-free parts)
    prev: dict  # var -> [(lhs, op, rhs)], evaluated at row arrival
    nxt: dict  # var -> [(lhs, op, rhs)], evaluated at decision time
    prev_cols: list  # columns the PREV value history keeps
    next_cols: set  # columns NEXT comparisons read
    max_prev: int  # the PREV history depth
    next_off: dict  # var -> its largest NEXT offset

    def prev_spec(self, col_types, order=None):
        """A stream matcher's ``prev_spec`` (None without PREV): the
        checks per variable — a list in ``order`` when given —, the
        history columns, its depth and their SQL types."""
        if not self.max_prev:
            return None
        checks = self.prev
        if order is not None:
            checks = [self.prev.get(v, []) for v in order]
        types = {c: col_types[c] for c in self.prev_cols}
        return checks, self.prev_cols, self.max_prev, types


def compile_navigation(spec, local, columns) -> Navigation:
    """Compile the row-local parts ``local`` (from :func:`split_defines`)
    of every DEFINE for a streaming matcher. Parts without physical
    PREV/NEXT navigation recombine into one flag SQL per variable; each
    navigation part must be one comparison ``<operand> OP <operand>``
    whose operands are a column (a ``V.col`` qualifier is the defining
    variable's own: split_defines made every foreign one a cross check),
    a literal, ``PREV(V.col, n)`` or ``NEXT(V.col, n)``. Operands parse
    to ("prev"|"next", col, n), ("col", col) or ("lit", value) — the
    forms ``_next_ok`` and the stream PREV history read. Raises
    UnsupportedPatternError on any other navigation part, on PREV and
    NEXT in one comparison (they resolve at different times) and on a
    NEXT offset above 8 (the decision-wait bound)."""

    def operand(tok: str, v: str):
        tok = tok.strip()
        for regex, kind in ((_PREV_RE, "prev"), (_NEXT_RE, "next")):
            pm = regex.fullmatch(tok)
            if pm is not None:
                col, n = pm.group("pcol"), int(pm.group("n") or 1)
                break
        else:
            if tok.startswith("'"):
                return ("lit", tok[1:-1].replace("''", "'"))
            if re.fullmatch(r"-?\d+", tok):
                return ("lit", int(tok))
            if re.fullmatch(r"-?\d+\.\d+", tok):
                return ("lit", float(tok))
            if tok.upper() in ("TRUE", "FALSE", "NULL"):
                return ("lit", {"TRUE": True, "FALSE": False}.get(tok.upper()))
            kind, col, n = "col", tok.split(".")[-1], None
        if col not in columns:
            raise UnsupportedPatternError(
                f"DEFINE for {v}: unknown column {col!r} in a navigation "
                "comparison"
            )
        return (kind, col) if n is None else (kind, col, n)

    flags: dict[str, str] = {}
    prev: dict[str, list] = {}
    nxt: dict[str, list] = {}
    next_off: dict[str, int] = {}
    prev_cols: set[str] = set()
    next_cols: set[str] = set()
    max_prev = 0
    for v in dict.fromkeys(spec.pattern):
        plain: list[str] = []
        for part in local[v]:
            if not (_PREV_RE.search(part) or _NEXT_RE.search(part)):
                plain.append(part)
                continue
            body = part.strip()
            while body.startswith("(") and body.endswith(")"):
                body = body[1:-1].strip()
            cm = _NAV_CMP_RE.fullmatch(body)
            if cm is None:
                raise UnsupportedPatternError(
                    f"DEFINE for {v}: navigation conjunct {part!r} — over "
                    "a stream PREV/NEXT support plain comparisons "
                    "(<operand> OP <operand>, operands a column, literal, "
                    "PREV(col, n) or NEXT(col, n)); richer navigation "
                    "needs the batch window plan"
                )
            sides = (operand(cm.group("l"), v), operand(cm.group("r"), v))
            kinds = {sd[0] for sd in sides}
            if {"prev", "next"} <= kinds:
                raise UnsupportedPatternError(
                    f"DEFINE for {v}: conjunct {part!r} mixes PREV and NEXT "
                    "(arrival-time lookback and decision-time lookahead "
                    "cannot share one comparison over a stream) — split "
                    "it or use the batch window plan"
                )
            refs = {sd[1] for sd in sides if sd[0] != "lit"}
            check = (sides[0], cm.group("op"), sides[1])
            if "next" in kinds:
                n = max(sd[2] for sd in sides if sd[0] == "next")
                if n > 8:
                    raise UnsupportedPatternError(
                        f"DEFINE for {v}: NEXT offset {n} (the "
                        "decision-wait bound caps lookahead at 8 rows)"
                    )
                next_off[v] = max(next_off.get(v, 0), n)
                next_cols |= refs
                nxt.setdefault(v, []).append(check)
            else:
                max_prev = max(
                    [max_prev] + [sd[2] for sd in sides if sd[0] == "prev"]
                )
                prev_cols |= refs
                prev.setdefault(v, []).append(check)
        flags[v] = _pred_at_offset(
            " AND ".join(plain) if plain else "TRUE", v, 0, list(columns)
        )
    return Navigation(
        flags, prev, nxt, sorted(prev_cols), next_cols, max_prev, next_off
    )


def _next_ok(next_checks, i, n_rows, val_at) -> bool:
    """Physical NEXT(col, n) comparisons of one variable at row ``i``:
    ("next", col, n) reads row i + n, ("col", col) row i itself. A NULL
    operand, or a target past the last row, compares FALSE."""
    for lhs, op, rhs in next_checks:
        sides = []
        for sd in (lhs, rhs):
            if sd[0] == "lit":
                sides.append(sd[1])
            elif sd[0] == "col":
                sides.append(val_at(i, sd[1]))
            else:
                j = i + sd[2]
                sides.append(val_at(j, sd[1]) if j < n_rows else None)
        a, b = sides
        if a is None or b is None:
            return False
        try:
            if not _CMP_OPS[op](a, b):
                return False
        except TypeError:
            return False
    return True


def match_at(
    ast, masks, bits, s, lim, checks=None, val_at=None, next_checks=None
):
    """Preferred match anchored at row ``s``, as a list of (var, row),
    or None. Preference order is SQL:2016's: alternation branches
    left-first, quantifiers greedy (more repetitions first) unless
    lazy, sequences backtrack left-to-right, zero-width repetitions are
    skipped. Row i satisfies variable v iff bit ``bits[v]`` of
    ``masks[i]`` is set, i <= ``lim`` (the WITHIN / window horizon), its
    NEXT comparisons hold and its cross checks hold against the partial
    match. ``val_at(i, col)`` reads a row value (None/NaN = NULL)."""
    n_rows = len(masks)

    def ok(v, i, acc) -> bool:
        if i > lim or not masks[i] >> bits[v] & 1:
            return False
        if next_checks and not _next_ok(
            next_checks.get(v, ()), i, n_rows, val_at
        ):
            return False
        return not (checks and v in checks) or eval_rich_cross(
            checks[v], v, i, acc, val_at
        )

    def gen(node, i, acc):
        kind = node[0]
        if kind == "var":
            if ok(node[1], i, acc):
                yield [(node[1], i)]
            return
        if kind == "seq":
            children = node[1]

            def seq_gen(idx, j, acc2):
                if idx == len(children):
                    yield []
                    return
                for head in gen(children[idx], j, acc2):
                    for rest in seq_gen(idx + 1, j + len(head), acc2 + head):
                        yield head + rest

            yield from seq_gen(0, i, acc)
            return
        if kind == "alt":
            for child in node[1]:
                yield from gen(child, i, acc)
            return
        if kind == "permute":
            # matched-set automaton: state = (row, bitmask of matched
            # variables); declaration-order successor expansion makes
            # the first complete match the lexicographically preferred
            # ordering, at O(2^n * n) instead of O(n!). The dead-state
            # memo is sound only without cross checks (those make
            # matchability depend on the path, not the set).
            children = node[1]
            full = (1 << len(children)) - 1
            dead: set[tuple[int, int]] = set()
            use_memo = not checks

            def p_gen(j, mask, acc2):
                if mask == full:
                    yield []
                    return
                if use_memo and (j, mask) in dead:
                    return
                produced = False
                for bi, ch in enumerate(children):
                    if mask & (1 << bi):
                        continue
                    for head in gen(ch, j, acc2):
                        for rest in p_gen(
                            j + len(head), mask | (1 << bi), acc2 + head
                        ):
                            produced = True
                            yield head + rest
                if use_memo and not produced:
                    dead.add((j, mask))

            yield from p_gen(i, 0, acc)
            return
        _, child, lo, hi, lazy = node

        def q_gen(j, done, acc2):
            # Stop options follow the CHILD's preference order: a
            # zero-width child match IS the repetition the child
            # prefers at that point, so it becomes a STOP yielded in
            # sequence ((C*?){2,2}: the lazy child prefers empty, so
            # the quantifier prefers to consume nothing — Python re /
            # SQL row-pattern semantics).
            can_more = hi is None or done < hi
            yielded_stop = False
            if lazy and done >= lo:
                yield []
                yielded_stop = True
            if can_more:
                for head in gen(child, j, acc2):
                    if not head:
                        if not yielded_stop:
                            yield []
                            yielded_stop = True
                        continue
                    for rest in q_gen(j + len(head), done + 1, acc2 + head):
                        yield head + rest
            if not yielded_stop and done >= lo:
                yield []

        yield from q_gen(i, 0, acc)

    for mp in gen(ast, s, []):
        if mp:
            return mp
    return None


def next_start(mp, s, skip_past, skip_to) -> int:
    """Where matching resumes after match ``mp`` anchored at row ``s`` —
    the AFTER MATCH walk: SKIP TO NEXT ROW slides one, SKIP PAST LAST
    ROW resumes after the match, SKIP TO FIRST/LAST <var> resumes AT
    that variable's first/last mapped row (inclusive — overlapping
    matches by design; past the end when the variable mapped no row).
    A target equal to the match start raises, as Flink does."""
    if skip_to is not None:
        nav, tvar = skip_to
        rows_v = [i for v, i in mp if v == tvar]
        if not rows_v:
            return mp[-1][1] + 1
        t = rows_v[0] if nav == "FIRST" else rows_v[-1]
        if t <= s:
            raise ValueError(
                f"AFTER MATCH SKIP TO {nav} {tvar}: the skip target IS "
                "the match start — resuming there would loop forever "
                "(Flink raises the same error)"
            )
        return t
    return mp[-1][1] + 1 if skip_past else s + 1


def find_matches(match_from, n, skip_past, skip_to) -> list:
    """Walk starts 0..n-1 of one partition: ``match_from(s)`` gives the
    preferred match anchored at s (or None); the skip mode decides the
    next start."""
    matches, s = [], 0
    while s < n:
        mp = match_from(s)
        if mp:
            matches.append(mp)
            s = next_start(mp, s, skip_past, skip_to)
        else:
            s += 1
    return matches


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def measure_fields(spec, schema) -> list:
    """Output StructField per MEASURES item, typed from the source
    ``schema``: MATCH_NUMBER() bigint, CLASSIFIER() string, COUNT
    bigint, AVG double, SUM of an integral column bigint, every other
    measure the source column's type."""
    from pyspark.sql import types as T

    src = {f.name: f.dataType for f in schema.fields}
    fields = []
    for var, col, alias in spec.measures:
        fn = spec.measure_agg.get(alias)
        if var == MATCH_NUMBER or fn == "COUNT":
            dt: T.DataType = T.LongType()
        elif var == CLASSIFIER:
            dt = T.StringType()
        elif col not in src:
            raise UnsupportedPatternError(
                f"measure {alias}: unknown source column {col!r}"
            )
        elif fn == "AVG":
            dt = T.DoubleType()
        elif fn == "SUM" and src[col].simpleString() in _INTEGRAL:
            dt = T.LongType()
        else:
            dt = src[col]
        fields.append(T.StructField(alias, dt, True))
    return fields


def _agg(fn, vals):
    """COUNT/SUM/AVG/MIN/MAX over non-NULL values in mapped-row order
    (a sequential fold, so a reference can replay it exactly)."""
    if fn == "COUNT":
        return len(vals)
    if not vals:
        return None  # SQL: an empty aggregate is NULL
    if fn in ("SUM", "AVG"):
        total = vals[0]
        for x in vals[1:]:
            total = total + x
        return total if fn == "SUM" else float(total) / len(vals)
    return min(vals) if fn == "MIN" else max(vals)


def measure_emitter(spec, fields):
    """The one measure emitter: ``emit(mp, t, val_at, match_no)`` gives
    the MEASURES values for row ``t`` of match ``mp`` under ALL ROWS
    semantics — RUNNING (the default) scopes to the rows mapped so far,
    FINAL to the whole match; CLASSIFIER() is row t's variable; a
    variable with fewer than n+1 mapped rows measures NULL under
    FIRST/LAST(Var.col, n). ONE ROW PER MATCH is ``t = len(mp) - 1``.
    ``fields`` (from :func:`measure_fields`) casts integral measures
    back from float (a NULL-holding integer column reads as float)."""
    plan = [
        (
            var,
            col,
            spec.measure_modes.get(alias, "RUNNING") == "FINAL",
            spec.measure_agg.get(alias),
            spec.measure_nav.get(alias) == "FIRST",
            spec.measure_nav_offset.get(alias, 0),
            f.dataType.simpleString() in _INTEGRAL,
        )
        for (var, col, alias), f in zip(spec.measures, fields)
    ]

    def emit(mp, t, val_at, match_no) -> list:
        out = []
        for var, col, final, fn, first, noff, integral in plan:
            if var == MATCH_NUMBER:
                v = match_no
            elif var == CLASSIFIER:
                v = mp[t][0]
            else:
                rows = [j for w, j in (mp if final else mp[: t + 1]) if w == var]
                if fn is None:
                    v = (
                        None
                        if len(rows) <= noff
                        else val_at(rows[noff] if first else rows[-1 - noff], col)
                    )
                elif col == "*":
                    v = len(rows)
                else:
                    v = _agg(
                        fn,
                        [x for x in (val_at(j, col) for j in rows) if not _null(x)],
                    )
            if _null(v):
                v = None
            elif integral:
                v = int(v)
            out.append(v)
        return out

    return emit


def emit_frame(pdf, matches, spec, emit, val_at, int_cols):
    """One partition's batch output: ALL ROWS PER MATCH emits every
    matched input row not excluded by {- X -} (plus, WITH UNMATCHED
    ROWS, every row no match covers, with NULL measures) as
    ``pdf``'s columns + measures; ONE ROW PER MATCH emits the partition
    keys + measures. ``int_cols``: integral source columns, cast back
    from the float Arrow gives a NULL-holding integer column."""
    import numpy as np

    aliases = [alias for _, _, alias in spec.measures]
    if not spec.all_rows:
        # dtype=object: an EMPTY column would default to float64, which
        # Arrow cannot cast back to timestamp/long fields
        keys = [pdf[pc].iloc[0] for pc in spec.partition_by]
        return pd.DataFrame(
            [
                keys + emit(mp, len(mp) - 1, val_at, mn)
                for mn, mp in enumerate(matches, start=1)
            ],
            columns=list(spec.partition_by) + aliases,
            dtype=object,
        )
    idxs: list[int] = []
    vals: list[list] = []
    covered = np.zeros(len(pdf), dtype=bool)
    for mn, mp in enumerate(matches, start=1):
        for t, (var, j) in enumerate(mp):
            covered[j] = True
            if var not in spec.excluded:
                idxs.append(j)
                vals.append(emit(mp, t, val_at, mn))
    if spec.with_unmatched:
        rest = np.flatnonzero(~covered).tolist()
        idxs += rest
        vals += [[None] * len(aliases)] * len(rest)
    # source columns come from SLICING pdf: dtypes survive the Arrow
    # return (a list-built frame would turn empty/NaN columns into
    # float64 and break the cast back to timestamp)
    base = pdf.iloc[idxs].reset_index(drop=True)
    for c in int_cols:
        if base[c].dtype.kind == "f":
            base[c] = base[c].astype("Int64")
    return pd.concat(
        [base, pd.DataFrame(vals, columns=aliases, dtype=object)], axis=1
    )
