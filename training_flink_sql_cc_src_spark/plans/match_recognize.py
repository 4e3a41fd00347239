"""MATCH_RECOGNIZE → LEAD-chain lowering (SURVEY.md §2.6 CEP surface).

Flink SQL (1.19) exposes CEP as row-pattern matching; the reference course
scope includes it even though the four labs' attested statements don't use
it. Spark SQL has no MATCH_RECOGNIZE, so the router lowers the
*adjacent-sequence subset* — the funnel shape the labs teach — to the same
LEAD-over-ordered-partition machinery as queries/time_windows.pattern_funnel:

  supported:   PATTERN (A B), (A B C), … — plain variable sequences —
               with any mix of BOUNDED quantifiers ``A{n}`` / ``A{n,m}``
               / ``A?`` (0 <= n <= m <= 8, so optional and zero-or-up-to
               variables included) and alternation groups ``(X|Y)``,
               lowered as the cross-product union of fixed-length
               LEAD-chain variants in Flink's regex preference order
               (earlier positions dominate; quantifiers greedy-longest
               first, alternatives in declaration order; past 64
               variants / 12 rows the pattern re-routes through the
               generator-NFA lowering — same semantics, per-key matcher
               instead of window variants — and the pattern must not be
               able to match an empty sequence), OR the unbounded run shape
               ``A+ B`` / ``A{n,} B`` / ``A* B`` (disjoint DEFINEs with
               min run >= 1: exact gaps-and-islands lowering — no NFA
               needed because backtracking provably cannot help;
               OVERLAPPING DEFINEs — a row may satisfy both variables —
               and any zero-min run dispatch to the per-key
               Arrow-batched greedy matcher _lower_plus_overlap with
               true backtracking semantics and both AFTER MATCH modes;
               {n,} requires n run rows from each start, A*'s empty run
               falls back to the bare B row); an unchosen alternation
               variable's (or zero-length variable's) measures are
               NULL; DEFINE on current-row predicates
               (``A AS A.col = lit`` or bare column refs, which bind to
               the defining variable's row per Flink semantics; implicit
               always-true for variables without a DEFINE) — including
               CROSS-VARIABLE references (``B AS B.price > A.price``,
               bounded patterns: X.col resolves per variant to X's last
               row matched before the current offset, NULL if not yet
               matched, the Flink already-matched-rows semantics) — with
               ``PREV(ownvar.col[, n])`` navigation — a fixed earlier
               offset of the adjacent sequence, raising when it reaches
               before the match start — and ``FIRST/LAST(X.col[, n])``
               navigation over mapped-so-far rows inside DEFINE (own
               variable includes the current row; out-of-range -> NULL)
               — MEASURES
               of ``Var.col AS alias`` (a quantified variable's measure =
               its LAST mapped row, the Flink default) and
               ``FIRST(Var.col)`` / ``LAST(Var.col)`` navigation to the
               first/last mapped row, optionally
               prefixed RUNNING/FINAL (ALL ROWS: RUNNING is NULL until
               the variable's row is reached, FINAL shows the complete
               match's value on every row), ``CLASSIFIER() AS alias``
               and ``MATCH_NUMBER() AS alias`` (sequential per
               partition, ranked over the matched subset on the same
               window partitioning — no extra exchange), aggregate
               measures ``COUNT/SUM/AVG/MIN/MAX(Var.col)`` /
               ``COUNT(Var.*)`` over the variable's mapped rows
               (per-variant expressions for bounded shapes,
               suffix-window aggregates over the run id for A+/A{n,};
               under ALL ROWS they are RUNNING prefix aggregates by
               default, FINAL on request — bounded shapes only), ONE ROW
               PER MATCH, ALL ROWS PER
               MATCH (incl. quantified/optional patterns — each match
               explodes to its own variant's length; running-measure
               semantics — a measure on a not-yet-reached variable is
               NULL, a multiply-mapped variable reads its last mapped
               row at-or-before the current one),
               optionally WITH UNMATCHED ROWS (uncovered rows emit once
               with NULL measures; coverage via max_len-1 LAGs of the
               matched index on the same window, length-aware for
               variable-length variants — no extra exchange),
               AFTER MATCH SKIP TO NEXT ROW (always), SKIP PAST LAST ROW
               (plain sequences: only with provably pairwise-disjoint
               predicates — equality on one shared column with distinct
               literals — so matches can never share rows and greedy
               skipping equals keep-everything; A+/A{n,} runs: any
               DEFINEs, the run lowerings skip natively), optional
               WITHIN INTERVAL bound.
  unsupported: unbounded quantifiers beyond the two-variable run shape
               (e.g. A* mid-sequence), NEXT inside DEFINE, PREV over
               another variable or past the match start, cross-variable
               or FIRST/LAST DEFINEs inside the unbounded run shape,
               aggregate
               measures under ALL ROWS for the unbounded run shape —
               these need a real (unbounded) NFA; the router raises the
               instructive error pointing at pattern_funnel /
               applyInPandasWithState instead.

Lowering: one Window partitionBy(PARTITION BY).orderBy(ORDER BY); row i
binds variable k via LEAD(struct(cols), k); the match predicate is the
conjunction of every DEFINE applied at its offset (+ the WITHIN bound on
the last offset's order column). One shuffle on the partition key — the
same plan shape Flink's CEP operator keys its state by, and the 100 TB
story is identical to every other keyed window here.
"""

from __future__ import annotations

import ast
import os
import re
from dataclasses import dataclass
from dataclasses import field as dataclasses_field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class UnsupportedPatternError(NotImplementedError):
    """Pattern outside the adjacent-sequence subset."""


_MR_HEAD_RE = re.compile(
    r"FROM\s+`?(?P<tbl>\w+)`?\s+MATCH_RECOGNIZE\s*\(", re.IGNORECASE
)
_CLAUSES_RE = re.compile(
    r"PARTITION\s+BY\s+(?P<pby>.+?)\s+"
    r"ORDER\s+BY\s+(?P<oby>.+?)\s+"
    r"MEASURES\s+(?P<measures>.+?)\s+"
    r"(?:(?P<rows_mode>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+"
    r"(?:WITH\s+UNMATCHED\s+ROWS\s+)?)?"
    r"(?:AFTER\s+MATCH\s+(?P<skip>SKIP\s+PAST\s+LAST\s+ROW|"
    r"SKIP\s+TO\s+NEXT\s+ROW|SKIP\s+TO\s+(?:FIRST|LAST)\s+\w+)\s+)?"
    r"PATTERN\s*\(\s*(?P<pattern>"
    r"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*?)\s*\)\s*"
    r"(?:WITHIN\s+INTERVAL\s+'(?P<within_n>\d+)'\s+(?P<within_unit>\w+)\s+)?"
    r"DEFINE\s+(?P<define>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MEASURE_RE = re.compile(
    r"^(?:(?P<mode>RUNNING|FINAL)\s+)?"
    r"(?:(?P<nav>FIRST|LAST)\s*\(\s*(?P<nvar>\w+)\.(?P<ncol>\w+)"
    r"\s*(?:,\s*(?P<noff>\d+))?\s*\)"
    r"|(?P<var>\w+)\.(?P<col>\w+))"
    r"\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)
_CLASSIFIER_RE = re.compile(
    r"^CLASSIFIER\s*\(\s*\)\s+AS\s+(?P<alias>\w+)$", re.IGNORECASE
)
_MATCH_NUMBER_RE = re.compile(
    r"^MATCH_NUMBER\s*\(\s*\)\s+AS\s+(?P<alias>\w+)$", re.IGNORECASE
)
_AGG_MEASURE_RE = re.compile(
    r"^(?:(?P<mode>RUNNING|FINAL)\s+)?"
    r"(?P<fn>COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(?P<var>\w+)\.(?P<col>\w+|\*)\s*\)"
    r"\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)
# sentinel vars for CLASSIFIER() / MATCH_NUMBER() measures (not column refs)
CLASSIFIER = "__classifier__"
MATCH_NUMBER = "__match_number__"
_DEFINE_RE = re.compile(r"^(?P<var>\w+)\s+AS\s+(?P<pred>.+)$", re.IGNORECASE | re.DOTALL)
_PREV_RE = re.compile(
    r"\bPREV\s*\(\s*(?P<pvar>\w+)\.(?P<pcol>\w+)\s*(?:,\s*(?P<n>\d+))?\s*\)",
    re.IGNORECASE,
)
_NEXT_RE = re.compile(
    r"\bNEXT\s*\(\s*(?P<pvar>\w+)\.(?P<pcol>\w+)\s*(?:,\s*(?P<n>\d+))?\s*\)",
    re.IGNORECASE,
)
# FIRST/LAST(X.col[, n]) inside DEFINE: logical navigation over X's
# mapped-so-far rows — resolved per variant in _pred_at_offset
_NAV_DEF_RE = re.compile(
    r"\b(?P<nav>FIRST|LAST)\s*\(\s*(?P<nvar>\w+)\.(?P<ncol>\w+)\s*"
    r"(?:,\s*(?P<n>\d+))?\s*\)",
    re.IGNORECASE,
)
_EQ_LIT_RE = re.compile(
    r"^\s*\w+\.(?P<col>\w+)\s*=\s*(?P<lit>'[^']*'|[0-9.]+)\s*$"
)
# Spark simple types an unquoted _EQ_LIT_RE literal compares with by value
# (decimal(p,s) besides)
_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


@dataclass
class MatchRecognizeSpec:
    table: str
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[str, str, str]]  # (var, col, alias)
    pattern: list[str]  # flat variable list (membership / quant lookups)
    defines: dict[str, str]  # var -> raw predicate text
    skip_past_last: bool
    within_seconds: int | None
    span: tuple[int, int]  # [start, end) of "FROM tbl MATCH_RECOGNIZE(...)"
    out_alias: str | None
    # first bounded quantifier: (var, lo, hi) — kept for the guards and
    # the streaming leg's shape checks; ``quants`` holds every one
    quant: tuple[str, int, int] | None = None
    # every bounded quantifier: var -> (lo, hi), 0 <= lo <= hi <= 8
    # (``VAR?`` parses as {0,1}); the lowering expands the per-position
    # cross product of lengths/alternatives into fixed-length variants
    quants: dict[str, tuple[int, int]] = dataclasses_field(
        default_factory=dict
    )
    # ALL ROWS PER MATCH: emit every matched input row (running-measure
    # semantics) instead of one summary row per match
    all_rows: bool = False
    # explicit RUNNING/FINAL per measure alias (default: RUNNING under
    # ALL ROWS, FINAL under ONE ROW — the Flink defaults)
    measure_modes: dict[str, str] = dataclasses_field(default_factory=dict)
    # per sequence position: the alternative variables that may bind it
    # (singleton lists except for one optional (X|Y) alternation group)
    positions: list[list[str]] = dataclasses_field(default_factory=list)
    # PATTERN (A+ B) / (A{n,} B): (run_var, next_var, min_run) —
    # unbounded maximal-run shape, lowered via gaps-and-islands
    # (disjoint DEFINEs) or the applyInPandas greedy matcher (overlapping)
    plus: tuple[str, str, int] | None = None
    # True when the A+ B DEFINEs are NOT provably disjoint — a row may
    # satisfy both variables, so greedy backtracking matters and the
    # lowering dispatches to the per-key Arrow-batched matcher
    plus_overlap: bool = False
    # ALL ROWS PER MATCH WITH UNMATCHED ROWS: also emit rows covered by
    # NO match, once, with NULL measures
    with_unmatched: bool = False
    # FIRST/LAST navigation per measure alias (default: LAST, the Flink
    # bare-Var.col behavior on multiply-mapped variables)
    measure_nav: dict[str, str] = dataclasses_field(default_factory=dict)
    # FIRST/LAST logical offset per measure alias (SQL:2016
    # FIRST(A.col, n) = the (n+1)-th mapped A row, LAST(A.col, n) = the
    # n-th-from-last; offset past the mapped count yields NULL). Default 0.
    measure_nav_offset: dict[str, int] = dataclasses_field(
        default_factory=dict
    )
    # AFTER MATCH SKIP PAST LAST ROW where per-start greedy matches may
    # OVERLAP (quantifiers, or non-disjoint DEFINEs): the lowering keeps
    # every start's greedy candidate, then a per-key sequential pass over
    # the (tiny) candidate set keeps the leftmost non-overlapping chain —
    # the NFA's skip semantics, without guarding the combination away
    skip_filter: bool = False
    # general unbounded quantifiers (VAR+ / VAR* / VAR{n,}) at arbitrary
    # positions: var -> min run; dispatches to the per-key NFA matcher
    # (_lower_nfa) when the pattern is not the special-cased A+ B shape
    unbounded: dict[str, int] = dataclasses_field(default_factory=dict)
    # QUANTIFIED alternation groups — (B|C)+ / (B|C){n,m} / (B|C)? —
    # position index -> (lo, hi|None, lazy); each repetition matches ANY
    # alternative (leftmost-preferred assignment). Always the NFA matcher.
    pos_quants: dict[int, tuple[int, int | None, bool]] = dataclasses_field(
        default_factory=dict
    )
    # RELUCTANT quantifiers (A+? / A{n,m}?): prefer the SHORTEST count
    lazy_vars: set[str] = dataclasses_field(default_factory=set)
    # {- X -} exclusion: variables whose rows participate in matching
    # (and in measures) but are OMITTED from ALL ROWS output
    excluded: set[str] = dataclasses_field(default_factory=set)
    # PATTERN (PERMUTE (A, B, ...)): match the variables in ANY order —
    # expands to the n! fixed-length variants in lexicographic preference
    # order (SQL:2016), lowered by the shared LEAD-chain machinery
    permute: bool = False
    # AFTER MATCH SKIP TO FIRST/LAST <var>: resume matching AT the
    # first/last row mapped to <var> (inclusive — overlapping matches by
    # design); (nav, var). A skip target equal to the match start raises
    # (Flink's would-loop error).
    skip_to: tuple[str, str] | None = None
    # NESTED pattern groups — ((A B)|C) D, (A (B C)+) ... — parsed into
    # a regex AST (("var", name) / ("seq", [..]) / ("alt", [..]) /
    # ("quant", child, lo, hi|None, lazy)) and matched by the per-key
    # NFA's generator backtracker. None for flat patterns.
    pattern_ast: tuple | None = None
    # COUNT/SUM/AVG/MIN/MAX per measure alias — aggregate over the
    # variable's mapped rows (RUNNING prefix aggregates under ALL ROWS)
    measure_agg: dict[str, str] = dataclasses_field(default_factory=dict)


#: rich cross-variable DEFINE parts (round 12, VERDICT r11 Next #6):
#: any boolean expression over current-row refs (SELF.col), partial-
#: match refs (X.col = LAST(X.col), FIRST/LAST(X.col[, n])), numeric /
#: string literals, arithmetic (+ - * / %), comparisons and AND/OR/NOT
#: — compiled once into a restricted Python expression the CEP core's
#: matcher (plans/cep_core.match_at) evaluates against the partial
#: match's bindings. NULL or an unmatched reference makes the part FALSE.
_RICH_NAV_RE = re.compile(
    r"\b(?P<nav>FIRST|LAST)\s*\(\s*(?P<v>[A-Za-z_]\w*)\."
    r"(?P<c>[A-Za-z_]\w*)\s*(?:,\s*(?P<n>\d+))?\s*\)",
    re.IGNORECASE,
)
#: aggregates over a variable's mapped rows inside DEFINE (round 12,
#: SQL:2016 / Flink running semantics): COUNT(X.*) counts mapped rows,
#: COUNT/SUM/AVG/MIN/MAX(X.col) aggregate the column NULL-skipping;
#: the defining variable's own rows include the current candidate
_RICH_AGG_RE = re.compile(
    r"\b(?P<fn>COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(?P<v>[A-Za-z_]\w*)\."
    r"(?P<c>\*|[A-Za-z_]\w*)\s*\)",
    re.IGNORECASE,
)
#: cheap detector: does a DEFINE part contain any aggregate call?
_AGG_DEF_RE = re.compile(r"\b(?:COUNT|SUM|AVG|MIN|MAX)\s*\(", re.IGNORECASE)
#: identifier.identifier only — a numeric literal like 0.5 must stay a
#: literal, not parse as a variable reference
_RICH_REF_RE = re.compile(
    r"\b(?P<v>[A-Za-z_]\w*)\.(?P<c>[A-Za-z_]\w*)\b"
)
#: SQL string literal with doubled-quote escaping: 'it''s' is ONE
#: token (the string it's), not two adjacent literals — matching the
#: two halves separately turned 'x''y' into Python implicit
#: concatenation 'xy' (ADVICE r12)
_RICH_STR_RE = re.compile(r"'(?:[^']|'')*'")
_RICH_KEYWORDS = {
    "and": "and", "or": "or", "not": "not",
    "true": "True", "false": "False",
}

#: Python AST shapes a compiled rich DEFINE part may contain. This is
#: the loud-rejection contract at the syntax-tree level: anything the
#: SQL expression grammar can't produce — '**' (ast.Pow), '//'
#: (ast.FloorDiv), chained comparisons (a < b < c), bitwise ops,
#: subscripts, calls — is rejected instead of silently evaluating
#: under Python semantics (ADVICE r12).
_RICH_BINOPS = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod)
_RICH_CMPOPS = (ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt, ast.GtE)
_RICH_UNARY = (ast.Not, ast.USub, ast.UAdd)


def _rich_ast_ok(tree: "ast.Expression") -> bool:
    for node in ast.walk(tree):
        if isinstance(node, (ast.Expression, ast.Load, ast.Name)):
            continue  # Name ids are already keyword-validated upstream
        if isinstance(node, ast.Constant):
            if isinstance(node.value, (bool, int, float, str)):
                continue
            return False
        if isinstance(node, ast.BoolOp):
            continue
        if isinstance(node, (ast.And, ast.Or)):
            continue
        if isinstance(node, ast.UnaryOp) and isinstance(
            node.op, _RICH_UNARY
        ):
            continue
        if isinstance(node, _RICH_UNARY):
            continue
        if isinstance(node, ast.BinOp) and isinstance(
            node.op, _RICH_BINOPS
        ):
            continue
        if isinstance(node, _RICH_BINOPS):
            continue
        if isinstance(node, ast.Compare):
            if len(node.ops) != 1:
                return False  # chained comparison: not SQL
            continue
        if isinstance(node, _RICH_CMPOPS):
            continue
        return False
    return True


class _SqlModRewriter(ast.NodeTransformer):
    """Rewrite ``a % b`` to ``_sqlmod(a, b)``: SQL/Flink/Spark MOD is
    dividend-sign (-7 % 3 = -1) while Python's ``%`` is divisor-sign
    (-7 % 3 = 2) — without this the NFA/streaming legs diverged from
    the LEAD-chain lowering and the DuckDB oracle on negative operands
    (ADVICE r12)."""

    def visit_BinOp(self, node):
        self.generic_visit(node)
        if isinstance(node.op, ast.Mod):
            return ast.copy_location(
                ast.Call(
                    func=ast.Name(id="_sqlmod", ctx=ast.Load()),
                    args=[node.left, node.right],
                    keywords=[],
                ),
                node,
            )
        return node


def _sqlmod(a, b):
    """Dividend-sign remainder (SQL MOD / Java %% semantics)."""
    r = abs(a) % abs(b)
    return r if a >= 0 else -r


def compile_rich_cross(
    part: str, var: str, pattern_vars, columns=None
):
    """Compile one rich cross-variable DEFINE part into
    ``(code, refs)`` for :func:`eval_rich_cross`, or None when the part
    is outside the expression subset (caller raises its own loud
    error). ``refs`` entries are ("CUR", col) for SELF.col or
    (nav, other_var, col, offset) resolved against the partial match —
    the same navigation semantics as the simple-comparison fast path
    (a plain foreign X.col is LAST(X.col); the defining variable's
    mapped-so-far rows include the current candidate row)."""
    refs: list[tuple] = []
    vars_set = set(pattern_vars)

    def _take_agg(mm: re.Match) -> str:
        ov, oc = mm.group("v"), mm.group("c")
        fn = mm.group("fn").upper()
        if ov not in vars_set:
            return "\x00"
        if oc == "*":
            if fn != "COUNT":
                return "\x00"  # SUM(X.*) is not SQL
        elif columns is not None and oc not in columns:
            return "\x00"
        refs.append(("AGG", fn, ov, oc))
        return f" __ref{len(refs) - 1}__ "

    def _take_nav(mm: re.Match) -> str:
        ov = mm.group("v")
        if ov not in vars_set:
            return "\x00"  # poison -> validation failure below
        if columns is not None and mm.group("c") not in columns:
            return "\x00"
        refs.append(
            (
                mm.group("nav").upper(),
                ov,
                mm.group("c"),
                int(mm.group("n") or 0),
            )
        )
        return f" __ref{len(refs) - 1}__ "

    def _take_ref(mm: re.Match) -> str:
        ov = mm.group("v")
        if ov not in vars_set:
            return "\x00"
        if columns is not None and mm.group("c") not in columns:
            return "\x00"
        if ov == var:
            refs.append(("CUR", mm.group("c")))
        else:
            refs.append(("LAST", ov, mm.group("c"), 0))
        return f" __ref{len(refs) - 1}__ "

    # string literals FIRST: a literal containing var.col-shaped text
    # (e.g. B.name = 'A.value') must never be compiled into a partial-
    # match reference by the AGG/NAV/ref substitutions (ADVICE r12)
    strings: list[str] = []

    def _take_str(mm: re.Match) -> str:
        # SQL '' escape -> the actual character; restored via repr()
        strings.append(mm.group(0)[1:-1].replace("''", "'"))
        return f" __str{len(strings) - 1}__ "

    expr = _RICH_STR_RE.sub(_take_str, part)
    if "'" in expr:
        return None  # unterminated literal
    expr = _RICH_AGG_RE.sub(_take_agg, expr)
    expr = _RICH_NAV_RE.sub(_take_nav, expr)
    expr = _RICH_REF_RE.sub(_take_ref, expr)
    if "\x00" in expr:
        return None

    def _kw(mm: re.Match) -> str:
        tok = mm.group(0)
        if re.fullmatch(r"__(?:ref|str)\d+__", tok):
            return tok  # our own placeholders pass through
        return _RICH_KEYWORDS.get(tok.lower(), "\x00")

    expr = re.sub(r"\b[A-Za-z_]\w*\b", _kw, expr)
    if "\x00" in expr:
        return None
    # SQL -> Python operator spelling
    expr = expr.replace("<>", "!=")
    expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
    # single-pass restore (ADVICE r13): chained str.replace would
    # rewrite placeholder-shaped text INSIDE a restored string literal
    # (e.g. a literal containing '__ref0__'), silently changing the
    # comparison value — one re.sub touches each placeholder site once
    expr = re.sub(
        r"__(ref|str)(\d+)__",
        lambda mm: (
            f"_r{mm.group(2)}"
            if mm.group(1) == "ref"
            else repr(strings[int(mm.group(2))])
        ),
        expr,
    )
    expr = expr.strip()
    if not expr:
        return None
    # AST whitelist (the loud-rejection contract): only boolean/
    # arithmetic/single-comparison shapes the SQL grammar produces;
    # '**', '//', chained comparisons, bitwise, calls -> None
    try:
        tree = ast.parse(expr, mode="eval")
    except (SyntaxError, ValueError):
        return None
    if not _rich_ast_ok(tree):
        return None
    tree = _SqlModRewriter().visit(tree)
    ast.fix_missing_locations(tree)
    try:
        code = compile(tree, "<rich-cross-define>", "eval")
    except (SyntaxError, ValueError):
        return None
    return code, tuple(refs)


def rich_ref_columns(refs) -> set[str]:
    """Source columns a compiled rich part reads (for projections):
    ("CUR", col) / (nav, var, col, off) / ("AGG", fn, var, col|*)."""
    cols: set[str] = set()
    for ref in refs:
        if ref[0] == "CUR":
            cols.add(ref[1])
        elif ref[0] == "AGG":
            if ref[3] != "*":
                cols.add(ref[3])
        else:
            cols.add(ref[2])
    return cols


def eval_rich_cross(checks, var, j, acc, val_at) -> bool:
    """Evaluate a variable's compiled rich parts at candidate row ``j``
    against partial match ``acc`` (list of (var, row)). ``val_at(i,
    col)`` reads a value (None/NaN = SQL NULL). FALSE on any NULL,
    unmatched reference, or runtime type/arithmetic error."""
    import pandas as _pd

    def _null(x) -> bool:
        return x is None or (not isinstance(x, str) and _pd.isna(x))

    for code, refs in checks:
        env = {}
        ok = True
        for i, ref in enumerate(refs):
            if ref[0] == "CUR":
                val = val_at(j, ref[1])
            elif ref[0] == "AGG":
                _, fn, ov, oc = ref
                rows_o = [r for w, r in acc if w == ov]
                if ov == var:
                    rows_o = rows_o + [j]
                if oc == "*":
                    val = len(rows_o)
                else:
                    vals = [
                        x
                        for x in (val_at(r, oc) for r in rows_o)
                        if not _null(x)
                    ]
                    if fn == "COUNT":
                        val = len(vals)
                    elif not vals:
                        val = None  # SQL: empty aggregate is NULL
                    elif fn == "SUM":
                        s = vals[0]
                        for x in vals[1:]:  # mapped-row order, so the
                            s = s + x  # oracle can replay the fold
                        val = s
                    elif fn == "AVG":
                        s = vals[0]
                        for x in vals[1:]:
                            s = s + x
                        val = s / len(vals)
                    elif fn == "MIN":
                        val = min(vals)
                    else:
                        val = max(vals)
            else:
                nav, ov, oc, off = ref
                rows_o = [r for w, r in acc if w == ov]
                if ov == var:
                    rows_o = rows_o + [j]
                if len(rows_o) <= off:
                    ok = False
                    break
                r = rows_o[off] if nav == "FIRST" else rows_o[-1 - off]
                val = val_at(r, oc)
            if _null(val):
                ok = False
                break
            env[f"_r{i}"] = val
        if not ok:
            return False
        try:
            if not bool(
                eval(code, {"__builtins__": {}, "_sqlmod": _sqlmod}, env)
            ):
                return False
        except (TypeError, ZeroDivisionError, ArithmeticError):
            return False
    return True


def _split_top_and(pred: str) -> list[str]:
    """Split a predicate on TOP-LEVEL ``AND`` (paren-aware, literal-safe)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    i = 0
    in_lit = False
    # compare case-insensitively per SLICE (not via a pre-uppercased
    # copy: str.upper() is not length-preserving — 'ß' -> 'SS' — so
    # upper-string indices would desynchronize from pred inside string
    # literals containing such characters)
    while i < len(pred):
        ch = pred[i]
        if ch == "'":
            in_lit = not in_lit
        elif not in_lit:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and ch.isspace()
                and pred[i + 1 : i + 4].upper() == "AND"
                and i + 4 < len(pred)
                and pred[i + 4].isspace()
            ):
                parts.append("".join(cur))
                cur = []
                i += 5
                continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _split_commas(s: str) -> list[str]:
    # parens only: SQL predicates contain bare < / > comparison operators,
    # so angle-bracket tracking would corrupt the nesting depth
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _parse_pattern_ast(text: str) -> tuple:
    """Recursive-descent parser for NESTED row patterns — the general
    grammar the flat tokenizer cannot express:

        pattern := term+
        term    := atom quant? '?'?        (the trailing ? = reluctant)
        atom    := VAR | '(' pattern ('|' pattern)* ')'
        quant   := '+' | '*' | '?' | '{n}' | '{n,}' | '{n,m}'

    Returns the AST: ("var", name) / ("seq", (children,)) /
    ("alt", (children,)) / ("quant", child, lo, hi|None, lazy).
    Raises UnsupportedPatternError on malformed input."""
    pos = 0
    n = len(text)

    def skip_ws():
        nonlocal pos
        while pos < n and text[pos].isspace():
            pos += 1

    def parse_alt() -> tuple:
        branches = [parse_seq()]
        skip_ws()
        while pos < n and text[pos] == "|":
            advance()
            branches.append(parse_seq())
            skip_ws()
        if len(branches) == 1:
            return branches[0]
        return ("alt", tuple(branches))

    def advance():
        nonlocal pos
        pos += 1

    def parse_seq() -> tuple:
        terms = []
        while True:
            skip_ws()
            if pos >= n or text[pos] in ")|":
                break
            terms.append(parse_term())
        if not terms:
            raise UnsupportedPatternError(
                f"empty sequence at offset {pos} in PATTERN ({text})"
            )
        if len(terms) == 1:
            return terms[0]
        return ("seq", tuple(terms))

    def parse_term() -> tuple:
        nonlocal pos
        skip_ws()
        if text[pos] == "(":
            advance()
            atom = parse_alt()
            skip_ws()
            if pos >= n or text[pos] != ")":
                raise UnsupportedPatternError(
                    f"unbalanced group in PATTERN ({text})"
                )
            advance()
        else:
            m = re.match(r"\w+", text[pos:])
            if m is None:
                raise UnsupportedPatternError(
                    f"PATTERN item at {text[pos:]!r} unparseable"
                )
            atom = ("var", m.group(0))
            pos += m.end()
        # quantifier
        lo = hi = None
        quantified = False
        if pos < n and text[pos] in "+*":
            lo, hi = (1, None) if text[pos] == "+" else (0, None)
            quantified = True
            advance()
        elif pos < n and text[pos] == "{":
            qm = re.match(r"\{(\d+)?(,)?(\d+)?\}", text[pos:])
            if qm is None or (
                qm.group(1) is None
                and not (qm.group(2) and qm.group(3))
            ):
                raise UnsupportedPatternError(
                    f"malformed quantifier at {text[pos:]!r}"
                )
            lo = int(qm.group(1) or 0)  # {,m} == {0,m}
            hi = (
                None
                if (qm.group(2) and qm.group(3) is None)
                else int(qm.group(3) or qm.group(1))
            )
            if hi is not None and hi < max(lo, 1):
                raise UnsupportedPatternError(
                    f"quantifier bounds {{{lo},{hi}}} inverted"
                )
            quantified = True
            pos += qm.end()
        elif pos < n and text[pos] == "?":
            lo, hi = 0, 1
            quantified = True
            advance()
        lazy = False
        if quantified and pos < n and text[pos] == "?":
            lazy = True
            advance()
        return ("quant", atom, lo, hi, lazy) if quantified else atom

    ast = parse_alt()
    skip_ws()
    if pos != n:
        raise UnsupportedPatternError(
            f"trailing pattern text at {text[pos:]!r}"
        )
    return ast


def _ast_vars(ast: tuple) -> list[str]:
    """Pattern variables in declaration order (deduplicated)."""
    out: list[str] = []

    def walk(node):
        if node[0] == "var":
            if node[1] not in out:
                out.append(node[1])
        elif node[0] in ("seq", "alt", "permute"):
            for c in node[1]:
                walk(c)
        else:  # quant
            walk(node[1])

    walk(ast)
    return out


def _ast_min_len(ast: tuple) -> int:
    if ast[0] == "var":
        return 1
    if ast[0] in ("seq", "permute"):
        return sum(_ast_min_len(c) for c in ast[1])
    if ast[0] == "alt":
        return min(_ast_min_len(c) for c in ast[1])
    return ast[2] * _ast_min_len(ast[1])  # quant: lo * child min


def parse_match_recognize(sql: str) -> MatchRecognizeSpec | None:
    """Extract and parse the MATCH_RECOGNIZE clause, or None if absent.

    Raises UnsupportedPatternError for syntax outside the subset (the
    router converts that into its instructive CEP guidance)."""
    head = _MR_HEAD_RE.search(sql)
    if head is None:
        if re.search(r"\bMATCH_RECOGNIZE\b", sql, re.IGNORECASE):
            raise UnsupportedPatternError(
                "MATCH_RECOGNIZE requires the form FROM <table> "
                "MATCH_RECOGNIZE (...) — subqueries as the pattern input "
                "are not supported"
            )
        return None
    # balance parens to find the clause end
    depth, i = 1, head.end()
    while i < len(sql) and depth:
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise UnsupportedPatternError("unbalanced MATCH_RECOGNIZE parentheses")
    body = sql[head.end() : i - 1].strip()
    end = i
    out_alias = None
    m_alias = re.match(r"\s*(?:AS\s+)?(\w+)", sql[i:], re.IGNORECASE)
    if m_alias and m_alias.group(1).upper() not in (
        "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "JOIN",
        "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON",
    ):
        out_alias = m_alias.group(1)
        end = i + m_alias.end()

    m = _CLAUSES_RE.search(body)
    if m is None:
        raise UnsupportedPatternError(
            "MATCH_RECOGNIZE clause outside the supported subset (need "
            "PARTITION BY / ORDER BY / MEASURES / PATTERN / DEFINE, in "
            "that order)"
        )
    all_rows = bool(
        m.group("rows_mode")
        and m.group("rows_mode").upper().startswith("ALL")
    )
    with_unmatched = bool(
        re.search(r"WITH\s+UNMATCHED\s+ROWS", body, re.IGNORECASE)
    )
    if with_unmatched and not all_rows:
        raise UnsupportedPatternError(
            "WITH UNMATCHED ROWS requires ALL ROWS PER MATCH"
        )

    pattern_text = m.group("pattern")
    # {- X -} exclusion (Flink row-pattern output suppression): the
    # wrapped tokens match normally — and feed measures — but their rows
    # are omitted from ALL ROWS PER MATCH output. Strip the markers and
    # record the wrapped variable names before tokenizing.
    excluded: set[str] = set()

    def _strip_excl(em: re.Match) -> str:
        inner = em.group(1)
        excluded.update(re.findall(r"\b[A-Za-z_]\w*\b", inner))
        return " " + inner + " "

    pattern_text = re.sub(r"\{-\s*(.*?)\s*-\}", _strip_excl, pattern_text)
    plus: tuple[str, str, int] | None = None
    permute = False
    perm_m = re.fullmatch(
        r"PERMUTE\s*\(\s*(?P<vars>\w+(?:\s*,\s*\w+)+)\s*\)",
        pattern_text.strip(),
        re.IGNORECASE,
    )
    permute_ast: tuple | None = None
    if perm_m is not None:
        # PERMUTE (A, B, ...): any order of the plain variables, with
        # lexicographic preference over the declaration (SQL:2016).
        # n <= 4 (24 fixed-length variants) rides the shared LEAD chain
        # (when-chains stay plan-sized, mirroring the 64-variant
        # expansion cap). n = 5..8 lowers to a MATCHED-SET automaton —
        # a dedicated ("permute", vars) AST node whose state is the
        # bitmask of already-matched variables (2^n states) with
        # declaration-order successor expansion (= lexicographic
        # preference, the same first-match the n!-way alternation
        # yields) and a dead-(row, mask) memo, so the per-start cost is
        # O(2^n * n), not O(n!) — round 10 expanded 5..6 into the
        # explicit 120/720-branch alternation and paid the factorial
        # constant (VERDICT r10 #2). n >= 9 stays a loud error: 2^n
        # window states and an n-row decision window per candidate
        # start stop being a sane streaming contract.
        perm_vars = [v.strip() for v in perm_m.group("vars").split(",")]
        if len(perm_vars) > 8:
            raise UnsupportedPatternError(
                f"PERMUTE over {len(perm_vars)} variables needs "
                f"2^{len(perm_vars)} matched-set states — beyond the "
                "lowered bound (8 variables / 256 states)"
            )
        if len(perm_vars) > 4:
            permute_ast = (
                "permute",
                tuple(("var", v) for v in perm_vars),
            )
            pattern_text = " ".join(perm_vars)
        else:
            permute = True
            pattern_text = " ".join(perm_vars)
    pm = re.fullmatch(
        r"(?P<a>\w+)(?:(?P<star>[+*])|\{(?P<lo>\d+),\})\s+(?P<b>\w+)",
        pattern_text.strip(),
    )
    if pm is not None:
        # PATTERN (A+ B) / (A* B) / (A{n,} B): the unbounded-run shape.
        # Disjoint predicates with min run >= 1 lower exactly via
        # gaps-and-islands (backtracking to a shorter A-run can never
        # succeed — the row after a shorter run satisfies A and a row
        # cannot satisfy both A and B); overlapping predicates — and any
        # zero-min run (A* / A{0,}), where a match may contain no A row
        # at all — dispatch to the per-key greedy matcher (plus_overlap,
        # set after DEFINE parsing). The {n,} form additionally requires
        # at least n A-rows from each start.
        if pm.group("star") is not None:
            lo = 1 if pm.group("star") == "+" else 0
        else:
            lo = int(pm.group("lo"))
        plus = (pm.group("a"), pm.group("b"), lo)
    positions: list[list[str]] = []  # per sequence position: alternatives
    pattern: list[str] = []  # flat variable list (for membership checks)
    quants: dict[str, tuple[int, int]] = {}
    unbounded: dict[str, int] = {}  # var -> min run (A+ = 1, A* = 0, A{n,})
    pos_quants: dict[int, tuple[int, int | None, bool]] = {}
    lazy_vars: set[str] = set()
    if plus is not None:
        pattern = [plus[0], plus[1]]
        positions = [[plus[0]], [plus[1]]]
    tok_re = re.compile(
        r"\(\s*(?P<alts>\w+(?:\s*\|\s*\w+)+)\s*\)"
        r"(?:(?P<gunb>[+*])|\{(?P<glo>\d+)(?P<gcomma>,)?(?P<ghi>\d+)?\})?"
        r"(?P<glazy>\?\??)?"
        r"|(?P<var>\w+)(?:\{(?P<lo>\d+)?(?P<comma>,)?(?P<hi>\d+)?\}"
        r"(?P<vlazy1>\?)?"
        r"|(?P<unb>[+*])(?P<vlazy2>\?)?|(?P<opt>\?)(?P<vlazy3>\?)?)?"
    )
    pattern_ast: tuple | None = None

    def _flat_unparseable(at: str):
        return UnsupportedPatternError(
            f"PATTERN item at {at!r} unparseable "
            "(VAR, VAR{n}, VAR{n,m}, VAR{n,}, VAR?, VAR+, VAR*, an "
            "(X|Y) alternation group — optionally quantified — or a "
            "reluctant ...? form of any quantifier expected)"
        )

    idx = 0 if plus is None else len(pattern_text)
    while idx < len(pattern_text):
        if pattern_text[idx].isspace():
            idx += 1
            continue
        tm = tok_re.match(pattern_text, idx)
        if tm is None:
            # the flat tokenizer covers the common shapes with exact
            # window lowerings; NESTED groups fall through to the
            # recursive AST + the NFA's generator backtracker
            if plus is None and not permute and "(" in pattern_text:
                pattern_ast = _parse_pattern_ast(pattern_text.strip())
                pattern = _ast_vars(pattern_ast)
                positions = [[v] for v in pattern]
                quants, unbounded, pos_quants = {}, {}, {}
                lazy_vars = set()
                break
            raise _flat_unparseable(pattern_text[idx:])
        if tm.group("alts"):
            alts = [a.strip() for a in tm.group("alts").split("|")]
            gi = len(positions)
            glazy_txt = tm.group("glazy") or ""
            if glazy_txt == "??" and (
                tm.group("gunb") or tm.group("glo") is not None
            ):
                raise _flat_unparseable(tm.group(0))
            glazy = bool(glazy_txt)
            if tm.group("gunb"):
                pos_quants[gi] = (
                    1 if tm.group("gunb") == "+" else 0,
                    None,
                    glazy,
                )
            elif tm.group("glo") is not None:
                lo = int(tm.group("glo"))
                if tm.group("gcomma") and tm.group("ghi") is None:
                    pos_quants[gi] = (lo, None, glazy)
                else:
                    hi = (
                        int(tm.group("ghi"))
                        if tm.group("ghi") is not None
                        else lo
                    )
                    if hi < max(lo, 1):
                        raise UnsupportedPatternError(
                            f"group quantifier bounds {{{lo},{hi}}} "
                            "inverted"
                        )
                    pos_quants[gi] = (lo, hi, glazy)
            elif glazy:
                # (X|Y)? == (X|Y){0,1} greedy (the first ? is the
                # quantifier); (X|Y)?? is its reluctant form
                pos_quants[gi] = (0, 1, glazy_txt == "??")
            positions.append(alts)
            pattern.extend(alts)
        else:
            var = tm.group("var")
            if (
                tm.group("vlazy1")
                or tm.group("vlazy2")
                or tm.group("vlazy3")
            ):
                lazy_vars.add(var)
            if tm.group("opt") is not None:
                quants[var] = (0, 1)  # VAR? == VAR{0,1}
            elif tm.group("unb") is not None:
                unbounded[var] = 1 if tm.group("unb") == "+" else 0
            elif tm.group("lo") is not None or tm.group("hi") is not None:
                if tm.group("lo") is None:
                    if not tm.group("comma"):
                        raise _flat_unparseable(tm.group(0))
                    # VAR{,m} == VAR{0,m}
                    hi = int(tm.group("hi"))
                    if hi < 1 or hi > 8:
                        raise UnsupportedPatternError(
                            f"quantifier bounds {{0,{hi}}} outside the "
                            "lowered range (0 <= n <= m <= 8, m >= 1)"
                        )
                    quants[var] = (0, hi)
                    positions.append([var])
                    pattern.append(var)
                    idx = tm.end()
                    continue
                lo = int(tm.group("lo"))
                if tm.group("comma") and tm.group("hi") is None:
                    unbounded[var] = lo  # VAR{n,}: unbounded min-n run
                else:
                    hi = (
                        int(tm.group("hi"))
                        if tm.group("hi") is not None
                        else lo
                    )
                    if lo < 0 or hi < max(lo, 1) or hi > 8:
                        raise UnsupportedPatternError(
                            f"quantifier bounds {{{lo},{hi}}} outside the "
                            "lowered range (0 <= n <= m <= 8, m >= 1)"
                        )
                    quants[var] = (lo, hi)
            elif "{" in tm.group(0):
                # consumed braces without a recognized quantifier
                # ({}, {,}) — reject loudly rather than silently
                # treating the variable as unquantified
                raise _flat_unparseable(tm.group(0))
            positions.append([var])
            pattern.append(var)
        idx = tm.end()
    if permute_ast is not None:
        # PERMUTE 5..8: the flat tokenizer parsed the declaration-order
        # sequence (positions/pattern); matching routes through the
        # matched-set automaton node via the NFA lowering
        pattern_ast = permute_ast
    quant = (
        next((v, *quants[v]) for v in pattern if v in quants)
        if quants and plus is None
        else None
    )
    if pattern_ast is not None:
        if _ast_min_len(pattern_ast) < 1:
            raise UnsupportedPatternError(
                f"PATTERN ({pattern_text}) can match an EMPTY sequence "
                "(every position optional) — at least one position must "
                "be required"
            )
    elif plus is None and (unbounded or pos_quants):
        # general pattern with unbounded quantifier(s) or quantified
        # alternation group(s): the per-key NFA matcher (_lower_nfa) —
        # every position's minimum still must not all be zero
        min_len = 0
        for gi, alts in enumerate(positions):
            v = alts[0]
            if gi in pos_quants:
                min_len += pos_quants[gi][0]
            elif len(alts) == 1 and v in unbounded:
                min_len += unbounded[v]
            elif len(alts) == 1 and v in quants:
                min_len += quants[v][0]
            else:
                min_len += 1
        if min_len < 1:
            raise UnsupportedPatternError(
                f"PATTERN ({pattern_text}) can match an EMPTY sequence "
                "(every position optional) — at least one position must "
                "be required"
            )
    elif plus is None:
        # the lowering unions one fixed-length LEAD-chain variant per
        # combination of alternation choices x quantifier lengths; cap
        # the product (and the LEAD-chain depth) so the when-chains stay
        # plan-sized
        n_variants, max_len, min_len = 1, 0, 0
        for alts in positions:
            v = alts[0]
            if len(alts) == 1 and v in quants:
                lo, hi = quants[v]
                n_variants *= hi - lo + 1
                max_len += hi
                min_len += lo
            else:
                n_variants *= len(alts)
                max_len += 1
                min_len += 1
        if min_len < 1:
            raise UnsupportedPatternError(
                f"PATTERN ({pattern_text}) can match an EMPTY sequence "
                "(every position optional) — at least one position must "
                "be required"
            )
        # SPARK_GRAFT_CEP_FORCE_NFA=1 (tests only): route EVERY bounded
        # flat pattern through the generator NFA so the two lowerings
        # can be differentially fuzzed on identical inputs — the
        # LEAD-chain and the NFA must agree everywhere both apply
        # (tests/test_match_recognize.py rich-cross differential fuzz).
        if (
            n_variants > 64
            or max_len > 12
            or os.environ.get("SPARK_GRAFT_CEP_FORCE_NFA") == "1"
        ):
            # Beyond the LEAD-chain plan-size budget (the when-chain
            # unions one fixed-length variant per alternation-choice x
            # quantifier-length combination), the pattern re-routes
            # through the generator-NFA lowering via the equivalent
            # nested AST — same greedy/reluctant first-match semantics
            # (the two lowerings are fuzz-cross-checked), evaluated per
            # key instead of as 2^k window variants. Until round 11 this
            # was a loud UnsupportedPatternError (VERDICT r10 missing
            # #3); the only residual narrowing is that rich
            # cross-variable DEFINEs (beyond the simple comparison form)
            # are still bounded-lowering-only and keep their own error.
            if permute:
                # PERMUTE (k <= 4) reaching here only via the force
                # knob: the flat `positions` list is declaration order
                # only — a seq AST would DROP the permutation
                # semantics. Build the same matched-set automaton node
                # the k >= 5 path uses.
                pattern_ast = (
                    "permute",
                    tuple(("var", v) for v in pattern),
                )
                permute = False
            else:
                pos_spec = []
                for alts in positions:
                    v = alts[0]
                    if len(alts) == 1 and v in quants:
                        lo, hi = quants[v]
                        pos_spec.append((alts, lo, hi, v in lazy_vars))
                    else:
                        pos_spec.append((alts, 1, 1, False))
                pattern_ast = _pos_spec_to_ast(pos_spec)
            quants = {}
            lazy_vars = set()
            quant = None
    if len(positions) < 2 or len(pattern) != len(set(pattern)):
        raise UnsupportedPatternError(
            f"PATTERN ({pattern_text}) must be a sequence of 2+ positions "
            "with globally distinct variables"
        )

    measures = []
    measure_modes: dict[str, str] = {}
    measure_nav: dict[str, str] = {}
    measure_nav_offset: dict[str, int] = {}
    measure_agg: dict[str, str] = {}
    for item in _split_commas(m.group("measures")):
        cm = _CLASSIFIER_RE.match(item)
        if cm is not None:
            measures.append((CLASSIFIER, "", cm.group("alias")))
            continue
        nm = _MATCH_NUMBER_RE.match(item)
        if nm is not None:
            measures.append((MATCH_NUMBER, "", nm.group("alias")))
            continue
        am = _AGG_MEASURE_RE.match(item)
        if am is not None:
            fn = am.group("fn").upper()
            if am.group("col") == "*" and fn != "COUNT":
                raise UnsupportedPatternError(
                    f"MEASURES item {item!r}: only COUNT accepts Var.*"
                )
            if am.group("var") not in pattern:
                raise UnsupportedPatternError(
                    f"MEASURES item {item!r} references variable "
                    f"{am.group('var')!r} which is not in PATTERN"
                )
            measures.append((am.group("var"), am.group("col"), am.group("alias")))
            measure_agg[am.group("alias")] = fn
            if am.group("mode"):
                measure_modes[am.group("alias")] = am.group("mode").upper()
            continue
        mm = _MEASURE_RE.match(item)
        if mm is None:
            raise UnsupportedPatternError(
                f"MEASURES item {item!r} outside the subset (only "
                "[RUNNING|FINAL] Var.col / FIRST(Var.col[, n]) / "
                "LAST(Var.col[, n]) "
                "AS alias, CLASSIFIER() AS alias, or MATCH_NUMBER() AS "
                "alias, or [RUNNING|FINAL] COUNT/SUM/AVG/MIN/MAX"
                "(Var.col) AS alias)"
            )
        mvar = mm.group("nvar") or mm.group("var")
        mcol = mm.group("ncol") or mm.group("col")
        if mvar not in pattern:
            raise UnsupportedPatternError(
                f"MEASURES item {item!r} references variable "
                f"{mvar!r} which is not in PATTERN "
                f"({' '.join(pattern)})"
            )
        measures.append((mvar, mcol, mm.group("alias")))
        if mm.group("mode"):
            measure_modes[mm.group("alias")] = mm.group("mode").upper()
        if mm.group("nav"):
            measure_nav[mm.group("alias")] = mm.group("nav").upper()
        if mm.group("noff"):
            measure_nav_offset[mm.group("alias")] = int(mm.group("noff"))

    defines: dict[str, str] = {}
    for item in _split_commas(m.group("define")):
        dm = _DEFINE_RE.match(item)
        if dm is None:
            raise UnsupportedPatternError(f"DEFINE item {item!r} unparseable")
        var, pred = dm.group("var"), dm.group("pred").strip()
        # PREV/NEXT(ownvar.col[, n]) navigate PHYSICAL partition rows
        # (the Flink semantics) — resolved per variant in
        # _pred_at_offset (in-chain offsets ride the LEAD structs,
        # out-of-chain ones become scalar lag/lead helper columns).
        # FIRST/LAST navigate mapped rows; PREV/NEXT over ANOTHER
        # variable would mix the two navigations and stay rejected.
        for nav_re, nav_name in ((_PREV_RE, "PREV"), (_NEXT_RE, "NEXT")):
            hits = list(nav_re.finditer(pred))
            for nm in hits:
                if nm.group("pvar") != var:
                    raise UnsupportedPatternError(
                        f"DEFINE for {var}: {nav_name} over another "
                        f"variable ({nm.group(0)!r}) is not lowered — "
                        f"{nav_name} must navigate from the defining "
                        f"variable ({var}.col)"
                    )
            if len(hits) != len(
                re.findall(rf"\b{nav_name}\s*\(", pred, re.IGNORECASE)
            ):
                raise UnsupportedPatternError(
                    f"DEFINE for {var}: {nav_name} must take the form "
                    f"{nav_name}({var}.col) or {nav_name}({var}.col, n)"
                )
        stripped = _NEXT_RE.sub("", _PREV_RE.sub("", pred))
        foreign = set(re.findall(r"\b([A-Za-z_]\w*)\s*\.", stripped)) - {var}
        unknown = foreign - set(pattern)
        if unknown:
            raise UnsupportedPatternError(
                f"DEFINE for {var} references rows outside the pattern "
                f"({item!r}) — current-row predicates (qualified as "
                f"{var}.col or bare column names), PREV/NEXT"
                f"({var}.col[, n]), FIRST/LAST(X.col[, n]) over mapped "
                "rows, and references to other pattern variables' last "
                "matched row (X.col) are lowered"
            )
        has_nav = bool(_NAV_DEF_RE.search(pred))
        if (foreign or has_nav) and plus is not None:
            # the closed-form run lowerings need self-contained
            # predicates; a cross-referencing A+ B re-routes through the
            # general NFA (unbounded dict), which evaluates simple
            # cross-variable comparisons against the partial match
            unbounded[plus[0]] = plus[2]
            plus = None
        defines[var] = pred
    # Flink: a pattern variable without a DEFINE clause matches any row
    for v in pattern:
        defines.setdefault(v, "TRUE")

    skip = re.sub(r"\s+", " ", (m.group("skip") or "SKIP PAST LAST ROW").upper())
    skip_past_last = "PAST" in skip
    skip_to: tuple[str, str] | None = None
    stm = re.fullmatch(r"SKIP TO (FIRST|LAST) (\w+)", skip)
    if stm is not None and stm.group(2) != "NEXT":
        nav, target = stm.group(1), stm.group(2)
        # the ORIGINAL case of the variable name (pattern vars are
        # case-sensitive identifiers; `skip` was uppercased)
        cm = re.search(
            r"SKIP\s+TO\s+(?:FIRST|LAST)\s+(\w+)", m.group("skip"),
            re.IGNORECASE,
        )
        skip_to = (nav, cm.group(1))

    within_seconds = None
    if m.group("within_n"):
        unit = m.group("within_unit").lower().rstrip("s")
        if unit not in _UNIT_SECONDS:
            raise UnsupportedPatternError(f"WITHIN unit {unit!r} unsupported")
        within_seconds = int(m.group("within_n")) * _UNIT_SECONDS[unit]

    order_by = []
    for item in m.group("oby").split(","):
        col = item.strip().strip("`")
        dm = re.match(r"^(.*?)\s+(ASC|DESC)$", col, re.IGNORECASE)
        if dm:
            if dm.group(2).upper() == "DESC":
                raise UnsupportedPatternError(
                    "ORDER BY ... DESC is not supported — Flink "
                    "MATCH_RECOGNIZE requires an ascending time-attribute "
                    "primary order; drop DESC or pre-sort via a view"
                )
            col = dm.group(1).strip().strip("`")
        order_by.append(col)

    # Aggregates inside DEFINE (round 12, Flink parity): COUNT/SUM/AVG/
    # MIN/MAX over a variable's mapped rows evaluate ONLY in the NFA
    # matchers (compile_rich_cross "AGG" refs against the partial
    # match) — the LEAD chain and the closed-form run lowerings cannot.
    # Re-route: the A+ B run shape becomes an unbounded run at position
    # 0, PERMUTE becomes its matched-set automaton node, and a plain
    # bounded pattern becomes its generator AST.
    if pattern_ast is None and any(
        _AGG_DEF_RE.search(p) for p in defines.values()
    ):
        if plus is not None:
            unbounded = {plus[0]: plus[2]}
            plus = None
        if permute:
            pattern_ast = ("permute", tuple(("var", v) for v in pattern))
            permute = False
        elif not unbounded and not pos_quants:
            agg_pos_spec = []
            for alts in positions:
                v0 = alts[0]
                if len(alts) == 1 and v0 in quants:
                    lo, hi = quants[v0]
                    agg_pos_spec.append((alts, lo, hi, v0 in lazy_vars))
                else:
                    agg_pos_spec.append((alts, 1, 1, False))
            pattern_ast = _pos_spec_to_ast(agg_pos_spec)
            quants = {}
            lazy_vars = set()
            quant = None
    spec = MatchRecognizeSpec(
        table=head.group("tbl"),
        partition_by=[c.strip().strip("`") for c in m.group("pby").split(",")],
        order_by=order_by,
        measures=measures,
        pattern=pattern,
        defines=defines,
        skip_past_last=skip_past_last,
        within_seconds=within_seconds,
        span=(head.start(), end),
        out_alias=out_alias,
        quant=quant,
        quants=quants if plus is None else {},
        all_rows=all_rows,
        measure_modes=measure_modes,
        positions=positions,
        plus=plus,
        with_unmatched=with_unmatched,
        measure_nav=measure_nav,
        measure_nav_offset=measure_nav_offset,
        measure_agg=measure_agg,
        unbounded=unbounded if plus is None else {},
        pos_quants=pos_quants if plus is None else {},
        lazy_vars=lazy_vars,
        excluded=excluded,
        permute=permute,
        skip_to=skip_to,
        pattern_ast=pattern_ast,
    )
    if skip_to is not None:
        if skip_to[1] not in pattern:
            raise UnsupportedPatternError(
                f"AFTER MATCH SKIP TO {skip_to[0]} {skip_to[1]}: "
                f"{skip_to[1]!r} is not a pattern variable"
            )
        if plus is not None and skip_to == ("FIRST", plus[0]):
            raise UnsupportedPatternError(
                f"AFTER MATCH SKIP TO FIRST {plus[0]} points at the "
                "match start — resuming there would loop forever (Flink "
                "raises the same error)"
            )
    if spec.unbounded or spec.pos_quants or spec.pattern_ast is not None:
        # general unbounded pattern -> the per-key NFA matcher. DEFINEs
        # must be self-contained (current row + physical PREV/NEXT),
        # EXCEPT for top-level AND parts the matcher evaluates against
        # the partial match's bindings: arithmetic/boolean expressions
        # over current-row refs, FIRST/LAST(X.col[, n]) refs — X may be
        # the defining variable itself, whose mapped-so-far rows
        # INCLUDE the current candidate row (LAST(B.v, 1) is the
        # previous B row, the Flink ascending-run idiom) — and
        # aggregates over mapped rows (plans/cep_core.split_defines).
        for v, p in defines.items():
            for part in _split_top_and(p):
                p_stripped = _NEXT_RE.sub("", _PREV_RE.sub("", part))
                foreign_d = (
                    set(re.findall(r"\b([A-Za-z_]\w*)\s*\.", p_stripped)) - {v}
                )
                if (
                    foreign_d
                    or _NAV_DEF_RE.search(part)
                    or _AGG_DEF_RE.search(part)
                ) and compile_rich_cross(part, v, pattern) is None:
                    raise UnsupportedPatternError(
                        f"DEFINE for {v} inside a general unbounded "
                        f"pattern: the part {part!r} is neither "
                        "self-contained (current row + PREV/NEXT), nor "
                        "an arithmetic/boolean expression over current-"
                        "row refs, FIRST/LAST partial-match refs, and "
                        "COUNT/SUM/AVG/MIN/MAX over mapped rows"
                    )
    _settle_skip_paths(spec)
    return spec


def _settle_skip_paths(
    spec: MatchRecognizeSpec, col_types: dict[str, str] | None = None
) -> None:
    """Decide, from DEFINE disjointness, which lowering the A+ B run
    shape takes (``plus_overlap``) and whether a bounded SKIP PAST LAST
    ROW needs the sequential selection pass (``skip_filter``) — the one
    decision point for both. The parser calls it without column types;
    the lowering calls it again with the source schema, so literals
    Spark casts to one value (``'1'`` / ``'01'`` on an int column) are
    never taken as disjoint."""
    plus = spec.plus
    if plus is not None:
        # overlapping DEFINEs (a row may satisfy both variables) switch
        # the lowering from gaps-and-islands to the per-key greedy
        # matcher — same semantics, NFA-capable backtracking. A zero-min
        # run (A* / A{0,}) always takes the matcher: a match may contain
        # no A row at all, which the islands rewrite cannot key; ALL
        # ROWS too (the islands rewrite summarizes runs, it cannot emit
        # their rows). PREV/NEXT predicates are never eq-literals, so
        # they always reach the matcher's precomputed lag/lead columns.
        spec.plus_overlap = (
            plus[2] == 0
            or spec.all_rows
            or spec.skip_to is not None  # skip-to walks live in the matcher
            or not _provably_disjoint(spec, col_types)
        )
    # Per-start greedy matches may overlap (a quantifier lets a match
    # start inside another's run; non-disjoint DEFINEs let one row open
    # two matches). The LEAD-chain lowering still computes every start's
    # greedy match exactly; the NFA's skip-past semantics are then a
    # sequential leftmost-non-overlapping selection, applied over the
    # candidate set in lower_match_recognize. The NFA matcher does its
    # own skip walk.
    spec.skip_filter = (
        plus is None
        and not spec.unbounded
        and not spec.pos_quants
        and spec.pattern_ast is None
        and (
            spec.skip_to is not None  # skip-to always needs the walk
            or (
                spec.skip_past_last
                and (
                    bool(spec.quants)
                    # PERMUTE: even disjoint predicates overlap (two
                    # starts can cover the same rows in different orders)
                    or spec.permute
                    or not _provably_disjoint(spec, col_types)
                )
            )
        )
    )


def _eq_literal(pred: str) -> tuple[str, str] | None:
    m = _EQ_LIT_RE.match(pred)
    return (m.group("col"), m.group("lit")) if m else None


def _provably_disjoint(
    spec: MatchRecognizeSpec, col_types: dict[str, str] | None = None
) -> bool:
    """True when every variable predicate is ``var.col = literal`` on the
    SAME column with pairwise-distinct literal VALUES: no row can satisfy
    two variables, so matches share no rows and SKIP PAST LAST ROW keeps
    exactly the same matches as keep-everything.

    Numeric literals compare as numbers (``1``, ``01`` and ``1.0`` are one
    value); quoted and numeric literals never mix. With ``col_types`` (the
    source's column -> Spark simple type) the literals must also be of the
    column's kind: Spark casts across kinds, so ``'1'``/``'01'`` on an int
    column, or ``1``/``1.5`` on a string column (``'1.5'`` casts to int 1),
    can both hold on one row."""
    eqs = [_eq_literal(spec.defines[v]) for v in spec.pattern]
    if any(e is None for e in eqs) or len({c.lower() for c, _ in eqs}) != 1:
        return False
    quoted = {lit.startswith("'") for _, lit in eqs}
    if len(quoted) != 1:
        return False
    is_str = quoted.pop()
    if col_types is not None:
        ctype = {c.lower(): t for c, t in col_types.items()}.get(
            eqs[0][0].lower(), ""
        )
        kind_ok = (
            ctype == "string"
            if is_str
            else ctype in _NUMERIC_TYPES or ctype.startswith("decimal(")
        )
        if not kind_ok:
            return False
    try:
        vals = [lit if is_str else float(lit) for _, lit in eqs]
    except ValueError:
        return False
    return len(vals) == len(set(vals))


def _qualify_bare_refs(pred: str, var: str, columns: list[str]) -> str:
    """Rewrite bare column identifiers in a DEFINE predicate to ``var.col``.

    Flink semantics: an unqualified column reference in DEFINE binds to the
    row of the variable being defined — NOT the pattern-start row. Without
    this rewrite, ``B AS value > 2`` at offset 1 would silently evaluate
    ``value`` on the A row (the module's "never a silent wrong answer"
    contract forbids exactly that). String literals are left untouched;
    identifiers are only rewritten when they name a source column and are
    not already qualified or a function call."""
    colset = {c.lower() for c in columns}

    def sub(mm: re.Match) -> str:
        ident = mm.group(1)
        return f"{var}.{ident}" if ident.lower() in colset else ident

    parts = re.split(r"('(?:[^']|'')*')", pred)  # odd indices = literals
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(
            r"(?<![\w.`])([A-Za-z_]\w*)\b(?!\s*[.(])", sub, parts[i]
        )
    return "".join(parts)


def _pred_at_offset(
    pred: str, var: str, k: int, cols: list[str],
    vs: list[str] | None = None,
    nav_needs: set[tuple[str, int]] | None = None,
    max_off: int | None = None,
    all_vars: set[str] | None = None,
) -> str:
    """Rewrite a DEFINE predicate to evaluate at LEAD offset ``k``.

    PREV(var.col, n) resolves first — to the column at offset ``k - n``
    (physically the n-th preceding row, since the lowered sequences are
    adjacent). NEXT(var.col, n) resolves to offset ``k + n``. An offset
    outside the LEAD chain (before the match start, or past the chain's
    horizon) is still PHYSICAL navigation in Flink: when the caller
    passes ``nav_needs`` it is recorded as a scalar lag/lead helper
    column (``__mr_nav_{col}_m{j}`` / ``_p{j}``, anchored at the match
    START row) which the caller must attach to the plan; without
    ``nav_needs`` such an offset raises.

    ``vs`` (the fixed variant being evaluated) enables CROSS-VARIABLE
    references: ``X.col`` for another pattern variable X resolves to
    X's LAST row matched BEFORE offset k in this variant (the Flink
    DEFINE semantics — references see only already-matched rows); a
    variable with no mapped row yet evaluates to NULL, making the
    comparison false, exactly as Flink's NFA would."""

    def phys_ref(col: str, kk: int, what: str) -> str:
        # physical offset kk from the match START row
        if kk == 0:
            return col
        if 0 < kk and (max_off is None or kk <= max_off):
            return f"__mr_s{kk}.{col}"
        if nav_needs is None:
            raise UnsupportedPatternError(
                f"{what} at pattern offset {k} reaches outside the "
                "matched sequence — not lowered in this context"
            )
        nav_needs.add((col, kk))
        tag = f"m{-kk}" if kk < 0 else f"p{kk}"
        return f"__mr_nav_{col}_{tag}"

    def prev_sub(mm: re.Match) -> str:
        n = int(mm.group("n") or 1)
        kk = k - n
        return phys_ref(
            mm.group("pcol"),
            kk,
            f"PREV({mm.group('pvar')}.{mm.group('pcol')}, {n})",
        )

    def next_sub(mm: re.Match) -> str:
        n = int(mm.group("n") or 1)
        kk = k + n
        return phys_ref(
            mm.group("pcol"),
            kk,
            f"NEXT({mm.group('pvar')}.{mm.group('pcol')}, {n})",
        )

    def at_offset(m: int):
        # qualified ref -> the struct column bound at variant offset m
        return (
            lambda mm: mm.group(1) if m == 0 else f"__mr_s{m}.{mm.group(1)}"
        )

    # qualify BEFORE resolving PREV: a PREV that lands on offset 0 emits a
    # bare column name, which must not be re-qualified back to offset k.
    # All offset rewrites run on NON-LITERAL segments only — a string
    # literal containing "A.x" must survive untouched.
    def nav_sub(mm: re.Match) -> str:
        # FIRST/LAST(X.col[, n]): logical navigation over X's mapped-
        # so-far rows in this variant (own variable includes the current
        # row; others see only rows strictly before offset k). Out-of-
        # range navigation is NULL — the Flink unmatched-reference value.
        nvar = mm.group("nvar")
        n = int(mm.group("n") or 0)
        upto = k + 1 if nvar == var else k
        offs = [j for j, v in enumerate((vs or [])[:upto]) if v == nvar]
        if nvar == var and not vs:
            offs = [k]  # plain sequences: the variable's own row
        if len(offs) <= n:
            return "NULL"
        m = offs[n] if mm.group("nav").upper() == "FIRST" else offs[-1 - n]
        return (
            mm.group("ncol") if m == 0 else f"__mr_s{m}.{mm.group('ncol')}"
        )

    pred = _qualify_bare_refs(pred, var, cols)
    parts = re.split(r"('(?:[^']|'')*')", pred)  # odd indices = literals
    for i in range(0, len(parts), 2):
        seg = _NAV_DEF_RE.sub(nav_sub, parts[i])
        seg = _PREV_RE.sub(prev_sub, seg)
        seg = _NEXT_RE.sub(next_sub, seg)
        seg = re.sub(rf"\b{re.escape(var)}\.(\w+)\b", at_offset(k), seg)
        for other in set(vs or ()) - {var}:
            if not re.search(rf"\b{re.escape(other)}\.", seg):
                continue
            offs = [j for j, v in enumerate(vs[:k]) if v == other]
            if offs:
                # last already-matched row of the other variable (Flink
                # DEFINE references see only rows matched so far)
                seg = re.sub(
                    rf"\b{re.escape(other)}\.(\w+)\b",
                    at_offset(offs[-1]),
                    seg,
                )
            else:
                # not yet matched at this offset: the reference is NULL
                seg = re.sub(rf"\b{re.escape(other)}\.(\w+)\b", "NULL", seg)
        if all_vars:
            # a reference to a pattern variable ABSENT from this
            # variant (an alternation branch not taken) is an unmatched
            # reference too: NULL, comparison false — previously left
            # unrewritten and exploding as an unresolved column
            for other in all_vars - {var} - set(vs or ()):
                seg = re.sub(
                    rf"\b{re.escape(other)}\.(\w+)\b", "NULL", seg
                )
        parts[i] = seg
    return "".join(parts)


def _narrow_src(df: DataFrame, spec: MatchRecognizeSpec) -> DataFrame:
    """Project the MATCH_RECOGNIZE input to the columns the lowering can
    reference (guide §2.3 — project before the exchange): partition and
    order keys, every identifier a DEFINE text mentions, and measured
    columns. The window lowerings pack every kept column into the LEAD /
    end-info structs, which ride the partition shuffle and EVERY window
    sort — before r15 an unused payload column (at 100 TB: the widest
    one) crossed the wire once and the in-memory sorts four times per
    query. Token-scanning the raw DEFINE texts over-approximates: a
    quoted literal that happens to equal a column name keeps that column
    (harmless), and a needed column is never dropped. ALL ROWS PER MATCH
    (and WITH UNMATCHED ROWS) emits every input column, so those shapes
    keep the full row."""
    if spec.all_rows or spec.with_unmatched:
        return df
    avail = set(df.columns)
    needed = set(spec.partition_by) | set(spec.order_by)
    for pred in spec.defines.values():
        needed |= {
            tok
            for tok in re.findall(r"[A-Za-z_]\w*", pred or "")
            if tok in avail
        }
    for _var, col, _alias in spec.measures:
        if col and col != "*" and col in avail:
            needed.add(col)
    if needed >= avail:
        return df
    return df.select(*[c for c in df.columns if c in needed])


def _lower_plus(spark: SparkSession, spec: MatchRecognizeSpec) -> DataFrame:
    """PATTERN (A+ B) via gaps-and-islands — the exact lowering of the
    unbounded maximal-run shape for provably-disjoint DEFINEs.

    Greedy semantics: a match starting at an A-row consumes its entire
    consecutive A-run (disjointness guarantees no shorter run can succeed
    where the maximal one fails: the row after a shorter run satisfies A,
    and a row cannot satisfy both A and B), then requires the row after
    the run to satisfy B. SKIP TO NEXT ROW emits one match per A-row of a
    qualifying run; SKIP PAST LAST ROW keeps only the run-head start.
    A.col measures the LAST mapped A row (run end), the Flink default.

    Plan: one LEAD/LAG window pass on the partition key assigns run ids
    (running sum of run-starts) and each row's next-row struct; a second
    window over (partition, run) broadcasts the run END's info to every
    run row. The second window's clustering is a superset of the first's
    hash partitioning, so Spark inserts NO second exchange — one shuffle
    total, state O(1) per row, no join, no NFA."""
    a_var, b_var, min_run = spec.plus
    df = _narrow_src(spark.table(spec.table), spec)
    cols = df.columns
    w = Window.partitionBy(*spec.partition_by).orderBy(*spec.order_by)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    a_here = F.expr(_pred_at_offset(spec.defines[a_var], a_var, 0, cols))
    out = (
        df.withColumn("__a", F.coalesce(a_here, F.lit(False)))
        .withColumn("__prev_a", F.lag("__a").over(w))
        .withColumn("__mr_s1", F.lead(F.struct(*cols)).over(w))
    )
    # FIRST/LAST(A.col, n) logical offsets: the run's mapped rows are
    # CONSECUTIVE physical rows start..end, so the (n+1)-th mapped row is
    # LEAD(col, n) at the start and the n-from-last is LAG(col, n) at the
    # end (broadcast via the end-info struct). Both ride the SAME window
    # pass — no extra exchange; validity (offset < run length) is checked
    # against the suffix run count at emission time.
    first_offs = sorted(
        {
            (col_, spec.measure_nav_offset[alias_])
            for var_, col_, alias_ in spec.measures
            if var_ == a_var
            and alias_ not in spec.measure_agg
            and spec.measure_nav.get(alias_) == "FIRST"
            and spec.measure_nav_offset.get(alias_, 0) > 0
        }
    )
    last_offs = sorted(
        {
            (col_, spec.measure_nav_offset[alias_])
            for var_, col_, alias_ in spec.measures
            if var_ == a_var
            and alias_ not in spec.measure_agg
            and spec.measure_nav.get(alias_) != "FIRST"
            and spec.measure_nav_offset.get(alias_, 0) > 0
        }
    )
    for col_, n_ in first_offs:
        out = out.withColumn(f"__mr_f{n_}_{col_}", F.lead(col_, n_).over(w))
    for col_, n_ in last_offs:
        out = out.withColumn(f"__mr_l{n_}_{col_}", F.lag(col_, n_).over(w))
    next_a = F.col("__mr_s1").isNotNull() & F.coalesce(
        F.expr(_pred_at_offset(spec.defines[a_var], a_var, 1, cols)),
        F.lit(False),
    )
    next_b = F.col("__mr_s1").isNotNull() & F.coalesce(
        F.expr(_pred_at_offset(spec.defines[b_var], b_var, 1, cols)),
        F.lit(False),
    )
    out = (
        out.withColumn("__end", F.col("__a") & ~next_a)
        .withColumn("__next_b", next_b)
        .withColumn(
            "__isl",
            F.sum(
                F.when(
                    F.col("__a") & ~F.coalesce(F.col("__prev_a"), F.lit(False)),
                    1,
                ).otherwise(0)
            ).over(w_run),
        )
    )
    wi = (
        Window.partitionBy(*spec.partition_by, "__isl")
        .orderBy(*spec.order_by)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    end_info = F.last(
        F.when(
            F.col("__end"),
            F.struct(
                *[F.col(c) for c in cols],
                F.col("__mr_s1").alias("__nx"),
                F.col("__next_b").alias("__nb"),
                # LAST(A.col, n): the run end's lag-n values, broadcast
                # with the rest of the end info
                *[
                    F.col(f"__mr_l{n_}_{col_}").alias(f"__l{n_}_{col_}")
                    for col_, n_ in last_offs
                ],
            ),
        ),
        ignorenulls=True,
    ).over(wi)
    out = out.withColumn("__endinfo", end_info)

    run_aggs = [
        (alias, spec.measure_agg[alias], var, col)
        for var, col, alias in spec.measures
        if alias in spec.measure_agg and var == a_var
    ]
    if min_run > 1 or run_aggs or first_offs or last_offs:
        # suffix frame over the island partition (same clustering as the
        # end-info window, no extra exchange): counts/sums of the run's
        # A-rows from this start to the run end
        wi_rem = (
            Window.partitionBy(*spec.partition_by, "__isl")
            .orderBy(*spec.order_by)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        if min_run > 1 or first_offs or last_offs:
            out = out.withColumn(
                "__mr_rem",
                F.count(F.when(F.col("__a"), F.lit(1))).over(wi_rem),
            )
        _AGG_FNS = {"COUNT": F.count, "SUM": F.sum, "AVG": F.avg,
                    "MIN": F.min, "MAX": F.max}
        for alias, fn, _var, col in run_aggs:
            arg = F.lit(1) if col == "*" else F.col(col)
            out = out.withColumn(
                f"__agg_{alias}",
                _AGG_FNS[fn](F.when(F.col("__a"), arg)).over(wi_rem),
            )

    cond = (
        F.col("__a")
        & F.col("__endinfo").isNotNull()
        & F.col("__endinfo.__nb")
    )
    if min_run > 1:
        cond = cond & (F.col("__mr_rem") >= min_run)
    if spec.within_seconds is not None:
        ts0 = spec.order_by[0]
        cond = cond & (
            F.col(f"__endinfo.__nx.{ts0}")
            <= F.col(ts0) + F.expr(f"INTERVAL {spec.within_seconds} SECOND")
        )
    if spec.skip_past_last:
        # disjoint DEFINEs → runs never share rows, so greedy skipping
        # emits at most one match per run — from the EARLIEST start that
        # satisfies every condition (incl. WITHIN: Flink prunes a
        # timed-out partial match and restarts from the next A-row, so a
        # run whose head violates WITHIN still matches from the first
        # start inside the bound). Earliest-candidate = candidate with no
        # preceding candidate in the same island — one more window over
        # the island clustering, no extra exchange.
        w_prev_cand = (
            Window.partitionBy(*spec.partition_by, "__isl")
            .orderBy(*spec.order_by)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        out = out.withColumn("__cand", cond).withColumn(
            "__first_cand",
            F.col("__cand")
            & (
                F.count(F.when(F.col("__cand"), F.lit(1))).over(w_prev_cand)
                == 0
            ),
        )
        cond = F.col("__first_cand")
    matched = out.filter(cond)
    if any(var == MATCH_NUMBER for var, _, _ in spec.measures):
        matched = matched.withColumn("__mr_mn", F.row_number().over(w))

    select = [F.col(pc) for pc in spec.partition_by]
    for var, col, alias in spec.measures:
        if var == MATCH_NUMBER:
            select.append(F.col("__mr_mn").alias(alias))
        elif var == CLASSIFIER:
            select.append(F.lit(b_var).alias(alias))
        elif alias in spec.measure_agg:
            if var == a_var:  # precomputed suffix aggregate over the run
                select.append(F.col(f"__agg_{alias}").alias(alias))
            else:  # B maps exactly one row: the aggregate degenerates
                fn = spec.measure_agg[alias]
                if fn == "COUNT":
                    # COUNT(B.*) = 1; COUNT(B.col) counts non-NULL values
                    one = (
                        F.lit(1).cast("long")
                        if col == "*"
                        else F.col(f"__endinfo.__nx.{col}")
                        .isNotNull()
                        .cast("long")
                    )
                    select.append(one.alias(alias))
                else:
                    select.append(
                        F.col(f"__endinfo.__nx.{col}").alias(alias)
                    )
        elif var == a_var:
            noff = spec.measure_nav_offset.get(alias, 0)
            if spec.measure_nav.get(alias) == "FIRST":
                if noff == 0:
                    # FIRST(A.col): the match start — the current row
                    select.append(F.col(col).alias(alias))
                else:
                    # FIRST(A.col, n): n rows after the start, NULL once
                    # the offset walks past the run (SQL:2016)
                    select.append(
                        F.when(
                            F.col("__mr_rem") > noff,
                            F.col(f"__mr_f{noff}_{col}"),
                        ).alias(alias)
                    )
            elif noff == 0:
                # bare A.col / LAST(A.col): the run END (Flink default)
                select.append(F.col(f"__endinfo.{col}").alias(alias))
            else:
                # LAST(A.col, n): n rows before the run end, same bound
                select.append(
                    F.when(
                        F.col("__mr_rem") > noff,
                        F.col(f"__endinfo.__l{noff}_{col}"),
                    ).alias(alias)
                )
        elif spec.measure_nav_offset.get(alias, 0) > 0:
            # B maps exactly one row: any logical offset >= 1 is NULL
            select.append(
                F.lit(None)
                .cast(dict(df.dtypes).get(col, "string"))
                .alias(alias)
            )
        else:
            select.append(F.col(f"__endinfo.__nx.{col}").alias(alias))
    return matched.select(*select)


def _lower_plus_overlap(
    spark: SparkSession, spec: MatchRecognizeSpec
) -> DataFrame:
    """PATTERN (A+ B) with OVERLAPPING DEFINEs — the NFA-requiring run
    shape, lowered as an Arrow-batched greedy matcher per PARTITION BY
    key (the same keyed-state model Flink's CEP operator shuffles by).

    Greedy backtracking collapses to a closed form: the match starting at
    row i extends A over the maximal A-satisfying run [i..m]; when the
    run dies (first non-A row, end of data, or the WITHIN horizon) the
    NFA backtracks to the LATEST branch point — so the match end is
    simply the largest k in (i, m+1] with B(k) true and ts_k inside the
    WITHIN bound (rows i..k-1 all satisfy A because k-1 <= m). Each
    partition is decided in one vectorized pass: next-non-A and
    latest-B-so-far prefix arrays give every start's match end in O(1).
    The skip walk and the measure emission are the shared CEP core's
    (plans/cep_core), so every AFTER MATCH mode and ALL ROWS PER MATCH
    behave exactly as on the NFA lowering.

    Predicate evaluation stays JVM-side: ``__a`` / ``__b`` are computed
    as Catalyst expressions before the single shuffle on the partition
    key; Python sees only booleans, the order columns, and the measured
    columns. State per group is the group itself — the same per-key
    memory contract as Flink CEP with an unbounded pattern.
    """
    import numpy as np

    from . import cep_core

    a_var, b_var, min_run = spec.plus
    df = _narrow_src(spark.table(spec.table), spec)
    cols = df.columns
    a_text, need_a = _rewrite_nav_physical(spec.defines[a_var], a_var)
    b_text, need_b = _rewrite_nav_physical(spec.defines[b_var], b_var)
    src = _with_nav_columns(df, spec, need_a | need_b)
    a_pred = F.expr(_pred_at_offset(a_text, a_var, 0, cols))
    b_pred = F.expr(_pred_at_offset(b_text, b_var, 0, cols))
    src = src.withColumn("__a", F.coalesce(a_pred, F.lit(False))).withColumn(
        "__b", F.coalesce(b_pred, F.lit(False))
    )
    order_cols = list(spec.order_by)
    ts0 = order_cols[0]
    within = _within_checked(spec, df)
    out_schema, emit, int_cols, val_cols = _nfa_output(spec, df)

    def match_group(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(
            drop=True
        )
        n = len(pdf)
        a = pdf["__a"].to_numpy(dtype=bool)
        b = pdf["__b"].to_numpy(dtype=bool)
        # nf[i] = first index >= i failing A (n if the run reaches the end)
        nf = np.empty(n + 1, dtype=np.int64)
        nf[n] = n
        for i in range(n - 1, -1, -1):
            nf[i] = i if not a[i] else nf[i + 1]
        # prev_b[j] = latest index <= j with B true (-1 if none)
        prev_b = np.maximum.accumulate(
            np.where(b, np.arange(n, dtype=np.int64), -1)
        ) if n else np.empty(0, dtype=np.int64)
        if within is not None:
            ts = pdf[ts0].to_numpy()  # datetime64[ns], sorted
            horizon = ts + np.timedelta64(int(within), "s")

        def greedy_end(i: int) -> int:
            # largest k in (i, nf[i]] with B(k) and ts_k inside WITHIN
            k0 = min(nf[i], n - 1)
            if within is not None:
                k0 = min(
                    k0, int(np.searchsorted(ts, horizon[i], side="right")) - 1
                )
            if k0 <= i:
                return -1
            k = int(prev_b[k0])
            if k <= i or k - i < min_run:
                return -1
            return k

        def match_from(i: int):
            # greedy: prefer a run with >= 1 A row; a zero-min pattern
            # (A* / A{0,}) backtracks to the empty run — the start row
            # itself must then satisfy B
            k = greedy_end(i) if a[i] else -1
            if k < 0 and min_run == 0 and b[i]:
                k = i
            if k < 0:
                return None
            return [(a_var, j) for j in range(i, k)] + [(b_var, k)]

        matches = cep_core.find_matches(
            match_from, n, spec.skip_past_last, spec.skip_to
        )
        vals = {c: pdf[c].tolist() for c in val_cols}
        return cep_core.emit_frame(
            pdf, matches, spec, emit, lambda i, c: vals[c][i], int_cols
        )

    if not spec.all_rows:
        # ONE ROW PER MATCH reads only the keys, the order columns, the
        # JVM-precomputed booleans, and the measured columns — prune the
        # rest (notably wide text/props columns) before the Arrow hop
        src = src.select(
            *dict.fromkeys(
                list(spec.partition_by) + order_cols + ["__a", "__b"] + val_cols
            )
        )
    return _grouped_apply(src, list(spec.partition_by), match_group, out_schema)


def _with_nav_columns(df, spec, needs):
    """Attach the window lag/lead columns ``_rewrite_nav_physical``
    names: (col, offset) with offset < 0 a lag, > 0 a lead."""
    if not needs:
        return df
    w = Window.partitionBy(*spec.partition_by).orderBy(*spec.order_by)
    for col, off in sorted(needs):
        name = (
            f"__mr_prev_{col}_{-off}" if off < 0 else f"__mr_next_{col}_{off}"
        )
        nav = F.lag(col, -off) if off < 0 else F.lead(col, off)
        df = df.withColumn(name, nav.over(w))
    return df


def _within_checked(spec, df):
    """The WITHIN bound in seconds (None without one); WITHIN needs a
    TIMESTAMP primary ORDER BY column."""
    ts0 = spec.order_by[0]
    if spec.within_seconds is not None and dict(df.dtypes).get(ts0) != "timestamp":
        raise UnsupportedPatternError(
            f"WITHIN requires a TIMESTAMP ORDER BY column ({ts0!r} is "
            f"{dict(df.dtypes).get(ts0)!r})"
        )
    return spec.within_seconds


def _nfa_output(spec, df, extra_cols=()):
    """Output schema, measure emitter, integral source columns and the
    columns the per-key matcher reads values from (measured columns
    plus ``extra_cols``) for the batch matchers: partition keys +
    measures under ONE ROW, every source column + measures under ALL
    ROWS."""
    from pyspark.sql import types as T

    from . import cep_core

    fields = cep_core.measure_fields(spec, df.schema)
    src_fields = {f.name: f for f in df.schema.fields}
    head = df.columns if spec.all_rows else spec.partition_by
    out_schema = T.StructType([src_fields[c] for c in head] + fields)
    int_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
    ]
    val_cols = list(
        dict.fromkeys(
            [
                col
                for var, col, _ in spec.measures
                if col and col != "*" and var not in (MATCH_NUMBER, CLASSIFIER)
            ]
            + sorted(extra_cols)
        )
    )
    return out_schema, cep_core.measure_emitter(spec, fields), int_cols, val_cols


def _grouped_apply(src, pby, fn, schema):
    """Group-aware ``mapInPandas``: hash-repartition on the PARTITION
    BY keys, sort each partition so a key's rows are contiguous, then
    call ``fn`` once per key INSIDE the Arrow batch stream — one Python
    round-trip per ~10k-row batch instead of one per key.

    Why not ``groupBy().applyInPandas``: that plan ships every group as
    its own Arrow batch + IPC exchange, so its cost scales with KEY
    CARDINALITY, not data volume — a no-op matcher over sf1z's 15k
    user_ids costs 3.3 s before any matching happens, and the CEP legs
    grew 4-6x for 10x data (VERDICT r12 perf #3). Real event streams
    have millions of keys with bounded per-key history; this wrapper
    makes the Python overhead proportional to bytes scanned, which is
    the only thing that grows at 100 TB. Keys still co-locate by hash,
    so one hot key lands one partition exactly as groupBy would place
    it (AQE skew handling applies to the exchange either way).

    ``fn`` has the applyInPandas contract: one key's rows (arbitrary
    intra-key order — matchers re-sort by ORDER BY themselves), returns
    a DataFrame with ``schema``'s columns. A key whose rows straddle
    two Arrow batches is carried across the boundary, so ``fn`` always
    sees the complete key."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, FloatType

    names = [f.name for f in schema.fields]

    # FLOATING partition keys (ADVICE r13): after Arrow conversion both
    # SQL NULL and float NaN become pandas NaN, so the isna-based group
    # comparison below would merge adjacent NULL-key and NaN-key runs —
    # while Spark's groupBy keeps NULL and NaN distinct. Carry an
    # explicit is-null indicator per float key through the repartition/
    # sort and fold it into the grouping comparison; non-float keys
    # (every current caller) skip this entirely.
    float_keys = [
        c
        for c in pby
        if isinstance(src.schema[c].dataType, (FloatType, DoubleType))
    ]
    if float_keys:
        src = src.withColumns(
            {f"__mr_knull_{c}": F.col(c).isNull() for c in float_keys}
        )
    key_cols = list(pby) + [f"__mr_knull_{c}" for c in float_keys]

    def _gids(pdf: pd.DataFrame) -> np.ndarray:
        prev = pdf[key_cols].shift()
        neq = None
        for c in key_cols:
            ne = (pdf[c] != prev[c]) & ~(pdf[c].isna() & prev[c].isna())
            neq = ne if neq is None else (neq | ne)
        return neq.to_numpy(dtype=bool).cumsum()

    def _emit(pdf: pd.DataFrame):
        gid = _gids(pdf)
        starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
        ends = np.r_[starts[1:], len(pdf)]
        outs = []
        for s, e in zip(starts, ends):
            r = fn(pdf.iloc[int(s):int(e)].reset_index(drop=True))
            if len(r):
                outs.append(r[names])
        if outs:
            yield pd.concat(outs, ignore_index=True)

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            gid = _gids(pdf)
            starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
            if len(starts) > 1:
                cut = int(starts[-1])
                yield from _emit(pdf.iloc[:cut])
                carry = pdf.iloc[cut:].reset_index(drop=True)
            else:
                carry = pdf  # single (possibly continuing) key
        if carry is not None and len(carry):
            yield from _emit(carry)

    parted = src.repartition(*[F.col(c) for c in pby]).sortWithinPartitions(
        *pby
    )
    return parted.mapInPandas(run, schema=schema)


def _agg_over_refs(fn: str, refs: list, star_count: int | None = None):
    """Aggregate expression over a fixed list of per-offset column refs
    with SQL NULL semantics (NULL inputs skipped, all-NULL -> NULL,
    COUNT -> 0, AVG divides by the non-NULL count — matching both Flink
    and the A+ path's native window aggs). ``star_count``: COUNT(Var.*)
    counts mapped rows as a literal."""
    if star_count is not None:
        return F.lit(star_count).cast("long")
    nn_count = refs[0].isNotNull().cast("long")
    for r in refs[1:]:
        nn_count = nn_count + r.isNotNull().cast("long")
    if fn == "COUNT":
        return nn_count
    if fn in ("SUM", "AVG"):
        e = F.coalesce(refs[0], F.lit(0))
        for r in refs[1:]:
            e = e + F.coalesce(r, F.lit(0))
        e = F.when(nn_count > 0, e)
        return e / nn_count if fn == "AVG" else e
    # least/greatest skip NULLs natively (NULL only if all are)
    if fn == "MIN":
        return F.least(*refs) if len(refs) > 1 else refs[0]
    return F.greatest(*refs) if len(refs) > 1 else refs[0]


def _rewrite_nav_physical(
    pred: str, var: str
) -> tuple[str, set[tuple[str, int]]]:
    """Rewrite ``PREV/NEXT(var.col[, n])`` to precomputed window lag/lead
    columns (``__mr_prev_{col}_{n}`` / ``__mr_next_{col}_{n}``) for the
    unbounded-run lowerings. Both navigate PHYSICAL partition rows (Flink
    semantics), so columns computed JVM-side before the per-key matcher
    sees the rows are exact at any run length. String literals survive
    untouched. Returns (col, offset) needs: offset < 0 = lag, > 0 = lead."""
    needed: set[tuple[str, int]] = set()

    def sub_prev(mm: re.Match) -> str:
        col, n = mm.group("pcol"), int(mm.group("n") or 1)
        needed.add((col, -n))
        return f"__mr_prev_{col}_{n}"

    def sub_next(mm: re.Match) -> str:
        col, n = mm.group("pcol"), int(mm.group("n") or 1)
        needed.add((col, n))
        return f"__mr_next_{col}_{n}"

    parts = re.split(r"('(?:[^']|'')*')", pred)
    for i in range(0, len(parts), 2):
        parts[i] = _PREV_RE.sub(sub_prev, parts[i])
        parts[i] = _NEXT_RE.sub(sub_next, parts[i])
    return "".join(parts), needed


def _skip_past_selection(
    matched: DataFrame,
    spec: MatchRecognizeSpec,
    lens: list[int],
    df: DataFrame,
    variants: list[list[str]],
) -> DataFrame:
    """AFTER MATCH SKIP PAST LAST ROW when per-start greedy candidates can
    overlap (quantified variables or non-disjoint DEFINEs).

    The LEAD-chain lowering computes every start row's greedy match
    exactly, independent of the skip mode (DEFINEs cannot reference prior
    matches, so skipping only decides WHICH starts are explored). The
    NFA's skip-past behavior is therefore a sequential leftmost
    non-overlapping selection over the candidates: walk starts in window
    order, emit a candidate whose start lies past the previous emitted
    match's end, resume after that end.

    Scale: the sequential pass sees ONLY scalar candidate tuples
    (partition keys, start position, variant length) — the full-width
    rows with their LEAD structs never leave the JVM. Selection returns
    the kept start positions, semi-joined back on (keys, position); both
    sides are already partitioned by the pattern's PARTITION BY key.
    """
    import pandas as pd
    from pyspark.sql import types as T

    pby = list(spec.partition_by)
    # per-candidate RESUME delta (rows from match start to the next scan
    # position): SKIP PAST LAST ROW resumes past the end (delta = match
    # length); SKIP TO FIRST/LAST <var> resumes AT that mapped row
    # (inclusive — the next match may start there)
    if spec.skip_to is None:
        deltas = list(lens)
    else:
        nav, tvar = spec.skip_to
        deltas = []
        for vs in variants:
            offs = [i for i, v in enumerate(vs) if v == tvar]
            if not offs:
                # variable unmatched in this variant (other alternation
                # branch): no mapped row to skip to — resume past the end
                deltas.append(len(vs))
            else:
                deltas.append(offs[0] if nav == "FIRST" else offs[-1])
        if all(d == 0 for d in deltas):
            raise UnsupportedPatternError(
                f"AFTER MATCH SKIP TO {nav} {tvar} always points at the "
                "match start — resuming there would loop forever (Flink "
                "raises the same error)"
            )
    delta_arr = F.array(*[F.lit(d) for d in deltas])
    cand = matched.select(
        *pby,
        F.col("__mr_rn"),
        F.element_at(delta_arr, F.col("__mr_vi") + 1).alias("__mr_delta"),
    )
    sel_schema = T.StructType(
        [df.schema[pc] for pc in pby]
        + [T.StructField("__mr_rn", T.IntegerType(), False)]
    )
    skip_desc = (
        "SKIP PAST LAST ROW"
        if spec.skip_to is None
        else f"SKIP TO {spec.skip_to[0]} {spec.skip_to[1]}"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__mr_rn")
        keep: list[int] = []
        cur = 0
        for rn, dl in zip(pdf["__mr_rn"], pdf["__mr_delta"]):
            if rn >= cur:
                if int(dl) <= 0:
                    raise ValueError(
                        f"AFTER MATCH {skip_desc}: the skip target IS "
                        "the match start — resuming there would loop "
                        "forever (Flink raises the same error)"
                    )
                keep.append(int(rn))
                cur = int(rn) + int(dl)
        out = {pc: [pdf[pc].iloc[0]] * len(keep) for pc in pby}
        out["__mr_rn"] = keep
        return pd.DataFrame(out, columns=pby + ["__mr_rn"])

    selected = _grouped_apply(cand, pby, pick, sel_schema)
    # null-SAFE key equality: PARTITION BY columns may hold NULL (a
    # NULL key is its own partition, same as GROUP BY/keyBy); a
    # name-list equi join would silently drop every NULL-key match
    join_cols = pby + ["__mr_rn"]
    sel = selected.select(
        *[F.col(c).alias(f"__mr_sel_{i}") for i, c in enumerate(join_cols)]
    )
    cond = F.lit(True)
    for i, c in enumerate(join_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__mr_sel_{i}"))
    return matched.join(sel, on=cond, how="left_semi")


def _pos_spec_to_ast(
    pos_spec: list[tuple[list[str], int, int | None, bool]],
) -> tuple:
    """Equivalent nested-pattern AST for a flat position spec — used to
    re-route a flat pattern through the generator backtracker when
    per-row alternative choice matters (cross-variable DEFINEs)."""
    terms: list[tuple] = []
    for alts, lo, hi, lazy in pos_spec:
        node: tuple = (
            ("var", alts[0])
            if len(alts) == 1
            else ("alt", tuple(("var", a) for a in alts))
        )
        if not (lo == 1 and hi == 1 and not lazy):
            node = ("quant", node, lo, hi, lazy)
        terms.append(node)
    return terms[0] if len(terms) == 1 else ("seq", tuple(terms))


def _lower_nfa(spark: SparkSession, spec: MatchRecognizeSpec) -> DataFrame:
    """General adjacent pattern with UNBOUNDED quantifiers at arbitrary
    positions — PATTERN (A B+ C), (A* B C), (X{2,} Y Z) — with bounded
    quantifiers, alternation groups, nested groups and PERMUTE freely
    mixed: a per-key Arrow-batched backtracking NFA, both PER MATCH
    modes.

    Predicates stay JVM-side: every variable's row-local DEFINE parts
    (current row + physical PREV/NEXT as window lag/lead columns)
    become one boolean column before the single shuffle on the
    PARTITION BY key; Python sees one bitmask per row, the order
    columns, and the columns cross checks and measures read. Nested
    patterns run the shared CEP core's AST matcher
    (plans/cep_core.match_at); a flat position list keeps its own
    finder — a depth-first search whose (position, row) memo is shared
    across starts, O(positions x rows) per key. Cross-variable DEFINE
    parts, the skip walk and the measure emission are the core's too.
    WITHIN bounds every matched row against the start row. A spec
    still carrying ``spec.plus`` (the A+ B fast-path shape) raises:
    the run must move into ``spec.unbounded`` first."""
    import numpy as np

    from . import cep_core

    if spec.plus is not None:
        raise ValueError(
            f"_lower_nfa: spec.plus={spec.plus!r} is set — move the run "
            "into spec.unbounded (and clear spec.plus) before lowering "
            "on the NFA; the NFA does not read spec.plus"
        )
    df = spark.table(spec.table)
    cols = df.columns
    local, checks, cross_cols = cep_core.split_defines(spec, cols)
    needs: set[tuple[str, int]] = set()
    src = df
    flag_cols = []
    texts = {}
    for v in spec.pattern:
        texts[v], nv = _rewrite_nav_physical(
            " AND ".join(local[v]) if local[v] else "TRUE", v
        )
        needs |= nv
    src = _with_nav_columns(src, spec, needs)
    for v in spec.pattern:
        src = src.withColumn(
            f"__mrp_{v}",
            F.coalesce(
                F.expr(_pred_at_offset(texts[v], v, 0, cols)), F.lit(False)
            ),
        )
        flag_cols.append(f"__mrp_{v}")
    bits = {v: i for i, v in enumerate(spec.pattern)}
    order_cols = list(spec.order_by)
    ts0 = order_cols[0]
    within = _within_checked(spec, df)

    # per sequence position: (alternatives, lo, hi, lazy) — hi None =
    # unbounded. Each repetition of the position matches ANY alternative
    # (leftmost-preferred row assignment); a single-variable position is
    # the one-alternative special case.
    pos_spec: list[tuple[list[str], int, int | None, bool]] = []
    for gi, alts in enumerate(spec.positions):
        if gi in spec.pos_quants:
            lo, hi, lazy = spec.pos_quants[gi]
        elif len(alts) == 1 and alts[0] in spec.unbounded:
            lo, hi = spec.unbounded[alts[0]], None
            lazy = alts[0] in spec.lazy_vars
        elif len(alts) == 1 and alts[0] in spec.quants:
            lo, hi = spec.quants[alts[0]]
            lazy = alts[0] in spec.lazy_vars
        else:
            lo, hi, lazy = 1, 1, False
        pos_spec.append((list(alts), lo, hi, lazy))
    pattern_ast = spec.pattern_ast
    # Cross-variable DEFINEs make matchability depend on WHICH
    # alternative labels each row, but the flat dfs fixes the leftmost
    # passing alternative per row and backtracks only over repetition
    # counts — so (A (B|C)+ D) with D AS D.x > LAST(B.x) could miss
    # matches a true NFA finds. Route that combination through the AST
    # matcher, which enumerates per-repetition alternative choices.
    if (
        pattern_ast is None
        and checks
        and any(len(alts) > 1 for alts, _, _, _ in pos_spec)
    ):
        pattern_ast = _pos_spec_to_ast(pos_spec)
    alt_bits = [[(v, 1 << bits[v]) for v in alts] for alts, _, _, _ in pos_spec]
    out_schema, emit, int_cols, val_cols = _nfa_output(spec, df, cross_cols)

    def match_group(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(
            drop=True
        )
        n = len(pdf)
        masks = sum(
            pdf[c].to_numpy(dtype=np.int64) << i
            for i, c in enumerate(flag_cols)
        ).tolist()
        vals = {c: pdf[c].tolist() for c in val_cols}

        def val_at(i, c):
            return vals[c][i]

        if within is not None:
            ts = pdf[ts0].to_numpy()
            horizon = np.searchsorted(
                ts, ts + np.timedelta64(int(within), "s"), side="right"
            ) - 1
        # Without WITHIN the (position, row) subproblem is start-
        # independent, so one memo (successes AND failures) is shared
        # across every start: each (p, i) is solved once. A WITHIN bound
        # makes `lim` start-relative, so the memo resets per start;
        # cross checks depend on the partial match, so they disable it.
        shared_memo: dict | None = {} if within is None else None

        def match_from(s: int):
            lim = n - 1 if within is None else int(horizon[s])
            if pattern_ast is not None:
                return cep_core.match_at(
                    pattern_ast, masks, bits, s, lim, checks, val_at
                )
            memo = (
                None
                if checks
                else (shared_memo if shared_memo is not None else {})
            )

            def dfs(p: int, i: int, acc: list) -> list | None:
                if p == len(pos_spec):
                    return []
                key = (p, i)
                if memo is not None and key in memo:
                    return memo[key]
                _, lo, hi, lazy = pos_spec[p]
                assigned: list[str] = []
                j = i
                run_acc = acc
                while j <= lim and (hi is None or len(assigned) < hi):
                    # leftmost-preferred alternative for this row
                    for v, bit in alt_bits[p]:
                        if masks[j] & bit and (
                            v not in checks
                            or eval_rich_cross(checks[v], v, j, run_acc, val_at)
                        ):
                            break
                    else:
                        break
                    assigned.append(v)
                    run_acc = run_acc + [(v, j)]
                    j += 1
                counts = (
                    range(lo, len(assigned) + 1)
                    if lazy
                    else range(len(assigned), lo - 1, -1)
                )
                res = None
                for c in counts:
                    taken = [(assigned[t], i + t) for t in range(c)]
                    rest = dfs(p + 1, i + c, acc + taken)
                    if rest is not None:
                        res = taken + rest
                        break
                if memo is not None:
                    memo[key] = res
                return res

            # a match must CONSUME its start row (matching is attempted
            # AT s); min_len >= 1 guarantees a non-empty mapping
            return dfs(0, s, []) or None

        matches = cep_core.find_matches(
            match_from, n, spec.skip_past_last, spec.skip_to
        )
        return cep_core.emit_frame(pdf, matches, spec, emit, val_at, int_cols)

    if not spec.all_rows:
        # ONE ROW PER MATCH: only keys, order columns, the per-variable
        # booleans, and the columns cross checks and measures read cross
        # the Arrow hop
        src = src.select(
            *dict.fromkeys(
                list(spec.partition_by) + order_cols + flag_cols + val_cols
            )
        )
    return _grouped_apply(src, list(spec.partition_by), match_group, out_schema)


def lower_match_recognize(spark: SparkSession, spec: MatchRecognizeSpec) -> DataFrame:
    """Build the LEAD-chain DataFrame for an adjacent-sequence pattern.

    Output columns: PARTITION BY keys + measure aliases.

    Plain sequences bind variable k to LEAD offset k. A bounded
    quantifier (``A{n,m} B``) expands into the m-n+1 fixed-length
    variants; greedy (Flink-default) semantics pick the LONGEST variant
    that matches at each start row, evaluated as one descending
    ``F.when`` chain over the shared LEAD columns — still a single
    window pass / one shuffle on the partition key. The unbounded run
    shape (``A+ B``) dispatches to the gaps-and-islands lowering."""
    table = spark.table(spec.table)
    _settle_skip_paths(spec, dict(table.dtypes))
    if (
        spec.unbounded or spec.pos_quants or spec.pattern_ast is not None
    ) and spec.plus is None:
        return _lower_nfa(spark, spec)
    if spec.plus is not None:
        if spec.plus_overlap:
            return _lower_plus_overlap(spark, spec)
        return _lower_plus(spark, spec)
    df = _narrow_src(table, spec)
    cols = df.columns
    w = Window.partitionBy(*spec.partition_by).orderBy(*spec.order_by)

    positions = spec.positions or [[v] for v in spec.pattern]
    # Per-position choices: a quantified variable contributes its run
    # lengths LONGEST FIRST (greedy), an alternation group its
    # alternatives in declaration order (leftmost preferred). The cross
    # product enumerates every fixed-length variant in Flink's regex
    # preference order — earlier positions dominate, the rightmost
    # position varies fastest — and the when-chain below makes
    # first-matching-variant = preferred variant. Parse re-routes any
    # product past 64 variants / 12 rows through the generator NFA, so
    # this path only ever sees plan-sized when-chains.
    variants: list[list[str]] = [[]]
    for alts in positions:
        if len(alts) == 1 and alts[0] in spec.quants:
            lo, hi = spec.quants[alts[0]]
            # greedy: longest count first; RELUCTANT (A{n,m}?): shortest
            rng = (
                range(lo, hi + 1)
                if alts[0] in spec.lazy_vars
                else range(hi, lo - 1, -1)
            )
            choices = [[alts[0]] * c for c in rng]
        else:
            choices = [[a] for a in alts]
        variants = [v + c for v in variants for c in choices]
    if spec.permute:
        # PERMUTE (A, B, ...): every ordering of the variables, in
        # lexicographic preference order over the declaration
        # (itertools yields exactly that), sharing one LEAD chain
        from itertools import permutations

        variants = [list(p) for p in permutations(spec.pattern)]
    max_len = max(len(v) for v in variants)

    out = df
    # one struct-valued LEAD per pattern offset: a single window pass
    # computes every future-row binding (Catalyst collapses the k leads
    # into one WindowExec over one shuffle)
    for k in range(1, max_len):
        out = out.withColumn(f"__mr_s{k}", F.lead(F.struct(*cols), k).over(w))
    if spec.skip_filter:
        # window position of each candidate start — rides the same
        # window pass as the LEADs (no extra exchange); the skip-past
        # selection and unmatched-coverage join key off it
        out = out.withColumn("__mr_rn", F.row_number().over(w))

    # resolve every variant's DEFINE texts up front: PREV/NEXT may
    # navigate PHYSICALLY outside the LEAD chain (before the match start
    # or past the last chained offset), which materializes as scalar
    # lag/lead helper columns riding the same window (no extra exchange)
    nav_needs: set[tuple[str, int]] = set()
    pred_texts: dict[tuple[int, int], str] = {}
    for vi_, vs_ in enumerate(variants):
        for k_, v_ in enumerate(vs_):
            pred_texts[(vi_, k_)] = _pred_at_offset(
                spec.defines[v_], v_, k_, cols, vs_,
                nav_needs=nav_needs, max_off=max_len - 1,
                all_vars=set(spec.pattern),
            )
    for nav_col, kk in sorted(nav_needs):
        tag = f"m{-kk}" if kk < 0 else f"p{kk}"
        nav = F.lag(nav_col, -kk) if kk < 0 else F.lead(nav_col, kk)
        out = out.withColumn(f"__mr_nav_{nav_col}_{tag}", nav.over(w))

    def variant_cond(vi: int, vs: list[str]):
        cond = None
        for k, var in enumerate(vs):
            parts = []
            if k > 0:
                parts.append(F.col(f"__mr_s{k}").isNotNull())
            parts.append(F.expr(pred_texts[(vi, k)]))
            for p in parts:
                cond = p if cond is None else cond & p
        last = len(vs) - 1
        if spec.within_seconds is not None and last > 0:
            # a single-row variant (all other positions at length 0)
            # satisfies any WITHIN bound trivially
            ts0, tsn = spec.order_by[0], f"__mr_s{last}.{spec.order_by[0]}"
            cond = cond & (
                F.col(tsn)
                <= F.col(ts0) + F.expr(f"INTERVAL {spec.within_seconds} SECOND")
            )
        return cond

    # matched VARIANT INDEX per start row (variants listed in preference
    # order: longest first for greedy quantifiers, leftmost alternative
    # first for alternation); rows matching no variant are filtered out
    idx_expr = None
    for i, vs in enumerate(variants):
        c = variant_cond(i, vs)
        idx_expr = (
            F.when(c, F.lit(i)) if idx_expr is None else idx_expr.when(c, F.lit(i))
        )
    indexed = out.withColumn("__mr_vi", idx_expr)
    matched = indexed.filter(F.col("__mr_vi").isNotNull())
    lens = [len(v) for v in variants]
    if spec.skip_filter:
        matched = _skip_past_selection(matched, spec, lens, df, variants)
    if any(var == MATCH_NUMBER for var, _, _ in spec.measures):
        # Flink MATCH_NUMBER(): sequential per partition in match order.
        # Matches are keyed by their start row, so ordering matched rows
        # by the pattern ORDER BY gives the NFA's numbering; the window
        # reuses the LEAD chain's partitioning (no second exchange) and
        # ranks only the matched subset.
        matched = matched.withColumn("__mr_mn", F.row_number().over(w))

    def ref_at(
        var: str, col: str, vs: list[str], nav: str = "LAST", off: int = 0
    ):
        # Flink: bare Var.col on a multiply-mapped variable = LAST mapped
        # row; FIRST(Var.col) = first mapped row; FIRST/LAST(Var.col, n)
        # step n mapped rows inward (SQL:2016 logical navigation) and
        # yield NULL past the mapped count. A variable that did not
        # participate in this variant (the other alternative of an (X|Y)
        # group) measures as NULL
        occ = [k for k, v in enumerate(vs) if v == var]
        if off >= len(occ):
            return F.lit(None)
        k = occ[off] if nav == "FIRST" else occ[len(occ) - 1 - off]
        return F.col(col) if k == 0 else F.col(f"__mr_s{k}.{col}")

    def per_variant(value_of):
        """when-chain over the matched variant index: value_of(vs) gives
        the measure expression for variant vs (single-variant patterns
        collapse to the bare expression — no CASE in the plan)."""
        if len(variants) == 1:
            return value_of(variants[0])
        expr = None
        for i, vs in enumerate(variants):
            v = value_of(vs)
            expr = (
                F.when(F.col("__mr_vi") == i, v)
                if expr is None
                else expr.when(F.col("__mr_vi") == i, v)
            )
        return expr

    if spec.all_rows:
        # ALL ROWS PER MATCH: one output row per matched INPUT row —
        # explode the match's offsets and pick each offset's bound row
        # from the shared LEAD structs. Measures use RUNNING semantics
        # (the Flink default): a measure on a variable not yet reached at
        # this offset is NULL; CLASSIFIER() names this row's variable.
        # Variants may differ in LENGTH (quantifiers / optional
        # variables): each match explodes to its OWN variant's length,
        # looked up from a literal array by the matched variant index.
        if len(set(lens)) == 1:
            rows = matched.withColumn(
                "__mr_k", F.explode(F.sequence(F.lit(0), F.lit(lens[0] - 1)))
            )
        else:
            len_arr = F.array(*[F.lit(n) for n in lens])
            rows = matched.withColumn(
                "__mr_k",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.element_at(len_arr, F.col("__mr_vi") + 1) - 1,
                    )
                ),
            )

        def col_at_k(col: str):
            expr = F.when(F.col("__mr_k") == 0, F.col(col))
            for k in range(1, max_len):
                expr = expr.when(F.col("__mr_k") == k, F.col(f"__mr_s{k}.{col}"))
            return expr

        def cls_of(vs: list[str]):
            expr = None
            for k, var in enumerate(vs):
                expr = (
                    F.when(F.col("__mr_k") == k, F.lit(var))
                    if expr is None
                    else expr.when(F.col("__mr_k") == k, F.lit(var))
                )
            return expr

        if spec.excluded:
            # {- X -}: the rows matched normally (measures above see
            # them); only their OUTPUT rows are suppressed
            rows = rows.filter(
                ~per_variant(cls_of).isin(*sorted(spec.excluded))
            )
        select = [col_at_k(c).alias(c) for c in cols]

        for var, col, alias in spec.measures:
            if var == CLASSIFIER:
                select.append(per_variant(cls_of).alias(alias))
                continue
            if var == MATCH_NUMBER:
                select.append(F.col("__mr_mn").alias(alias))
                continue
            if alias in spec.measure_agg:
                # RUNNING aggregate (the Flink default under ALL ROWS):
                # at offset k, aggregate the variable's mapped rows
                # at-or-before k — a descending when-chain of PREFIX
                # aggregates over the shared LEAD refs; FINAL shows the
                # complete match's aggregate on every row
                fn = spec.measure_agg[alias]

                def agg_of(vs: list[str], var=var, col=col,
                           alias=alias, fn=fn):
                    offs = [k for k, v in enumerate(vs) if v == var]
                    empty = (
                        F.lit(0).cast("long") if fn == "COUNT" else F.lit(None)
                    )
                    if not offs:
                        return empty
                    star = col == "*"

                    def at(k):
                        return (
                            F.col(col) if k == 0 else F.col(f"__mr_s{k}.{col}")
                        )

                    if spec.measure_modes.get(alias, "RUNNING") == "FINAL":
                        return _agg_over_refs(
                            fn,
                            [at(o) for o in offs],
                            len(offs) if star else None,
                        )
                    expr = None
                    for j in range(len(offs) - 1, -1, -1):
                        cond = F.col("__mr_k") >= offs[j]
                        val = _agg_over_refs(
                            fn,
                            [at(o) for o in offs[: j + 1]],
                            (j + 1) if star else None,
                        )
                        expr = (
                            F.when(cond, val)
                            if expr is None
                            else expr.when(cond, val)
                        )
                    return expr.otherwise(empty)

                select.append(per_variant(agg_of).alias(alias))
                continue

            def running_of(vs: list[str], var=var, col=col, alias=alias):
                if var not in vs:
                    return F.lit(None)
                offs = [k for k, v in enumerate(vs) if v == var]
                noff = spec.measure_nav_offset.get(alias, 0)
                if noff >= len(offs):
                    # SQL:2016: a logical offset past the variable's
                    # mapped count is NULL for the whole match
                    return F.lit(None)

                def at(k):
                    return F.col(col) if k == 0 else F.col(f"__mr_s{k}.{col}")

                nav = spec.measure_nav.get(alias, "LAST")
                if spec.measure_modes.get(alias) == "FINAL":
                    # FINAL: the complete match's value on every row
                    # (FIRST nav -> (noff+1)-th mapped row, else
                    # noff-from-last mapped row)
                    return at(
                        offs[noff] if nav == "FIRST" else offs[-1 - noff]
                    )
                # RUNNING (Flink default under ALL ROWS): NULL until the
                # variable's (noff+1)-th row is reached. A multiply-mapped
                # variable (quantifier) reads its noff-from-LAST mapped
                # row at-or-before the current offset — a descending
                # when-chain over its offsets; FIRST nav pins the
                # (noff+1)-th mapped row once seen.
                if nav == "FIRST":
                    return F.when(
                        F.col("__mr_k") >= offs[noff], at(offs[noff])
                    )
                expr = None
                for j in reversed(range(noff, len(offs))):
                    c = F.col("__mr_k") >= offs[j]
                    v = at(offs[j - noff])
                    expr = (
                        F.when(c, v) if expr is None else expr.when(c, v)
                    )
                return expr

            select.append(per_variant(running_of).alias(alias))
        matched_rows = rows.select(*select)
        if not spec.with_unmatched:
            return matched_rows
        # WITH UNMATCHED ROWS: a row at window position p participates in
        # SOME match iff a match starts at p or at one of the up-to
        # max_len-1 rows before it AND that match is long enough to reach
        # p — LAG(__mr_vi, j) non-null with variant length > j. The LAGs
        # ride the same window partitioning (no extra exchange);
        # uncovered rows emit ONCE with NULL measures.
        types = dict(matched_rows.dtypes)
        um_select = [F.col(c) for c in cols] + [
            F.lit(None).cast(types[alias]).alias(alias)
            for _, _, alias in spec.measures
        ]
        cov_len_arr = F.array(*[F.lit(n) for n in lens])
        if spec.skip_filter:
            # skip-past dropped some candidate starts, so lag-based
            # coverage over `indexed` would overcount: derive coverage
            # from the SELECTED matches' position spans instead
            covered = matched.select(
                *spec.partition_by,
                F.explode(
                    F.sequence(
                        F.col("__mr_rn"),
                        F.col("__mr_rn")
                        + F.element_at(cov_len_arr, F.col("__mr_vi") + 1)
                        - 1,
                    )
                ).alias("__mr_rn"),
            )
            # null-SAFE anti join: NULL partition keys must compare
            # equal to their covered positions, or a matched NULL-key
            # row re-emits as unmatched
            anti_cols = list(spec.partition_by) + ["__mr_rn"]
            cov_aliased = covered.select(
                *[
                    F.col(c).alias(f"__mr_cov_{i}")
                    for i, c in enumerate(anti_cols)
                ]
            )
            anti_cond = F.lit(True)
            for i, c in enumerate(anti_cols):
                anti_cond = anti_cond & F.col(c).eqNullSafe(
                    F.col(f"__mr_cov_{i}")
                )
            unmatched_rows = indexed.join(
                cov_aliased,
                on=anti_cond,
                how="left_anti",
            ).select(*um_select)
            return matched_rows.unionByName(unmatched_rows)
        cov = F.col("__mr_vi").isNotNull()
        uniform = len(set(lens)) == 1
        for j in range(1, max_len):
            lag_vi = F.lag("__mr_vi", j).over(w)
            if uniform:
                cov = cov | lag_vi.isNotNull()
            else:
                cov = cov | (
                    lag_vi.isNotNull()
                    & (F.element_at(cov_len_arr, lag_vi + 1) > j)
                )
        unmatched_rows = (
            indexed.withColumn("__mr_cov", cov)
            .filter(~F.col("__mr_cov"))
            .select(*um_select)
        )
        return matched_rows.unionByName(unmatched_rows)

    select = [F.col(pc) for pc in spec.partition_by]
    for var, col, alias in spec.measures:
        if var == MATCH_NUMBER:
            select.append(F.col("__mr_mn").alias(alias))
            continue

        def value_of(vs: list[str], var=var, col=col, alias=alias):
            # CLASSIFIER() under ONE ROW PER MATCH = the last row's variable
            if var == CLASSIFIER:
                return F.lit(vs[-1])
            fn = spec.measure_agg.get(alias)
            if fn is not None:
                # aggregate over the variable's mapped offsets in this
                # variant — a fixed, small expression per variant
                offs = [k for k, v in enumerate(vs) if v == var]
                if not offs:
                    return (
                        F.lit(0).cast("long") if fn == "COUNT" else F.lit(None)
                    )
                refs = [
                    F.col(col) if k == 0 else F.col(f"__mr_s{k}.{col}")
                    for k in offs
                ]
                return _agg_over_refs(
                    fn, refs, len(offs) if col == "*" else None
                )
            return ref_at(
                var,
                col,
                vs,
                spec.measure_nav.get(alias, "LAST"),
                spec.measure_nav_offset.get(alias, 0),
            )

        select.append(per_variant(value_of).alias(alias))
    return matched.select(*select)


_MR_VIEW_SEQ = [0]


def rewrite_match_recognize(spark: SparkSession, sql: str) -> str | None:
    """If ``sql`` contains a supported MATCH_RECOGNIZE, materialize the
    lowered pattern as a temp view and return the outer query rewritten to
    read it; None when the statement has no MATCH_RECOGNIZE."""
    spec = parse_match_recognize(sql)
    if spec is None:
        return None
    _MR_VIEW_SEQ[0] += 1
    view = f"__mr_lowered_{_MR_VIEW_SEQ[0]}"
    lower_match_recognize(spark, spec).createOrReplaceTempView(view)
    start, end = spec.span
    alias = f" AS {spec.out_alias}" if spec.out_alias else ""
    return f"{sql[:start]}FROM {view}{alias}{sql[end:]}"
