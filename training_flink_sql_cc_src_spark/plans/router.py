"""Statement router — the engine's SQL front door (SURVEY.md §3 EP1).

The reference submits Flink SQL strings over REST (confluent_flink_statement,
terraform/lab-aggregations/main.tf:380-413); the dialect includes DDL Spark
SQL cannot parse: ``PRIMARY KEY … NOT ENFORCED``, ``DISTRIBUTED INTO n
BUCKETS``, ``WITH ('changelog.mode'='retract')`` (S1/S3/S5), ``ALTER TABLE …
MODIFY (`col` TYPE)`` (S7/S8), ``ALTER TABLE … MODIFY WATERMARK FOR c AS
expr`` (S9/S10). The router intercepts those, records their semantics into
the TableCatalog, and delegates everything ANSI to ``spark.sql`` (Catalyst
does all planning — SURVEY.md §4).

Execution semantics mirror the labs:
- CREATE TABLE registers schema+PK+buckets+changelog and creates an empty
  temp view of that schema.
- INSERT INTO on a PK table is an upsert: new rows are unioned with the
  existing view under a monotone sequence, then collapsed to
  latest-row-per-key (the compacted-topic read view, SURVEY.md §1.1) —
  exactly how Flink materializes S2/S4 into shoe_customers_keyed.
- INSERT INTO on an append table appends.
- Bucketed tables are repartitioned on the PK to ``buckets`` partitions at
  write (``DISTRIBUTED INTO 1 BUCKETS`` → repartition(1, pk)).

At scale the upsert materialization is one hash shuffle on the PK — the
same partitioning downstream keyed joins reuse.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_key
from .catalog import TableCatalog, TableMeta

#: Flink type → Spark SQL type (SURVEY.md §1.3 table).
_TYPE_MAP = {
    "STRING": "string",
    "VARCHAR": "string",
    "CHAR": "string",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "BYTES": "binary",
    "VARBINARY": "binary",
}


def _map_type(flink_type: str) -> str:
    ft = flink_type.strip()
    up = ft.upper()
    if up.startswith("TIMESTAMP"):  # TIMESTAMP(3), TIMESTAMP_LTZ(3)
        return "timestamp"
    if up.startswith("DECIMAL") or up.startswith("NUMERIC"):
        return ft.lower()
    if up.startswith("ARRAY<"):
        return f"array<{_map_type(ft[6:-1])}>"
    if up.startswith("MAP<"):
        # depth-aware split: the key type may itself be composite, so a
        # naive first-comma split would cut MAP<ROW<a INT, b INT>, INT>
        # inside the ROW
        k, v = _split_top_level(ft[4:-1])
        return f"map<{_map_type(k)},{_map_type(v)}>"
    if up.startswith("ROW<"):
        inner = ft[4:-1]
        fields = [
            f.strip().split(None, 1) for f in _split_top_level(inner)
        ]
        cols = ", ".join(f"{n}: {_map_type(tp)}" for n, tp in fields)
        return f"struct<{cols}>"
    return _TYPE_MAP.get(up, ft.lower())


_CREATE_HEAD_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*\(",
    re.IGNORECASE,
)

# ------------------------------------------------------------ window TVFs
# Flink's windowing TVFs (TUMBLE/HOP/SESSION/CUMULATE over TABLE+DESCRIPTOR
# — the lab-time / lab-aggregations syntax, SURVEY.md §2.4) are not Spark
# SQL. The router rewrites them into derived tables producing the same
# window_start / window_end columns, so the statement runs through
# spark.sql unchanged otherwise.
_WINDOW_TVF_RE = re.compile(
    r"TABLE\s*\(\s*(?P<kind>TUMBLE|HOP|SESSION|CUMULATE)\s*\(\s*"
    r"(?:DATA\s*=>\s*)?TABLE\s+`?(?P<tbl>\w+)`?\s*"
    r"(?:PARTITION\s+BY\s+(?P<pby>.*?))?\s*,\s*"
    r"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*`?(?P<ts>\w+)`?\s*\)\s*,\s*"
    r"(?P<args>[^()]*?)\)\s*\)",
    re.IGNORECASE,
)
_INTERVAL_LIT_RE = re.compile(r"INTERVAL\s+'(\d+)'\s+(\w+)", re.IGNORECASE)
_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _durations(arg_text: str) -> list[tuple[str, int]]:
    """Parse every Flink INTERVAL literal into (spark duration, seconds)."""
    out = []
    for m in _INTERVAL_LIT_RE.finditer(arg_text):
        n, unit = int(m.group(1)), m.group(2).lower().rstrip("s")
        out.append((f"{n} {unit}", n * _UNIT_SECONDS[unit]))
    return out


def native_window(m: re.Match) -> str:
    """Spark's native ``window(ts, size[, slide[, offset]])`` SQL for a
    TUMBLE/HOP ``_WINDOW_TVF_RE`` match. Flink's argument order is
    TUMBLE(size [, offset]) and HOP(slide, size [, offset]); a TUMBLE
    offset (Spark's startTime) needs the slide spelled out as the size."""
    durs = [d for d, _ in _durations(m.group("args"))]
    if m.group("kind").upper() == "HOP":
        durs[:2] = durs[1::-1]
    elif len(durs) == 2:
        durs.insert(1, durs[0])
    args = ", ".join(f"'{d}'" for d in durs)
    return f"window(`{m.group('ts')}`, {args})"


def rewrite_window_tvfs(sql: str) -> str:
    """Replace Flink window-TVF calls with Spark-SQL derived tables.

    TUMBLE → per-row window() struct access; HOP → sliding window()
    (explodes each row into its windows, exactly the TVF semantics);
    CUMULATE → explode of the growing window ends [start+step … start+max]
    filtered to those covering the row. SESSION merges rows, so it becomes
    the classic gaps-and-islands rewrite: a LAG-gap flag, a running-sum
    session id, then per-session min/max window functions — the same plan
    shape F.session_window produces (one shuffle on the partition keys).
    """

    def repl(m: re.Match) -> str:
        kind = m.group("kind").upper()
        tbl, ts = m.group("tbl"), m.group("ts")
        durs = _durations(m.group("args"))
        if kind == "SESSION":
            (_, gap_s), = durs
            keys = [
                k.strip().strip("`")
                for k in (m.group("pby") or "").split(",")
                if k.strip()
            ]
            part = ", ".join(f"`{k}`" for k in keys)
            by_keys = f"PARTITION BY {part} " if part else ""
            lag = f"LAG(`{ts}`) OVER ({by_keys}ORDER BY `{ts}`)"
            sess = f"PARTITION BY {part + ', ' if part else ''}__sid"
            gap_us = gap_s * 1_000_000
            return (
                f"(SELECT * EXCEPT (__new, __sid), "
                f"min(`{ts}`) OVER ({sess}) AS window_start, "
                f"max(`{ts}`) OVER ({sess}) + make_dt_interval(0, 0, 0, "
                f"{gap_s}) AS window_end, "
                f"max(`{ts}`) OVER ({sess}) + make_dt_interval(0, 0, 0, "
                f"{gap_s}) - INTERVAL 1 MILLISECOND AS window_time "
                f"FROM (SELECT *, sum(__new) OVER ({by_keys}ORDER BY `{ts}` "
                f"ROWS UNBOUNDED PRECEDING) AS __sid "
                f"FROM (SELECT __u.*, CASE WHEN {lag} IS NULL OR "
                f"unix_micros(`{ts}`) - unix_micros({lag}) >= {gap_us} "
                f"THEN 1 ELSE 0 END AS __new FROM {tbl} __u) __m) __n)"
            )
        if kind in ("TUMBLE", "HOP"):
            w = native_window(m)
            return (
                f"(SELECT __s.*, {w}.start AS window_start, "
                f"{w}.end AS window_end, {w}.end - INTERVAL 1 "
                f"MILLISECOND AS window_time FROM {tbl} __s)"
            )
        if kind == "CUMULATE":
            # Flink arg order: step, max [, offset] — offset shifts the
            # max-window alignment grid
            off_s = 0
            if len(durs) == 3:
                (step, step_s), (_, max_s), (_, off_s) = durs
            else:
                (step, step_s), (_, max_s) = durs
            start = (
                f"timestamp_seconds(((CAST(unix_timestamp(`{ts}`) AS "
                f"BIGINT) - {off_s}) DIV {max_s}) * {max_s} + {off_s})"
            )
            return (
                f"(SELECT __c.*, __c.window_end - INTERVAL 1 "
                f"MILLISECOND AS window_time "
                f"FROM (SELECT __s.*, {start} AS window_start, "
                f"explode(sequence({start} + INTERVAL '{step}', "
                f"{start} + INTERVAL '{max_s}' SECOND, "
                f"INTERVAL '{step}')) AS window_end FROM {tbl} __s) __c "
                f"WHERE __c.window_end > __c.`{ts}`)"
            )
        raise AssertionError(f"unreachable TVF kind {kind}")

    return _WINDOW_TVF_RE.sub(repl, sql)


def _split_select_items(s: str) -> list[str]:
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


def rewrite_session_tvf_streaming(sql: str) -> str | None:
    """Rewrite a SESSION/TUMBLE/HOP window-TVF statement to NATIVE window
    grouping — the STREAMING-capable lowering (append-mode capable).

    The batch rewrites extract window_start as a plain column, which
    strips Spark's event-time metadata: append mode is then rejected and
    SESSION's gaps-and-islands LAG rewrite fails outright. Grouping by
    the native ``window(ts, size[, slide])`` / ``session_window(ts, gap)``
    expressions instead keeps the event-time column intact, so watermarked
    statements emit closed windows in APPEND mode — the production sink
    mode — with identical results (the green window_* ≡ window_*_sql
    parity pairs prove batch equivalence; CUMULATE has no native form and
    keeps the explode rewrite, update/complete modes).

    Handles the canonical lab shape
    ``SELECT ... FROM TABLE(<TVF>(TABLE t [PARTITION BY k], DESCRIPTOR(ts),
    INTERVAL '..')) GROUP BY ..`` by substituting the TVF with the bare
    table, swapping window_start/window_end for <struct>.start/end in the
    select list, and replacing them in GROUP BY with the native grouping
    expression. Returns None when the statement has no rewritable TVF;
    raises ValueError for statements outside the canonical shape
    (instructive, never a silent wrong answer)."""
    m = _WINDOW_TVF_RE.search(sql)
    if m is None:
        return None
    kind = m.group("kind").upper()
    tbl, ts = m.group("tbl"), m.group("ts")
    if kind == "SESSION":
        (gap, _), = _durations(m.group("args"))
        sw = f"session_window(`{ts}`, '{gap}')"
        struct = "session_window"
    elif kind in ("TUMBLE", "HOP"):
        sw = native_window(m)
        struct = "window"
    else:  # CUMULATE: the explode-based batch rewrite streams as-is
        # (update/complete modes; the expansion is stateless row fan-out)
        return None
    pby = [
        k.strip().strip("`")
        for k in (m.group("pby") or "").split(",")
        if k.strip()
    ]
    out = sql[: m.start()] + f"`{tbl}`" + sql[m.end() :]

    gm = re.search(
        r"GROUP\s+BY\s+(?P<items>.+?)(?=\s+HAVING\b|\s+ORDER\b|\s+LIMIT\b|$)",
        out,
        re.IGNORECASE | re.DOTALL,
    )
    if gm is None:
        if kind in ("TUMBLE", "HOP"):
            # non-aggregating window assignment is a stateless projection
            # (append-mode safe): fall through to the batch TVF rewrite,
            # which streams as-is
            return None
        raise ValueError(
            f"streaming {kind} TVF requires an aggregating statement "
            "(GROUP BY over window_start/window_end) — SESSION windows "
            "only exist through merge-per-key aggregation"
        )
    g_items = _split_select_items(gm.group("items"))
    kept = [
        i
        for i in g_items
        if i.strip("`").lower()
        not in ("window_start", "window_end", "window_time")
    ]
    missing = [k for k in pby if k not in {i.strip("`") for i in kept}]
    if missing:
        raise ValueError(
            f"{kind} PARTITION BY keys {missing} must appear in GROUP BY "
            "for the streaming native-window lowering (windows merge per "
            "grouping key)"
        )
    out = out[: gm.start("items")] + ", ".join([sw] + kept) + out[gm.end("items") :]

    sm = re.match(r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s", out, re.IGNORECASE | re.DOTALL)
    if sm is None:
        raise ValueError(f"streaming {kind} TVF: cannot locate SELECT list")
    new_items = []
    for it in _split_select_items(sm.group("sel")):
        if re.fullmatch(r"`?window_start`?", it, re.IGNORECASE):
            new_items.append(f"{struct}.start AS window_start")
        elif re.fullmatch(r"`?window_end`?", it, re.IGNORECASE):
            new_items.append(f"{struct}.end AS window_end")
        elif re.fullmatch(r"`?window_time`?", it, re.IGNORECASE):
            new_items.append(
                f"{struct}.end - INTERVAL 1 MILLISECOND AS window_time"
            )
        else:
            it = re.sub(r"\bwindow_start\b", f"{struct}.start", it)
            it = re.sub(r"\bwindow_end\b", f"{struct}.end", it)
            it = re.sub(
                r"\bwindow_time\b",
                f"{struct}.end - INTERVAL 1 MILLISECOND",
                it,
            )
            new_items.append(it)
    return out[: sm.start("sel")] + ", ".join(new_items) + out[sm.end("sel") :]


def _split_create(sql: str) -> tuple[str, str, str, bool] | None:
    """(name, body, tail, if_not_exists) of a CREATE TABLE, with the body
    delimited by its paren-BALANCED close (a greedy regex would eat the
    WITH(...) clause)."""
    m = _CREATE_HEAD_RE.match(sql)
    if not m:
        return None
    depth, start = 1, m.end()
    for i in range(start, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return (
                    m.group("name"),
                    sql[start:i],
                    sql[i + 1 :],
                    m.group("ine") is not None,
                )
    return None
_PK_RE = re.compile(
    r"PRIMARY\s+KEY\s*\(([^)]*)\)\s*NOT\s+ENFORCED", re.IGNORECASE
)
_BUCKETS_RE = re.compile(r"DISTRIBUTED\s+INTO\s+(\d+)\s+BUCKETS", re.IGNORECASE)
_WITH_RE = re.compile(r"WITH\s*\((?P<props>.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_PROP_RE = re.compile(r"'([^']+)'\s*=\s*'([^']*)'")
_ALTER_MODIFY_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+MODIFY\s*\(\s*`?(\w+)`?\s+([^)]+)\)\s*$",
    re.IGNORECASE,
)
_ALTER_WATERMARK_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+MODIFY\s+WATERMARK\s+FOR\s+`?(\w+)`?\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
# Flink schema evolution beyond the attested MODIFY retype: ADD new
# physical columns (parenthesized list or a single bare item) and DROP
# a column — Confluent Flink `ALTER TABLE t ADD (c INT, ...)` / `DROP c`
_ALTER_ADD_COLS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+(?:\(\s*(?P<items>.+?)\s*\)"
    r"|(?P<item>`?\w+`?\s+[^(),]+?))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+\(?\s*`?(\w+)`?\s*\)?\s*$",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+`?(\w+)`?\s*(?:\(([^)]*)\))?\s*((?:SELECT|VALUES)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
# --------------------------------------------------- namespace statements
# The reference runs every statement under a three-level namespace: each
# confluent_flink_statement carries sql.current-catalog (the environment)
# and sql.current-database (the Kafka cluster) properties
# (terraform/lab-aggregations/main.tf:397-400). Spark temp views are a
# flat namespace, so catalog.db.table flattens to catalog__db__table and
# bare names resolve through the session's current catalog/database.
_STATEMENT_SET_RE = re.compile(
    r"^\s*(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\s+(?P<body>.*?)\s*;?\s*"
    r"END\s*$",
    re.IGNORECASE | re.DOTALL,
)
_USE_CATALOG_RE = re.compile(r"^\s*USE\s+CATALOG\s+`?([\w-]+)`?\s*$", re.IGNORECASE)
_USE_DB_RE = re.compile(
    r"^\s*USE\s+(?:DATABASE\s+)?`?([\w-]+)`?\s*$", re.IGNORECASE
)
_SET_PROP_RE = re.compile(
    r"^\s*SET\s+'([^']+)'\s*=\s*'([^']*)'\s*$", re.IGNORECASE
)
# table references directly after a table-position keyword; {1,2} dots =
# db.table or catalog.db.table (never alias.column, which follows ON/WHERE/
# SELECT positions, not FROM/JOIN/INTO/TABLE)
_QUALIFIED_REF_RE = re.compile(
    r"\b(TABLE|INTO|FROM|JOIN)\s+((?:`?[\w-]+`?\.){1,2}`?\w+`?)",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?\s*$", re.IGNORECASE
)
#: Spark simpleString → Flink DDL type (inverse of _TYPE_MAP for the
#: types the labs use; unlisted types round-trip as-is, uppercased)
_TYPE_UNMAP = {
    "string": "STRING",
    "int": "INT",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "binary": "BYTES",
    "timestamp": "TIMESTAMP(3)",
}
# Flink collection expansion: CROSS JOIN UNNEST(expr) AS a (c1[, c2]).
# Spark spells the same operator LATERAL VIEW explode — a pure syntax map
# (both plan as Generate; map-side, no join).
_UNNEST_RE = re.compile(
    r"CROSS\s+JOIN\s+UNNEST\s*\((?P<expr>[^()]*(?:\([^()]*\)[^()]*)*)\)\s*"
    r"AS\s+`?(?P<alias>\w+)`?\s*\(\s*(?P<cols>[^)]*)\)",
    re.IGNORECASE,
)


def _rewrite_unnest(sql: str) -> str:
    def repl(m: re.Match) -> str:
        cols = ", ".join(
            c.strip().strip("`") for c in m.group("cols").split(",")
        )
        # explode covers both forms: array → one column, map → (key, value)
        return (
            f"LATERAL VIEW explode({m.group('expr').strip()}) "
            f"{m.group('alias')} AS {cols}"
        )

    return _UNNEST_RE.sub(repl, sql)
# Flink temporal join: JOIN versioned FOR SYSTEM_TIME AS OF l.ts AS v ON …
# (lab-joins; the versioned side must carry PRIMARY KEY + WATERMARK DDL,
# exactly Flink's temporal-table requirements — both live in TableCatalog).
# The ON-clause capture stops at the next clause keyword: one temporal
# join per FROM level, equi conjuncts in ON — the lab statement shape.
_TEMPORAL_JOIN_RE = re.compile(
    r"(?P<how>\b(?:INNER\s+|LEFT\s+(?:OUTER\s+)?)?JOIN)\s+`?(?P<tbl>\w+)`?\s+"
    r"FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<tref>`?\w+`?\.`?\w+`?)\s+"
    r"(?:AS\s+)?`?(?P<alias>\w+)`?\s+ON\s+(?P<cond>.*?)"
    r"(?=\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b|\bHAVING\b|\bUNION\b|"
    r"\bINNER\b|\bLEFT\b|\bRIGHT\b|\bFULL\b|\bJOIN\b|$)",
    re.IGNORECASE | re.DOTALL,
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?`?(\w+)`?\s*$", re.IGNORECASE
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*"
    r"(?:WITH\s*\((?P<props>[^)]*)\)\s*)?AS\s+(?P<query>(?:SELECT|VALUES)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


class StatementRouter:
    """Executes reference-dialect SQL statements against a SparkSession.

    >>> router = StatementRouter(spark)
    >>> router.execute("CREATE TABLE t (id STRING, PRIMARY KEY (id) NOT "
    ...                "ENFORCED) DISTRIBUTED INTO 1 BUCKETS")
    >>> router.execute("INSERT INTO t SELECT c_custkey FROM customer")
    """

    def __init__(self, spark: SparkSession, catalog: TableCatalog | None = None):
        self.spark = spark
        self.catalog = catalog or TableCatalog()
        self._seq = 0
        #: three-level namespace state (sql.current-catalog / -database)
        self.current_catalog: str | None = None
        self.current_database: str | None = None
        self.session_props: dict[str, str] = {}
        #: canonical (flattened) name → bare alias, recorded ONLY when a
        #: name is actually produced by _flat under an active namespace.
        #: _publish consults this instead of string-splitting on "__", so a
        #: user table whose own name contains "__" (e.g. __ru_bal) can
        #: never clobber an unrelated bare view (ADVICE round 2).
        self._namespaced: dict[str, str] = {}

    # ------------------------------------------------------------- namespace
    @staticmethod
    def _flat(parts: list[str]) -> str:
        """catalog.db.table → catalog__db__table (temp-view-safe chars)."""
        return "__".join(re.sub(r"\W", "_", p) for p in parts)

    def _canonical(self, ref: str) -> str:
        """Resolve a possibly-qualified table reference to its flat name."""
        parts = [p.strip("`") for p in ref.split(".")]
        if len(parts) == 2:
            parts = [self.current_catalog or "default"] + parts
        if len(parts) == 3:
            flat = self._flat(parts)
            self._namespaced[flat] = re.sub(r"\W", "_", parts[-1])
            return flat
        return parts[0]

    def _resolve(self, name: str, creating: bool = False) -> str:
        """Resolve a BARE name through the current namespace. On CREATE the
        current namespace always prefixes; otherwise prefer whichever of
        (bare, namespaced) is already registered."""
        if not (self.current_catalog and self.current_database):
            return name
        flat = self._flat([self.current_catalog, self.current_database, name])
        self._namespaced[flat] = re.sub(r"\W", "_", name)
        if creating:
            return flat
        if name in self.catalog:
            return name
        return flat if flat in self.catalog else name

    def _flatten_qualified(self, sql: str) -> str:
        return _QUALIFIED_REF_RE.sub(
            lambda m: f"{m.group(1)} {self._canonical(m.group(2))}", sql
        )

    def _rewrite_dialect(self, sql: str) -> str:
        """All regex-based dialect passes (namespace flatten, window TVFs,
        UNNEST, temporal joins) over a statement. String literals are
        MASKED around the passes that could otherwise rewrite their
        contents — a literal like 'FROM a.b.c' must never be flattened.
        The window-TVF pass runs unmasked because it must parse its
        INTERVAL '...' arguments (its own grammar is too constrained to
        touch free-text literals)."""
        masked, parts = _mask_literals(sql)
        masked = self._flatten_qualified(masked)
        out = rewrite_window_tvfs(_unmask_literals(masked, parts))
        masked, parts = _mask_literals(out)
        if "UNNEST" in masked.upper():
            masked = _rewrite_unnest(masked)
        if "SYSTEM_TIME" in masked.upper():
            masked = self._rewrite_temporal_joins(masked)
        return _unmask_literals(masked, parts)

    def _rewrite_temporal_joins(self, sql: str) -> str:
        """``JOIN v FOR SYSTEM_TIME AS OF l.ts`` → validity-interval join:
        the versioned table gains ``__vend`` = LEAD(version_ts) per PK, and
        the join condition adds ``l.ts ∈ [version_ts, __vend)`` — the
        latest version at-or-before l.ts, as one equi join + range refine
        (never a correlated subquery; linear at scale). PK and version
        time come from the catalog (PRIMARY KEY + WATERMARK DDL), which is
        precisely Flink's versioned-table contract."""

        def repl(m: re.Match) -> str:
            name = self._resolve(m.group("tbl"))
            meta = self.catalog.get(name)
            if meta is None or not meta.primary_key or not meta.watermark_col:
                raise ValueError(
                    f"temporal join needs PRIMARY KEY + WATERMARK on "
                    f"{m.group('tbl')!r} (Flink versioned-table contract)"
                )
            pk = ", ".join(f"`{k}`" for k in meta.primary_key)
            wm = meta.watermark_col
            a, tref = m.group("alias"), m.group("tref")
            # ORDER BY needs a total order: two versions with an identical
            # version timestamp would otherwise get a nondeterministic LEAD
            # (one row's validity interval collapses arbitrarily). The
            # xxhash64-of-row tiebreak pins which duplicate wins — the
            # earlier-ordered copy gets an empty [wm, wm) interval (so
            # exact-duplicate versions dedup for free) and tref == wm ties
            # resolve the same way on every run (ADVICE round 2).
            derived = (
                f"(SELECT __v.*, LEAD(`{wm}`) OVER (PARTITION BY {pk} "
                f"ORDER BY `{wm}`, xxhash64(to_json(struct(*)))) AS __vend "
                f"FROM {name} __v)"
            )
            return (
                f"{m.group('how')} {derived} {a} ON ({m.group('cond').strip()}) "
                f"AND {tref} >= {a}.`{wm}` "
                f"AND ({a}.__vend IS NULL OR {tref} < {a}.__vend) "
            )

        return _TEMPORAL_JOIN_RE.sub(repl, sql)

    def _publish(self, df: DataFrame, canonical: str) -> None:
        """Register the view under its canonical name AND, for namespaced
        tables, the bare alias — so `SELECT … FROM t` works under USE and
        `SELECT … FROM cat.db.t` works always. The bare alias comes from
        the _namespaced map (recorded at _flat time), never from parsing
        the canonical string: a non-namespaced table named `a__b` (or
        `__ru_bal`) publishes only itself."""
        df.createOrReplaceTempView(canonical)
        bare = self._namespaced.get(canonical)
        if bare and bare != canonical:
            df.createOrReplaceTempView(bare)

    # ---------------------------------------------------------------- execute
    def execute(self, sql: str) -> DataFrame | None:
        sql = sql.strip().rstrip(";")
        m = re.match(r"^\s*EXPLAIN\s+(.*)$", sql, re.IGNORECASE | re.DOTALL)
        if m and not _SET_PROP_RE.match(sql):
            # rewrite the inner statement through the same dialect passes
            # (MATCH_RECOGNIZE, TVFs, namespace, temporal joins, UNNEST),
            # then let Spark's native EXPLAIN print the rewritten plan
            inner = m.group(1)
            if re.search(r"\bMATCH_RECOGNIZE\b", inner, re.IGNORECASE):
                from .match_recognize import rewrite_match_recognize

                rewritten = rewrite_match_recognize(self.spark, inner)
                if rewritten is not None:
                    inner = rewritten
            inner = rewrite_window_tvfs(self._flatten_qualified(inner))
            if "UNNEST" in inner.upper():
                inner = _rewrite_unnest(inner)
            if "SYSTEM_TIME" in inner.upper():
                inner = self._rewrite_temporal_joins(inner)
            return self.spark.sql(f"EXPLAIN {inner}")
        m = _STATEMENT_SET_RE.match(sql)
        if m:
            # Flink's multi-INSERT statement set (EXECUTE STATEMENT SET
            # BEGIN <INSERT>; ...; END): Flink plans the inserts as ONE
            # job sharing common sources; batch equivalence is running
            # them in order (each INSERT materializes through the same
            # catalog, so a later insert reading an earlier sink sees
            # its rows — the depends_on DAG contract of EP3)
            for stmt in _split_statements(m.group("body")):
                self.execute(stmt)
            return None
        m = _USE_CATALOG_RE.match(sql)
        if m:
            self.current_catalog = m.group(1)
            return None
        m = _SET_PROP_RE.match(sql)
        if m:
            key, val = m.group(1), m.group(2)
            self.session_props[key] = val
            if key == "sql.current-catalog":
                self.current_catalog = val
            elif key == "sql.current-database":
                self.current_database = val
            return None
        m = _USE_DB_RE.match(sql)
        if m and m.group(1).upper() != "CATALOG":
            self.current_database = m.group(1)
            return None
        m = _SHOW_TABLES_RE.match(sql)
        if m:
            return self.spark.createDataFrame(
                [(n,) for n in self.catalog.names()], "table_name string"
            )
        if re.search(r"\bMATCH_RECOGNIZE\b", sql, re.IGNORECASE):
            # Spark SQL has no native row-pattern matching. The adjacent-
            # sequence subset (plain PATTERN (A B ...), current-row DEFINEs)
            # lowers to the LEAD-chain plan (plans/match_recognize.py);
            # general CEP raises with pointers at the engine's equivalents.
            from .match_recognize import (
                UnsupportedPatternError,
                rewrite_match_recognize,
            )

            try:
                rewritten = rewrite_match_recognize(self.spark, sql)
            except UnsupportedPatternError as exc:
                raise NotImplementedError(
                    f"{exc} — beyond this subset, express row patterns "
                    "with the sequential-window approach in "
                    "queries/time_windows.pattern_funnel / "
                    "pattern_funnel3_sequential, or applyInPandasWithState "
                    "for arbitrary state machines (streaming/stateful.py)"
                ) from exc
            if rewritten is not None:
                sql = rewritten
        sql = self._rewrite_dialect(sql)
        m = _SHOW_CREATE_RE.match(sql)
        if m:
            return self._show_create(self._resolve(m.group(1)))
        m = _DESCRIBE_RE.match(sql)
        if m:
            return self._describe(self._resolve(m.group(1)))
        m = _CTAS_RE.match(sql)
        if m:
            return self._create_table_as(
                m.group(1), m.group("props"), m.group("query")
            )
        m = _ALTER_WATERMARK_RE.match(sql)
        if m:
            return self._alter_watermark(m.group(1), m.group(2), m.group(3))
        m = _ALTER_MODIFY_COL_RE.match(sql)
        if m:
            return self._alter_column(m.group(1), m.group(2), m.group(3))
        m = _ALTER_ADD_COLS_RE.match(sql)
        if m:
            return self._alter_add_columns(
                m.group(1), m.group("items") or m.group("item")
            )
        m = _ALTER_DROP_COL_RE.match(sql)
        if m:
            return self._alter_drop_column(m.group(1), m.group(2))
        if re.match(r"^\s*CREATE\s+TABLE", sql, re.IGNORECASE):
            return self._create_table(sql)
        m = _INSERT_RE.match(sql)
        if m:
            return self._insert(m.group(1), m.group(2), m.group(3))
        return self.spark.sql(sql)

    def execute_script(self, script: str) -> list[DataFrame | None]:
        """Run a multi-statement SQL script (a lab .sql file): statements
        split on semicolons outside quotes/backticks, executed in order.
        Returns per-statement results (None for DDL)."""
        return [self.execute(s) for s in _split_statements(script)]

    # ------------------------------------------------------------------- DDL
    def _create_table(self, sql: str) -> None:
        parts = _split_create(sql)
        if parts is None:
            raise ValueError(f"unparseable CREATE TABLE: {sql[:120]}")
        name, body, tail, if_not_exists = parts
        name = self._resolve(name, creating=True)
        if name in self.catalog:
            # Flink semantics: IF NOT EXISTS is a no-op on an existing
            # table (it must NOT wipe its data); a plain CREATE errors.
            if if_not_exists:
                return None
            raise ValueError(f"table {name!r} already exists")
        meta = TableMeta(name=name)
        pk = _PK_RE.search(body)
        if pk:
            meta.primary_key = [
                c.strip().strip("`") for c in pk.group(1).split(",")
            ]
            meta.changelog_mode = "upsert"
            body = _PK_RE.sub("", body)
        bk = _BUCKETS_RE.search(tail)
        if bk:
            meta.buckets = int(bk.group(1))
        w = _WITH_RE.search(tail)
        if w:
            meta.props = dict(_PROP_RE.findall(w.group("props")))
            if meta.props.get("changelog.mode"):
                meta.changelog_mode = meta.props["changelog.mode"]
        cols = []
        for coldef in _split_top_level(body):
            coldef = coldef.strip().rstrip(",")
            if not coldef:
                continue
            cm = re.match(r"`?(\w+)`?\s+(.+)$", coldef, re.DOTALL)
            if cm:
                cols.append((cm.group(1), _map_type(cm.group(2))))
        ddl = ", ".join(f"{n} {tp}" for n, tp in cols)
        empty = self.spark.createDataFrame([], schema=ddl)
        meta.name = name
        meta.schema = empty.schema
        self._publish(empty, name)
        self.catalog.register(meta)

    def _create_table_as(
        self, name: str, props: str | None, query: str
    ) -> None:
        """CTAS: schema and data come from the query; WITH props (e.g.
        changelog.mode) still register in the catalog."""
        name = self._resolve(name, creating=True)
        meta = self.catalog.get_or_create(name)
        if props:
            meta.props = dict(_PROP_RE.findall(props))
            if meta.props.get("changelog.mode"):
                meta.changelog_mode = meta.props["changelog.mode"]
        df = self.spark.sql(query).localCheckpoint(eager=True)
        meta.schema = df.schema
        self._publish(df, name)

    def _describe(self, table: str) -> DataFrame:
        """DESCRIBE with the catalog's Flink-side annotations: column
        types plus primary-key and watermark markers (the info the lab's
        ``DESCRIBE`` / Confluent UI surfaces)."""
        meta = self.catalog.get(table)
        schema = (
            meta.schema
            if meta is not None and meta.schema is not None
            else self.spark.table(table).schema
        )
        pk = set(meta.primary_key) if meta is not None else set()
        rows = [
            (
                f.name,
                f.dataType.simpleString(),
                f.name in pk,
                bool(meta and meta.watermark_col == f.name),
            )
            for f in schema.fields
        ]
        return self.spark.createDataFrame(
            rows,
            "col_name string, data_type string, primary_key boolean, "
            "watermark boolean",
        )

    def _show_create(self, table: str) -> DataFrame:
        """SHOW CREATE TABLE: reconstruct the Flink-dialect DDL from the
        catalog (PK, buckets, WITH props, watermark) — the statement a
        lab user would need to recreate the table elsewhere."""
        meta = self.catalog.get(table)
        schema = (
            meta.schema
            if meta is not None and meta.schema is not None
            else self.spark.table(table).schema
        )
        cols = ", ".join(
            f"`{f.name}` {_TYPE_UNMAP.get(f.dataType.simpleString(), f.dataType.simpleString().upper())}"
            for f in schema.fields
        )
        parts = [cols]
        if meta is not None and meta.primary_key:
            pk = ", ".join(f"`{k}`" for k in meta.primary_key)
            parts.append(f"PRIMARY KEY ({pk}) NOT ENFORCED")
        ddl = f"CREATE TABLE `{table}` ({', '.join(parts)})"
        if meta is not None and meta.buckets:
            ddl += f" DISTRIBUTED INTO {meta.buckets} BUCKETS"
        if meta is not None and meta.props:
            props = ", ".join(
                f"'{k}' = '{v}'" for k, v in sorted(meta.props.items())
            )
            ddl += f" WITH ({props})"
        if meta is not None and meta.watermark_col:
            ddl += (
                f"; ALTER TABLE `{table}` MODIFY WATERMARK FOR "
                f"`{meta.watermark_col}` AS {meta.watermark_expr}"
            )
        return self.spark.createDataFrame([(ddl,)], "create_statement string")

    def _alter_column(self, table: str, col: str, new_type: str) -> None:
        """S7/S8: retype a column on the source view (cast-at-read,
        SURVEY.md §1.2 ALTER … MODIFY → withColumn(cast))."""
        table = self._resolve(table)
        df = self.spark.table(table).withColumn(
            col, F.col(col).cast(_map_type(new_type))
        )
        self._publish(df, table)
        meta = self.catalog.get_or_create(table)
        meta.schema = df.schema

    def _alter_add_columns(self, table: str, items: str) -> None:
        """Flink ``ALTER TABLE t ADD (c TYPE, ...)``: append new
        physical columns, NULL-backfilled on existing rows (the same
        cast-at-read view republish as the S7/S8 MODIFY retype).
        Computed columns / METADATA items raise — only plain physical
        columns are lowered."""
        table = self._resolve(table)
        df = self.spark.table(table)
        # split on top-level commas only (DECIMAL(10,2) has an inner one)
        parts, depth, cur = [], 0, []
        for ch in items:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur).strip())
        for item in parts:
            im = re.match(
                r"^`?(\w+)`?\s+([A-Za-z].*?)\s*$", item, re.DOTALL
            )
            if im is None or re.search(r"\bAS\b", item, re.IGNORECASE):
                raise ValueError(
                    f"ALTER TABLE {table} ADD: unsupported item "
                    f"{item!r} (plain physical `col TYPE` only — "
                    "computed/METADATA columns are not lowered)"
                )
            col, ftype = im.group(1), im.group(2)
            if col in df.columns:
                raise ValueError(
                    f"ALTER TABLE {table} ADD: column {col!r} exists"
                )
            df = df.withColumn(
                col, F.lit(None).cast(_map_type(ftype))
            )
        self._publish(df, table)
        meta = self.catalog.get_or_create(table)
        meta.schema = df.schema

    def _alter_drop_column(self, table: str, col: str) -> None:
        """Flink ``ALTER TABLE t DROP c``: remove the column from the
        published view and the catalog schema (primary-key columns
        refuse, as Flink does)."""
        table = self._resolve(table)
        meta = self.catalog.get_or_create(table)
        if meta.primary_key and col in meta.primary_key:
            raise ValueError(
                f"ALTER TABLE {table} DROP: {col!r} is a PRIMARY KEY "
                "column (Flink rejects dropping key columns)"
            )
        df = self.spark.table(table)
        if col not in df.columns:
            raise ValueError(
                f"ALTER TABLE {table} DROP: no column {col!r}"
            )
        df = df.drop(col)
        self._publish(df, table)
        meta.schema = df.schema

    def _alter_watermark(self, table: str, col: str, expr: str) -> None:
        """S9/S10: record event-time + watermark in the catalog; the
        streaming layer applies withWatermark(col, delay) on readStream."""
        meta = self.catalog.get_or_create(self._resolve(table))
        meta.watermark_col = col
        meta.watermark_expr = expr.strip().rstrip(";")

    # ------------------------------------------------------------------- DML
    def _insert(self, table: str, col_list: str | None, select_sql: str) -> None:
        # select_sql is either a SELECT or a literal VALUES row list —
        # both are Spark SQL queries (VALUES yields col1, col2, …); either
        # way the keyed-table upsert / bucket semantics below apply.
        new_rows = self.spark.sql(select_sql)
        table = self._resolve(table)
        meta = self.catalog.get_or_create(table)
        if col_list:
            names = [c.strip().strip("`") for c in col_list.split(",")]
            new_rows = new_rows.toDF(*names)
        elif meta.schema is not None:
            new_rows = new_rows.toDF(*[f.name for f in meta.schema.fields])
        if meta.schema is not None:
            # conform literal/query output to the declared schema: cast
            # every column (VALUES literals type as int/string, not the
            # declared bigint/decimal) and NULL-fill omitted columns
            have = set(new_rows.columns)
            new_rows = new_rows.select(
                *[
                    (F.col(f.name) if f.name in have else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in meta.schema.fields
                ]
            )
        self._seq += 1
        new_rows = new_rows.withColumn("__seq", F.lit(self._seq))
        try:
            existing = self.spark.table(table)
        except Exception:
            existing = None
        if existing is not None:
            if "__seq" not in existing.columns:
                existing = existing.withColumn("__seq", F.lit(0))
            combined = existing.unionByName(new_rows)
        else:
            combined = new_rows
        if meta.is_keyed:
            # upsert: latest row per PK by arrival sequence (compacted-topic
            # read view, SURVEY.md §1.1) — one hash shuffle on the PK.
            combined = latest_per_key(
                combined, keys=meta.primary_key, order_col="__seq"
            )
        if meta.buckets:
            keys = meta.primary_key or [combined.columns[0]]
            combined = combined.repartition(meta.buckets, *keys)
        # localCheckpoint: chained INSERTs (EP3 DAG) must read a stable
        # snapshot, not a self-referential view definition. The __seq column
        # is dropped from the published view: for keyed tables the collapse
        # already happened, so only the next INSERT needs ordering (it gets
        # a strictly higher seq than the republished rows' implicit 0).
        snapshot = combined.drop("__seq").localCheckpoint(eager=True)
        self._publish(snapshot, table)
        if meta.schema is None:
            meta.schema = snapshot.schema


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace '...'-quoted literals (with '' escapes) by placeholders so
    regex rewrites cannot touch their contents."""
    parts: list[str] = []

    def repl(m: re.Match) -> str:
        parts.append(m.group(0))
        return f"\x00{len(parts) - 1}\x00"

    return re.sub(r"'(?:[^']|'')*'", repl, sql), parts


def _unmask_literals(sql: str, parts: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: parts[int(m.group(1))], sql)


def _split_statements(script: str) -> list[str]:
    """Split a SQL script on semicolons not inside '...'/"..."/`...` or
    line comments (-- to end of line)."""
    out, cur, quote, i = [], [], None, 0
    while i < len(script):
        ch = script[i]
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "'\"`":
            quote = ch
            cur.append(ch)
        elif ch == "-" and script[i : i + 2] == "--":
            nl = script.find("\n", i)
            i = len(script) if nl < 0 else nl
            continue
        elif ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    # re-merge STATEMENT SET BEGIN ... END blocks the semicolon split
    # tore apart (the inner INSERTs are ;-terminated by Flink's syntax)
    merged: list[str] = []
    i = 0
    open_re = re.compile(
        r"^\s*(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\b", re.IGNORECASE
    )
    end_re = re.compile(r"\bEND\s*$", re.IGNORECASE)
    while i < len(out):
        stmt = out[i]
        if open_re.match(stmt) and not end_re.search(stmt):
            block = [stmt]
            i += 1
            while i < len(out):
                block.append(out[i])
                if end_re.search(out[i]):
                    break
                i += 1
            merged.append(";\n".join(block))
        else:
            merged.append(stmt)
        i += 1
    return merged


def _split_top_level(s: str) -> list[str]:
    """Split a column-definition list on commas not nested in <>/()."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts
