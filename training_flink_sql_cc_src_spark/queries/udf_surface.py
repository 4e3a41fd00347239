"""UDF/UDTF surface queries (SURVEY.md §2.8): the Spark-native function
extension points exposed as registry entries — posexplode as the table
function (UDTF) analog, Arrow-batched pandas UDFs for logic built-ins
cannot express."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import char_entropy, median_udaf, zscore_grouped
from ..registry import register
from ._util import fan_out, t


@register(
    "udtf_explode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(i AS INTEGER) AS pos,
           string_split(text, ' ')[i + 1] AS token
    FROM documents, UNNEST(range(len(string_split(text, ' ')))) AS r(i)
    WHERE doc_id < 50
    """,
    doc="UDTF analog (Flink table function → posexplode, SURVEY.md §2.8): "
    "one row per (doc, position, token). JVM-side generate — no Python.",
)
def udtf_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )


@register(
    "pandas_udf_entropy",
    oracle=None,  # per-row float accumulation order inside the UDF is not
    # SQL-reproducible; verified against a pure-python reference in
    # tests/test_udf_surface.py
    doc="Scalar pandas UDF (Arrow-batched, SURVEY.md §2.8): per-document "
    "character Shannon entropy — a quality-scoring signal that needs a "
    "per-row histogram, which built-in expressions cannot form.",
)
def pandas_udf_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.select("doc_id", char_entropy(F.col("text")).alias("entropy_bits"))


@register(
    "pandas_udf_entropy_rounded",
    oracle="""
    WITH ch AS (
        SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
    ), hist AS (
        SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM ch GROUP BY doc_id, c
    ), tot AS (
        SELECT doc_id, SUM(cnt) AS n FROM hist GROUP BY doc_id
    )
    SELECT h.doc_id, ROUND(-SUM((cnt / n) * LOG2(cnt / n)), 6) AS entropy_r
    FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id
    """,
    doc="Oracle-paired variant of the scalar pandas-UDF entropy "
    "(pandas_udf_entropy stays rows-only because the per-row float "
    "accumulation order inside the UDF differs from SQL SUM in the "
    "last ulp): rounding to 6 decimals absorbs the cross-engine float "
    "noise while hash-verifying the Arrow scalar-UDF plumbing — "
    "per-row histogram, log2 math, batch round trip — against a "
    "DuckDB character-explode formulation (same pattern as "
    "pandas_grouped_zscore_rounded).",
)
def pandas_udf_entropy_rounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.select(
        "doc_id",
        F.round(char_entropy(F.col("text")), 6).alias("entropy_r"),
    )


@register(
    "pandas_grouped_zscore",
    oracle=None,  # pandas mean/std float order differs from SQL aggregation;
    # verified against Spark-native window computation in tests
    doc="Grouped-map applyInPandas (SURVEY.md §2.8): per-lang z-score of "
    "document length. One shuffle on the group key; group = one Arrow "
    "batch (bounded groups only — unbounded keys belong in window "
    "functions).",
)
def pandas_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("n_chars")
    )
    return zscore_grouped(d, "lang", "n_chars")


@register(
    "pandas_udaf_median",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped-AGGREGATE pandas UDF — the UDAF leg of SURVEY.md §2.8 "
    "(scalar and grouped-map legs above): pandas median per group, joined "
    "with a built-in COUNT over the same keys (Spark disallows mixing "
    "pandas and non-pandas aggregates in one .agg()). Quantities are "
    "whole-number "
    "doubles, so the midpoint interpolation is exact and the UDAF is "
    "oracle-pairable — unusual for float UDAFs. Each group's Series must "
    "fit one worker's memory; high-cardinality medians belong in "
    "percentile_approx.",
)
def pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    keys = [
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ]
    medians = li.groupBy(*keys).agg(
        median_udaf(F.col("l_quantity")).alias("median_qty")
    )
    counts = li.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_lines"))
    return medians.join(F.broadcast(counts), ["returnflag", "linestatus"]).select(
        "returnflag", "linestatus", "median_qty", "n_lines"
    )


@register(
    "pandas_grouped_zscore_rounded",
    oracle="""
    SELECT doc_id, lang,
           ROUND(
               CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY lang) > 0
                    THEN (n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                         / stddev_pop(n_chars) OVER (PARTITION BY lang)
                    ELSE 0.0 END,
               6) AS zscore_r
    FROM (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS n_chars
          FROM documents)
    """,
    doc="Oracle-paired variant of the grouped-map pandas z-score "
    "(pandas_grouped_zscore stays rows-only because pandas mean/std "
    "reduction order differs from SQL aggregation in the last ulp): "
    "rounding to 6 decimals absorbs the cross-engine float noise while "
    "still hash-verifying the applyInPandas plumbing — group "
    "integrity, Arrow round trip, per-group mean/std(ddof=0) math — "
    "against DuckDB's window formulation.",
)
def pandas_grouped_zscore_rounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("n_chars")
    )
    return zscore_grouped(d, "lang", "n_chars").select(
        "doc_id", "lang", F.round("zscore", 6).alias("zscore_r")
    )


@register(
    "udtf_lateral_ordinality",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id, CAST(ord AS BIGINT) AS ord, toks[ord] AS tok
    FROM w, UNNEST(generate_series(1, len(toks))) AS g(ord)
    """,
    doc="CROSS JOIN UNNEST ... WITH ORDINALITY (the Flink SQL "
    "table-function join; SQL:2016 9075-2 ordinality columns) through "
    "the SQL front door: LATERAL VIEW posexplode gives each token its "
    "1-based position — the positional explode every sequence-labeling "
    "or chunk-alignment pipeline needs (position-stable, unlike a "
    "bare explode + window renumber which would add an exchange). "
    "Map-only: the generator runs inside the projection, zero "
    "shuffles; the oracle replays ordinality via generate_series "
    "indexing (DuckDB has no WITH ORDINALITY yet).",
)
def udtf_lateral_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "documents").createOrReplaceTempView("__lat_docs")
    return spark.sql(
        """
        SELECT doc_id, CAST(pos + 1 AS BIGINT) AS ord, tok
        FROM __lat_docs
        LATERAL VIEW posexplode(split(text, ' ')) x AS pos, tok
        """
    )
