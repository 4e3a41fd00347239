"""SparkSession + fixture-table management (SURVEY.md §1.2, §3 EP2).

The reference's Schema Registry auto-exposes Kafka topics as Flink tables
(e.g. ``shoe_customers`` is readable with no in-repo CREATE —
terraform/lab-aggregations/main.tf:431 vs connector :248-278). Our analog:
every parquet fixture under a scale-factor dir (the ``TABLES`` below) is
registered as a temp view by ``sources.fixtures.register_fixture_views``
(``Engine(sf_dir=...)`` calls it), so queries address tables by bare name
exactly as the lab statements do.

Scale notes: session defaults are tuned for local[32] testing but the knobs
that matter at 100 TB (AQE, skew-join handling, partition sizing, broadcast
threshold) are on/explicit so the same code runs unchanged on a cluster —
only `spark.sql.shuffle.partitions` and memory need re-sizing there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The ten fixture tables (TESTDATA.md) — stand-ins for the lab topics per
#: FIXTURES.md §3 (shoe_orders→orders, shoe_customers→customer,
#: shoe_products→part, shoe_clickstream→events, plus [C] documents/embeddings).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "spark-graft", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession, with this package
    shipped to its Python workers (``ensure_package_shipped``).

    UTC session timezone is load-bearing: the DuckDB oracle compares
    timestamp values and DuckDB timestamps are UTC-naive.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by shuffle BYTES; compute-heavy stages over small
        # compressed data (array intersects, sketches) would collapse to
        # ~1 partition. A small floor keeps parallelism-first targeting
        # effective; at cluster scale partitions are >>1MB so this floor
        # never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The fixture files are tens of MB; the 128m default would scan
        # each as 1-4 tasks no matter how many row groups exist. 4m splits
        # the re-laid-out fixtures (sources/fixtures._splittable_path)
        # across the full core count. Cluster deployments reading TB-scale
        # inputs should keep the default (or size to HDFS block).
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # INT96 (the legacy default) writes NO min/max column statistics,
        # silently disabling row-group/file skipping on event-time — the
        # predicate 100 TB streaming tables filter on most. MICROS emits
        # stats and is the non-deprecated representation.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    Any operator that sends Python to executors (pandas UDFs, mapInPandas,
    applyInPandas) needs the package importable on the WORKER, which is
    guaranteed neither in local mode with a different driver cwd nor on a
    real cluster. Zipping the package once per session and registering it
    with the SparkContext is the standard deployment mechanism — same code
    path works unchanged on a 1000-executor cluster. ``get_spark`` and every
    ``__spark_entry__.queries()`` callable call it; a caller that builds
    its own session and runs query functions directly calls it once.
    """
    sc = spark.sparkContext
    if getattr(sc, "_spark_graft_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="spark_graft_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._spark_graft_pkg_shipped = True
