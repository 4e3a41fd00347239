"""Queries that run Python on workers do not depend on the cwd.

Local Python workers start in the Spark application's working directory,
so an application started from the repo root imports the package on
workers by accident. These tests start one from an empty directory with
no PYTHONPATH: only the package zip that ``get_spark`` or the driver
contract ships reaches the workers.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys

sys.path.insert(0, sys.argv[1])
import datetime as dt

from training_flink_sql_cc_src_spark.engine import Engine
from training_flink_sql_cc_src_spark.queries.udf_surface import (
    pandas_udf_entropy,
)
from training_flink_sql_cc_src_spark.session import get_spark
from training_flink_sql_cc_src_spark.streaming.parity import (
    run_stream_over_batch,
)

spark = get_spark("foreign-cwd", cpus=2)
# streaming A B+ C funnel (streaming/stateful.py runs on the worker)
base = dt.datetime(2024, 1, 1)
rows = [
    (1, base + dt.timedelta(seconds=i), et)
    for i, et in enumerate(["view", "click", "click", "purchase", "view"])
]
df = spark.createDataFrame(
    rows, "user_id bigint, ts timestamp, event_type string"
)
stmt = '''
    SELECT user_id, n_b FROM funnel
    MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts
        MEASURES COUNT(B.*) AS n_b
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B+ C)
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'click',
               C AS C.event_type = 'purchase'
    )
'''
eng = Engine(spark)
out = run_stream_over_batch(
    spark, df, lambda s: eng.sql_stream(stmt, {"funnel": s}),
    output_mode="append", n_files=2, order_by="ts",
)
print("funnel", sorted(tuple(r) for r in out.collect()))
# pandas UDF (functions/udfs.py runs on the worker)
print("udf_rows", len(pandas_udf_entropy(spark, sys.argv[2]).collect()))
spark.stop()
"""

# a driver that builds its own session and runs a contract query without
# calling entry(spark) first
DRIVER_SCRIPT = """
import sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

import __spark_entry__ as mod

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
rows = mod.queries()["pandas_udf_entropy"](spark, sys.argv[2]).collect()
print("udf_rows", len(rows))
spark.stop()
"""


def _run_foreign(script, tmp_path, sf_small) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script, REPO, sf_small],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return dict(
        line.split(" ", 1) for line in r.stdout.splitlines() if " " in line
    )


def test_worker_queries_run_from_foreign_cwd(tmp_path, sf_small):
    lines = _run_foreign(SCRIPT, tmp_path, sf_small)
    assert int(lines["udf_rows"]) > 0
    assert lines["funnel"] == "[(1, 2)]"


def test_driver_contract_query_runs_from_foreign_cwd(tmp_path, sf_small):
    lines = _run_foreign(DRIVER_SCRIPT, tmp_path, sf_small)
    assert int(lines["udf_rows"]) > 0
