"""spark-graft: PySpark-native engine reproducing the query surface of
confluentinc/training-flink-sql-cc-src (Flink SQL training labs).

Blueprint: SURVEY.md. Everything is DataFrame/SQL-first — Catalyst plans,
Tungsten execution — with Pandas-UDF fallbacks only where Spark lacks a
built-in (MinHash, SimHash). Batch-first with a streaming-parity layer
(see streaming/).
"""

from .session import get_spark
from .sources.fixtures import load_fixture, register_fixture_views

__all__ = ["get_spark", "load_fixture", "register_fixture_views"]
