"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB: a query passes when its row count,
schema and order-insensitive value hash all match the oracle's.

All query implementations live in ``torcharrow_spark.queries`` — one
entry per operator family from SURVEY §2 plus the LLM-pipeline operators;
each exercises the engine's public API, not raw Spark.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-style pricing
    summary through the engine facade."""
    from torcharrow_spark.queries import QUERIES

    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from torcharrow_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from torcharrow_spark.queries import ORACLES

    return dict(ORACLES)
