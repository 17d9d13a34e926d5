"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over extract_kit_spark.queries: the engine's query registry
(one entry per implemented operator family from SURVEY.md §2 plus the
training-data ops) and the matching DuckDB oracle SQL. See
extract_kit_spark/queries.py for the per-query documentation and the
rationale for the oracle-less (approximate / kernel-heavy) entries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from extract_kit_spark.queries import (  # noqa: E402
    FIXTURES, QUERIES, ORACLES, fixture)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline (detect → parse →
    boilerplate-strip → markdown-serialize → validate) over the
    deterministic synthetic Common-Crawl-style pages table."""
    fixture("pages")
    return QUERIES["ext_flagship"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    # oracles read the shared fixtures directly — materialize every one
    # here so the oracle side never depends on the Spark side having
    # run first
    for name in FIXTURES:
        fixture(name)
    return dict(ORACLES)
