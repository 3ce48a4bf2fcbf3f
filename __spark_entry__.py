"""Driver contract for the spark-graft builder (PySpark target).

Delegates to the query catalog in ``sales_data_pipeline_spark.queries``:
every registered query ships a Spark implementation and (where SQL can
express it) a DuckDB oracle. See sales_data_pipeline_spark/queries/*.py
for the SURVEY.md §2 coverage map.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: star join orders ->
    customer -> nation -> region with broadcast dims + grouped revenue
    (SURVEY §2 J2/A5, dashboard revenue-by-dimension workload)."""
    from sales_data_pipeline_spark.queries.base import load_all

    registry = load_all()
    return registry["revenue_by_nation"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ LLM-data
    extensions), in sorted name order. Each callable takes (spark,
    sf_dir) and returns a DF."""
    from sales_data_pipeline_spark.queries.base import load_all

    registry = load_all()
    return {name: registry[name].fn for name in sorted(registry)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys without SQL-expressible
    semantics are omitted (driver records a rows-only check). Same
    sorted order as ``queries()``."""
    from sales_data_pipeline_spark.queries.base import load_all

    registry = load_all()
    return {
        name: registry[name].oracle
        for name in sorted(registry)
        if registry[name].oracle is not None
    }
