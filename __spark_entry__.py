"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalog itself lives in creek_spark.queries (the registry) and its
domain modules (queries_relational, queries_cdc, ...);
``creek_spark.queries.catalog()`` imports them in order, populating the
registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from creek_spark.queries import catalog as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3-shape
    shipping-priority (filtered broadcast join → agg → top-k)."""
    cat = _catalog()
    return cat["q3_shipping_priority"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in _catalog().items() if q.oracle is not None
    }
