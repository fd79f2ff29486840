"""The query catalog: every operator claim from SURVEY.md §2, as a pair of
(PySpark DataFrame program, ANSI-SQL DuckDB oracle).  This module is the
registry and the helpers every domain module shares; the queries live in
the ``queries_<domain>`` modules that :func:`catalog` imports.

Contract (driver, __spark_entry__.py): each catalog entry's Spark result
must hash-match its oracle run on the same parquet — row count, schema,
and order-insensitive value hash with columns sorted by name.  Rules every
catalog module follows to make float results bit-identical across engines:

  * Aggregated doubles use the "decimal sandwich": cast inputs to DECIMAL
    (scale ≥ data precision + 2 so no double→decimal tie can occur), sum
    exactly, cast the exact sum to DOUBLE.  Both engines produce the same
    scaled integer, hence the same double.
  * Multiplications cast each factor to decimal first (exact product,
    bounded precision), never decimal-of-product-of-doubles.
  * Derived doubles only go through IEEE-deterministic ops (+,-,*,/,sqrt)
    on identical inputs; no libm transcendentals (exp/ln differ per libm).
  * Ranking columns always carry a deterministic tiebreak.
  * Int widths are aligned (DuckDB SUM(int)→HUGEINT, len()→BIGINT, …) by
    explicit casts in the SQL.

Every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from creek_spark.sources import read_table


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    category: str
    headline: bool = False  # include in bench.py


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, category: str, headline: bool = False):
    def deco(fn):
        QUERIES[name] = Query(name, fn, oracle, category, headline)
        return fn

    return deco


def catalog() -> dict[str, Query]:
    """The whole catalog.  Each domain module registers its queries with
    their final oracles when imported, so QUERIES fills in this order;
    the headline rows run in it (perfbench, bench.py)."""
    import creek_spark.queries_relational  # noqa: F401
    import creek_spark.queries_cdc  # noqa: F401
    import creek_spark.queries_dedup  # noqa: F401
    import creek_spark.queries_similarity  # noqa: F401
    import creek_spark.queries_text  # noqa: F401
    import creek_spark.queries_multimodal  # noqa: F401
    import creek_spark.queries_pipeline  # noqa: F401
    import creek_spark.queries_sketches  # noqa: F401
    import creek_spark.queries_tpch  # noqa: F401
    import creek_spark.queries_timeseries  # noqa: F401
    import creek_spark.queries_business  # noqa: F401
    import creek_spark.queries_events  # noqa: F401
    import creek_spark.queries_graph  # noqa: F401

    return QUERIES


def _t(spark, sf_dir, name):
    return read_table(spark, sf_dir, name)


def _fan_out(df: DataFrame) -> DataFrame:
    """Fan a tiny id/manifest frame out to the session's full
    parallelism before a heavy per-row Python stage (media synth +
    decode).  Spark sizes parquet splits by BYTES, but decode work
    scales with ROWS × per-row media size: a manifest of ids is a
    handful of MB — one split — while the decode it drives is hours of
    CPU, so without this every core but one sits idle (measured at
    sf0.1: the 5000-image JPEG round-trip ran in ONE task, 6.6 s vs
    ~0.4 s of 32-core codec work).  The exchange carries only the id
    column; blobs are synthesized/decoded AFTER it and never shuffle.
    defaultParallelism keeps the fan-out scale-adaptive (local core
    count here, cluster total cores in production)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def dec(col, p=12, s=2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


def dsum(col, alias, p=12, s=2):
    """Exact decimal sum surfaced as double (cross-engine deterministic)."""
    return F.sum(dec(col, p, s)).cast("double").alias(alias)
