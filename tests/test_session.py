"""Session-wide settings that every entry point inherits from
``session.get_spark``."""

from __future__ import annotations

from pyspark.sql import functions as F

# each plan below compiles two classes (Spark 4.1): 160 in all, more
# than Spark's default codegen cache (100 entries) holds
N_PLANS = 80


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one histogram sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_compiles_each_plan_once(spark):
    """A working set larger than the default cache is compiled on the
    first round and only reused on the second: each plan inlines a
    different literal, so each compiles its own classes, and an LRU cache
    smaller than the set recompiles every one of them."""

    def round_():
        for i in range(N_PLANS):
            df = spark.range(2).select((F.col("id") * 7 + F.lit(1000 + i)).alias("x"))
            df.write.format("noop").mode("overwrite").save()

    before = _compiles(spark)
    round_()
    assert _compiles(spark) - before > 100  # the set outgrows the default
    before = _compiles(spark)
    round_()
    assert _compiles(spark) - before <= 5
