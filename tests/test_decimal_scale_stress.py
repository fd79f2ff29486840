"""sf1+-regime certification of the >2^53 decimal-sum oracle hardening.

The driver testdata stops at sf0.1, where q1's per-group sums sit below
2^53 and the VARCHAR-routed decimal→double oracle (queries_relational
q1, queries_pipeline profile_correlations) is indistinguishable from DuckDB's
direct cast — so the hardening shipped in round 9 rested on analysis,
not a certificate.  This test synthesizes the regime instead of waiting
for sf1 parquet: a lineitem-shaped table whose per-group decimal sums
exceed 2^53, where

* the CANARY proves DuckDB's direct ``CAST(decimal AS DOUBLE)`` really
  is not correctly rounded up here (a nonzero gap vs the VARCHAR route
  on the same engine, same data) — i.e. the data genuinely reaches the
  divergence regime the hardening targets, and
* catalog q1 still matches its oracle under the driver's own compare
  protocol (tools/parity_cert.check, strict float equality), because
  both engines route the sums through exact decimal → string → one
  correctly-rounded parse.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from creek_spark.queries import QUERIES

TWO_53 = float(1 << 53)


@pytest.fixture(scope="module")
def stress_dir(spark, tmp_path_factory):
    """Lineitem with ~1.2M rows per (returnflag, linestatus) group of
    ~9e9-magnitude prices: per-group decimal sums land ~1.1e16 > 2^53,
    with varying cents so the exact sums are not short binary floats."""
    d = tmp_path_factory.mktemp("sf_stress")
    n = 2_400_000
    (
        spark.range(n)
        .select(
            (F.col("id") % 2).cast("string").alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            (
                F.lit(8.9e9)
                + (F.col("id") % 1000)
                + (F.col("id") % 100) / F.lit(100.0)
            ).alias("l_quantity"),
            (
                F.lit(9.1e9)
                + (F.col("id") % 997)
                + (F.col("id") % 100) / F.lit(100.0)
            ).alias("l_extendedprice"),
            ((F.col("id") % 11) / F.lit(100.0)).alias("l_discount"),
            ((F.col("id") % 9) / F.lit(100.0)).alias("l_tax"),
            F.expr("TIMESTAMP'1995-06-17 00:00:00'").alias("l_shipdate"),
        )
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(str(d / "lineitem.parquet"))
    )
    return str(d)


def test_data_reaches_divergence_regime_and_canary_fires(stress_dir):
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{stress_dir}/lineitem.parquet/*.parquet')"
    )
    rows = duck.execute(
        """
        SELECT CAST(CAST(s AS VARCHAR) AS DOUBLE) AS via_str,
               CAST(s AS DOUBLE) AS direct
        FROM (
          SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                   * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS s
          FROM lineitem GROUP BY l_returnflag, l_linestatus
        )
        """
    ).fetchall()
    assert all(r[0] > TWO_53 for r in rows)  # the >2^53 regime, reached
    # the canary: DuckDB's direct decimal→double cast disagrees with its
    # own exact-string route here — the divergence the hardening targets
    assert any(r[0] != r[1] for r in rows), rows


def test_q1_oracle_exact_beyond_2_53(spark, stress_dir):
    """Catalog q1 vs its committed oracle, driver compare protocol, on
    the >2^53 synthetic — the certificate sf0.1 parquet can't provide."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from parity_cert import check

    q = QUERIES["q1_pricing_summary"]
    spark_pdf = q.fn(spark, stress_dir).toPandas()
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{stress_dir}/lineitem.parquet/*.parquet')"
    )
    err = check(spark_pdf, duck.execute(q.oracle).fetchdf())
    assert err is None, err
    # and the result really is in the stressed regime
    assert (spark_pdf["sum_charge"] > TWO_53).all()


def test_profile_correlations_oracle_exact_beyond_2_53(spark, stress_dir):
    """The other VARCHAR-routed oracle (queries_pipeline profile_correlations):
    its sum-of-squares terms sit ~2e26 here — far past 2^53 — and every
    correlation must still compare EXACTLY equal, because both engines
    reduce the same exact decimal to the same nearest double via the
    string route before the identical fixed-order IEEE formula."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from parity_cert import check

    import __spark_entry__ as entrymod

    q = entrymod._catalog()["profile_correlations"]
    spark_pdf = q.fn(spark, stress_dir).toPandas()
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{stress_dir}/lineitem.parquet/*.parquet')"
    )
    err = check(spark_pdf, duck.execute(q.oracle).fetchdf())
    assert err is None, err
