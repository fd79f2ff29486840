"""Data-quality audit checks — the dbt-test / Great-Expectations family,
run as plain aggregations so a 100 TB audit is a handful of scans.

Each check produces a one-row DataFrame ``(check STRING, n_bad BIGINT)``;
``dq_audit`` unions them into the audit report.  Checks are pure
DataFrame programs: FK checks are left-anti joins (broadcast when the
parent is dim-sized), uniqueness/null/range checks are single
aggregations with pushdown-friendly predicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _one(name: str, df: DataFrame, n_bad: Column) -> DataFrame:
    return df.agg(n_bad.cast("bigint").alias("n_bad")).select(
        F.lit(name).alias("check"), "n_bad"
    )


def fk_check(
    name: str, child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """Orphaned-row count: child rows whose fk has no parent pk.
    Left-anti join; Spark broadcasts the parent when it is small, and at
    scale the runtime Bloom filter prunes the child scan first."""
    orphans = child.select(F.col(fk)).join(
        parent.select(F.col(pk).alias(fk)), fk, "left_anti"
    )
    return _one(name, orphans, F.count(F.lit(1)))


def unique_check(name: str, df: DataFrame, cols: list[str]) -> DataFrame:
    """Duplicate-key count: COUNT(*) − COUNT(DISTINCT cols…).  One
    aggregation; the distinct rides the same shuffle as a grouped count."""
    return _one(
        name,
        df.select(*cols),
        F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]),
    )


def null_check(name: str, df: DataFrame, col: str) -> DataFrame:
    """NULL count for a column that must be populated."""
    return _one(
        name, df, F.count(F.when(F.col(col).isNull(), F.lit(1)))
    )


def range_check(name: str, df: DataFrame, predicate: Column) -> DataFrame:
    """Rows violating a domain predicate (predicate = the VALID range)."""
    return _one(
        name, df, F.count(F.when(~predicate, F.lit(1)))
    )


def dq_audit(checks: list[DataFrame]) -> DataFrame:
    """Union the per-check rows into one audit report.  Each input is a
    1-row aggregate, so the union is metadata-sized regardless of table
    size; the expensive work (scans/joins) runs in parallel stages."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def distribution_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    bin_width: int,
    n_bins: int,
) -> DataFrame:
    """Distribution-drift report: total-variation distance between each
    group's distribution of ``value_col`` (fixed-width integer bins,
    top bin open) and the whole-corpus distribution — the per-source /
    per-snapshot drift monitor a pipeline runs before mixing a new crawl
    into the training corpus.

    Output: (``group_col``, n_docs BIGINT, tvd DOUBLE) with
    tvd = ½ Σ_b |c_gb/n_g − c_b/N| ∈ [0, 1].

    Determinism: the bin sum is computed entirely in INTEGER arithmetic —
    ½ Σ|c_gb·N − c_b·n_g| / (n_g·N) — so engines agree bit-for-bit; the
    single final division is one IEEE op on identical operands.

    Scale shape: ONE corpus scan feeds the (group, bin) count; per-group
    totals, per-bin corpus counts, and the grand total attach to that
    summary with unordered windows OVER THE SUMMARY itself
    (|groups|·|bins| rows — metadata-sized, so even the global window is
    a one-task no-op by construction).  Bins where a group has zero rows
    are folded algebraically (their |0 − c_b·n_g| terms sum to
    n_g·(N − Σ_observed c_b)) instead of materializing a grid — no
    second corpus pass, no joins, no skew (bins bounded by
    ``n_bins``)."""
    bin_expr = F.least(
        F.expr(f"CAST({value_col} AS BIGINT) DIV {bin_width}"),
        F.lit(n_bins - 1).cast("bigint"),
    ).alias("_bin")
    binned = df.select(F.col(group_col), bin_expr)
    gb = binned.groupBy(group_col, "_bin").agg(
        F.count(F.lit(1)).alias("_c_gb")
    )
    return drift_from_cells(gb, group_col)


def drift_from_cells(gb: DataFrame, group_col: str) -> DataFrame:
    """The cells → TVD fold: ``gb`` is the (group, _bin, _c_gb) count
    summary from one corpus scan.  Counts are exact integers, so the
    fold is bit-for-bit deterministic."""
    from creek_spark.operators.distributed import const_partition

    w_g = Window.partitionBy(group_col)
    w_b = Window.partitionBy("_bin")
    # grand total over the bounded cell summary — constant key keeps the
    # WindowExec no-partition warning reserved for real scale bugs
    w_all = Window.partitionBy(const_partition("_bin"))
    cells = gb.select(
        F.col(group_col),
        "_c_gb",
        F.sum("_c_gb").over(w_g).alias("_n_g"),
        F.sum("_c_gb").over(w_b).alias("_c_b"),
        F.sum("_c_gb").over(w_all).alias("_n"),
    )
    term = F.abs(
        F.col("_c_gb") * F.col("_n") - F.col("_c_b") * F.col("_n_g")
    )
    return (
        cells.groupBy(group_col, "_n_g", "_n")
        .agg(
            F.sum(term).alias("_sum_abs"),
            F.sum("_c_b").alias("_sum_cb"),
        )
        .select(
            F.col(group_col),
            F.col("_n_g").cast("bigint").alias("n_docs"),
            (
                (
                    F.col("_sum_abs")
                    + F.col("_n_g") * (F.col("_n") - F.col("_sum_cb"))
                ).cast("double")
                / (
                    F.lit(2.0)
                    * F.col("_n_g").cast("double")
                    * F.col("_n").cast("double")
                )
            ).alias("tvd"),
        )
    )
