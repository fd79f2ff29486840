"""Table profiling: ANALYZE-style per-column statistics in one scan.

The reference engine never profiles tables (it only ships CDC streams),
but any 100 TB training-data pipeline starts with exactly this pass:
row counts, null counts, distinct cardinalities, and min/max bounds per
column, to drive partition sizing, skew detection, and quality gates.

Execution shape (scale notes):

* ONE scan + ONE aggregation produce every statistic for every column;
  the result is a single row that is then unpivoted driver-free with a
  ``stack`` generator (still one Spark job, no joins, no reshuffles of
  the unpivoted rows — the agg output is one row).
* Exact ``COUNT(DISTINCT col)`` over k columns makes Catalyst plan an
  Expand (k+1 rows per input row) feeding one partial+final aggregate —
  a single shuffle whose width is the table's column count, which is
  the textbook exact plan.  At 100 TB the Expand multiplier is the
  cost knob, so ``approx=True`` switches to ``approx_count_distinct``
  (HyperLogLog++): no Expand, plain single-pass partial agg, ±2%
  cardinalities — the right default for petabyte profiling runs.  The
  catalog/oracle entry uses the exact path so DuckDB hash-matches.
* min/max for numeric columns surface as DOUBLE, for string columns as
  the string itself, and for date/timestamp columns as the ISO date
  string — each a formatting that is bit-identical across engines
  (doubles pass through comparisons untouched; ISO dates are canonical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUM_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _kind(dtype: T.DataType) -> str:
    if isinstance(dtype, _NUM_TYPES):
        return "num"
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dtype, T.StringType):
        return "str"
    return "other"  # arrays/maps/structs/binary: counts only, no min/max


def profile_columns(
    df: DataFrame, columns: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Per-column statistics of ``df`` in one aggregation pass.

    Returns one row per profiled column:
    ``(col, n_rows, n_null, n_distinct, min_num, max_num, min_str,
    max_str)`` — min/max land in the ``_num`` pair for numeric columns,
    in the ``_str`` pair for strings (and as ISO dates for temporal
    columns); complex-typed columns get counts with NULL bounds.

    ``approx=True`` swaps exact COUNT(DISTINCT) for HyperLogLog++
    (``approx_count_distinct``), removing the Expand from the plan —
    the petabyte-scale variant (see module docstring).
    """
    cols = columns if columns is not None else df.columns
    kinds = {f.name: _kind(f.dataType) for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        k = kinds[c]
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("bigint")).alias(f"_nn_{i}"))
        nd = (
            F.approx_count_distinct(col)
            if approx
            else F.count_distinct(col)
        )
        aggs.append(nd.alias(f"_nd_{i}"))
        if k == "num":
            aggs.append(F.min(col).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.max(col).cast("double").alias(f"_mx_{i}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.lit(None).cast("double").alias(f"_mx_{i}"))
        if k == "str":
            aggs.append(F.min(col).alias(f"_ms_{i}"))
            aggs.append(F.max(col).alias(f"_xs_{i}"))
        elif k == "ts":
            aggs.append(F.min(col.cast("date")).cast("string").alias(f"_ms_{i}"))
            aggs.append(F.max(col.cast("date")).cast("string").alias(f"_xs_{i}"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"_ms_{i}"))
            aggs.append(F.lit(None).cast("string").alias(f"_xs_{i}"))
    row = df.agg(*aggs)
    stack_args: list = [F.lit(len(cols))]
    for i, c in enumerate(cols):
        stack_args += [
            F.lit(c),
            F.col(f"_nn_{i}"),
            F.col(f"_nd_{i}"),
            F.col(f"_mn_{i}"),
            F.col(f"_mx_{i}"),
            F.col(f"_ms_{i}"),
            F.col(f"_xs_{i}"),
        ]
    unpivoted = row.select(
        F.col("n_rows"),
        F.stack(*stack_args).alias(
            "col", "n_null", "n_distinct", "min_num", "max_num", "min_str", "max_str"
        ),
    )
    return unpivoted.select(
        "col", "n_rows", "n_null", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


def profile_oracle_sql(table: str, columns: list[tuple[str, str]]) -> str:
    """DuckDB SQL computing exactly ``profile_columns``'s result for
    ``table`` — one UNION ALL branch per column, each branch a full
    aggregate with the same per-kind min/max formatting rules.

    ``columns`` is ``[(name, kind)]`` with kind in {num, str, ts, other}
    (mirror of :func:`_kind` — callers pass what the parquet schema
    says, keeping Spark and SQL in lockstep).
    """
    branches = []
    for name, kind in columns:
        if kind == "num":
            mn = f"CAST(MIN({name}) AS DOUBLE)"
            mx = f"CAST(MAX({name}) AS DOUBLE)"
            ms = xs = "CAST(NULL AS VARCHAR)"
        elif kind == "str":
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms = f"MIN({name})"
            xs = f"MAX({name})"
        elif kind == "ts":
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms = f"CAST(MIN(CAST({name} AS DATE)) AS VARCHAR)"
            xs = f"CAST(MAX(CAST({name} AS DATE)) AS VARCHAR)"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms = xs = "CAST(NULL AS VARCHAR)"
        branches.append(
            f"""SELECT '{name}' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
       {mn} AS min_num, {mx} AS max_num,
       {ms} AS min_str, {xs} AS max_str
FROM {table}"""
        )
    return "\nUNION ALL\n".join(branches)


def embedding_dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension statistics of an embedding column: count, mean,
    variance, min, max for every vector position — the sanity pass before
    any ANN index build or semantic dedup (dead dimensions, scale
    imbalance, and clipped values all show up here first).

    Output: (dim BIGINT 1-based, n BIGINT, mean, variance, vmin, vmax —
    all DOUBLE).

    Determinism: values are quantized with an explicit FLOOR (v·1e9 and
    v²·1e12 — floor has no rounding ties, unlike a double→decimal cast,
    which engines tie-break differently) and summed exactly as
    DECIMAL(38,0); mean/variance are then a fixed-order chain of IEEE
    ops on identical exact sums (var = E[x²] − mean², two divisions and
    one multiply).  Quantization bias is ≤ 1e-9 per value — irrelevant
    for a profiling pass, and the price of bit-identical cross-engine
    results.

    Scale shape: ONE scan + posexplode feeding a hash aggregate keyed on
    the dimension index — d distinct keys, so map-side partial
    aggregation reduces the shuffle to d rows per task regardless of
    corpus size.  No window, no join, no skew (dimensions are uniform by
    construction)."""
    return dim_stats_from_cells(dim_stats_cells(df, vec_col))


def dim_stats_cells(df: DataFrame, vec_col: str) -> DataFrame:
    """The per-dimension sufficient-statistic cells (dim, n, _s, _ss,
    vmin, vmax): counts and FLOOR-quantized integer sums are additive,
    min/max merge by extremum — so cells from disjoint batches combine
    losslessly."""
    x = df.select(F.posexplode(F.col(vec_col)).alias("_pos", "_v")).select(
        (F.col("_pos") + 1).cast("bigint").alias("dim"),
        F.col("_v").cast("double").alias("_v"),
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("_v") * F.lit(1_000_000_000.0)).cast("decimal(38,0)")
        ).alias("_s"),
        F.sum(
            F.floor(
                F.col("_v") * F.col("_v") * F.lit(1_000_000_000_000.0)
            ).cast("decimal(38,0)")
        ).alias("_ss"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
    )


def dim_stats_from_cells(agg: DataFrame) -> DataFrame:
    """cells → (dim, n, mean, variance, vmin, vmax): a fixed-order
    IEEE projection, deterministic bit-for-bit."""
    mean = F.col("_s").cast("double") / (
        F.lit(1_000_000_000.0) * F.col("n").cast("double")
    )
    meansq = F.col("_ss").cast("double") / (
        F.lit(1_000_000_000_000.0) * F.col("n").cast("double")
    )
    return agg.select(
        "dim",
        F.col("n").cast("bigint").alias("n"),
        mean.alias("mean"),
        (meansq - mean * mean).alias("variance"),
        "vmin",
        "vmax",
    )
