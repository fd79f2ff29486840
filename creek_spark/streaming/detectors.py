"""Streaming anomaly detection with batch-identical results — the
engine's analytics run continuously, not just as one-shot scans (the
reference's whole point is continuous processing: its consumer loop
applies changes as they arrive, internal/dao/replication.go).

``StreamingZScore`` maintains the per-type population moments the batch
``ts_anomaly_zscore`` catalog query computes — COUNT, Σvalue, Σvalue² —
as an ADDITIVE rollup via :class:`AdditiveRollupSink` (batch_id-fenced,
partition-local, manifest-atomic), then scores any probe frame against
the maintained moments.  Because the moments are stored as EXACT
integers (value rounded to decimal(14,2) exactly as the batch query
does, then scaled to cents / 10⁻⁴-units) and recombined in decimal
before one final cast to double, the streamed mean/σ — and therefore
every flag and z value — are bit-identical to the batch operator over
the union of all streamed batches.  That is the incremental == batch
proof obligation, asserted by tests/test_streaming_rollup.py.

Scale: cells are keyed (event_type, day) so a trickle of fresh events
rewrites only today's partition; per-cell Σvalue² in 10⁻⁴ units stays
far under int64 for any plausible single day, and the cross-day combine
runs in decimal(38), so no overflow path exists end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from creek_spark.streaming.rollup import AdditiveRollupSink

KEYS = ["event_type", "day"]
ADDS = ["n", "sv_c", "svv_c4"]


class StreamingZScore:
    """Incrementally-maintained population z-score detector
    (|z| > ``threshold`` per event_type), batch-identical by
    construction."""

    def __init__(self, spark: SparkSession, state_dir: str, threshold: float = 2.5):
        self.spark = spark
        self.threshold = threshold
        self.sink = AdditiveRollupSink(spark, state_dir, KEYS, ADDS, "day")

    # -- ingestion -----------------------------------------------------

    @staticmethod
    def moments_tier(batch: DataFrame) -> DataFrame:
        """events micro-batch → additive moment cells.  value is rounded
        to decimal(14,2) EXACTLY like the batch query's dec(); cents and
        10⁻⁴-units are exact integers, so cells merge losslessly."""
        vd = F.col("value").cast("decimal(14,2)")
        return batch.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((vd * 100).cast("decimal(20,0)")).cast("bigint").alias("sv_c"),
            F.sum((vd * vd * 10000).cast("decimal(30,0)"))
            .cast("bigint")
            .alias("svv_c4"),
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.moments_tier(batch), batch_id)

    # -- scoring -------------------------------------------------------

    def moments(self) -> DataFrame | None:
        """Per-type moments recombined across day cells in decimal, cast
        to double only at the end — matching the batch query's
        CAST(SUM(decimal) AS DOUBLE) bit-for-bit."""
        cur = self.sink.current()
        if cur is None:
            return None
        return cur.groupBy("event_type").agg(
            F.sum("n").cast("bigint").alias("n"),
            (F.sum(F.col("sv_c").cast("decimal(38,0)")) / 100)
            .cast("double")
            .alias("sv"),
            (F.sum(F.col("svv_c4").cast("decimal(38,0)")) / 10000)
            .cast("double")
            .alias("svv"),
        )

    def score(self, probe: DataFrame) -> DataFrame:
        """Flag probe rows against the maintained moments — the same
        arithmetic as the batch ts_anomaly_zscore (IEEE-deterministic)."""
        stats = self.moments()
        if stats is None:
            raise ValueError("no committed state yet — apply a batch first")
        nD = F.col("n").cast("double")
        mean = F.col("sv") / nD
        var = (F.col("svv") - (F.col("sv") * F.col("sv")) / nD) / nD
        z = (F.col("value").cast("double") - mean) / F.sqrt(
            F.greatest(var, F.lit(1e-12))
        )
        return (
            probe.join(F.broadcast(stats), "event_type")
            .where(F.abs(z) > F.lit(self.threshold))
            .select("event_id", "event_type", "value", z.alias("z"))
        )


class StreamingGrowthRates:
    """Continuously-maintained MoM/YoY growth rates — the streaming twin
    of the ts_growth_rates catalog query.  Monthly revenue cells
    (seg, month) are EXACT integer cents maintained through
    AdditiveRollupSink (a trickle of fresh orders rewrites only the
    months it touches); scoring recombines cents in decimal and applies
    the same lag arithmetic over the metadata-sized series, so streamed
    growth rows equal the batch operator bit-for-bit."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, ["seg", "mon"], ["n", "rev_c"], "mon"
        )

    @staticmethod
    def revenue_tier(batch: DataFrame) -> DataFrame:
        """orders micro-batch → additive monthly revenue cells (cents)."""
        return batch.groupBy(
            F.col("o_orderpriority").alias("seg"),
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd"
            ).alias("mon"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast(
                    "decimal(20,0)"
                )
            )
            .cast("bigint")
            .alias("rev_c"),
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.revenue_tier(batch), batch_id)

    def rates(self) -> DataFrame:
        """Growth rows from the maintained cells — same arithmetic as
        the batch query (decimal recombine, one final double cast, lag
        over the tiny (seg, month) series)."""
        from pyspark.sql import Window

        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        m = cur.groupBy("seg", F.to_date(F.col("mon")).alias("mon")).agg(
            (F.sum(F.col("rev_c").cast("decimal(38,0)")) / 100)
            .cast("double")
            .alias("rev")
        )
        w = Window.partitionBy("seg").orderBy("mon")
        g = m.select(
            "seg", "mon", "rev",
            F.lag("rev").over(w).alias("prev_rev"),
            F.lag("rev", 12).over(w).alias("prev_year_rev"),
        )
        return g.select(
            "seg", "mon", "rev",
            (F.col("rev") - F.col("prev_rev")).alias("mom_delta"),
            F.when(
                F.col("prev_year_rev").isNull()
                | (F.col("prev_year_rev") == 0),
                F.lit(None).cast("double"),
            ).otherwise(F.col("rev") / F.col("prev_year_rev")).alias("yoy_ratio"),
        )


class StreamingForecastBacktest:
    """Continuously-maintained seasonal-naive backtest — the streaming
    twin of ts_forecast_snaive.  Hourly value sums per event_type are
    EXACT integer cents maintained through AdditiveRollupSink (fresh
    events rewrite only the days they touch); scoring recombines cents
    in decimal, self-joins the tiny (type, hour) series at the 7-day
    lag and emits MAE/bias per type — bit-identical to the batch
    operator over the union of streamed batches."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, ["event_type", "day", "bkt"], ["v_c"], "day"
        )

    @staticmethod
    def hourly_tier(batch: DataFrame) -> DataFrame:
        vd = F.col("value").cast("decimal(14,2)")
        return batch.groupBy(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("bkt"),
        ).agg(
            F.sum((vd * 100).cast("decimal(20,0)")).cast("bigint").alias("v_c")
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.hourly_tier(batch), batch_id)

    def backtest(self) -> DataFrame:
        """MAE/bias of the this-hour-equals-last-week predictor over the
        maintained series — same decimal-exact error sums as the batch
        query, one final double division."""
        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        h = cur.groupBy(
            "event_type", F.to_timestamp(F.col("bkt")).alias("bkt")
        ).agg(
            (F.sum(F.col("v_c").cast("decimal(38,0)")) / 100)
            .cast("decimal(24,2)")
            .alias("v")
        )
        a = h.select("event_type", "bkt", F.col("v").alias("actual"))
        f = h.select(
            "event_type",
            (F.col("bkt") + F.expr("INTERVAL 7 DAY")).alias("bkt"),
            F.col("v").alias("forecast"),
        )
        j = a.join(f, ["event_type", "bkt"])
        return j.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            (
                F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("double")
                / F.count(F.lit(1))
            ).alias("mae"),
            (
                F.sum(F.col("actual") - F.col("forecast")).cast("double")
                / F.count(F.lit(1))
            ).alias("bias"),
        )


class StreamingCusum:
    """Continuously-maintained tabular CUSUM over the hourly series —
    the streaming twin of ts_cusum_hourly.  The hourly cells are the
    SAME exact-cents tier as StreamingForecastBacktest (one maintained
    rollup can feed both detectors); rescoring recombines cents in
    decimal and reruns the prefix-form arithmetic over the bounded
    (type, hour) series, so flagged hours and both cusum values equal
    the batch operator bit-for-bit."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, ["event_type", "day", "bkt"], ["v_c"], "day"
        )

    hourly_tier = staticmethod(StreamingForecastBacktest.hourly_tier)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.hourly_tier(batch), batch_id)

    def changepoints(self) -> DataFrame:
        from pyspark.sql import Window

        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        h = cur.groupBy(
            "event_type", F.to_timestamp(F.col("bkt")).alias("bucket")
        ).agg(
            (F.sum(F.col("v_c").cast("decimal(38,0)")) / 100)
            .cast("decimal(18,2)")
            .alias("vd")
        )
        stats = h.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.sum("vd").cast("double").alias("sv"),
            F.sum(F.col("vd") * F.col("vd")).cast("double").alias("svv"),
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        base = (
            h.join(F.broadcast(stats), "event_type")
            .withColumn("s", F.sum("vd").over(w).cast("double"))
            .withColumn(
                "rn",
                F.row_number()
                .over(Window.partitionBy("event_type").orderBy("bucket"))
                .cast("double"),
            )
        )
        sigma = F.sqrt(
            F.greatest(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("nd"))
                / F.col("nd"),
                F.lit(1e-12),
            )
        )
        mu = F.col("sv") / F.col("nd")
        c = (
            base.withColumn("sigma", sigma)
            .withColumn(
                "cp", F.col("s") - F.col("rn") * (mu + F.lit(0.5) * F.col("sigma"))
            )
            .withColumn(
                "cn", F.col("s") - F.col("rn") * (mu - F.lit(0.5) * F.col("sigma"))
            )
        )
        m = c.withColumn("cpmin", F.min("cp").over(w)).withColumn(
            "cnmax", F.max("cn").over(w)
        )
        return (
            m.where(
                F.greatest(
                    F.col("cp") - F.col("cpmin"), F.col("cnmax") - F.col("cn")
                )
                > F.lit(5) * F.col("sigma")
            )
            .select(
                "event_type",
                "bucket",
                F.col("vd").cast("double").alias("v"),
                (F.col("cp") - F.col("cpmin")).alias("cusum_pos"),
                (F.col("cnmax") - F.col("cn")).alias("cusum_neg"),
            )
        )


class StreamingCorpusReport:
    """Continuously-maintained per-(source, lang) corpus report card —
    the streaming twin of the ``corpus_report`` catalog query (doc
    counts, token totals, mean quality, low-quality counts: the rollup
    every ingest batch gets before admission to a training mix).

    The batch query is fully additive: counts and token sums are integer
    cells, and mean quality decomposes into Σquality (held exactly as
    integer 10⁻¹²-units — quality_score is cast to decimal(18,12) by the
    batch query, so the scaled value is integral) over Σdocs.  Cells are
    keyed (source, lang) and partitioned by source, so a batch from one
    source rewrites only that source's partition.  Recombining sums in
    decimal(38) and casting to double only at the end reproduces the
    batch doubles bit-for-bit — the fifth incremental == batch proof
    (tests/test_streaming_rollup.py::test_streaming_corpus_report_equals_batch).
    """

    KEYS = ["source", "lang"]
    ADDS = ["n_docs", "total_tokens", "sq_u12", "n_low"]

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, self.KEYS, self.ADDS, "source"
        )

    @staticmethod
    def report_tier(batch: DataFrame) -> DataFrame:
        """documents micro-batch → additive report cells (one metrics
        projection, one partial-aggregated groupBy — same single-scan
        shape as the batch query)."""
        from creek_spark.operators.text import text_metrics

        m = text_metrics(batch, "text", "doc_id", keep=("source", "lang"))
        qd = F.col("quality_score").cast("decimal(18,12)")
        return m.groupBy("source", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            # narrow decimal(13,0) multiplier keeps the product at
            # decimal(32,12) — a bare long literal widens to decimal(20,0)
            # and the 39-digit product silently drops the 12th decimal
            F.sum((qd * F.lit(10**12).cast("decimal(13,0)")).cast("decimal(32,0)"))
            .cast("bigint")
            .alias("sq_u12"),
            F.sum(F.when(F.col("quality_score") < 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.report_tier(batch), batch_id)

    def report(self) -> DataFrame:
        """The corpus_report frame over everything streamed so far —
        column-for-column and bit-for-bit the batch query's output."""
        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        return cur.groupBy("source", "lang").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("total_tokens").cast("bigint").alias("total_tokens"),
            (
                # decimal(24,0) / decimal(13,0) → decimal(38,14): scale
                # ≥ 12 so Σ 10⁻¹²-units divides back exactly.  Wider
                # operands overflow precision 38 and Spark silently
                # truncates the result scale to 6 (sum() itself widens,
                # hence the explicit cast back down after it)
                (
                    F.sum(F.col("sq_u12").cast("decimal(24,0)"))
                    .cast("decimal(24,0)")
                    / F.lit(10**12).cast("decimal(13,0)")
                )
                .cast("double")
                / F.sum("n_docs").cast("bigint")
            ).alias("mean_quality"),
            F.sum("n_low").cast("bigint").alias("n_low_quality"),
        )


class StreamingDriftMonitor:
    """Continuously-maintained distribution-drift monitor — the streaming
    twin of the ``quality_drift_tvd`` catalog query (per-group
    total-variation distance vs the whole-corpus distribution over
    fixed-width value bins).

    The state is the (group, bin) count summary itself — the minimal
    sufficient statistic for TVD, perfectly additive — so ingest cost is
    one partial-aggregated groupBy per micro-batch and state size is
    |groups|·|bins| rows regardless of corpus size.  The report fold is
    the literal ``drift_from_cells`` plan the batch operator uses
    (integer bin sums, zero-cells folded algebraically, one final IEEE
    division), so incremental == batch bit-for-bit — the sixth proof
    (tests/test_streaming_rollup.py::test_streaming_drift_equals_batch).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        group_col: str = "source",
        value_col: str = "n_chars",
        bin_width: int = 100,
        n_bins: int = 6,
    ):
        self.spark = spark
        self.group_col = group_col
        self.value_col = value_col
        self.bin_width = bin_width
        self.n_bins = n_bins
        self.sink = AdditiveRollupSink(
            spark, state_dir, [group_col, "_bin"], ["_c_gb"], group_col
        )

    def cells_tier(self, batch: DataFrame) -> DataFrame:
        """micro-batch → additive (group, bin) count cells — the same
        projection + groupBy the batch operator computes from its one
        corpus scan."""
        bin_expr = F.least(
            F.expr(f"CAST({self.value_col} AS BIGINT) DIV {self.bin_width}"),
            F.lit(self.n_bins - 1).cast("bigint"),
        ).alias("_bin")
        return (
            batch.select(F.col(self.group_col), bin_expr)
            .groupBy(self.group_col, "_bin")
            .agg(F.count(F.lit(1)).alias("_c_gb"))
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.cells_tier(batch), batch_id)

    def report(self) -> DataFrame:
        """The quality_drift_tvd frame over everything streamed so far —
        bit-for-bit the batch operator's output (integer cells, shared
        fold)."""
        from creek_spark.operators.quality import drift_from_cells

        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        cells = cur.groupBy(self.group_col, "_bin").agg(
            F.sum("_c_gb").cast("bigint").alias("_c_gb")
        )
        return drift_from_cells(cells, self.group_col)


class StreamingDimStats:
    """Continuously-maintained per-dimension embedding statistics — the
    streaming twin of the ``embedding_dim_stats`` catalog query.

    The state is the dimension's sufficient-statistic cell (n, Σfloor(v·1e9),
    Σfloor(v²·1e12), min, max): counts and quantized sums merge by
    addition, extrema by min/max — the first tier to use the rollup
    sink's kind-aware merge.  The report folds the merged cells through
    the same ``dim_stats_from_cells`` projection as the batch operator,
    so incremental == batch bit-for-bit — the seventh proof
    (tests/test_streaming_rollup.py::test_streaming_dim_stats_equals_batch).

    Bound: the sink holds quantized sums as BIGINT, exact up to ~9×10⁹
    unit-scale vectors per dimension; the batch operator itself stays in
    decimal(38,0).  State size is d rows regardless of corpus size;
    ingest is one posexplode + map-side-combined hash agg per batch."""

    def __init__(self, spark: SparkSession, state_dir: str, *,
                 vec_col: str = "embedding"):
        self.spark = spark
        self.vec_col = vec_col
        self.sink = AdditiveRollupSink(
            spark, state_dir, ["_pt", "dim"],
            {"n": "sum", "_s": "sum", "_ss": "sum",
             "vmin": "min", "vmax": "max"},
            "_pt",
        )

    def cells_tier(self, batch: DataFrame) -> DataFrame:
        from creek_spark.operators.profile import dim_stats_cells

        return dim_stats_cells(batch, self.vec_col).select(
            F.lit("d").alias("_pt"), "dim", "n",
            F.col("_s").cast("bigint").alias("_s"),
            F.col("_ss").cast("bigint").alias("_ss"),
            "vmin", "vmax",
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.cells_tier(batch), batch_id)

    def report(self) -> DataFrame:
        """The embedding_dim_stats frame over everything streamed so far
        — bit-for-bit the batch operator's output."""
        from creek_spark.operators.profile import dim_stats_from_cells

        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        cells = cur.groupBy("dim").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum(F.col("_s").cast("decimal(38,0)"))
            .cast("decimal(38,0)").alias("_s"),
            F.sum(F.col("_ss").cast("decimal(38,0)"))
            .cast("decimal(38,0)").alias("_ss"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        return dim_stats_from_cells(cells)


class StreamingCms:
    """Continuously-maintained count-min frequency sketch — the streaming
    twin of the ``sketch_cms_counts`` catalog query (token-frequency
    estimates with exact-count companions for a fixed probe list).

    Two additive tiers ride the same fenced sink machinery: the CMS cell
    grid (row, bucket) → count — ≤ depth·width rows however large the
    stream, merged by addition exactly as ``cms_merge`` does — and the
    probe terms' exact counts (|probes| rows).  The report probes the
    merged grid with the literal ``cms_estimate`` plan the batch
    operator uses, so incremental == batch bit-for-bit — the eighth
    proof (tests/test_streaming_rollup.py::test_streaming_cms_equals_batch).

    Ingest cost per micro-batch: one tokenize + two map-side-combined
    hash aggs, each collapsing to sketch-sized output before the
    exchange.  State size is ≤ depth·width + |probes| rows regardless of
    corpus size — the defining property of a mergeable sketch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        probes: list[str],
        text_col: str = "text",
        depth: int = 4,
        width: int = 64,
    ):
        self.spark = spark
        self.probes = list(probes)
        self.text_col = text_col
        self.depth = depth
        self.width = width
        self.cells = AdditiveRollupSink(
            spark, state_dir + "/cells", ["row", "bucket"], ["cnt"], "row"
        )
        self.exact = AdditiveRollupSink(
            spark, state_dir + "/exact", ["term"], ["cnt"], "term"
        )

    def _tokens(self, batch: DataFrame) -> DataFrame:
        from creek_spark.functions.text import tokens as _tokens

        return batch.select(F.explode(_tokens(self.text_col)).alias("tok"))

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.operators.sketches import cms_build

        toks = self._tokens(batch)
        self.cells.apply_batch(
            cms_build(toks, "tok", depth=self.depth, width=self.width),
            batch_id,
        )
        self.exact.apply_batch(
            toks.where(F.col("tok").isin(self.probes))
            .groupBy(F.col("tok").alias("term"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
            batch_id,
        )

    def report(self) -> DataFrame:
        """The sketch_cms_counts frame over everything streamed so far —
        bit-for-bit the batch operator's output (integer cells, shared
        estimate plan, est ≥ exact guaranteed)."""
        from creek_spark.operators.sketches import cms_estimate

        cur = self.cells.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        sketch = cur.groupBy("row", "bucket").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )
        probes_df = self.spark.createDataFrame(
            [(t,) for t in self.probes], ["term"]
        )
        est = cms_estimate(
            sketch, probes_df, "term", depth=self.depth, width=self.width
        )
        ex = self.exact.current()
        exact = (
            ex.groupBy("term").agg(F.sum("cnt").cast("bigint").alias("exact_count"))
            if ex is not None
            else probes_df.select(
                "term", F.lit(None).cast("bigint").alias("exact_count")
            ).where(F.lit(False))
        )
        return est.join(exact, "term", "left").select(
            "term",
            "est_count",
            F.coalesce(F.col("exact_count"), F.lit(0))
            .cast("bigint")
            .alias("exact_count"),
        )


class StreamingTrend:
    """Continuously-maintained least-squares trend — the streaming twin
    of the ``ts_linear_trend`` catalog query (per-key OLS
    slope/intercept/R² of the daily revenue series).

    The state is the (event_type, day) daily-cents grid: revenue cents
    merge by ADDITION per cell, so the sufficient statistic for the
    whole regression is calendar-bounded however large the stream.  The
    report runs the literal ``trend_from_cells`` fold the batch query
    uses (exact integer moments, decimal cross products, fixed-order
    IEEE solve), so incremental == batch bit-for-bit — the ninth proof
    (tests/test_streaming_rollup.py::test_streaming_trend_equals_batch).

    Ingest cost per micro-batch: one map-side-combined hash agg to the
    touched (type, day) cells; a trickle of fresh events rewrites only
    the touched event_type partitions."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, ["event_type", "day"], ["y"], "event_type"
        )

    @staticmethod
    def cells_tier(batch: DataFrame) -> DataFrame:
        from creek_spark.queries_r6b import trend_daily_cells

        return trend_daily_cells(batch)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.cells_tier(batch), batch_id)

    def report(self) -> DataFrame:
        """The ts_linear_trend frame over everything streamed so far —
        bit-for-bit the batch operator's output."""
        from creek_spark.queries_r6b import trend_from_cells

        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        cells = cur.groupBy("event_type", "day").agg(
            F.sum("y").cast("bigint").alias("y")
        )
        return trend_from_cells(cells)


class StreamingBloom:
    """Continuously-maintained Bloom membership filter — the streaming
    twin of the ``sketch_bloom_filter`` catalog query.

    The state tier is the set bit positions themselves: ≤ m rows however
    large the stream, merged idempotently (presence = max) on the fenced
    rollup sink — bits of a union are the union of bits, so micro-batch
    bit sets maintain the stream's filter exactly and a replayed batch
    is a no-op.  ``report`` folds the merged bits through the batch
    query's own ``bloom_summary``, so incremental == batch bit-for-bit
    (tests/test_streaming_rollup.py::test_streaming_bloom_equals_batch).

    Ingest cost per micro-batch: one k-way position projection + a
    ≤ m-row distinct; state stays ≤ m rows regardless of corpus size —
    the defining property of the sketch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        name_col: str = "name",
        m: int | None = None,
        k: int | None = None,
    ):
        from creek_spark.operators.sketches import BLOOM_K, BLOOM_M

        self.spark = spark
        self.name_col = name_col
        self.m = BLOOM_M if m is None else m
        self.k = BLOOM_K if k is None else k
        self.bits_sink = AdditiveRollupSink(
            spark,
            state_dir + "/bits",
            ["part", "pos"],
            {"cnt": "max"},
            "part",
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.operators.sketches import bloom_bits

        bits = bloom_bits(batch, self.name_col, m=self.m, k=self.k)
        self.bits_sink.apply_batch(
            bits.select(
                (F.col("pos") % 16).cast("string").alias("part"),
                "pos",
                F.lit(1).cast("bigint").alias("cnt"),
            ),
            batch_id,
        )

    def bits(self) -> DataFrame:
        cur = self.bits_sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        return cur.select("pos").distinct()

    def report(self, cust: DataFrame, sup: DataFrame) -> DataFrame:
        """The sketch_bloom_filter frame with the filter built from
        everything streamed so far — bit-for-bit the batch operator's
        output when the stream has covered the same corpus."""
        from creek_spark.queries_r6c import bloom_summary

        return bloom_summary(self.bits(), cust, sup)


class StreamingAcf:
    """Continuously-maintained hourly autocorrelation — the streaming
    twin of the ``ts_autocorrelation`` catalog query.

    State is the additive (event_type, hour-µs) count grid — ≤
    |types|·|hours| rows however large the stream — on the fenced
    rollup sink; ``report`` folds the merged cells through the batch
    query's own ``acf_from_cells`` (lag self-join + exact moment sums),
    so incremental == batch bit-for-bit
    (tests/test_streaming_rollup.py::test_streaming_acf_equals_batch)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.cells = AdditiveRollupSink(
            spark, state_dir + "/cells", ["event_type", "hu"], ["c"],
            "event_type",
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.queries_r6c import acf_cells

        self.cells.apply_batch(acf_cells(batch), batch_id)

    def report(self) -> DataFrame:
        from creek_spark.queries_r6c import acf_from_cells

        cur = self.cells.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        merged = cur.groupBy("event_type", "hu").agg(
            F.sum("c").cast("bigint").alias("c")
        )
        return acf_from_cells(merged)


class StreamingBacklog:
    """Continuously-maintained open-order backlog — the streaming twin
    of the ``orders_open_backlog`` catalog query, and the mirror family's
    incremental-materialized-view member: state is PER-ORDER (od, close),
    not sketch-sized, exactly like cdc_incremental_mv.

    Both tiers ride the fenced sink with extremum merges, so an order's
    lineitems may arrive split across any number of micro-batches (close
    = max of the maxes) and replays are no-ops.  ``report`` joins the
    two states and folds through the batch query's own
    ``backlog_from_pairs``
    (tests/test_streaming_rollup.py::test_streaming_backlog_equals_batch)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.orders = AdditiveRollupSink(
            spark, state_dir + "/orders", ["part", "o_orderkey"],
            {"od": "min"}, "part",
        )
        self.lines = AdditiveRollupSink(
            spark, state_dir + "/lines", ["part", "l_orderkey"],
            {"close": "max"}, "part",
        )

    @staticmethod
    def _part(col: str) -> Column:
        return (F.col(col) % 16).cast("string").alias("part")

    def apply_orders(self, batch: DataFrame, batch_id: int) -> None:
        self.orders.apply_batch(
            batch.select(
                self._part("o_orderkey"),
                "o_orderkey",
                F.to_date("o_orderdate").alias("od"),
            ),
            batch_id,
        )

    def apply_lineitems(self, batch: DataFrame, batch_id: int) -> None:
        self.lines.apply_batch(
            batch.groupBy(
                self._part("l_orderkey"), F.col("l_orderkey")
            ).agg(F.max(F.to_date("l_shipdate")).alias("close")),
            batch_id,
        )

    def report(self) -> DataFrame:
        o = self.orders.current()
        li = self.lines.current()
        if o is None or li is None:
            raise ValueError("need at least one orders AND lineitem batch")
        from creek_spark.queries_r6c import backlog_from_pairs

        od = o.groupBy("o_orderkey").agg(F.min("od").alias("od"))
        cl = li.groupBy("l_orderkey").agg(F.max("close").alias("close"))
        j = od.join(cl, F.col("o_orderkey") == F.col("l_orderkey"))
        return backlog_from_pairs(j)


class StreamingGini:
    """Continuously-maintained customer-revenue Gini — the streaming twin
    of the ``customer_revenue_gini`` catalog query, and the second
    incremental-MV mirror: state is per-customer revenue cents, merged
    by ADDITION, so order batches may split a customer's orders
    arbitrarily and replays are no-ops.

    ``report`` folds the merged per-customer sums through the batch
    query's own ``gini_from_revenue`` (segmented global rank + exact
    decimal Σi·r), so incremental == batch bit-for-bit
    (tests/test_streaming_rollup.py::test_streaming_gini_equals_batch)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.cells = AdditiveRollupSink(
            spark, state_dir + "/cells", ["part", "o_custkey"], ["r"], "part"
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        cells = batch.groupBy(
            (F.col("o_custkey") % 16).cast("string").alias("part"),
            F.col("o_custkey"),
        ).agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")) * 100
            ).cast("bigint").alias("r")
        )
        self.cells.apply_batch(cells, batch_id)

    def report(self) -> DataFrame:
        from creek_spark.queries_r6c import gini_from_revenue

        cur = self.cells.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        r = cur.groupBy("o_custkey").agg(
            F.sum("r").cast("bigint").alias("r")
        )
        return gini_from_revenue(r)


class StreamingConversion:
    """Continuously-maintained conversion-latency report — the streaming
    twin of the ``events_conversion_latency`` catalog query and the
    third incremental-MV mirror: state is per-user FIRST view / first
    purchase timestamps, merged by MINIMUM, so event batches may arrive
    in any order (an earlier first-view in a later batch wins) and
    replays are no-ops.

    ``report`` folds the two min-merged tiers through the batch query's
    own ``conversion_from_firsts`` (equi join + global rank_pick), so
    incremental == batch bit-for-bit
    (tests/test_streaming_rollup.py::test_streaming_conversion_equals_batch)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.views = AdditiveRollupSink(
            spark, state_dir + "/views", ["part", "user_id"],
            {"v_ts": "min"}, "part",
        )
        self.purchases = AdditiveRollupSink(
            spark, state_dir + "/purchases", ["part", "user_id"],
            {"p_ts": "min"}, "part",
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        part = (F.col("user_id") % 16).cast("string").alias("part")
        self.views.apply_batch(
            batch.where(F.col("event_type") == "view")
            .groupBy(part, F.col("user_id"))
            .agg(F.min("ts").alias("v_ts")),
            batch_id,
        )
        self.purchases.apply_batch(
            batch.where(F.col("event_type") == "purchase")
            .groupBy(part, F.col("user_id"))
            .agg(F.min("ts").alias("p_ts")),
            batch_id,
        )

    def report(self) -> DataFrame:
        from creek_spark.queries_r6c import conversion_from_firsts

        v = self.views.current()
        p = self.purchases.current()
        if v is None or p is None:
            raise ValueError("need at least one view AND purchase batch")
        fv = v.groupBy("user_id").agg(F.min("v_ts").alias("v_ts"))
        fp = p.groupBy("user_id").agg(F.min("p_ts").alias("p_ts"))
        return conversion_from_firsts(fv, fp)


class StreamingVocab:
    """Continuously-maintained vocabulary/hapax profile — the streaming
    twin of the ``text_vocab_hapax`` catalog query.

    State is the additive (source, token) count grid on the fenced sink
    — Heaps-law sublinear in the stream (one row per distinct type),
    merged by addition, so a type that is hapax in two different batches
    correctly stops being hapax in the merged state.  ``report`` folds
    the merged counts through the batch query's own ``vocab_from_tf``,
    so incremental == batch bit-for-bit
    (tests/test_streaming_rollup.py::test_streaming_vocab_equals_batch)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.cells = AdditiveRollupSink(
            spark, state_dir + "/cells", ["source", "w"], ["c"], "source"
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.queries_r6c import vocab_tf_cells

        self.cells.apply_batch(vocab_tf_cells(batch), batch_id)

    def report(self) -> DataFrame:
        from creek_spark.queries_r6c import vocab_from_tf

        cur = self.cells.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        tf = cur.groupBy("source", "w").agg(F.sum("c").alias("c"))
        return vocab_from_tf(tf)


class StreamingMediaReport:
    """Continuously-maintained per-(format, day) media ingest report —
    the streaming twin of ``operators.multimodal.media_report`` and the
    sixteenth incremental == batch proof, with a property none of the
    other fifteen exercises: the tier is produced by a PYTHON decode
    stage (mapInPandas over the pure-stdlib codecs) feeding the fenced
    rollup sink — the shape of a 100 TB multimodal curation dashboard
    running continuously (decode each blob exactly once, on arrival,
    then merge integer cells forever).

    All cells are exact-integer SUM/MIN/MAX (media and decode counts,
    pixel/sample count, Σvalue, min/max value), so the streamed report
    is bit-identical to the batch operator over the union of streamed
    batches — no float path exists to disagree
    (tests/test_streaming_rollup.py::test_streaming_media_report_equals_batch).
    Blobs never shuffle: the Python stage map-side combines to at most
    one cell per (fmt, day) per Arrow batch; only cells reach the sink.
    """

    KEYS = ["fmt", "day"]
    ADDS = {
        "n_media": "sum",
        "n_decoded": "sum",
        "n_values": "sum",
        "sum_val": "sum",
        "min_val": "min",
        "max_val": "max",
    }

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.sink = AdditiveRollupSink(
            spark, state_dir, self.KEYS, self.ADDS, "day"
        )

    @staticmethod
    def report_tier(batch: DataFrame) -> DataFrame:
        from creek_spark.operators.multimodal import media_report

        return media_report(batch)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.sink.apply_batch(self.report_tier(batch), batch_id)

    def report(self) -> DataFrame:
        """The media_report frame over everything streamed so far —
        column-for-column and bit-for-bit the batch operator's output."""
        cur = self.sink.current()
        if cur is None:
            raise ValueError("no committed state yet — apply a batch first")
        return cur.groupBy("fmt", "day").agg(
            F.sum("n_media").cast("bigint").alias("n_media"),
            F.sum("n_decoded").cast("bigint").alias("n_decoded"),
            F.sum("n_values").cast("bigint").alias("n_values"),
            F.sum("sum_val").cast("bigint").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
