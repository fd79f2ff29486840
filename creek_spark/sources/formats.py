"""File-format connectors: uniform batch read/write over the formats the
engine supports (parquet, orc, csv, json, text, xml, avro-when-loaded).

The reference's only serialization is Avro single-object encoding on the
wire (internal/mq/wal.go:52-58) and JSON headers (internal/mq/
snapshots.go:102); as a general engine we expose every Spark-native
columnar/row format.  Avro is nominally an external Spark module; this
distribution bundles the implementation classes in spark-sql but not the
DataSourceRegister service entry, so the short name ``format("avro")``
fails while the fully-qualified class works — ``_resolve_format`` papers
over that.  When the class is genuinely absent ``is_avro_available()``
is False and avro calls raise a clear error; the reference's actual wire
framing (0xC3 0x01 + fingerprint) is implemented jar-free in
sources/wire.py.

Scale notes:
  * Readers take an explicit schema wherever the format needs one (csv/
    json): schema inference is a full extra pass over 100 TB.
  * ``write_table`` partitions by the given columns — the layout that
    makes downstream partition pruning free.
  * csv/json are row formats with no column pruning or predicate
    pushdown; the docstring-level guidance is: land raw data once, then
    rewrite to parquet/orc for anything queried repeatedly.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_FORMATS = ("parquet", "orc", "csv", "json", "text", "xml", "avro")

_AVRO_CLASS = "org.apache.spark.sql.avro.AvroFileFormat"


@lru_cache(maxsize=1)
def is_avro_available() -> bool:
    """True iff the Avro file-format class is on the JVM classpath."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(_AVRO_CLASS)
        return True
    except Exception:
        return False


def _resolve_format(fmt: str) -> str:
    if fmt not in BATCH_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {BATCH_FORMATS}")
    if fmt == "avro":
        if not is_avro_available():
            raise RuntimeError(
                "avro format requires the spark-avro classes "
                "(org.apache.spark.sql.avro); they are not on this "
                "classpath. For the reference's Avro single-object wire "
                "framing use creek_spark.sources.wire, which is jar-free."
            )
        # the service-loader entry for the short name isn't bundled here;
        # the fully-qualified provider class always resolves
        return _AVRO_CLASS
    return fmt


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Batch-read ``path`` in ``fmt``.

    csv defaults: header=true; xml defaults: rowTag=row (Spark 4's
    built-in XML source).  For csv/json/xml pass ``schema`` in
    production — inference costs one full extra scan of the input.

    avro without the connector jar routes to the from-spec container
    reader (sources/avro_files.py) — same rows, pure-Python parse."""
    if fmt == "avro" and not is_avro_available():
        from creek_spark.sources.avro_files import read_avro_files

        return read_avro_files(spark, path, schema=schema)
    fmt = _resolve_format(fmt)
    reader = spark.read
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    if fmt == "xml" and "rowTag" not in options:
        options["rowTag"] = "row"
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).format(fmt).load(path)


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Batch-write ``df`` to ``path`` in ``fmt``.

    ``partition_by`` produces the hive-style directory layout Spark's
    partition pruning reads for free; choose low-cardinality columns
    (date, table, region) — a high-cardinality partition key makes one
    tiny file per value, the classic small-files failure at scale.

    avro without the connector jar routes to the from-spec container
    writer (one file per partition; partition_by unsupported there)."""
    if fmt == "avro" and not is_avro_available():
        from creek_spark.sources.avro_files import write_avro_files

        if partition_by:
            raise ValueError(
                "partition_by is not supported by the jar-free avro writer"
            )
        write_avro_files(df, path)
        return
    fmt = _resolve_format(fmt)
    writer = df.write.mode(mode)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    if fmt == "xml" and "rowTag" not in options:
        options["rowTag"] = "row"
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).format(fmt).save(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str,
    quarantine_path: str | None = None,
    **options,
) -> DataFrame:
    """PERMISSIVE read of line-based csv/json with corrupt rows routed
    aside — the file-format analog of the control channel's `.rejected`
    sidecar (reference logs commands it can't parse;
    internal/dao/api.go:76-80): bad input must never kill the batch NOR
    vanish silently.

    Implemented as a text scan + `from_json`/`from_csv` EXPRESSION
    parse (not the raw-file corrupt column, whose scans Spark restricts
    — SPARK-21610 breaks even `count()` on the filtered side).  Rows
    that fail to parse land (raw line, source file) as json under
    ``quarantine_path``; the returned DataFrame carries only clean rows
    and supports any downstream plan.  A schema is REQUIRED: with
    inference Spark widens types to fit bad rows instead of flagging
    them.  csv: ``header=True`` (default) skips each FILE'S FIRST LINE
    — native csv-header semantics, so a legitimate data row that happens
    to equal the header string survives, and headers with odd quoting or
    column order are still skipped (not quarantined).  The first line is
    identified positionally: min monotonically_increasing_id among the
    rows of the file's offset-0 block (a block maps to exactly one scan
    partition, so ids order rows within it); json must be line-delimited.

    Scale: one text scan; parse + corrupt predicate are per-row
    expressions in codegen.  Header detection adds a map-side-combined
    per-file min (#files rows) broadcast back — no data shuffle.  The
    quarantine leg re-uses the same scan shape and only runs when
    requested."""
    if fmt not in ("csv", "json"):
        raise ValueError("quarantine reads support csv/json input")
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    data_fields = [f for f in schema.fields if f.name != "_corrupt_record"]
    pschema = T.StructType(
        data_fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = spark.read.text(path).select(
        F.col("value"),
        F.col("_metadata.file_path").alias("source_file"),
        F.col("_metadata.file_block_start").alias("_blk"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    header = options.pop("header", True)
    if fmt == "csv" and header:
        # Identify each file's header by VALUE, not by a row id shared
        # across two scan evaluations (round-5 ADVICE: the two legs plan
        # independent splits, so a cross-evaluation row-id match could
        # drop a wrong row if split planning diverged between them).
        # `_mid` is used only WITHIN the summary leg's single evaluation
        # — where it correctly orders rows inside the offset-0 split —
        # to pick the first line's text; only (file, header_line)
        # crosses legs.  Dropping "the" header then means dropping ONE
        # of the block-0 rows equal to that line: such rows are
        # indistinguishable (same value, same file), so removing any one
        # is exact — a legit data row that repeats the header string
        # still survives via the count-1 re-emission.
        hdr = (
            raw.where(F.col("_blk") == 0)
            .groupBy("source_file")
            .agg(F.min_by("value", "_mid").alias("_hline"))
        )
        raw = raw.join(F.broadcast(hdr), "source_file", "left")
        is_hdr = (
            (F.col("_blk") == 0)
            & F.col("_hline").isNotNull()
            & (F.col("value") == F.col("_hline"))
        )
        passthrough = raw.where(~is_hdr)
        dup_survivors = (
            raw.where(is_hdr)
            .groupBy("source_file", "value")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .select(
                "source_file",
                "value",
                F.lit(0).cast("long").alias("_blk"),
                F.lit(None).cast("long").alias("_mid"),
                F.col("value").alias("_hline"),
                F.explode(F.sequence(F.lit(2), F.col("_c"))).alias("_i"),
            )
            .select("value", "source_file", "_blk", "_mid", "_hline")
        )
        raw = passthrough.unionByName(dup_survivors)
    raw = raw.drop("_blk", "_mid", "_hline")
    raw = raw.where(F.length(F.trim(F.col("value"))) > 0)
    parse_opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": "_corrupt_record",
        **{k: str(v) for k, v in options.items()},
    }
    if fmt == "json":
        parsed = F.from_json(F.col("value"), pschema, parse_opts)
    else:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pschema.fields)
        parsed = F.from_csv(F.col("value"), ddl, parse_opts)
    df = raw.withColumn("_p", parsed)
    is_bad = F.col("_p").isNull() | F.col("_p._corrupt_record").isNotNull()
    clean = df.where(~is_bad).select(
        *[F.col(f"_p.{f.name}").alias(f.name) for f in data_fields]
    )
    if quarantine_path is not None:
        bad = df.where(is_bad).select(
            F.col("value").alias("raw"), F.col("source_file")
        )
        bad.write.mode("append").json(quarantine_path)
    return clean
