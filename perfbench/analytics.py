"""``analytics_headline``: the 16 ``headline=True`` catalog queries over
seeded sf0.01-shaped tables, laid out by ``sources.layout.optimize_layout``
and written to the noop sink, pass after pass.

The first pass collects every query's result (timed as set-up: it is the
warm-up that pays codegen), then checks its row count and order-insensitive
hash against the query's DuckDB oracle on the raw generated parquet
(untimed).  Measured passes follow until the window closes; each query's
figure is the median over passes.  A traced run runs every query twice per
pass, untraced and traced, taking turns at going first.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
import time

import tables

MIN_PASSES = 1


def headline():
    import __spark_entry__ as entry

    return [q for q in entry._catalog().values() if q.headline]


def _canon(v) -> str:
    """One cell as a type-blind string: numbers to 9 significant digits,
    timestamps to the microsecond, containers element-wise."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):  # a DATE equals its midnight TIMESTAMP
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)) or hasattr(v, "dtype"):
        try:
            return f"{float(v):.9g}"
        except (TypeError, ValueError):
            pass
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "[" + ",".join(_canon(x) for x in list(v)) + "]"
    return str(v)


def result_digest(pdf) -> tuple[int, str]:
    """(row count, sha256 over the sorted canonical rows, columns by name)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()


def _oracle(raw_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": "4"})
    for f in sorted(os.listdir(raw_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{raw_dir}/{f}'")
    return con


def analytics_headline(ctx) -> None:
    from creek_spark.operators.dedup import release_caches
    from creek_spark.sources.layout import optimize_layout

    spark, tracer = ctx.spark, ctx.tracer
    queries = headline()
    raw_dir = ctx.workdir("data")
    tables.generate(raw_dir, ctx.seed)

    def layout():
        with tracer.span("layout.optimize_layout"):
            return optimize_layout(raw_dir, cache_root=ctx.workdir("layout"))

    sf_dir = ctx.repeated_setup(layout)

    def reset():
        release_caches()
        spark.catalog.clearCache()

    def collect_pass():
        """Every query's result, or the exception it raised."""
        results = {}
        for q in queries:
            with tracer.span("query.check", group=f"{q.name}#check"):
                try:
                    results[q.name] = q.fn(spark, sf_dir).toPandas()
                except Exception as e:  # one broken query must not hide the rest
                    results[q.name] = e
                finally:
                    reset()
        return results

    results = ctx.timed_setup(collect_pass)
    con = _oracle(raw_dir)
    try:
        for q in queries:
            ctx.attempted += 1
            got = results.pop(q.name)
            if isinstance(got, Exception):
                ctx.check(False, f"{q.name}: {type(got).__name__}: {got}"[:400])
                continue
            got, want = result_digest(got), result_digest(con.execute(q.oracle).fetchdf())
            ctx.check(got == want, f"{q.name}: {got[0]} rows / {got[1][:12]} vs "
                      f"oracle {want[0]} rows / {want[1][:12]}")
    finally:
        con.close()

    kinds = (False, True) if ctx.trace else (False,)
    times = {k: {q.name: [] for q in queries} for k in kinds}
    ctx.begin_window()
    t0 = time.perf_counter()
    passes, pass_s = 0, []
    while passes < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        p0 = time.perf_counter()
        for qi, q in enumerate(queries):
            for traced in kinds if (passes + qi) % 2 == 0 else kinds[::-1]:
                q0 = time.perf_counter()
                with ctx.op(f"{q.name}#{passes}", traced):
                    try:
                        with tracer.span("queries.build"):
                            df = q.fn(spark, sf_dir)
                        with tracer.span("queries.run"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        ctx.check(False, f"{q.name}: {type(e).__name__}: {e}"[:400])
                        continue
                    finally:
                        reset()
                times[traced][q.name].append(time.perf_counter() - q0)
        passes += 1
        pass_s.append(round(time.perf_counter() - p0, 3))
    ctx.end_window()

    def medians(kind: bool) -> dict[str, float]:
        return {n: statistics.median(v) for n, v in times[kind].items() if v}

    def rate(kind: bool) -> float:
        return len(medians(kind)) / sum(medians(kind).values())

    ctx.report("cpu_ms_per_item", 1000 * ctx.window_cpu_s / (passes * len(queries) * len(kinds)), "ms")
    med = medians(False)
    ctx.info.update(throughput_per_s=rate(False), passes=passes, pass_s=pass_s,
                    query_total_s=sum(med.values()),
                    query_p50_s=statistics.median(med.values()),
                    slowest_query=max(med, key=med.get),
                    query_median_s={n: round(v, 3) for n, v in med.items()})
    if ctx.trace:
        ctx.info["traced_throughput_per_s"] = rate(True)
        ctx.layer_inputs["queries"] = [q.name for q in queries]
