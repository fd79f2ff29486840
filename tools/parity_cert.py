"""Full-catalog oracle-parity certification at a chosen scale factor —
the once-per-round gate the driver's 50-query sample doesn't cover.

Runs EVERY catalog query on Spark and its oracle on DuckDB over the same
parquet, compares with the driver's protocol (row count, column-name
set, order-insensitive value comparison with strict float equality), and
writes PARITY_CERT.json at the repo root:

    {"sf_dir": ..., "n_queries": N, "n_pass": N, "bad": [...]}

Usage (documented in README §testing):

    python tools/parity_cert.py [sf_dir]     # default /root/testdata/sf0.01

Exit code 0 iff every query passes.  Queries without an oracle get the
weaker runs-and-returns-rows check, mirroring the driver.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from creek_spark.sources import TABLES  # noqa: E402


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per source table of ``sf_dir``
    — the oracle side of every parity check."""
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return duck


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: str(v) if v is not None and not isinstance(v, float) else v
            )
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = (
                df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av, bv = av.astype("float64"), bv.astype("float64")
        mism = ~((av.isna() & bv.isna()) | (av == bv))
        if mism.any():
            return (
                f"{c}: {int(mism.sum())} mismatches, e.g. "
                f"{list(zip(av[mism].head(3), bv[mism].head(3)))}"
            )
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from creek_spark.operators.cachereg import release_caches
    from creek_spark.session import get_spark

    spark = get_spark()
    cat = entrymod._catalog()
    duck = duck_views(sf_dir)
    bad, n_pass, n_weak = [], 0, 0
    for name in sorted(cat):
        q = cat[name]
        try:
            spark_pdf = q.fn(spark, sf_dir).toPandas()
            if q.oracle is None:
                assert len(spark_pdf.columns) > 0
                n_weak += 1
                n_pass += 1
                continue
            err = check(spark_pdf, duck.execute(q.oracle).fetchdf())
        except Exception as e:  # noqa: BLE001 — per-query fault isolation
            err = f"ERR {type(e).__name__}: {e}"
        finally:
            # each query runs with no other query's frames persisted, as
            # bench.py and tools/plan_audit.py run them
            release_caches()
        if err:
            bad.append({"query": name, "err": str(err)[:500]})
            print(f"FAIL {name}: {err}")
        else:
            n_pass += 1
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(cat),
        "n_pass": n_pass,
        "n_weak_rows_only": n_weak,
        "bad": bad,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PARITY_CERT.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "bad"}))
    return 0 if not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())
