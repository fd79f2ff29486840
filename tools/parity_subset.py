"""Targeted oracle-parity check for a subset of catalog queries — the
fast inner loop of the optimization rounds (tools/parity_cert.py is the
full once-per-round gate).

Usage:
    python tools/parity_subset.py <query> [query ...] [--sf <dir>]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity_cert import check, duck_views  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args

    import __spark_entry__ as entrymod
    from creek_spark.session import get_spark

    spark = get_spark()
    cat = entrymod._catalog()
    duck = duck_views(sf_dir)
    bad = []
    for name in names:
        q = cat[name]
        try:
            spark_pdf = q.fn(spark, sf_dir).toPandas()
            if q.oracle is None:
                assert len(spark_pdf.columns) > 0
                print(f"weak-ok {name} ({len(spark_pdf)} rows)")
                continue
            err = check(spark_pdf, duck.execute(q.oracle).fetchdf())
        except Exception as e:  # noqa: BLE001
            err = f"ERR {type(e).__name__}: {e}"
        if err:
            bad.append({"query": name, "err": str(err)[:500]})
            print(f"FAIL {name}: {err}")
        else:
            print(f"PASS {name}")
    print(json.dumps({"n": len(names), "n_bad": len(bad)}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
