"""The local mirror of the driver's correctness gate: every catalog query
with an oracle must match DuckDB exactly (row count, column names, values)
at sf0.001.  Queries without an oracle get a runs-and-returns-rows check.

Comparison is strict: floats must be bit-identical (the catalog's decimal
-sandwich rules exist precisely so they are)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # subprocess/fuzz/e2e tier - see pytest.ini

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.parity_cert import check

CATALOG = None


def _catalog():
    global CATALOG
    if CATALOG is None:
        # delegate to the driver contract so every registered part is
        # covered automatically (a local import list would drift)
        CATALOG = entrymod._catalog()
    return CATALOG


ALL = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, duck, name):
    cat = _catalog()
    q = cat[name]
    sdf = q.fn(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # runs; schema is stable
        assert len(spark_pdf.columns) > 0
        return
    err = check(spark_pdf, duck.execute(q.oracle).fetchdf())
    assert err is None, f"{name}: {err}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_oracle_key_has_query():
    qs = entrymod.queries()
    for k in entrymod.oracle_sql():
        assert k in qs
