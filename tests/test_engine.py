"""Engine stays thin: its public surface is the session/data-dir/registry
entry points, and catalog queries run through one ``query(name)`` over
the same catalog ``__spark_entry__.queries()`` reads."""

from __future__ import annotations

import __spark_entry__ as entrymod
from creek_spark import Engine
from tests.conftest import SF_DIR

KEEP = {
    "table", "register_views", "sql", "query",
    "snapshot", "read_snapshot", "list_snapshots", "snapshot_jdbc",
    "bootstrap", "latest_state", "wal_from", "asof_join",
}


def test_engine_public_surface_is_the_keep_list():
    public = {
        name for name in dir(Engine)
        if not name.startswith("_") and callable(getattr(Engine, name))
    }
    assert public == KEEP


def test_engine_query_matches_spark_entry_queries(spark):
    name = "q3_shipping_priority"
    got = Engine(spark, SF_DIR).query(name)
    want = entrymod.queries()[name](spark, SF_DIR)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
