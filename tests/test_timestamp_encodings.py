"""The round-3 regression class, pinned: the driver has already changed
events.parquet's timestamp encoding twice (TIMESTAMP(NANOS) → µs-NTZ).
read_table must normalize EVERY parquet timestamp flavor — any unit, with
or without timezone — to plain TimestampType with the correct instant."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import TimestampType

from creek_spark.sources import read_table

INSTANT = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)


@pytest.mark.parametrize("unit", ["s", "ms", "us", "ns"])
@pytest.mark.parametrize("tz", [None, "UTC"])
def test_read_table_normalizes_all_timestamp_encodings(spark, tmp_path, unit, tz):
    arr = pa.array([INSTANT, None], type=pa.timestamp(unit, tz=tz))
    tbl = pa.table({"id": pa.array([1, 2], type=pa.int64()), "ts": arr})
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    df = read_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), df.schema
    rows = {r["id"]: r["ts"] for r in df.collect()}
    # second-precision storage legitimately truncates sub-second detail
    expected = INSTANT.replace(microsecond=0) if unit == "s" else INSTANT
    assert rows[1] == expected  # session tz is UTC; instant preserved
    assert rows[2] is None
    # the value is usable by the functions that broke in round 3
    from pyspark.sql import functions as F

    out = df.where(F.col("ts").isNotNull()).select(
        F.unix_seconds("ts").alias("s"),
        F.window("ts", "1 hour").alias("w"),
    ).collect()
    assert out[0]["s"] == int(
        expected.replace(tzinfo=datetime.timezone.utc).timestamp()
    )


def test_date_columns_survive_timestamp_drift(spark, tmp_path):
    """DATE-drift armor: if the driver ever re-encodes a date column as
    timestamp[us] (the way it already re-encoded timestamps twice),
    read_table must still yield DateType with the same calendar dates."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DateType

    from creek_spark.sources import read_table

    dates = [datetime.date(1995, 3, 14), datetime.date(1997, 12, 1)]
    pdf = pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [10, 20],
            "o_totalprice": [100.0, 200.0],
            # drifted encoding: date stored as midnight timestamp[us]
            "o_orderdate": pd.to_datetime(dates).astype("datetime64[us]"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "orders.parquet"))
    df = read_table(spark, str(tmp_path), "orders")
    assert isinstance(df.schema["o_orderdate"].dataType, DateType)
    assert sorted(r["o_orderdate"] for r in df.collect()) == dates


def test_read_memo_keeps_one_entry_per_live_session_and_path(
    spark, tmp_path, monkeypatch
):
    """read_table's plan memo: an unchanged file hits (same object), a
    rewritten one replaces its entry, and a stopped session's entries
    go on the next insert."""
    import os
    import types

    from creek_spark import sources

    monkeypatch.setattr(sources, "_READ_MEMO", {})
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    first = read_table(spark, str(tmp_path), "t")
    assert read_table(spark, str(tmp_path), "t") is first
    pq.write_table(pa.table({"id": [1, 2, 3]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert read_table(spark, str(tmp_path), "t").count() == 3
    stopped = types.SimpleNamespace(sparkContext=types.SimpleNamespace(_jsc=None))
    sources._READ_MEMO[(id(stopped), path)] = (stopped, 0, None)
    pq.write_table(pa.table({"id": [4]}), str(tmp_path / "u.parquet"))
    read_table(spark, str(tmp_path), "u")
    assert set(sources._READ_MEMO) == {
        (id(spark), path),
        (id(spark), str(tmp_path / "u.parquet")),
    }
