"""Text-datum decoding in sources/pgoutput.py: timestamps go through
``datetime.fromisoformat`` and must equal the regex + strptime parse it
replaced; ``time`` decodes to µs since midnight; numerics fit their
DecimalType's scale; a plain update decodes its new tuple once."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from creek_spark.sources import pgoutput
from creek_spark.sources.pgoutput import PgOutputDecoder, decode_text_value
from tests.test_pgoutput import begin, insert, relation, update

BASES = ["2024-02-29 23:59:59", "1999-12-31 00:00:00", "2038-01-19 03:14:07"]
FRACTIONS = ["", ".1", ".12", ".123", ".1234", ".12345", ".123456"]
OFFSETS = ["Z", "+05", "-08", "+05:30", "-03:30", "+00:00", "-04:56:02", "+01:02:03"]


@pytest.mark.parametrize("oid", [1114, 1184])
def test_fromisoformat_parse_equals_strptime_parse(oid):
    texts = [b + f for b in BASES for f in FRACTIONS]
    texts += [t + o for t in texts for o in OFFSETS]
    for text in texts:
        dt.datetime.fromisoformat(text)  # the fast path takes every one
        got = decode_text_value(text.encode(), oid)
        assert got == pgoutput._timestamp_strptime(text), text
        assert got.tzinfo is None, text


def test_offsets_convert_to_naive_utc_and_naive_values_pass_through():
    assert decode_text_value(b"2024-01-01 05:30:00.5+05:30", 1184) == dt.datetime(
        2024, 1, 1, 0, 0, 0, 500000
    )
    assert decode_text_value(b"2024-01-01 00:00:00-04:56:02", 1184) == dt.datetime(
        2024, 1, 1, 4, 56, 2
    )
    assert decode_text_value(b"2024-01-01 00:00:01", 1114) == dt.datetime(
        2024, 1, 1, 0, 0, 1
    )


@pytest.mark.parametrize("oid", [1114, 1184])
@pytest.mark.parametrize("text", ["infinity", "-infinity"])
def test_infinite_timestamps_stay_strings(oid, text):
    assert decode_text_value(text.encode(), oid) == text


def test_time_decodes_to_micros_since_midnight():
    assert decode_text_value(b"00:00:00", 1083) == 0
    assert decode_text_value(b"00:00:00.000001", 1083) == 1
    assert decode_text_value(b"13:45:12.5", 1083) == 49_512_500_000
    assert decode_text_value(b"23:59:59.999999", 1083) == 86_400_000_000 - 1
    assert decode_text_value(b"24:00:00", 1083) == 86_400_000_000


def test_unconstrained_numeric_rounds_half_up_to_its_decimal_scale(spark):
    """An unconstrained ``numeric`` maps to DecimalType(38, 18) but can
    print more fractional digits; the decoder rounds them as Spark's own
    row conversion does, so the staged value is what createDataFrame
    stored and pyarrow does not refuse it."""
    rel = relation(6, "public", "n", [(1, "id", 23, -1), (0, "v", 1700, -1)])
    texts = ["0.33333333333333333333", "-2.0000000000000000005", "12.5"]
    dec = PgOutputDecoder()
    dec.feed(begin())
    dec.feed(rel)
    got = [dec.feed(insert(6, i, t), 0x10 + i)[0]["after"]["v"] for i, t in enumerate(texts)]
    want = spark.createDataFrame(
        [(Decimal(t),) for t in texts], "v decimal(38,18)"
    ).collect()
    assert got == [r["v"] for r in want]
    assert got[:2] == [Decimal("0.333333333333333333"), Decimal("-2.000000000000000001")]


def test_plain_update_decodes_the_new_tuple_once(monkeypatch):
    calls = []
    decode = pgoutput._decode_named

    def counting(raw, pg_type):
        calls.append(pg_type)
        return decode(raw, pg_type)

    monkeypatch.setattr(pgoutput, "_decode_named", counting)
    rel = relation(5, "public", "t", [(1, "id", 23, -1), (0, "a", 25, -1), (0, "at", 1184, -1)])
    dec = PgOutputDecoder()
    dec.feed(begin())
    dec.feed(rel)
    (row,) = dec.feed(update(5, new=(7, "x", "2024-01-01 00:00:00+00")), 0x10)
    assert row["op"] == "u"
    assert row["before"] == {"id": 7}
    assert row["after"] == {"id": 7, "a": "x", "at": dt.datetime(2024, 1, 1)}
    assert calls == ["int4", "text", "timestamptz"]
