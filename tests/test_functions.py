"""Scalar function tests: JSON cleanup (incl. the Python-repr fallback
the reference unit-tests in tests/test_db.py:4-12), hex projection,
window alignment."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from neynar_parquet_importer_spark.functions import (
    clean_jsonb_string,
    hex0x,
    parse_json_column,
    window_start,
)
from neynar_parquet_importer_spark.functions.json_clean import json_parse_failed


def test_clean_jsonb_string_json():
    assert clean_jsonb_string('{"a": 1}') == '{"a":1}'
    assert clean_jsonb_string(None) is None


def test_clean_jsonb_string_python_repr():
    # the reference's escaped-quote case (tests/test_db.py:4-12 analog)
    raw = "[{'type': 'url', 'value': \"it's\"}]"
    out = clean_jsonb_string(raw)
    assert json.loads(out) == [{"type": "url", "value": "it's"}]


def test_clean_jsonb_string_bad_raises():
    with pytest.raises(ValueError, match="mycol"):
        clean_jsonb_string("{not json", "mycol")


def test_parse_json_column(spark):
    df = spark.createDataFrame(
        [
            ('{"a": 1}',),
            ("[{'type': 'url'}]",),
            (None,),
        ],
        "payload string",
    )
    got = [r[0] for r in df.select(parse_json_column("payload")).collect()]
    assert got[0] == '{"a": 1}'  # real JSON untouched (fast path)
    assert json.loads(got[1]) == [{"type": "url"}]
    assert got[2] is None


def test_parse_json_column_validates_and_quarantines(spark):
    """Garbage payloads don't silently pass through the fast path: they
    become NULL (countable via json_parse_failed) or raise in strict mode.
    Mixed in one batch with good repr and JSON rows, each row takes its
    own branch (the UDF's argument is nulled for non-repr rows)."""
    df = spark.createDataFrame(
        [
            (1, '{"a": 1}'),
            (2, "{not json"),
            (3, "{'bad repr"),
            (4, None),
            (5, "{'k': [1, 2]}"),
            (6, '[{"b": "x"}]'),
            (7, "[{'t': 'it\\'s'}]"),
        ],
        "id long, payload string",
    )
    got = {r.id: r.c for r in df.select("id", parse_json_column("payload").alias("c")).collect()}
    assert got[1] == '{"a": 1}'
    assert got[2] is None and got[3] is None  # quarantined, not passed through
    assert got[4] is None
    assert json.loads(got[5]) == {"k": [1, 2]}
    assert got[6] == '[{"b": "x"}]'
    assert json.loads(got[7]) == [{"t": "it's"}]

    failed = sorted(
        r.id for r in df.filter(json_parse_failed("payload")).collect()
    )
    assert failed == [2, 3]  # NULL input is not a failure

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        df.select(parse_json_column("payload", on_error="raise")).collect()


def test_hex0x(spark):
    df = spark.createDataFrame([(bytearray(b"\x00\xab"),), (None,)], "address binary")
    got = [r[0] for r in df.select(hex0x("address")).collect()]
    assert got == ["0x00ab", None]


def test_window_start(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 59, 59),), (datetime.datetime(2024, 1, 1, 1, 0, 0),)],
        "ts timestamp",
    )
    got = [r[0] for r in df.select(window_start("ts", 3600)).collect()]
    assert got[1] - got[0] == 3600
    assert got[0] % 3600 == 0


def test_md5_signed64_matches_hashlib_twos_complement(spark):
    """The shared engine-portable hash (dedup.md5_signed64) must equal the
    two's-complement reinterpretation of the first 16 md5 hex chars —
    pinned against hashlib so the ONE definition every md5 family builds
    on (simhash, winnowing) can't drift."""
    import hashlib

    from pyspark.sql import functions as F

    from neynar_parquet_importer_spark.operators.dedup import md5_signed64

    vals = ["", "a", "the quick brown fox", "tok123 tok456", "ünïcode"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", md5_signed64(F.col("s")).alias("h")).collect()
    }
    for v in vals:
        u = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:16], 16)
        want = u - (1 << 64) if u >= (1 << 63) else u
        assert got[v] == want, v


def test_hex0x_hex_string_branch(spark):
    """The reference transformer's str branch: an already-hex string is
    lowercased and prefixed — NEVER re-encoded (F.hex on a StringType
    hexes its UTF-8 bytes: 'abc1' would become '0x61626331')."""
    df = spark.createDataFrame(
        [("ABC1",), ("0xDEF2",), (None,)], "addr string"
    )
    got = [
        r[0]
        for r in df.select(
            hex0x("addr", input_is_hex_string=True)
        ).collect()
    ]
    assert got == ["0xabc1", "0xdef2", None]
