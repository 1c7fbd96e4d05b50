"""catalog.load_table infers a file's schema once: a repeated reference to
an unchanged file starts no Spark job, a rewritten file is re-inferred,
and the events table's nanosecond timestamps still load as microseconds."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from neynar_parquet_importer_spark.catalog import load_table


def test_second_load_of_unchanged_file_starts_no_job(spark, spark_jobs, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), tmp_path / "t.parquet")
    sf = str(tmp_path)
    assert spark_jobs(lambda: load_table(spark, sf, "t")), "first load infers"
    assert spark_jobs(lambda: load_table(spark, sf, "t")) == []
    df = load_table(spark, sf, "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), tmp_path / "t.parquet")
    assert load_table(spark, sf, "t").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([1.5], pa.float64()), "c": ["new"]}), tmp_path / "t.parquet"
    )
    df = load_table(spark, sf, "t")
    assert df.columns == ["a", "c"]
    assert df.schema["a"].dataType == T.DoubleType()
    assert [tuple(r) for r in df.collect()] == [(1.5, "new")]


def test_events_ts_is_microsecond_timestamp(spark, spark_jobs, tmp_path):
    sf = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    want = [
        datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=n // 1000)
        for n in ns
    ]
    for _ in range(2):  # inferred, then cached
        df = load_table(spark, sf, "events")
        assert isinstance(df.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType))
        got = df.selectExpr("user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts").orderBy("user_id")
        assert [r.ts for r in got.collect()] == want
    assert spark_jobs(lambda: load_table(spark, sf, "events")) == []
