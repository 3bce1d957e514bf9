"""Pins for the ADVICE r14 fixes (optimization round 15).

1. ``localframe.local_df`` must produce the SAME instants as classic
   ``createDataFrame`` for naive datetimes even on a non-UTC driver
   (classic interprets naive as OS-local via ``time.mktime``; the Arrow
   fast path used the session tz — shifted by the UTC offset).
2. ``read_avro_df`` timestamp values are tz-aware UTC, so the decoded
   instant is host-tz independent.
3. The staged-stats Spark-job FALLBACK serializes the same timestamp
   bounds as the footer fast path regardless of the host tz
   (``_naive_utc`` normalization of collected naive-local datetimes).
"""

import datetime as dt
import os
import time

import pytest


@pytest.fixture
def ny_tz():
    """Temporarily run driver-side Python in a non-UTC OS tz."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def _collect_tuples(df):
    return [tuple(r) for r in df.orderBy(df.columns[0]).collect()]


def test_local_df_naive_timestamp_matches_classic_on_non_utc(spark, ny_tz):
    from sling_cli_spark.localframe import local_df

    rows = [(1, dt.datetime(2024, 3, 15, 12, 30, 45, 123456)),
            (2, dt.datetime(2020, 11, 1, 12, 30, 0)),  # EST side of DST
            (3, None)]
    schema = "id long, ts timestamp"
    classic = spark.createDataFrame(rows, schema)
    fast = local_df(spark, rows, schema)
    assert _collect_tuples(fast) == _collect_tuples(classic)


def test_local_df_ntz_stays_wall_time_on_non_utc(spark, ny_tz):
    from sling_cli_spark.localframe import local_df

    rows = [(1, dt.datetime(2024, 3, 15, 12, 30, 45, 123456))]
    schema = "id long, ts timestamp_ntz"
    classic = spark.createDataFrame(rows, schema)
    fast = local_df(spark, rows, schema)
    assert _collect_tuples(fast) == _collect_tuples(classic)
    # NTZ is wall time: the literal survives exactly
    assert fast.collect()[0][1] == rows[0][1]


def test_local_df_aware_timestamp_matches_classic(spark):
    from sling_cli_spark.localframe import local_df

    rows = [(1, dt.datetime(2024, 3, 15, 12, 0, 0,
                            tzinfo=dt.timezone.utc)),
            (2, dt.datetime(2024, 3, 15, 12, 0, 0,
                            tzinfo=dt.timezone(dt.timedelta(hours=5))))]
    schema = "id long, ts timestamp"
    classic = spark.createDataFrame(rows, schema)
    fast = local_df(spark, rows, schema)
    assert _collect_tuples(fast) == _collect_tuples(classic)


def test_local_df_nested_naive_falls_back_to_classic(spark, ny_tz):
    from sling_cli_spark.localframe import local_df

    rows = [(1, [dt.datetime(2024, 3, 15, 12, 0, 0)])]
    schema = "id long, arr array<timestamp>"
    classic = spark.createDataFrame(rows, schema)
    fast = local_df(spark, rows, schema)
    assert _collect_tuples(fast) == _collect_tuples(classic)


def test_read_avro_df_timestamps_are_utc_instants(spark, tmp_path, ny_tz):
    from sling_cli_spark.sources.avro_py import read_avro_df, write_avro_df

    ts = dt.datetime(2024, 6, 1, 8, 45, 12, 250000)
    src = spark.createDataFrame([(1, ts)], "id long, ts timestamp")
    p = str(tmp_path / "t.avro")
    write_avro_df(src, p)
    back = read_avro_df(spark, p)
    assert _collect_tuples(back) == _collect_tuples(src)


def test_staged_stats_fallback_matches_footer_on_non_utc(
        spark, tmp_path, ny_tz, monkeypatch):
    import json

    from pyspark.sql import functions as F

    from sling_cli_spark.sources import delta_py, footer_stats

    df = spark.range(3).select(
        F.col("id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id")).alias("ts"))
    tmp = str(tmp_path / "stage")
    # single staged file: the footer path also records zero-row part
    # files, which the Spark-job groupBy can't see — an established
    # difference outside this pin's scope (timestamp bound equality)
    df.coalesce(1).write.parquet(tmp)
    via_footer = delta_py._add_stats_json(df, tmp)
    monkeypatch.setattr(
        footer_stats, "staged_footer_stats", lambda _tmp: None)
    via_job = delta_py._add_stats_json(df, tmp)
    assert set(via_footer) == set(via_job)
    for k in via_footer:
        a, b = json.loads(via_footer[k]), json.loads(via_job[k])
        assert a["minValues"] == b["minValues"]
        assert a["maxValues"] == b["maxValues"]
        assert a["numRecords"] == b["numRecords"]
