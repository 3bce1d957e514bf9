"""Incremental / backfill / limit-offset (reference: core/sling
task_run_read.go incremental where-clause building)."""

import datetime

from pyspark.sql import Row

from sling_cli_spark.operators.incremental import (
    apply_limit_offset, backfill_filter, incremental_filter, max_watermark)


def _df(spark):
    return spark.createDataFrame(
        [Row(id=i, d=datetime.date(2024, 1, i + 1)) for i in range(10)])


def test_max_watermark(spark):
    assert max_watermark(_df(spark), "id") == 9


def test_max_watermark_empty(spark):
    df = _df(spark).filter("id < 0")
    assert max_watermark(df, "id") is None


def test_incremental_filter(spark):
    out = incremental_filter(_df(spark), "id", 6)
    assert sorted(r["id"] for r in out.collect()) == [7, 8, 9]


def test_incremental_filter_none_passthrough(spark):
    assert incremental_filter(_df(spark), "id", None).count() == 10


def test_backfill_range_inclusive(spark):
    out = backfill_filter(
        _df(spark), "d", datetime.date(2024, 1, 3), datetime.date(2024, 1, 5))
    assert out.count() == 3


def test_limit(spark):
    assert apply_limit_offset(_df(spark), 4).count() == 4


def test_limit_offset(spark):
    out = apply_limit_offset(_df(spark).orderBy("id"), 3, 2)
    assert sorted(r["id"] for r in out.collect()) == [2, 3, 4]


def test_incremental_replication_upserts_lake_targets(spark, tmp_path):
    """An incremental replication with a primary key into an existing
    Delta or Iceberg target merges the overlapping second batch instead
    of appending it (the replication passes no target frame; the runner
    reads the target itself)."""
    from sling_cli_spark.plans.replication import (
        ReplicationConfig, run_replication)
    from sling_cli_spark.sources.delta_py import read_delta
    from sling_cli_spark.sources.iceberg_py import read_iceberg

    src = tmp_path / "items.csv"
    for fmt, read in (("delta", read_delta), ("iceberg", read_iceberg)):
        out = str(tmp_path / fmt)
        rc = ReplicationConfig(
            source="local", target="local",
            defaults={"mode": "incremental", "primary_key": ["id"],
                      "update_key": "ts",
                      "target_options": {"format": fmt}},
            streams={str(src): {"object": out}})
        for text in ("id,val,ts\n1,x,1\n2,y,1\n",
                     "id,val,ts\n1,x,1\n2,y2,2\n3,z,2\n"):
            src.write_text(text)
            run_replication(spark, rc)
        got = sorted((r["id"], r["val"]) for r in read(spark, out).collect())
        assert got == [(1, "x"), (2, "y2"), (3, "z")], (fmt, got)
