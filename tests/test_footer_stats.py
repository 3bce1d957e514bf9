"""Footer-derived staged stats (r14 optimization): the lake writers'
per-file skipping stats come from parquet footers on local disk —
no re-scan job — and must agree value-for-value with the Spark-job
fallback path (exact-or-absent semantics)."""

import datetime
import json

import pytest

from sling_cli_spark.sources import delta_py as D
from sling_cli_spark.sources import footer_stats as FS
from sling_cli_spark.sources import iceberg_py as I


@pytest.fixture
def _force_spark_job(monkeypatch):
    """Context helper: a callable that re-runs a stats fn with the
    footer path disabled, so tests can diff the two paths."""
    def run(fn, *args, **kw):
        with monkeypatch.context() as m:
            m.setattr(FS, "staged_footer_stats", lambda tmp: None)
            return fn(*args, **kw)
    return run


def _typed_df(spark):
    ts = datetime.datetime
    return spark.createDataFrame(
        [(1, 1.5, "alpha", datetime.date(2020, 1, 2),
          ts(2020, 1, 2, 3, 4, 5, 123456), True),
         (2, float("nan"), "omega", datetime.date(2021, 5, 6),
          ts(2021, 5, 6, 7, 8, 9), False),
         (None, 2.5, None, None, None, None)],
        "a long, b double, c string, d date, e timestamp, f boolean")


def test_delta_footer_stats_match_spark_job(
        spark, tmp_path, _force_spark_job):
    """Typed columns (incl. a NaN double — bounds omitted on both
    paths) produce byte-identical stats JSON from footers and from the
    one-job Spark scan."""
    df = _typed_df(spark).coalesce(1)
    tmp = str(tmp_path / "stage")
    df.write.parquet(tmp)
    new = D._staged_stats(df, tmp)
    old = _force_spark_job(D._staged_stats, df, tmp)
    assert set(new) == set(old) and len(new) == 1
    for k in new:
        assert json.loads(new[k]) == json.loads(old[k])
        s = json.loads(new[k])
        assert "b" not in s["minValues"]  # NaN max -> bounds omitted
        assert s["minValues"]["a"] == 1 and s["maxValues"]["c"] == "omega"


def test_delta_footer_stats_partition_synthesis(
        spark, tmp_path, _force_spark_job):
    """Partition columns are not in the data files; their bounds come
    from the Hive dir value (exact by construction) and match the
    Spark-job path, null partition included."""
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-02-01"), (3, None)],
        "id long, day string")
    tmp = str(tmp_path / "stage")
    df.write.partitionBy("day").parquet(tmp)
    new = D._staged_stats(df, tmp)
    old = _force_spark_job(D._staged_stats, df, tmp)
    assert set(new) == set(old) and len(new) == 3
    for k in new:
        assert json.loads(new[k]) == json.loads(old[k])
    nullfile = next(k for k in new if "__HIVE_DEFAULT_PARTITION__" in k)
    s = json.loads(new[nullfile])
    assert s["nullCount"]["day"] == s["numRecords"]
    assert "day" not in s["minValues"]


def test_delta_footer_stats_long_string_absent(spark, tmp_path):
    """Spark's parquet writer DROPS (never truncates) stats for long
    binary values; the footer path must omit the bound, not record a
    partial one."""
    df = spark.createDataFrame(
        [(1, "x" * 6000), (2, "y")], "id long, s string").coalesce(1)
    tmp = str(tmp_path / "stage")
    df.write.parquet(tmp)
    (st,) = D._staged_stats(df, tmp).values()
    s = json.loads(st)
    assert "s" not in s["minValues"] and "s" not in s["maxValues"]
    assert s["minValues"]["id"] == 1  # clean columns keep exact bounds


def test_iceberg_footer_stats_match_spark_job(
        spark, tmp_path, _force_spark_job):
    """Iceberg bounds (field-id keyed binary serialization) agree
    between footer and Spark-job paths, timestamp partitions
    included."""
    ts = datetime.datetime
    df = spark.createDataFrame(
        [(1, ts(2024, 1, 1, 0, 0, 0)), (2, ts(2024, 6, 1, 12, 30, 45))],
        "id long, t timestamp")
    tmp = str(tmp_path / "stage")
    df.write.partitionBy("t").parquet(tmp)
    sch = I._ice_schema_for(df)
    new = I._staged_file_stats(df, tmp, sch)
    old = _force_spark_job(I._staged_file_stats, df, tmp, sch)
    assert new == old and len(new) == 2
    for st in new.values():
        assert st["n"] == 1 and set(st["lower"]) == {"1", "2"}


def test_footer_stats_non_local_scheme_falls_back():
    """A non-local scheme returns None -> callers run the Spark job."""
    assert FS.staged_footer_stats("s3a://bucket/stage") is None


def test_footer_num_rows_reads_only_the_footer(spark, tmp_path, monkeypatch):
    """Row counts come from the footer alone: no whole-file read on a
    local path, and a ranged read through a seekable JVM file handle
    otherwise (a file: URI forced down that path stands in for a
    remote store)."""
    import glob

    from sling_cli_spark import fsio

    spark.range(123).coalesce(1).write.parquet(str(tmp_path / "p"))
    f = glob.glob(str(tmp_path / "p" / "*.parquet"))[0]

    def whole_file(self, p):
        raise AssertionError(f"whole-file read of {p}")

    monkeypatch.setattr(fsio.LocalFS, "read_bytes", whole_file)
    monkeypatch.setattr(fsio.JvmFS, "read_bytes", whole_file)
    assert FS.footer_num_rows(f) == 123
    assert FS.footer_num_rows("file://" + f) == 123

    def not_local(path):
        raise ValueError(path)

    monkeypatch.setattr(fsio, "local_path", not_local)
    assert FS.footer_num_rows("file://" + f) == 123
