"""Footer-derived staged stats: the lake writers' per-file skipping
stats come from parquet footers on local disk — no re-scan job — and
must agree value-for-value with the Spark-job fallback path
(exact-or-absent semantics). Both formats encode the one producer,
``footer_stats.staged_stats``: Delta as ``add.stats`` JSON
(``_add_stats_json``), Iceberg as field-id binary bounds
(``_data_file_bounds``)."""

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
    new = D._add_stats_json(df, tmp)
    old = _force_spark_job(D._add_stats_json, df, tmp)
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
    new = D._add_stats_json(df, tmp)
    old = _force_spark_job(D._add_stats_json, df, tmp)
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
    (st,) = D._add_stats_json(df, tmp).values()
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
    new = I._data_file_bounds(df, tmp, sch)
    old = _force_spark_job(I._data_file_bounds, df, tmp, sch)
    assert new == old and len(new) == 2
    for st in new.values():
        assert st["n"] == 1 and set(st["lower"]) == {"1", "2"}


def _ice_parity(spark, df, tmp, _force_spark_job, partition_by=None):
    """Stage ``df``, encode its Iceberg bounds on both paths, assert
    they are identical, and return them."""
    w = df.write.partitionBy(*partition_by) if partition_by else df.write
    w.parquet(tmp)
    sch = I._ice_schema_for(df)
    new = I._data_file_bounds(df, tmp, sch)
    old = _force_spark_job(I._data_file_bounds, df, tmp, sch)
    assert new == old
    return sch, new


def _fid(sch, name):
    return next(str(f["id"]) for f in sch["fields"] if f["name"] == name)


def test_iceberg_footer_stats_nan_double(spark, tmp_path, _force_spark_job):
    """A NaN in a double column omits that column's bound pair on both
    paths; the clean columns keep exact bounds."""
    import struct

    sch, new = _ice_parity(spark, _typed_df(spark).coalesce(1),
                           str(tmp_path / "stage"), _force_spark_job)
    (st,) = new.values()
    assert st["n"] == 3
    assert _fid(sch, "b") not in st["lower"]
    assert struct.unpack("<q", st["lower"][_fid(sch, "a")])[0] == 1
    assert st["upper"][_fid(sch, "c")] == b"omega"


def test_iceberg_footer_stats_long_string_absent(spark, tmp_path):
    """Spark's parquet writer DROPS (never truncates) stats for long
    binary values; the footer path must omit the bound, not record a
    partial one."""
    df = spark.createDataFrame(
        [(1, "x" * 6000), (2, "y")], "id long, s string").coalesce(1)
    tmp = str(tmp_path / "stage")
    df.write.parquet(tmp)
    sch = I._ice_schema_for(df)
    (st,) = I._data_file_bounds(df, tmp, sch).values()
    assert _fid(sch, "s") not in st["lower"]
    assert _fid(sch, "s") not in st["upper"]
    assert _fid(sch, "id") in st["lower"]  # clean columns keep bounds


def test_iceberg_footer_stats_null_partition(
        spark, tmp_path, _force_spark_job):
    """A null identity partition records no bound for its column; the
    other partitions' bounds come from the dir value, equal to the
    Spark job's."""
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-02-01"), (3, None)],
        "id long, day string")
    sch, new = _ice_parity(spark, df, str(tmp_path / "stage"),
                           _force_spark_job, partition_by=["day"])
    assert len(new) == 3
    day = _fid(sch, "day")
    nullfile = next(k for k in new if "__HIVE_DEFAULT_PARTITION__" in k)
    assert day not in new[nullfile]["lower"]
    assert sorted(st["lower"][day] for k, st in new.items()
                  if k != nullfile) == [b"2024-01-01", b"2024-02-01"]


def test_iceberg_footer_stats_float_partition(
        spark, tmp_path, _force_spark_job):
    """Float and double identity partitions take their bounds from the
    dir value, identical to the Spark job's."""
    import struct

    df = spark.createDataFrame(
        [(1, 1.5, 0.25), (2, -2.0, 3.5)], "id long, d double, f float")
    sch, new = _ice_parity(spark, df, str(tmp_path / "stage"),
                           _force_spark_job, partition_by=["d", "f"])
    got = sorted((struct.unpack("<d", st["lower"][_fid(sch, "d")])[0],
                  struct.unpack("<f", st["upper"][_fid(sch, "f")])[0])
                 for st in new.values())
    assert got == [(-2.0, 3.5), (1.5, 0.25)]


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
