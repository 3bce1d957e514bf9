"""The row-level write core shared by the Delta and Iceberg writers
(``sources/lake_core.py``): the pruning loop, the touched-file probe
and the row-id carry-over, pinned on their own, plus per-format Spark
job counts of the write paths built on them, so the core adds no pass
to either format."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from sling_cli_spark.sources import delta_py as D
from sling_cli_spark.sources import iceberg_py as I
from sling_cli_spark.sources import lake_core as L


def test_prune_files_loop():
    """The loop over a toy format of ``{"part": ..., "bounds": ...}``
    dicts."""
    files = [
        {"name": "low", "bounds": {"k": (0, 9, 0, 10)}},
        {"name": "high", "bounds": {"k": (10, 19, 0, 10)}},
        {"name": "nostats"},
        {"name": "allnull", "bounds": {"k": (None, None, 10, 10)}},
        {"name": "somenull", "bounds": {"k": (None, None, 3, 10)}},
        {"name": "partnull", "part": {"k": L.HIVE_NULL}},
        {"name": "part5", "part": {"k": "5"}},
    ]

    def partition_disproves(f, col, op, val):
        return L.partition_value_disprove(
            (f.get("part") or {}).get(col), op, val)

    def bounds(f, cols):
        return {c: b for c, b in (f.get("bounds") or {}).items()
                if c in cols}

    def kept(filters):
        return [f["name"] for f in L.prune_files(
            files, filters, partition_disproves, bounds)]

    # conservative: no stats, some-null and a matching partition stay
    assert kept([("k", ">", 12)]) == ["high", "nostats", "somenull"]
    assert kept([("k", "=", 5)]) == ["low", "nostats", "somenull", "part5"]
    # a conjunction prunes on any conjunct
    assert kept([("k", ">", 2), ("k", "<", 4)]) == [
        "low", "nostats", "somenull"]
    assert kept([]) == [f["name"] for f in files]


@pytest.fixture()
def frames(spark):
    probe = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4)], "f string, k long")
    keys = spark.createDataFrame([(1,), (3,), (3,), (9,)], "k long")
    return probe, keys


def test_touched_files(frames):
    probe, keys = frames
    assert sorted(L.touched_files(probe, "f", keys, ["k"])) == ["a", "b"]
    assert sorted(L.touched_files(
        probe, "f", keys, ["k"], matched=False)) == ["a", "c"]
    assert sorted(L.touched_files(probe.filter("k > 2"), "f")) == [
        "b", "c"]


def test_attach_preserved(spark):
    replacement = spark.createDataFrame(
        [(1, "u"), (2, "kept"), (5, "insert")], "k long, v string")
    mapping = spark.createDataFrame(
        [(1, 100, 7), (2, 101, 8)], f"k long, {L.RID} long, {L.SEQ} long")
    updated = spark.createDataFrame([(1,), (5,)], "k long")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    out = L.attach_preserved(replacement, mapping, updated, ["k"],
                             "rid", "seq")
    assert out.columns == ["k", "v", "rid", "seq"]
    # updated rows keep their id and reset their seq; inserts read null
    assert rows(out) == [(1, "u", 100, None), (2, "kept", 101, 8),
                         (5, "insert", None, None)]
    # pure rearrangement: both carry over
    assert rows(L.attach_preserved(
        replacement, mapping, None, ["k"], "rid", "seq")) == [
        (1, "u", 100, 7), (2, "kept", 101, 8), (5, "insert", None, None)]
    # no seq column recorded: the id alone
    assert rows(L.attach_preserved(
        replacement, mapping, updated, ["k"], "rid", None)) == [
        (1, "u", 100), (2, "kept", 101), (5, "insert", None)]


# ---------------------------------------------------- job-count guards
#
# Spark jobs one small write submits, per format, bounded by the counts
# the two formats' separate implementations submitted before the core
# (measured the same way): the core may only remove passes.

def _table(spark, fmt):
    t = os.path.join(tempfile.mkdtemp(prefix=f"sling_core_{fmt}_"), "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")) \
        .repartition(4, "k")
    if fmt == "delta":
        D.write_delta(df, t)
        D.set_table_properties(t, {"delta.enableDeletionVectors": "true"})
    else:
        I.write_iceberg(df, t, format_version=3)
    return t


def _batch(spark):
    # 5 matched keys + 5 inserts
    return spark.createDataFrame(
        [(k, 99) for k in (3, 50, 120, 260, 399, 400, 401, 402, 403, 404)],
        "k long, v long")


@pytest.mark.parametrize("fmt,bound", [("delta", 14), ("iceberg", 14)])
def test_dv_merge_jobs(spark, spark_jobs, fmt, bound):
    t = _table(spark, fmt)
    src = _batch(spark)
    with spark_jobs() as jobs:
        if fmt == "delta":
            res = D.merge_delta(spark, t, src, "k", use_dvs=True)
        else:
            res = I.merge_iceberg(spark, t, src, "k", use_dvs=True)
    assert res["dv_files"] >= 1
    assert jobs.count <= bound


@pytest.mark.parametrize("fmt,bound", [("delta", 1), ("iceberg", 1)])
def test_staged_append_jobs(spark, spark_jobs, fmt, bound):
    t = _table(spark, fmt)
    with spark_jobs() as jobs:
        if fmt == "delta":
            D.write_delta(_batch(spark), t, mode="append")
        else:
            I.write_iceberg(_batch(spark), t)
    assert jobs.count <= bound


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_prune_files_jobs(spark, spark_jobs, fmt):
    t = _table(spark, fmt)
    with spark_jobs() as jobs:
        if fmt == "delta":
            _, files = D.replay_log(t)
            kept = D.prune_files_by_stats(files, [("k", "<", 0)])
        else:
            _, meta = I._current_metadata(t)
            kept = I.prune_files_by_bounds(
                I._active_files(t, meta, None), [("k", "<", 0)], meta)
    assert not kept
    assert jobs.count == 0
