"""Pin deletion-vector production — one implementation in
``lake_core`` (``doomed_positions`` + ``fold_dv_rows``) behind each
format's adapter (delta_py ``_produce_dv_actions``, iceberg_py
``_produce_dvs_ice``) — against the legacy two-pass census/positions
shape, value-for-value, on both formats.

The single pass replaces the census pass (scan + join + per-file
counts) and the positions pass (second scan + join over the doomed
files) with ONE persisted scan+join whose count and positions actions
share the work. The doomed position sets, the dense-delete CoW
fallback, the union with a file's existing vector and the fully-dead
file detection (fed by add.stats / manifest record_count instead of a
counting aggregate) must all behave identically in both formats.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from sling_cli_spark.sources import delta_py as D
from sling_cli_spark.sources import iceberg_py as I
from sling_cli_spark.sources import lake_core as L


def _frame(spark):
    return spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))


class _Delta:
    """A 4-file Delta table with deletion vectors enabled."""

    def __init__(self, spark):
        self.spark = spark
        self.path = os.path.join(
            tempfile.mkdtemp(prefix="sling_dvsp_"), "t")
        D.write_delta(_frame(spark).repartition(4), self.path)
        D.set_table_properties(
            self.path, {"delta.enableDeletionVectors": "true"})

    def state(self):
        self.meta, self.files, _ = D._replay_state(self.path)
        return sorted(self.files)

    def scan(self, files):
        return D._raw_position_scan(
            self.spark, self.path, self.meta, files)

    def key(self, files):
        amap = D._add_key_map(self.path, files)
        return lambda fp: amap[D._uri_abs(fp)]

    def phys_rows(self, f):
        return D._add_num_records(self.path, self.files[f])

    def produce(self, keys, doom_matched=True, max_dv_rows=4_000_000):
        """({file: the new vector's positions}, {dead file}), or None on
        the dense fallback."""
        files = self.state()
        got = D._produce_dv_actions(
            self.spark, self.path, self.meta, self.files, files, ["k"],
            keys, doom_matched, 0, max_dv_rows=max_dv_rows)
        if got is None:
            return None
        adds = [a["add"] for a in got[0] if "add" in a]
        removed = {a["remove"]["path"] for a in got[0] if "remove" in a}
        return ({a["path"]: self._positions(a) for a in adds},
                removed - {a["path"] for a in adds})

    def _positions(self, add):
        from sling_cli_spark.sources import delta_dv

        desc = add.get("deletionVector")
        return sorted(delta_dv.dv_indices(self.path, desc)) if desc else []

    def dv_positions(self, f):
        return self._positions(self.files[f])

    def delete_missing(self, keys):
        D.delete_missing_delta(self.spark, self.path, keys, "k",
                               use_dvs=True)


class _Iceberg:
    """A 4-file v3 Iceberg table (deletion vectors are v3)."""

    def __init__(self, spark):
        self.spark = spark
        self.path = os.path.join(
            tempfile.mkdtemp(prefix="sling_dvsp_ice_"), "t")
        I.write_iceberg(_frame(spark).repartition(4), self.path,
                        format_version=3)

    def state(self):
        _, self.meta = I._current_metadata(self.path)
        self.entries, self.pos_dels, _ = I._active_entries(
            self.path, self.meta, None)
        self.by_fp = {I._canon(f["file_path"]): f for f in self.entries}
        return sorted(self.by_fp)

    def scan(self, files):
        return I._raw_position_scan_ice(
            self.spark, self.path, self.meta,
            [self.by_fp[f] for f in files])

    def key(self, files):
        return str

    def phys_rows(self, f):
        return int(self.by_fp[f]["record_count"])

    def produce(self, keys, doom_matched=True, max_dv_rows=4_000_000):
        self.state()
        got = I._produce_dvs_ice(
            self.spark, self.path, self.meta, self.entries, self.pos_dels,
            ["k"], keys, doom_matched, max_dv_rows=max_dv_rows)
        if got is None:
            return None
        dv_rows, _, dead = got
        return dv_rows, dead

    def dv_positions(self, f):
        from sling_cli_spark.sources import puffin

        for d in self.pos_dels:
            if I._canon(d.get("referenced_data_file") or "") == f:
                return sorted(puffin.dv_blob_indices(puffin.read_blob(
                    d["file_path"], int(d["content_offset"]),
                    int(d["content_size_in_bytes"]))))
        return []

    def delete_missing(self, keys):
        I.delete_missing_iceberg(self.spark, self.path, keys, "k",
                                 use_dvs=True)


@pytest.fixture()
def tables(spark):
    return [_Delta(spark), _Iceberg(spark)]


def _keys(spark, pred, lo=0, hi=400):
    return spark.range(lo, hi).select(F.col("id").alias("k")).filter(pred)


def legacy_two_pass(t, files, pk, keys, doom_matched):
    """The pre-single-pass census + positions passes, reconstructed."""
    marked = t.scan(files).join(
        keys.select(*pk).distinct().withColumn("__hit", F.lit(1)),
        on=pk, how="left")
    doomed = F.col("__hit").isNotNull() if doom_matched \
        else F.col("__hit").isNull()
    rows = marked.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("__phys"),
        F.count(F.when(doomed, 1)).alias("__doom")).collect()
    key = t.key(files)
    census = {key(r["__fp"]): (r["__phys"], r["__doom"]) for r in rows}
    doomed_files = [f for f, (_, d) in census.items() if d]
    if not doomed_files:
        return census, {}
    how = "left_semi" if doom_matched else "left_anti"
    rows2 = t.scan(doomed_files) \
        .join(keys.select(*pk).distinct(), on=pk, how=how) \
        .groupBy("__fp") \
        .agg(F.sort_array(F.collect_list("__pos")).alias("__ps")).collect()
    key = t.key(doomed_files)
    return census, {key(r["__fp"]): list(r["__ps"]) for r in rows2}


@pytest.mark.parametrize("doom_matched", [True, False])
def test_doomed_coords_matches_legacy(spark, tables, doom_matched):
    keys = _keys(spark, "k % 13 = 0")
    for t in tables:
        files = t.state()
        census, legacy_pos = legacy_two_pass(
            t, files, ["k"], keys, doom_matched)
        doom, pos = L.doomed_positions(
            t.scan(files), keys, ["k"], doom_matched,
            max_dv_rows=4_000_000, key=t.key(files))
        assert doom == {f: d for f, (_, d) in census.items() if d}, t
        assert pos == legacy_pos, t
        # the metadata-derived physical counts agree with the legacy
        # counting aggregate, file for file
        for f, (phys, _) in census.items():
            assert t.phys_rows(f) == phys, t


def test_doomed_coords_dense_gate(spark, tables, spark_jobs):
    """A delete denser than max_dv_rows returns positions=None (the CoW
    fallback) with the counts still populated — and never collects the
    positions: only the counting job runs."""
    keys = _keys(spark, "true")  # all rows
    for t in tables:
        files = t.state()
        with spark_jobs() as jobs:
            doom, pos = L.doomed_positions(
                t.scan(files), keys, ["k"], True, max_dv_rows=10,
                key=t.key(files))
        assert pos is None and sum(doom.values()) == 400, t
        with spark_jobs() as sparse:
            L.doomed_positions(t.scan(files), keys, ["k"], True,
                               max_dv_rows=4_000_000, key=t.key(files))
        assert jobs.count < sparse.count, t
        # and the format adapter propagates the fallback
        assert t.produce(keys, max_dv_rows=10) is None, t


def test_doomed_coords_no_hits(spark, tables):
    keys = _keys(spark, "true", 10_000, 10_002)
    delta, ice = tables
    # the raw adapter results: no actions, no DV or dead counts, no
    # doomed paths (merge_delta reads those), no superseded vectors
    files = delta.state()
    assert D._produce_dv_actions(
        spark, delta.path, delta.meta, delta.files, files, ["k"], keys,
        True, 0) == ([], 0, 0, [])
    ice.state()
    assert I._produce_dvs_ice(
        spark, ice.path, ice.meta, ice.entries, ice.pos_dels, ["k"],
        keys, True) == ({}, set(), set())
    for t in tables:
        assert t.produce(keys) == ({}, set()), t


def test_dv_unions_existing_vector(spark, tables):
    """A second DV delete on a file that already carries a vector writes
    ONE vector holding the old positions and the new ones."""
    for t in tables:
        files = t.state()
        t.delete_missing(_keys(spark, "k % 5 != 0"))
        t.state()
        old = {f: t.dv_positions(f) for f in files}
        assert all(old.values()), t
        new = L.doomed_positions(
            t.scan(files), _keys(spark, "k % 7 = 1"), ["k"], True,
            max_dv_rows=4_000_000, key=t.key(files))[1]
        dv, dead = t.produce(_keys(spark, "k % 7 = 1"))
        assert not dead and set(dv) == set(files), t
        for f in files:
            assert set(dv[f]) == set(old[f]) | set(new[f]), t


def test_fully_dead_file_dropped(spark, tables):
    """Dooming every row of one file drops the file instead of giving it
    a vector; the other files' hits become vectors."""
    for t in tables:
        files = t.state()
        doom, _ = L.doomed_positions(
            t.scan(files), _keys(spark, "true"), ["k"], True,
            max_dv_rows=4_000_000, key=t.key(files))
        first = files[0]
        rows = t.scan([first]).select("k")
        keys = rows.unionByName(_keys(spark, "k % 50 = 3"))
        dv, dead = t.produce(keys)
        assert dead == {first}, t
        assert first not in dv and dv, t
        assert doom[first] == t.phys_rows(first), t


def test_fold_dv_rows():
    """The fold itself: union with the old vector, fully-dead by the
    physical count, keys in sorted order."""
    dv_rows, dead = L.fold_dv_rows(
        {"b": 2, "a": 1, "c": 1}, {"a": [3], "b": [0, 1], "c": [4]},
        lambda k: {"a": [1], "c": [0, 1, 2, 3]}.get(k, ()),
        lambda k: {"a": 10, "b": 2, "c": 5}[k])
    assert dv_rows == {"a": [1, 3]}
    assert dead == ["b", "c"]
