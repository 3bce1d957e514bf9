"""Pin the r15 single-pass DV production against the legacy two-pass
census/positions shape, value-for-value.

The rewrite (`_doomed_coords` in delta_py, the inlined twin in
iceberg_py's `_produce_dvs_ice`) replaces the census pass (scan + join
+ per-file counts) and the positions pass (second scan + join over the
doomed files) with ONE persisted scan+join whose count and positions
actions share the work (guide §1.2). The doomed position sets, the
dense-delete CoW fallback, and the fully-dead file detection (now fed
by add.stats / manifest record_count instead of a counting aggregate)
must all behave identically.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def delta_table(spark):
    from sling_cli_spark.sources import delta_py as D

    t = os.path.join(tempfile.mkdtemp(prefix="sling_dvsp_"), "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"))
    D.write_delta(df.repartition(4), t)
    D.set_table_properties(t, {"delta.enableDeletionVectors": "true"})
    return t


def legacy_two_pass(spark, path, meta, rels, pk, keys, doom_matched):
    """The pre-r15 census + positions passes, reconstructed verbatim."""
    from sling_cli_spark.sources import delta_py as D

    scan = D._raw_position_scan(spark, path, meta, rels)
    marked = scan.join(
        keys.select(*pk).distinct().withColumn("__hit", F.lit(1)),
        on=pk, how="left")
    doomed = F.col("__hit").isNotNull() if doom_matched \
        else F.col("__hit").isNull()
    rows = marked.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("__phys"),
        F.count(F.when(doomed, 1)).alias("__doom")).collect()
    amap = D._add_key_map(path, rels)
    census = {amap[D._uri_abs(r["__fp"])]: (r["__phys"], r["__doom"])
              for r in rows}
    doomed_rels = [r for r, (_, d) in census.items() if d]
    if not doomed_rels:
        return census, {}
    scan2 = D._raw_position_scan(spark, path, meta, doomed_rels)
    how = "left_semi" if doom_matched else "left_anti"
    rows2 = scan2.join(keys.select(*pk).distinct(), on=pk, how=how) \
        .groupBy("__fp") \
        .agg(F.sort_array(F.collect_list("__pos")).alias("__ps")).collect()
    return census, {amap[D._uri_abs(r["__fp"])]: list(r["__ps"])
                    for r in rows2}


@pytest.mark.parametrize("doom_matched", [True, False])
def test_doomed_coords_matches_legacy(spark, delta_table, doom_matched):
    from sling_cli_spark.sources import delta_py as D

    meta, files, _ = D._replay_state(delta_table)
    rels = sorted(files)
    keys = spark.range(0, 400).select(F.col("id").alias("k")) \
        .filter("k % 13 = 0")

    census, legacy_pos = legacy_two_pass(
        spark, delta_table, meta, rels, ["k"], keys, doom_matched)
    doom, pos = D._doomed_coords(
        spark, delta_table, meta, rels, ["k"], keys, doom_matched,
        max_dv_rows=4_000_000)

    assert doom == {r: d for r, (_, d) in census.items() if d}
    assert pos == legacy_pos
    # the stats-derived physical counts agree with the legacy counting
    # aggregate, file for file
    for rel, (phys, _) in census.items():
        assert D._add_num_records(delta_table, files[rel]) == phys


def test_doomed_coords_dense_gate(spark, delta_table):
    """A delete denser than max_dv_rows returns positions=None (the CoW
    fallback) with the counts still populated — and never collects the
    positions."""
    from sling_cli_spark.sources import delta_py as D

    meta, files, _ = D._replay_state(delta_table)
    rels = sorted(files)
    keys = spark.range(0, 400).select(F.col("id").alias("k"))  # all rows
    doom, pos = D._doomed_coords(
        spark, delta_table, meta, rels, ["k"], keys, True, max_dv_rows=10)
    assert pos is None
    assert sum(doom.values()) == 400
    # and _produce_dv_actions propagates the fallback
    assert D._produce_dv_actions(
        spark, delta_table, meta, files, rels, ["k"], keys, True, 0,
        max_dv_rows=10) is None


def test_doomed_coords_no_hits(spark, delta_table):
    from sling_cli_spark.sources import delta_py as D

    meta, files, _ = D._replay_state(delta_table)
    keys = spark.range(10_000, 10_002).select(F.col("id").alias("k"))
    assert D._produce_dv_actions(
        spark, delta_table, meta, files, sorted(files), ["k"], keys,
        True, 0) == ([], 0, 0, [])
