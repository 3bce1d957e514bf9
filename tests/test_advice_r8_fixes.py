"""Round-9 regression tests for the ADVICE.md (r8) findings:

1. iceberg_source._IceStreamReader.read must not string-cast decimal
   columns (decimal(p,s) -> pa.decimal128, unmapped types -> no cast).
2. delta_stream with ignoreChanges must NOT resurrect rows deleted by
   a deletion vector (the add re-emits the file MINUS its DV rows).
3. _identity_hwm_action must advance the identity watermark even when
   staged stats miss the identity column (stats cap / stats failure).
4. delta stream sink re-checks last_txn_version on every claim attempt
   (zombie-driver duplicate batch commit).
5. delta_stream partitions() raises when the requested version range is
   not fully covered by retained JSON commits (log cleanup = data loss).
"""

import json
import os
from decimal import Decimal

import pytest


def _drain(spark, t, out, ck, fmt="delta_stream", **opts):
    r = spark.readStream.format(fmt).option("path", t)
    for k, v in opts.items():
        r = r.option(k, v)
    q = (r.load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_iceberg_stream_decimal_column(spark, tmp_path):
    """ADVICE r8 #1: decimal columns stream through iceberg_stream with
    their declared DecimalType, not a string-cast Arrow batch."""
    from sling_cli_spark.sources.iceberg_py import write_iceberg
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    df = spark.createDataFrame(
        [(1, Decimal("12.34")), (2, Decimal("56.78"))],
        "id long, amt decimal(10,2)").coalesce(1)
    write_iceberg(df, t)
    _drain(spark, t, out, ck, fmt="iceberg_stream")
    back = spark.read.parquet(out)
    assert back.schema["amt"].dataType.simpleString() == "decimal(10,2)"
    assert sorted((r["id"], r["amt"]) for r in back.collect()) == \
        [(1, Decimal("12.34")), (2, Decimal("56.78"))]


def test_delta_stream_ignore_changes_respects_dv(spark, tmp_path):
    """ADVICE r8 #2: a DV-producing delete re-adds the file with a
    deletion vector; ignoreChanges re-emits the file WITHOUT the
    DV-deleted rows (deleted != duplicated)."""
    from sling_cli_spark.sources.delta_py import (
        delete_missing_delta, set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string")
        .coalesce(1), t)
    set_table_properties(t, {"delta.enableDeletionVectors": "true"})
    _drain(spark, t, out, ck)  # batch 0: the original insert, ids 0-9
    # hard-delete ids 3 and 7 — with DVs enabled this re-adds the file
    # with a deletionVector descriptor instead of a CoW rewrite
    keyset = spark.createDataFrame(
        [(i,) for i in range(10) if i not in (3, 7)], "id long")
    stats = delete_missing_delta(spark, t, keyset, "id")
    assert stats.get("dv_files", 0) >= 1, \
        f"precondition: delete must produce a DV, got {stats}"
    # batch 1 covers ONLY the DV commit: the touched file re-emits
    # whole per ignoreChanges, but MINUS its DV-deleted rows
    _drain(spark, t, out, ck, ignoreChanges="true")
    from collections import Counter
    counts = Counter(r["id"] for r in spark.read.parquet(out).collect())
    assert counts[3] == 1 and counts[7] == 1, \
        "DV-deleted rows resurrected through ignoreChanges"
    assert all(counts[i] == 2 for i in range(10) if i not in (3, 7)), \
        f"survivors must re-emit once per ignoreChanges: {counts}"


def test_identity_hwm_fallback_aggregate(spark):
    """ADVICE r8 #3: identity column absent from every add's stats ->
    dedicated aggregate over the staged frame; absent frame -> fail."""
    from sling_cli_spark.sources.delta_py import _identity_hwm_action

    meta = {
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.identity.start": 1,
                          "delta.identity.step": 1,
                          "delta.identity.highWaterMark": 5,
                          "delta.identity.allowExplicitInsert": False}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {}},
        ]}),
        "partitionColumns": [], "configuration": {},
    }
    # stats cover v but NOT id (the >32-column cap scenario)
    adds = [{"add": {"path": "p1", "stats": json.dumps(
        {"numRecords": 2, "minValues": {"v": "a"},
         "maxValues": {"v": "b"}, "nullCount": {"v": 0}})}}]
    frame = spark.createDataFrame([(8, "a"), (9, "b")],
                                  "id long, v string")
    out = _identity_hwm_action(meta, adds, frame=frame)
    assert out, "watermark must advance via the fallback aggregate"
    fields = json.loads(out[0]["metaData"]["schemaString"])["fields"]
    hwm = fields[0]["metadata"]["delta.identity.highWaterMark"]
    assert hwm == 9
    # no frame to recompute from -> refuse, never skip silently
    with pytest.raises(ValueError, match="high-water mark"):
        _identity_hwm_action(meta, adds, frame=None)
    # empty staged frame: nothing to advance, no action, no error
    empty = spark.createDataFrame([], "id long, v string")
    assert _identity_hwm_action(meta, adds, frame=empty) == []


def test_delta_sink_rechecks_txn_on_retry(spark, tmp_path):
    """ADVICE r8 #4: the sink's claim loop re-reads last_txn_version
    each attempt — a concurrent commit of the same (appId, batchId)
    that lands mid-race is detected and the batch is NOT re-committed."""
    from pyspark.sql import types as T

    import sling_cli_spark.streaming.delta_source as ds
    from sling_cli_spark.sources.delta_py import (
        latest_version, read_delta, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), t)

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    w = ds._DeltaStreamWriter({"path": t}, schema)

    # stage one file for batch 0 the way an executor task would: the
    # sink receives Arrow record batches
    import pyarrow as pa

    batch = pa.RecordBatch.from_pylist(
        [{"id": 2, "v": "b"}],
        schema=pa.schema([("id", pa.int64()), ("v", pa.string())]))
    msg = w.write(iter([batch]))

    # zombie twin: same appId commits batch 0 between our check and our
    # claim — simulate by making the FIRST _commit attempt lose the race
    # to a twin commit carrying the same txn action
    real_commit = ds.__dict__.get("_commit")  # noqa: F841 (import below)
    from sling_cli_spark.sources import delta_py

    orig = delta_py._commit
    state = {"raced": False}

    def racing_commit(path, version, actions):
        if not state["raced"] and any("txn" in a for a in actions):
            state["raced"] = True
            # twin claims this version first with the SAME batch txn
            import time as _t
            orig(path, version, [
                {"txn": {"appId": w._app, "version": 0,
                         "lastUpdated": int(_t.time() * 1000)}}])
            raise FileExistsError(version)
        return orig(path, version, actions)

    delta_py._commit = racing_commit
    try:
        w.commit([msg], 0)
    finally:
        delta_py._commit = orig
    # the twin's txn-only commit won; our duplicate was dropped: the
    # staged file must be cleaned up and the data NOT doubled
    rows = read_delta(spark, t).collect()
    assert sorted(r["id"] for r in rows) == [1]
    assert latest_version(t) == 1  # init + twin commit, no third


def test_delta_stream_raises_on_cleaned_up_versions(spark, tmp_path):
    """ADVICE r8 #5: versions inside (start, end] whose JSON commit was
    cleaned up must fail the micro-batch, not silently drop rows."""
    from sling_cli_spark import fsio
    from sling_cli_spark.sources.delta_py import (
        _write_checkpoint, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t)
    for i in range(2, 5):
        write_delta(spark.createDataFrame(
            [(i, "x")], "id long, v string").coalesce(1), t,
            mode="append")
    # checkpoint at version 2, then retention-clean versions 0..2 —
    # batch reads stay fine (checkpoint replay), but a stream asked to
    # start at 0 can no longer derive those commits' row additions
    _write_checkpoint(t, fsio.get_fs(t), 2)
    for v in range(0, 3):
        os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    with pytest.raises(Exception, match="cleaned up|not fully covered"):
        _drain(spark, t, out, ck, startingVersion="0")


def test_create_checkpoint_v2_multi_sidecar(spark, tmp_path):
    """create_checkpoint(v2=True) adopts the v2Checkpoint feature and
    writes the UUID top file + MULTIPLE parquet sidecars; the
    checkpoint alone replays the state (r9: public verb + sidecar
    splitting on top of the r8 v2 writer)."""
    from sling_cli_spark.sources.delta_py import (
        create_checkpoint, read_delta, replay_log, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t)
    for i in range(2, 8):
        write_delta(spark.createDataFrame(
            [(i, f"v{i}")], "id long, v string").coalesce(1), t,
            mode="append")
    v = create_checkpoint(t, v2=True, max_actions_per_sidecar=3)
    log = os.path.join(t, "_delta_log")
    top = [n for n in os.listdir(log)
           if n.startswith(f"{v:020d}.checkpoint.")
           and n.endswith(".json")]
    assert len(top) == 1
    lines = [json.loads(ln) for ln in open(os.path.join(log, top[0]))]
    sidecars = [ln["sidecar"] for ln in lines if "sidecar" in ln]
    assert len(sidecars) == 3, f"7 adds / 3 per sidecar: {sidecars}"
    assert all(os.path.exists(os.path.join(log, "_sidecars", s["path"]))
               for s in sidecars)
    prot = [ln["protocol"] for ln in lines if "protocol" in ln][0]
    assert "v2Checkpoint" in prot["writerFeatures"]
    # the checkpoint ALONE reconstructs the table
    for n in os.listdir(log):
        if n.endswith(".json") and not n.startswith(f"{v:020d}.checkp"):
            os.remove(os.path.join(log, n))
    got = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got == {1: "a", **{i: f"v{i}" for i in range(2, 8)}}
    # and later writes keep emitting V2 (the feature rode the upgrade)
    meta, files = replay_log(t)
    assert len(files) == 7


def test_create_checkpoint_classic_refuses_on_v2_table(spark, tmp_path):
    from sling_cli_spark.sources.delta_py import (
        UnsupportedTableFeature, create_checkpoint, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t)
    create_checkpoint(t, v2=True)
    with pytest.raises(UnsupportedTableFeature, match="v2Checkpoint"):
        create_checkpoint(t, v2=False)


def test_cdf_on_column_mapped_table(spark, tmp_path):
    """r9: read_change_feed on a column-mapped table — physical names
    in change/removed files project back to logical, partition values
    (physical-keyed) attach as logical columns, and cdc files'
    _change_type rides through verbatim."""
    from sling_cli_spark.sources.delta_py import (
        enable_column_mapping, merge_delta, read_change_feed,
        rename_column, set_table_properties, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(6)],
        "id long, v string, g long").coalesce(1), t,
        partition_by=["g"])
    enable_column_mapping(t)
    rename_column(t, "v", "val")  # physical name now differs for sure
    set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    v0 = 3  # versions 0..3 so far (write, enable, rename, cdf on)
    # a CDF-recorded merge: update id=2, insert id=10
    merge_delta(spark, t, spark.createDataFrame(
        [(2, "UPD", 0), (10, "NEW", 0)], "id long, val string, g long"),
        ["id"])
    cdf = read_change_feed(spark, t, starting_version=v0 + 1)
    rows = {(r["id"], r["_change_type"]): (r["val"], r["g"])
            for r in cdf.collect()}
    assert rows[(2, "update_preimage")] == ("v2", 0)
    assert rows[(2, "update_postimage")] == ("UPD", 0)
    assert rows[(10, "insert")] == ("NEW", 0)
    # an append derives inserts from adds (no cdc files): physical
    # file columns still project back
    write_delta(spark.createDataFrame(
        [(11, "APP", 1)], "id long, val string, g long").coalesce(1),
        t, mode="append")
    cdf2 = read_change_feed(spark, t,
                            starting_version=v0 + 2).collect()
    assert {(r["id"], r["_change_type"], r["val"], r["g"])
            for r in cdf2} == {(11, "insert", "APP", 1)}


def test_cdf_stream_on_column_mapped_table(spark, tmp_path):
    """r9: readChangeFeed=true streams a column-mapped table — change
    files' physical names project back to logical executor-side, and
    the plain delta_stream also reads mapped files (no silent nulls)."""
    from sling_cli_spark.sources.delta_py import (
        enable_column_mapping, merge_delta, rename_column,
        set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, v string, g long")
        .coalesce(1), t, partition_by=["g"])
    enable_column_mapping(t)
    rename_column(t, "v", "val")
    set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    merge_delta(spark, t, spark.createDataFrame(
        [(2, "B2", 1)], "id long, val string, g long"), ["id"])

    q = (spark.readStream.format("delta_stream").option("path", t)
         .option("readChangeFeed", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(r["id"], r["_change_type"]): (r["val"], r["g"])
            for r in spark.read.parquet(out).collect()}
    assert rows[(1, "insert")] == ("a", 0)
    assert rows[(2, "update_preimage")] == ("b", 1)
    assert rows[(2, "update_postimage")] == ("B2", 1)
    # plain (state) stream on the mapped table: logical values, not
    # nulls from a physical-name miss
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = (spark.readStream.format("delta_stream").option("path", t)
         .option("ignoreChanges", "true").load()
         .writeStream.format("parquet").option("path", out2)
         .option("checkpointLocation", ck2)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["id"], r["val"], r["g"])
           for r in spark.read.parquet(out2).collect()}
    assert (2, "B2", 1) in got and (1, "a", 0) in got
    assert not any(v is None for _, v, _ in got)


def test_cleanup_logs_retention(spark, tmp_path):
    """r9: cleanup_logs deletes checkpoint-covered JSON commits and
    superseded checkpoints/sidecars; replay still works from the kept
    checkpoint + suffix, and a stream asked to start inside the
    removed range fails loudly instead of dropping rows."""
    from sling_cli_spark.sources.delta_py import (
        cleanup_logs, create_checkpoint, read_delta, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    for i in range(8):
        write_delta(spark.createDataFrame(
            [(i, f"v{i}")], "id long, v string").coalesce(1), t,
            mode="append")
    assert cleanup_logs(t) == []  # no checkpoint -> nothing removable
    create_checkpoint(t, v2=True, max_actions_per_sidecar=3)  # v8
    write_delta(spark.createDataFrame(
        [(8, "v8")], "id long, v string").coalesce(1), t, mode="append")
    cp2 = create_checkpoint(t)  # newer v2 checkpoint supersedes
    deleted = cleanup_logs(t, keep_versions=2)
    log = os.path.join(t, "_delta_log")
    names = os.listdir(log)
    # JSON <= min(cp, head-2) gone; suffix retained
    assert not any(n == f"{0:020d}.json" for n in names)
    assert any(n == f"{cp2:020d}.json" for n in names)
    # exactly one checkpoint top retained, its sidecars intact
    tops = [n for n in names if ".checkpoint." in n]
    assert len(tops) == 1 and tops[0].startswith(f"{cp2:020d}")
    kept_sc = os.listdir(os.path.join(log, "_sidecars"))
    assert len(kept_sc) == 1  # newest cp: 9 adds, default split
    assert any(d.startswith("_sidecars/") for d in deleted)
    # full state still replays
    got = {r["id"]: r["v"] for r in read_delta(spark, t).collect()}
    assert got == {i: f"v{i}" for i in range(9)}
    # a stream from version 0 cannot silently skip the removed commits
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with pytest.raises(Exception, match="cleaned up|not fully covered"):
        q = (spark.readStream.format("delta_stream").option("path", t)
             .option("startingVersion", "0").load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()


def test_convert_to_delta_in_place(spark, tmp_path):
    """r9: CONVERT TO DELTA adopts an existing (partitioned) parquet
    directory — commit 0 references the files in place with stats, no
    rewrite; the table then merges like any Delta table."""
    from sling_cli_spark.sources.delta_py import (
        convert_to_delta, merge_delta, read_delta, replay_log,
        write_delta)

    p = str(tmp_path / "p")
    spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(12)],
        "id long, v string, g int").repartition(2, "g") \
        .write.partitionBy("g").parquet(p)
    before = {f for f in __import__("glob").glob(p + "/**/*.parquet",
                                                recursive=True)}
    assert convert_to_delta(spark, p) == 0
    meta, files = replay_log(p)
    assert meta["partitionColumns"] == ["g"]
    assert len(files) == len(before)
    st = json.loads(next(iter(files.values()))["stats"])
    assert st["numRecords"] > 0 and "id" in st["minValues"]
    got = {r["id"]: (r["v"], r["g"]) for r in read_delta(spark, p).collect()}
    assert got == {i: (f"v{i}", i % 3) for i in range(12)}
    # no files were rewritten by the conversion
    after = {f for f in __import__("glob").glob(p + "/**/*.parquet",
                                                recursive=True)}
    assert after == before
    # and the converted table is a first-class merge target
    merge_delta(spark, p, spark.createDataFrame(
        [(3, "UPD", 0), (99, "NEW", 0)], "id long, v string, g int"),
        ["id"])
    got = {r["id"]: r["v"] for r in read_delta(spark, p).collect()}
    assert got[3] == "UPD" and got[99] == "NEW" and len(got) == 13
    # refusals
    with pytest.raises(ValueError, match="already a delta"):
        convert_to_delta(spark, p)
    q = str(tmp_path / "q")
    write_delta(spark.createDataFrame([(1,)], "id long"), q)
    with pytest.raises(ValueError, match="already a delta"):
        convert_to_delta(spark, q)


def test_write_delta_idempotent_txn(spark, tmp_path):
    """r9: txn_app_id/txn_version make batch writes idempotent — the
    re-run of a committed batch is a no-op (PROTOCOL.md §Transaction
    Identifiers), a HIGHER version commits, and the guard needs both
    knobs."""
    from sling_cli_spark.sources.delta_py import read_delta, write_delta

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t,
        txn_app_id="etl", txn_version=1)
    # the retry of batch 1: silently skipped
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t,
        txn_app_id="etl", txn_version=1)
    assert read_delta(spark, t).count() == 1
    # batch 2 commits; an unrelated app is independent
    write_delta(spark.createDataFrame(
        [(2, "b")], "id long, v string"), t,
        txn_app_id="etl", txn_version=2)
    write_delta(spark.createDataFrame(
        [(3, "c")], "id long, v string"), t,
        txn_app_id="other", txn_version=1)
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) \
        == [1, 2, 3]
    with pytest.raises(ValueError, match="together"):
        write_delta(spark.createDataFrame(
            [(9, "z")], "id long, v string"), t, txn_app_id="etl")


def test_iceberg_stream_raises_on_expired_range(spark, tmp_path):
    """r9 (iceberg sibling of #5): sequence numbers expired out of the
    requested range fail the micro-batch loudly instead of silently
    dropping their rows; a stream over the retained suffix works."""
    from sling_cli_spark.sources.iceberg_py import (
        expire_snapshots, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    for i in range(5):
        write_iceberg(spark.createDataFrame(
            [(i, "x")], "id long, v string").coalesce(1), t,
            mode="append")
    expire_snapshots(t, keep=2)  # seqs 1..3 gone
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with pytest.raises(Exception, match="expired|not fully covered"):
        q = (spark.readStream.format("iceberg_stream")
             .option("path", t).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    # starting INSIDE the retained suffix is fine
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = (spark.readStream.format("iceberg_stream")
         .option("path", t).option("startingSequence", "3").load()
         .writeStream.format("parquet").option("path", out2)
         .option("checkpointLocation", ck2)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert {r["id"] for r in spark.read.parquet(out2).collect()} \
        == {3, 4}
