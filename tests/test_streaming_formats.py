"""Structured Streaming CDC + Arrow IPC + GeoJSON + file sizing."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from sling_cli_spark.sinks.formats import (
    write_geojson_collection, write_geojsonl)
from sling_cli_spark.sources.arrow import read_arrow, write_arrow
from sling_cli_spark.streaming.cdc import (
    read_file_stream, run_cdc_stream, stream_dedup_latest)

CDC_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("_sling_synced_op", T.StringType()),
    T.StructField("_sling_synced_seq", T.LongType()),
])


def _write_batch(path, rows, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_cdc_stream_applies_upserts_and_deletes(spark, tmp_path):
    src_dir = str(tmp_path / "cdc_in")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src_dir, [
        {"id": 1, "v": "a", "_sling_synced_op": "I", "_sling_synced_seq": 1},
        {"id": 2, "v": "b", "_sling_synced_op": "I", "_sling_synced_seq": 1},
    ], "b1.json")

    stream = read_file_stream(spark, src_dir, CDC_SCHEMA, fmt="json")
    run_cdc_stream(spark, stream, target, "id", ckpt)
    got = {r["id"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b"}

    # second batch: update 1, delete 2, insert 3 — resumes from checkpoint
    _write_batch(src_dir, [
        {"id": 1, "v": "a2", "_sling_synced_op": "U", "_sling_synced_seq": 2},
        {"id": 2, "v": None, "_sling_synced_op": "D", "_sling_synced_seq": 2},
        {"id": 3, "v": "c", "_sling_synced_op": "I", "_sling_synced_seq": 2},
    ], "b2.json")
    stream = read_file_stream(spark, src_dir, CDC_SCHEMA, fmt="json")
    run_cdc_stream(spark, stream, target, "id", ckpt)
    got = {r["id"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 3: "c"}


def test_stream_dedup_latest_batch_semantics(spark):
    df = spark.createDataFrame([
        Row(id=1, _sling_synced_seq=1, v="x"),
        Row(id=1, _sling_synced_seq=1, v="x"),   # exact replay
        Row(id=1, _sling_synced_seq=2, v="y"),
    ])
    out = stream_dedup_latest(df, "id")
    assert out.count() == 2  # replay dropped, distinct seqs kept


def test_arrow_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    p = str(tmp_path / "t.arrow")
    write_arrow(df, p)
    back = read_arrow(spark, p)
    assert sorted((r["a"], r["b"]) for r in back.collect()) == \
        [(1, "x"), (2, "y")]


def test_arrow_stream_format(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1)])
    p = str(tmp_path / "t.arrows")
    write_arrow(df, p, stream=True)
    assert read_arrow(spark, p).count() == 1


def test_geojsonl(spark, tmp_path):
    df = spark.createDataFrame([
        Row(name="pt1", geometry='{"type": "Point", "coordinates": [1.0, 2.0]}'),
    ])
    out = str(tmp_path / "out.geojsonl")
    write_geojsonl(df, out)
    lines = [json.loads(r["value"]) for r in spark.read.text(out).collect()]
    assert lines[0]["type"] == "Feature"
    assert lines[0]["geometry"]["coordinates"] == [1.0, 2.0]
    assert lines[0]["properties"]["name"] == "pt1"


def test_geojson_collection(spark, tmp_path):
    df = spark.createDataFrame([
        Row(name="a", geometry='{"type": "Point", "coordinates": [0, 0]}'),
        Row(name="b", geometry='{"type": "Point", "coordinates": [1, 1]}'),
    ])
    out = str(tmp_path / "fc.geojson")
    write_geojson_collection(df, out)
    with open(out) as f:
        fc = json.load(f)
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2


def test_file_max_bytes_splits_files(spark, tmp_path):
    from sling_cli_spark.config import Mode, Target, TargetOptions
    from sling_cli_spark.sinks.writers import write_files

    df = spark.range(10000).selectExpr("id", "repeat('x', 100) AS pad") \
        .coalesce(1)
    out = str(tmp_path / "split")
    target = Target(conn="local", object=out,
                    options=TargetOptions(file_max_bytes=50_000))
    write_files(df, target, Mode.FULL_REFRESH, fmt="json")
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) > 5  # ~1.2MB of json split into ~50KB files
    assert spark.read.json(out).count() == 10000


# --- windowed aggregations (streaming/windows.py) -----------------------

def test_tumbling_agg_batch(spark):
    from sling_cli_spark.streaming.windows import tumbling_agg
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-01 10:05:00", "a"), ("2024-01-01 10:55:00", "a"),
         ("2024-01-01 11:05:00", "a"), ("2024-01-01 10:30:00", "b")],
        "ts string, k string",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "k")
    out = tumbling_agg(df, "ts", "1 hour", keys=["k"])
    got = {(str(r["window_start"]), r["k"]): r["n_events"]
           for r in out.collect()}
    assert got == {("2024-01-01 10:00:00", "a"): 2,
                   ("2024-01-01 11:00:00", "a"): 1,
                   ("2024-01-01 10:00:00", "b"): 1}


def test_sliding_agg_batch(spark):
    from sling_cli_spark.streaming.windows import sliding_agg
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-01 10:20:00",)], "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    out = sliding_agg(df, "ts", "1 hour", "30 minutes")
    starts = sorted(str(r["window_start"]) for r in out.collect())
    # one event falls into 2 overlapping one-hour windows
    assert starts == ["2024-01-01 09:30:00", "2024-01-01 10:00:00"]


def test_tumbling_agg_streaming_with_watermark(spark, tmp_path):
    """Same operator under readStream: watermark set, availableNow drain,
    results equal the batch run."""
    from pyspark.sql import types as T2

    from sling_cli_spark.streaming.windows import tumbling_agg

    src = str(tmp_path / "win_in")
    schema = T2.StructType([
        T2.StructField("ts", T2.TimestampType()),
        T2.StructField("k", T2.StringType()),
    ])
    _write_batch(src, [
        {"ts": "2024-01-01T10:05:00", "k": "a"},
        {"ts": "2024-01-01T10:45:00", "k": "a"},
        {"ts": "2024-01-01T11:10:00", "k": "b"},
    ], "b1.json")

    stream = spark.readStream.schema(schema).json(src)
    agg = tumbling_agg(stream, "ts", "1 hour", keys=["k"],
                       watermark="10 minutes")
    assert agg.isStreaming
    q = agg.writeStream.format("memory").queryName("win_out") \
        .outputMode("complete").trigger(availableNow=True).start()
    q.awaitTermination(60)
    got = {(str(r["window_start"]), r["k"]): r["n_events"]
           for r in spark.sql("select * from win_out").collect()}
    assert got == {("2024-01-01 10:00:00", "a"): 2,
                   ("2024-01-01 11:00:00", "b"): 1}


# -------------------------------------------- round 4: kafka/debezium CDC

ROW_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.StringType()),
])


def _dbz(op, before, after, ts):
    return {"before": before, "after": after, "op": op, "ts_ms": ts}


def test_unwrap_debezium_batch(spark):
    from sling_cli_spark.streaming.cdc import unwrap_debezium

    events = [
        _dbz("c", None, {"id": 1, "v": "a"}, 100),
        _dbz("u", {"id": 1, "v": "a"}, {"id": 1, "v": "b"}, 200),
        _dbz("d", {"id": 2, "v": "x"}, None, 300),
        _dbz("r", None, {"id": 3, "v": "snap"}, 50),  # snapshot read
    ]
    df = spark.createDataFrame([(json.dumps(e),) for e in events],
                               "value string")
    out = unwrap_debezium(df, ROW_SCHEMA).collect()
    got = {(r["id"], r["_sling_synced_op"], r["_sling_synced_seq"])
           for r in out}
    assert got == {(1, "I", 100), (1, "U", 200), (2, "D", 300),
                   (3, "I", 50)}
    assert {r["v"] for r in out if r["id"] == 2} == {"x"}  # before image


def test_unwrap_debezium_payload_wrapped(spark):
    from sling_cli_spark.streaming.cdc import unwrap_debezium

    e = {"payload": _dbz("c", None, {"id": 9, "v": "w"}, 42)}
    df = spark.createDataFrame([(json.dumps(e),)], "value string")
    r = unwrap_debezium(df, ROW_SCHEMA, payload_wrapped=True).collect()[0]
    assert (r["id"], r["v"], r["_sling_synced_op"]) == (9, "w", "I")


def test_kafka_source_requires_options(spark):
    from sling_cli_spark.streaming.cdc import build_cdc_source

    with pytest.raises(ValueError, match="kafka.bootstrap.servers"):
        build_cdc_source(spark, {"format": "kafka"}, ROW_SCHEMA)
    with pytest.raises(ValueError, match="subscribe"):
        build_cdc_source(
            spark, {"format": "kafka",
                    "options": {"kafka.bootstrap.servers": "b:9092"}},
            ROW_SCHEMA)


def test_cdc_pipeline_debezium_files_to_parquet(spark, tmp_path):
    """The full config-driven path: debezium-envelope JSONL files ->
    unwrap -> foreachBatch change-capture merge into parquet. Swapping
    format:kafka in the same config is the production path (identical
    downstream plan)."""
    from sling_cli_spark.streaming.cdc import run_cdc_pipeline

    src_dir = str(tmp_path / "events")
    target = str(tmp_path / "target.parquet")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src_dir, [
        _dbz("c", None, {"id": 1, "v": "a"}, 100),
        _dbz("c", None, {"id": 2, "v": "b"}, 101),
    ], "b1.jsonl")

    conf = {"format": "json", "envelope": "debezium", "path": src_dir}
    run_cdc_pipeline(spark, conf, ROW_SCHEMA, target, "id", ckpt)
    got = {r["id"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b"}

    # batch 2: update 1, delete 2, insert 3 — resumes from checkpoint
    _write_batch(src_dir, [
        _dbz("u", {"id": 1, "v": "a"}, {"id": 1, "v": "A2"}, 200),
        _dbz("d", {"id": 2, "v": "b"}, None, 201),
        _dbz("c", None, {"id": 3, "v": "c"}, 202),
    ], "b2.jsonl")
    run_cdc_pipeline(spark, conf, ROW_SCHEMA, target, "id", ckpt)
    got = {r["id"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "A2", 3: "c"}


def test_cdc_pipeline_custom_cdc_columns_to_delta(spark, tmp_path):
    """Custom seq/op column names thread through to a Delta target
    (ADVICE r3: the delta branch used to drop them)."""
    from sling_cli_spark.sources.delta_py import read_delta, write_delta
    from sling_cli_spark.streaming.cdc import run_cdc_pipeline

    src_dir = str(tmp_path / "ev2")
    target = str(tmp_path / "dt")
    ckpt = str(tmp_path / "ck2")
    write_delta(spark.createDataFrame([(1, "a"), (2, "b")],
                                      "id long, v string"), target)

    _write_batch(src_dir, [
        {"id": 1, "v": "A2", "my_op": "U", "my_seq": 10},
        {"id": 2, "v": None, "my_op": "D", "my_seq": 11},
        {"id": 5, "v": "new", "my_op": "I", "my_seq": 12},
    ], "b1.jsonl")
    conf = {"format": "json", "path": src_dir,
            "seq_col": "my_seq", "op_col": "my_op"}
    schema = T.StructType(list(ROW_SCHEMA.fields) + [
        T.StructField("my_op", T.StringType()),
        T.StructField("my_seq", T.LongType()),
    ])
    run_cdc_pipeline(spark, conf, schema, target, "id", ckpt)
    got = {r["id"]: r["v"] for r in read_delta(spark, target).collect()}
    assert got == {1: "A2", 5: "new"}


def test_cdc_stream_into_dv_enabled_delta_target(spark, tmp_path):
    """r8 integration: foreachBatch change-capture merges into a
    delta.enableDeletionVectors target produce DVs per micro-batch —
    the seeded data files never rewrite, deletes/updates land as
    roaring bitmaps + appended merge output, and the final table
    matches last-op-wins semantics."""
    from sling_cli_spark.sources.delta_py import (
        read_delta, replay_log, set_table_properties, write_delta)
    from sling_cli_spark.streaming.cdc import (
        read_file_stream, run_cdc_stream)

    src_dir = str(tmp_path / "in")
    target = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string")
        .coalesce(1), target)
    set_table_properties(target, {"delta.enableDeletionVectors": "true"})
    seeded = set(replay_log(target)[1])

    _write_batch(src_dir, [
        {"id": 2, "v": "u2", "_sling_synced_op": "U",
         "_sling_synced_seq": 1},
        {"id": 5, "v": None, "_sling_synced_op": "D",
         "_sling_synced_seq": 2},
        {"id": 77, "v": "new", "_sling_synced_op": "I",
         "_sling_synced_seq": 3},
    ], "b1.json")
    stream = read_file_stream(spark, src_dir, CDC_SCHEMA, fmt="json")
    run_cdc_stream(spark, stream, target, "id", ckpt)

    files = replay_log(target)[1]
    assert seeded <= set(files), "seeded data file must never rewrite"
    assert any(files[r].get("deletionVector") for r in seeded), \
        "the micro-batch merge must have produced a DV"
    got = {r["id"]: r["v"] for r in read_delta(spark, target).collect()}
    assert got[2] == "u2" and got[77] == "new" and 5 not in got
    assert got[3] == "v3" and len(got) == 10


# ------------------------------------------- delta structured-stream source

def test_delta_stream_source_incremental(spark, tmp_path):
    """format("delta_stream") (Python DataSource API): availableNow
    drains the committed versions; a second run after an append emits
    ONLY the new commit's rows (checkpointed offsets); a destructive
    commit fails the stream unless ignoreChanges."""
    import pyspark.sql.utils  # noqa: F401

    from sling_cli_spark.sources.delta_py import write_delta
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), t)

    def drain():
        q = (spark.readStream.format("delta_stream").option("path", t)
             .load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r["id"] for r in spark.read.parquet(out).collect()} == {1, 2}
    write_delta(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), t, mode="append")
    drain()
    got = spark.read.parquet(out).collect()
    assert {r["id"] for r in got} == {1, 2, 3} and len(got) == 3

    write_delta(spark.createDataFrame(
        [(9, "z")], "id long, v string").coalesce(1), t, mode="overwrite")
    try:
        drain()
        raised = False
    except Exception as e:
        raised = "removes data" in str(e)
    assert raised, "destructive commit must fail the append-only stream"


def test_delta_stream_starting_timestamp(spark, tmp_path):
    """r10: startingTimestamp on the delta stream source — resolved to
    the first commit at or after the instant via the monotonic
    inCommitTimestamp; a future instant starts past the head (empty)
    and picks up the next commit."""
    from sling_cli_spark.sources.delta_py import (
        commit_timestamp_ms, set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t)          # v0
    set_table_properties(
        t, {"delta.enableInCommitTimestamps": "true"})            # v1
    write_delta(spark.createDataFrame(
        [(2, "b")], "id long, v string").coalesce(1), t,
        mode="append")                                            # v2
    write_delta(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), t,
        mode="append")                                            # v3

    def drain(out, ck, **opts):
        r = spark.readStream.format("delta_stream").option("path", t)
        for k, v in opts.items():
            r = r.option(k, str(v))
        q = (r.load().writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        try:
            return {x["id"] for x in spark.read.parquet(out).collect()}
        except Exception:
            return set()  # no batch committed -> no output dir

    t2 = commit_timestamp_ms(t, 2)
    assert drain(str(tmp_path / "o1"), str(tmp_path / "c1"),
                 startingTimestamp=t2) == {2, 3}
    # future instant: starts past the head, then catches the next
    # commit only
    o2, c2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    far = commit_timestamp_ms(t, 3) + 60_000
    assert drain(o2, c2, startingTimestamp=far) == set()
    write_delta(spark.createDataFrame(
        [(4, "d")], "id long, v string").coalesce(1), t,
        mode="append")
    assert drain(o2, c2, startingTimestamp=far) == {4}
    # startingVersion wins when both are given
    assert drain(str(tmp_path / "o3"), str(tmp_path / "c3"),
                 startingTimestamp=t2, startingVersion=4) == {4}


def test_delta_stream_source_partitioned_and_evolved(spark, tmp_path):
    """Partition values attach as constant arrays; files predating an
    evolved column stream it as typed nulls."""
    from sling_cli_spark.sources.delta_py import write_delta
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, v string, grp long"),
        t, partition_by=["grp"])
    write_delta(spark.createDataFrame(
        [(3, "c", 10, 7.5)],
        "id long, v string, grp long, score double"), t, mode="append")
    q = (spark.readStream.format("delta_stream").option("path", t)
         .load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["id"]: (r["grp"], r["score"])
           for r in spark.read.parquet(out).collect()}
    assert got == {1: (10, None), 2: (20, None), 3: (10, 7.5)}


def test_delta_stream_sink_exactly_once(spark, tmp_path):
    """writeStream.format("delta_stream"): a delta->delta streaming
    pipe lands commits with SetTransaction idempotence — a replayed
    batch id is dropped and its re-written files cleaned up."""
    from sling_cli_spark.sources.delta_py import (
        _txn_versions, last_txn_version, latest_version, read_delta,
        write_delta)
    from sling_cli_spark.streaming.delta_source import (
        _DeltaStreamWriter, register_delta_stream)
    from sling_cli_spark.streaming.lake_stream import _SinkMsg

    register_delta_stream(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), src)

    def drain():
        q = (spark.readStream.format("delta_stream").option("path", src)
             .load()
             .writeStream.format("delta_stream").option("path", dst)
             .option("txnAppId", "pipe-1")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r["id"]: r["v"] for r in read_delta(spark, dst).collect()} \
        == {1: "a", 2: "b"}
    assert last_txn_version(dst, "pipe-1") == 0
    write_delta(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), src, mode="append")
    drain()
    got = read_delta(spark, dst).collect()
    assert {r["id"] for r in got} == {1, 2, 3} and len(got) == 3
    assert last_txn_version(dst, "pipe-1") == 1

    # simulate an engine re-delivery of an already-committed batch:
    # the writer must drop it (no new commit) and delete the re-write
    w = _DeltaStreamWriter(
        {"path": dst, "txnAppId": "pipe-1"},
        spark.createDataFrame([], "id long, v string").schema)
    open(os.path.join(dst, "part-deadbeef.snappy.parquet"), "wb").close()
    v_before = latest_version(dst)
    w.commit([_SinkMsg([{"rel": "part-deadbeef.snappy.parquet",
                         "size": 0, "n": 0, "partitionValues": {}}])], 1)
    assert latest_version(dst) == v_before
    assert not os.path.exists(
        os.path.join(dst, "part-deadbeef.snappy.parquet"))
    assert len(read_delta(spark, dst).collect()) == 3
    assert _txn_versions(dst) == {"pipe-1": 1}


def test_delta_stream_sink_guards(spark, tmp_path):
    from sling_cli_spark.sources.delta_py import (
        set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import _DeltaStreamWriter

    t = str(tmp_path / "t")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t)
    set_table_properties(t, {"delta.constraints.c1": "id > 0"})
    import pytest as _pytest
    with _pytest.raises(ValueError, match="CHECK"):
        _DeltaStreamWriter({"path": t}, spark.createDataFrame(
            [(1, "a")], "id long, v string").schema)


# ----------------------------------------- iceberg structured-stream source

def test_iceberg_stream_source_incremental(spark, tmp_path):
    """format("iceberg_stream"): sequence-number offsets drain the
    committed snapshots; a second run after an append emits ONLY the
    new snapshot's rows; a destructive snapshot fails the stream
    unless ignoreChanges."""
    from sling_cli_spark.sources.iceberg_py import (
        delete_missing_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_iceberg(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), t)

    def drain():
        q = (spark.readStream.format("iceberg_stream").option("path", t)
             .load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r["id"] for r in spark.read.parquet(out).collect()} == {1, 2}
    write_iceberg(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), t, mode="append")
    drain()
    got = spark.read.parquet(out).collect()
    assert {r["id"] for r in got} == {1, 2, 3} and len(got) == 3

    delete_missing_iceberg(
        spark, t,
        spark.createDataFrame([(1,), (3,)], "id long"), "id")
    try:
        drain()
        raised = False
    except Exception as e:
        raised = "append-only stream" in str(e)
    assert raised, "destructive snapshot must fail the append-only stream"


def test_iceberg_stream_from_branch(spark, tmp_path):
    """r10: option("branch", name) streams a branch's lineage — a WAP
    audit line is consumable BEFORE publish, while a main stream never
    sees staged rows; tags (immutable) refuse."""
    from sling_cli_spark.sources.iceberg_py import (
        create_branch, create_tag, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t)
    create_branch(t, "audit")
    write_iceberg(spark.createDataFrame(
        [(2, "staged")], "id long, v string").coalesce(1), t,
        mode="append", branch="audit")

    def drain(out, ck, **opts):
        r = spark.readStream.format("iceberg_stream").option("path", t)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load().writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {x["id"] for x in spark.read.parquet(out).collect()}

    assert drain(str(tmp_path / "o1"), str(tmp_path / "c1"),
                 branch="audit") == {1, 2}
    # main lineage never sees the staged branch snapshot
    assert drain(str(tmp_path / "o2"), str(tmp_path / "c2")) == {1}
    create_tag(t, "pin")
    with pytest.raises(Exception, match="tag"):
        drain(str(tmp_path / "o3"), str(tmp_path / "c3"), branch="pin")
    with pytest.raises(Exception, match="no ref"):
        drain(str(tmp_path / "o4"), str(tmp_path / "c4"),
              branch="ghost")


def test_iceberg_stream_source_partitioned_and_evolved(spark, tmp_path):
    """Identity-partition values attach from the manifest entry's
    partition struct; files predating an evolved column stream it as
    typed nulls; a replace (compaction) snapshot is silent."""
    from sling_cli_spark.sources.iceberg_py import (
        compact_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_iceberg(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, v string, grp long"),
        t, partition_by=["grp"])
    write_iceberg(spark.createDataFrame(
        [(3, "c", 10, 7.5)],
        "id long, v string, grp long, score double"), t, mode="append")
    q = (spark.readStream.format("iceberg_stream").option("path", t)
         .load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["id"]: (r["grp"], r["score"])
           for r in spark.read.parquet(out).collect()}
    assert got == {1: (10, None), 2: (20, None), 3: (10, 7.5)}


def test_iceberg_stream_sink_exactly_once_with_bounds(spark, tmp_path):
    """writeStream.format("iceberg_stream"): an iceberg->iceberg pipe
    commits one append snapshot per batch with streaming-app/batch-id
    summary idempotence; a replayed batch id is dropped and its
    re-written file cleaned up; committed entries carry REAL value
    bounds computed executor-side (no driver footer sweep)."""
    from sling_cli_spark.sources.avro_py import read_avro
    from sling_cli_spark.sources.iceberg_py import (
        _active_entries, _current_metadata, _decode_bound, read_iceberg,
        write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        _IceStreamWriter, register_iceberg_stream)
    from sling_cli_spark.streaming.lake_stream import _SinkMsg

    register_iceberg_stream(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_iceberg(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), src)

    def drain():
        q = (spark.readStream.format("iceberg_stream").option("path", src)
             .load()
             .writeStream.format("iceberg_stream").option("path", dst)
             .option("txnAppId", "pipe-ice")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r["id"]: r["v"] for r in read_iceberg(spark, dst).collect()} \
        == {1: "a", 2: "b"}
    write_iceberg(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), src, mode="append")
    drain()
    got = read_iceberg(spark, dst).collect()
    assert {r["id"] for r in got} == {1, 2, 3} and len(got) == 3

    _, meta = _current_metadata(dst)
    assert meta["current-snapshot-id"] >= 0
    summaries = [s["summary"] for s in meta["snapshots"]]
    assert {sm.get("streaming-batch-id") for sm in summaries} == {"0", "1"}
    files, _, _ = _active_entries(dst, meta, None)
    ids = set()
    for f in files:
        assert f["record_count"] > 0
        lo = f.get("lower_bounds") or {}
        hi = f.get("upper_bounds") or {}
        assert lo and hi, "sink must record executor-computed bounds"
        fid = next(iter(sorted(lo)))
        ids.add((_decode_bound("long", lo[fid]),
                 _decode_bound("long", hi[fid])))
    assert (1, 2) in ids and (3, 3) in ids

    # simulate an engine re-delivery of an already-committed batch
    w = _IceStreamWriter(
        {"path": dst, "txnAppId": "pipe-ice"},
        spark.createDataFrame([], "id long, v string").schema)
    stray = os.path.join(dst, "data", "deadbeef.parquet")
    open(stray, "wb").close()
    v_before = _current_metadata(dst)[0]
    w.commit([_SinkMsg([{"rel": "deadbeef.parquet", "size": 0, "n": 1,
                         "partitionValues": {}}])], 1)
    assert _current_metadata(dst)[0] == v_before, "replay must not commit"
    assert not os.path.exists(stray)
    assert len(read_iceberg(spark, dst).collect()) == 3
    assert read_avro is not None


def test_iceberg_stream_guards(spark, tmp_path):
    """v1 sources/targets, partitioned targets and schema drift are
    refused loudly."""
    import pytest as _pytest

    from sling_cli_spark.sources.iceberg_py import write_iceberg
    from sling_cli_spark.streaming.iceberg_source import (
        IcebergStreamSource, _IceStreamWriter)

    t1 = str(tmp_path / "v1")
    write_iceberg(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t1, format_version=1)
    with _pytest.raises(ValueError, match="format-version 1"):
        IcebergStreamSource({"path": t1}).schema()

    tp = str(tmp_path / "parted")
    write_iceberg(spark.createDataFrame(
        [(1, "a", 10)], "id long, v string, grp long"), tp,
        partition_by=["grp"])
    sch = spark.createDataFrame([], "id long, v string, grp long").schema
    # partitioned targets are SUPPORTED (r8): the writer adopts the
    # recorded layout; only a disagreeing partitionBy refuses
    assert _IceStreamWriter({"path": tp}, sch)._part_cols == ["grp"]
    with _pytest.raises(ValueError, match="recorded layout"):
        _IceStreamWriter({"path": tp, "partitionby": "id"}, sch)

    t2 = str(tmp_path / "drift")
    write_iceberg(spark.createDataFrame(
        [(1, "a")], "id long, v string"), t2)
    with _pytest.raises(ValueError, match="columns"):
        _IceStreamWriter(
            {"path": t2},
            spark.createDataFrame([], "id long, other string").schema)


def test_delta_stream_sink_partitioned(spark, tmp_path):
    """Partitioned streaming Delta sink: one file per partition value
    per task, Hive dirs + add.partitionValues, layout recorded at
    first commit; the batch reader restores partition columns."""
    from sling_cli_spark.sources.delta_py import (
        read_delta, replay_log, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 10)],
        "id long, v string, grp long").coalesce(1), src)
    (spark.readStream.format("delta_stream").option("path", src).load()
     .writeStream.format("delta_stream").option("path", dst)
     .option("partitionBy", "grp")
     .option("checkpointLocation", ck)
     .trigger(availableNow=True).start().awaitTermination())
    meta, files = replay_log(dst)
    assert meta["partitionColumns"] == ["grp"]
    assert all(a["partitionValues"].get("grp") in ("10", "20")
               for a in files.values())
    assert all(rel.startswith("grp=") for rel in files)
    got = {r["id"]: r["grp"] for r in read_delta(spark, dst).collect()}
    assert got == {1: 10, 2: 20, 3: 10}


def test_iceberg_stream_sink_partitioned(spark, tmp_path):
    """Partitioned streaming Iceberg sink: identity layout under
    data/, manifest entries carry the partition tuple, reads restore
    the column; a mismatched partitionBy refuses."""
    import pytest as _pytest

    from sling_cli_spark.sources.iceberg_py import (
        _active_entries, _current_metadata, read_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        _IceStreamWriter, register_iceberg_stream)

    register_iceberg_stream(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_iceberg(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 10)],
        "id long, v string, grp long").coalesce(1), src)
    (spark.readStream.format("iceberg_stream").option("path", src).load()
     .writeStream.format("iceberg_stream").option("path", dst)
     .option("partitionBy", "grp")
     .option("checkpointLocation", ck)
     .trigger(availableNow=True).start().awaitTermination())
    _, meta = _current_metadata(dst)
    files, _, _ = _active_entries(dst, meta, None)
    assert {f["partition"]["grp"] for f in files} == {"10", "20"}
    got = {r["id"]: r["grp"] for r in read_iceberg(spark, dst).collect()}
    assert got == {1: 10, 2: 20, 3: 10}
    sch = spark.createDataFrame([], "id long, v string, grp long").schema
    with _pytest.raises(ValueError, match="recorded layout"):
        _IceStreamWriter({"path": dst, "partitionby": "id"}, sch)


def test_delta_stream_rate_limit_max_versions(spark, tmp_path):
    """maxVersionsPerTrigger=1: a BURST of three source commits landing
    mid-stream drains as THREE capped micro-batches (batch ids advance
    one version at a time in the sink's SetTransaction), not one
    backlog batch. Batch 0 is uncapped by API contract (the engine
    fixes the first range before consulting initialOffset)."""
    import time as _time

    from sling_cli_spark.sources.delta_py import (
        last_txn_version, read_delta, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    src, dst, ck = (str(tmp_path / d) for d in ("src", "dst", "ck"))
    write_delta(spark.createDataFrame(
        [(0, "v0")], "id long, v string").coalesce(1), src)
    q = (spark.readStream.format("delta_stream").option("path", src)
         .option("maxVersionsPerTrigger", "1").load()
         .writeStream.format("delta_stream").option("path", dst)
         .option("txnAppId", "rate-pipe")
         .option("checkpointLocation", ck)
         .trigger(processingTime="300 milliseconds").start())
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline \
                and last_txn_version(dst, "rate-pipe") is None:
            _time.sleep(0.2)  # batch 0 (uncapped) = version 0 only
        assert last_txn_version(dst, "rate-pipe") == 0
        for i in (1, 2, 3):  # the burst
            write_delta(spark.createDataFrame(
                [(i, f"v{i}")], "id long, v string").coalesce(1), src,
                mode="append")
        while _time.time() < deadline \
                and last_txn_version(dst, "rate-pipe") != 3:
            _time.sleep(0.2)
    finally:
        q.stop()
    assert last_txn_version(dst, "rate-pipe") == 3, \
        "3 burst versions at 1/trigger -> 3 more batches (ids 1..3)"
    assert {r["id"] for r in read_delta(spark, dst).collect()} \
        == {0, 1, 2, 3}


def test_iceberg_stream_rate_limit_max_snapshots(spark, tmp_path):
    import time as _time

    from sling_cli_spark.sources.iceberg_py import (
        _current_metadata, read_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    def batches(path):
        try:
            _, meta = _current_metadata(path)
        except Exception:
            return set()
        return {s["summary"].get("streaming-batch-id")
                for s in meta["snapshots"]
                if s["summary"].get("streaming-app-id") == "rate-ice"}

    register_iceberg_stream(spark)
    src, dst, ck = (str(tmp_path / d) for d in ("src", "dst", "ck"))
    write_iceberg(spark.createDataFrame(
        [(0, "v0")], "id long, v string").coalesce(1), src)
    q = (spark.readStream.format("iceberg_stream").option("path", src)
         .option("maxSnapshotsPerTrigger", "1").load()
         .writeStream.format("iceberg_stream").option("path", dst)
         .option("txnAppId", "rate-ice")
         .option("checkpointLocation", ck)
         .trigger(processingTime="300 milliseconds").start())
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline and not batches(dst):
            _time.sleep(0.2)
        assert batches(dst) == {"0"}
        for i in (1, 2, 3):
            write_iceberg(spark.createDataFrame(
                [(i, f"v{i}")], "id long, v string").coalesce(1), src,
                mode="append")
        while _time.time() < deadline and "3" not in batches(dst):
            _time.sleep(0.2)
    finally:
        q.stop()
    assert batches(dst) == {"0", "1", "2", "3"}, \
        "3 burst snapshots at 1/trigger -> 3 more batches"
    assert {r["id"] for r in read_iceberg(spark, dst).collect()} \
        == {0, 1, 2, 3}


def test_delta_stream_change_feed(spark, tmp_path):
    """readChangeFeed=true streams row CHANGES: cdc-file commits emit
    update pre/post images (the _change_type rides IN the file),
    derived commits emit insert/delete rows; an incremental second
    drain emits only the new commit's changes."""
    from sling_cli_spark.sources.delta_py import (
        delete_missing_delta, merge_delta, set_table_properties,
        write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    write_delta(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")],
        "id long, v string").coalesce(1), t)
    set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    merge_delta(spark, t, spark.createDataFrame(
        [(2, "b2"), (9, "new")], "id long, v string"), "id")

    def drain():
        (spark.readStream.format("delta_stream").option("path", t)
         .option("readChangeFeed", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start().awaitTermination())

    drain()
    got = {(r["_change_type"], r["id"], r["v"], r["_commit_version"])
           for r in spark.read.parquet(out).collect()}
    assert ("insert", 1, "a", 0) in got and ("insert", 3, "c", 0) in got
    assert ("update_preimage", 2, "b", 2) in got
    assert ("update_postimage", 2, "b2", 2) in got
    assert ("insert", 9, "new", 2) in got

    # a delete commits cdc files too (CDF table) — second drain emits
    # ONLY the new version's changes
    before = spark.read.parquet(out).count()
    delete_missing_delta(spark, t, spark.createDataFrame(
        [(2,), (9,)], "id long"), "id")
    drain()
    rows = spark.read.parquet(out).collect()
    new = [(r["_change_type"], r["id"]) for r in rows
           if r["_commit_version"] == 3]
    assert len(rows) == before + len(new) and len(new) > 0
    assert set(new) == {("delete", 1), ("delete", 3)}


def test_delta_stream_change_feed_refuses_derived_dv_commit(
        spark, tmp_path):
    """Without cdc files a commit's row changes are derived from its
    adds and removes; one that attaches a deletion vector cannot be
    derived, and the change-feed stream refuses it as an unsupported
    table feature."""
    from sling_cli_spark.sources.delta_py import (
        delete_missing_delta, set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    write_delta(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string")
        .coalesce(1), t)
    set_table_properties(t, {"delta.enableDeletionVectors": "true"})
    stats = delete_missing_delta(spark, t, spark.createDataFrame(
        [(i,) for i in range(10) if i != 3], "id long"), "id")
    assert stats.get("dv_files", 0) >= 1, stats
    with pytest.raises(Exception, match="underivable"):
        (spark.readStream.format("delta_stream").option("path", t)
         .option("readChangeFeed", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start().awaitTermination())


def test_iceberg_stream_changelog(spark, tmp_path):
    """readChangelog=true streams file-turnover row changes: a CoW
    merge emits delete rows for the touched file + insert rows for the
    rewrite; startingSequence skips the initial load; an eq-delete
    snapshot refuses toward the batch changelog."""
    from sling_cli_spark.sources.iceberg_py import (
        _current_metadata, merge_iceberg, upsert_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t, out, ck = (str(tmp_path / d) for d in ("t", "out", "ck"))
    write_iceberg(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), t)
    _, meta = _current_metadata(t)
    s1_seq = meta["last-sequence-number"]
    merge_iceberg(spark, t, spark.createDataFrame(
        [(2, "b2"), (9, "new")], "id long, v string"), "id")

    def drain():
        (spark.readStream.format("iceberg_stream").option("path", t)
         .option("readChangelog", "true")
         .option("startingSequence", str(s1_seq)).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start().awaitTermination())

    drain()
    got = {(r["_change_type"], r["id"], r["v"])
           for r in spark.read.parquet(out).collect()}
    assert got == {("delete", 1, "a"), ("delete", 2, "b"),
                   ("insert", 1, "a"), ("insert", 2, "b2"),
                   ("insert", 9, "new")}

    upsert_iceberg(spark, t, spark.createDataFrame(
        [(1, "a9")], "id long, v string"), "id")
    try:
        drain()
        raised = False
    except Exception as e:
        raised = "sequence-number scoping" in str(e)
    assert raised, "eq-delete snapshot must refuse in changelog mode"


def test_delta_stream_file_and_byte_admission(spark, tmp_path):
    """maxFilesPerTrigger / maxBytesPerTrigger: latestOffset admits
    whole versions until the budget is first met (at least one), never
    regressing the anchor — deterministic unit probe of the admission
    arithmetic (the e2e burst shape is timing-dependent; the
    maxVersionsPerTrigger e2e above covers the engine wiring)."""
    from sling_cli_spark.sources.delta_py import write_delta
    from sling_cli_spark.streaming.delta_source import _DeltaStreamReader

    src = str(tmp_path / "src")
    sizes = []
    for i in range(5):  # v0..v4, one file each
        write_delta(spark.createDataFrame(
            [(i, "x" * (10 + i))], "id long, v string").coalesce(1), src,
            mode="append")

    def reader(**opts):
        r = _DeltaStreamReader({
            "path": src,
            "maxVersionsPerTrigger": str(opts.get("max_versions", 0)),
            "maxFilesPerTrigger": str(opts.get("max_files", 0)),
            "maxBytesPerTrigger": str(opts.get("max_bytes", 0))})
        r.commit({"version": opts.get("anchor", -1)})
        return r

    # 2 files per trigger: anchor=-1 admits v0..v1, then v2..v3, then v4
    assert reader(max_files=2, anchor=-1).latestOffset() == {"version": 1}
    assert reader(max_files=2, anchor=1).latestOffset() == {"version": 3}
    assert reader(max_files=2, anchor=3).latestOffset() == {"version": 4}
    # a 1-byte budget still admits one whole version per trigger
    assert reader(max_bytes=1, anchor=-1).latestOffset() == {"version": 0}
    assert reader(max_bytes=1, anchor=0).latestOffset() == {"version": 1}
    # big budgets admit the whole backlog; version cap composes (min)
    assert reader(max_files=100, anchor=-1).latestOffset() \
        == {"version": 4}
    assert reader(max_files=100, max_versions=2, anchor=-1) \
        .latestOffset() == {"version": 1}
    # anchor at head: nothing new, never regress
    assert reader(max_files=2, anchor=4).latestOffset() == {"version": 4}


def test_iceberg_stream_file_and_byte_admission(spark, tmp_path):
    """Iceberg twins of the delta file/byte caps: budgets read the
    snapshot summary counters (no manifest opens) and admit whole
    snapshots until first met."""
    from sling_cli_spark.sources.iceberg_py import write_iceberg
    from sling_cli_spark.streaming.iceberg_source import _IceStreamReader

    src = str(tmp_path / "src")
    for i in range(5):  # seq 1..5, one file each
        write_iceberg(spark.createDataFrame(
            [(i, "x")], "id long, v string").coalesce(1), src)

    def reader(**opts):
        r = _IceStreamReader({
            "path": src,
            "maxSnapshotsPerTrigger": str(opts.get("max_snapshots", 0)),
            "maxFilesPerTrigger": str(opts.get("max_files", 0)),
            "maxBytesPerTrigger": str(opts.get("max_bytes", 0))})
        r.commit({"seq": opts.get("anchor", 0)})
        return r

    assert reader(max_files=2, anchor=0).latestOffset() == {"seq": 2}
    assert reader(max_files=2, anchor=2).latestOffset() == {"seq": 4}
    assert reader(max_files=2, anchor=4).latestOffset() == {"seq": 5}
    assert reader(max_bytes=1, anchor=0).latestOffset() == {"seq": 1}
    assert reader(max_files=100, anchor=0).latestOffset() == {"seq": 5}
    assert reader(max_files=100, max_snapshots=3, anchor=0) \
        .latestOffset() == {"seq": 3}
    assert reader(max_files=2, anchor=5).latestOffset() == {"seq": 5}


def test_delta_stream_caps_admit_through_log_holes(spark, tmp_path):
    """A cleaned commit inside the pending range must be ADMITTED by
    the budget walk so partitions() fails loudly — breaking at the
    anchor would stall the stream forever while reporting healthy."""
    import os as _os

    import pytest as _pytest

    from sling_cli_spark.sources.delta_py import write_delta
    from sling_cli_spark.streaming.delta_source import (
        _DeltaStreamReader, _require_full_range)

    src = str(tmp_path / "src")
    for i in range(4):  # v0..v3
        write_delta(spark.createDataFrame(
            [(i, "x")], "id long, v string").coalesce(1), src,
            mode="append")
    _os.remove(_os.path.join(src, "_delta_log", f"{1:020d}.json"))

    r = _DeltaStreamReader({"path": src, "maxFilesPerTrigger": "1"})
    r.commit({"version": 0})
    end = r.latestOffset()
    assert end["version"] >= 1, "the hole version must be admitted"
    with _pytest.raises(ValueError, match="cleaned|has"):
        _require_full_range([v for v in (0, 2, 3)
                             if 0 < v <= end["version"]],
                            0, end["version"], src)


def test_iceberg_stream_with_row_lineage(spark, tmp_path):
    """r11 (verdict ask #3): option("withRowLineage", true) on
    format("iceberg_stream") materializes _row_id /
    _last_updated_sequence_number per micro-batch from manifest
    metadata (first_row_id + position / data sequence number). The
    streamed ids must equal the batch read_iceberg(with_row_ids=True)
    twin; v2 tables and changelog composition refuse loudly."""
    from sling_cli_spark.sources.iceberg_py import (
        read_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_iceberg(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), t,
        format_version=3)
    write_iceberg(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), t, mode="append")

    q = (spark.readStream.format("iceberg_stream").option("path", t)
         .option("withRowLineage", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["id"], r["_row_id"],
                 r["_last_updated_sequence_number"])
                for r in spark.read.parquet(out).collect()}
    batch = {(r["id"], r["_row_id"],
              r["_last_updated_sequence_number"])
             for r in read_iceberg(spark, t, with_row_ids=True)
             .collect()}
    assert streamed == batch and len(streamed) == 3
    assert all(rid is not None and seq is not None
               for _, rid, seq in streamed)

    # v2 table refuses
    t2 = str(tmp_path / "t2")
    write_iceberg(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t2,
        format_version=2)
    with pytest.raises(Exception, match="format-version 3"):
        (spark.readStream.format("iceberg_stream").option("path", t2)
         .option("withRowLineage", "true").load())
    # changelog composition refuses
    with pytest.raises(Exception, match="changelog|compose"):
        (spark.readStream.format("iceberg_stream").option("path", t)
         .option("withRowLineage", "true")
         .option("readChangelog", "true").load())


def test_delta_stream_with_row_ids(spark, tmp_path):
    """r11 (verdict ask #3, format twin): option("withRowIds", true)
    on format("delta_stream") emits _row_id / _row_commit_version from
    each add's (baseRowId, defaultRowCommitVersion); equals the batch
    read_delta(with_row_ids=True); refuses without row tracking."""
    from sling_cli_spark.sources.delta_py import (
        read_delta, set_table_properties, write_delta)
    from sling_cli_spark.streaming.delta_source import (
        register_delta_stream)

    register_delta_stream(spark)
    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_delta(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), t)
    set_table_properties(t, {"delta.enableRowTracking": "true"})
    write_delta(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), t, mode="append")

    q = (spark.readStream.format("delta_stream").option("path", t)
         .option("withRowIds", "true").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["id"], r["_row_id"], r["_row_commit_version"])
                for r in spark.read.parquet(out).collect()}
    batch = {(r["id"], r["_row_id"], r["_row_commit_version"])
             for r in read_delta(spark, t, with_row_ids=True)
             .collect()}
    assert streamed == batch and len(streamed) == 3

    # a table without row tracking refuses at planning time
    t2 = str(tmp_path / "t2")
    write_delta(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), t2)
    with pytest.raises(Exception, match="baseRowId|row tracking"):
        q2 = (spark.readStream.format("delta_stream")
              .option("path", t2).option("withRowIds", "true").load()
              .writeStream.format("parquet")
              .option("path", str(tmp_path / "o2"))
              .option("checkpointLocation", str(tmp_path / "c2"))
              .trigger(availableNow=True).start())
        q2.awaitTermination()


def test_cdc_stream_into_iceberg_eq_upsert(spark, tmp_path):
    """r11: streaming CDC into an ICEBERG target — each micro-batch
    commits ONE Flink-style equality-delete upsert (upserts re-insert,
    'd' ops ride the same eq-delete files with no data rows; the
    target is never scanned). Result matches the Delta foreachBatch
    merge twin's semantics: last op wins per key across batches."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from sling_cli_spark.sources.iceberg_py import (
        read_iceberg, write_iceberg)
    from sling_cli_spark.streaming.cdc import run_cdc_pipeline

    src_dir = str(tmp_path / "in")
    _os.makedirs(src_dir)

    def env(op, uid, val, seq):
        img = {"user_id": uid, "value": val, "event_id": seq}
        return _json.dumps({
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "op": op, "ts_ms": seq})

    batches = [
        [env("c", 1, 1.0, 1), env("c", 2, 2.0, 2), env("c", 3, 3.0, 3)],
        [env("u", 1, 10.0, 4), env("d", 2, 2.0, 5)],
        # delete then re-create inside one batch: last op wins
        [env("d", 3, 3.0, 6), env("c", 3, 30.0, 7), env("c", 4, 4.0, 8)],
    ]
    import time as _time
    now = _time.time()
    for k, lines in enumerate(batches):
        p = _os.path.join(src_dir, f"b{k:03d}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(lines))
        # the file source orders micro-batches by MODIFICATION TIME and
        # same-second ties break arbitrarily — pin distinct mtimes so
        # the cross-batch last-write-wins assertion is deterministic
        _os.utime(p, (now + 10 * k, now + 10 * k))

    row_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_id", T.LongType())])
    target = str(tmp_path / "t")
    write_iceberg(spark.createDataFrame([], row_schema), target)
    run_cdc_pipeline(
        spark,
        {"format": "json", "envelope": "debezium", "path": src_dir,
         "max_files_per_trigger": 1},
        row_schema, target, "user_id",
        checkpoint=str(tmp_path / "ck"))
    got = {r.user_id: (r.value, r.event_id)
           for r in read_iceberg(spark, target).collect()}
    assert got == {1: (10.0, 4), 3: (30.0, 7), 4: (4.0, 8)}, got


def test_iceberg_stream_pipe_v3_lineage_roundtrip(spark, tmp_path):
    """r11: the FULL streaming lineage loop — a v3 source streams
    through an iceberg->iceberg pipe whose SINK creates the target at
    formatVersion=3 (every micro-batch commit assigns first_row_id
    ranges), then a withRowLineage stream READ of the target yields
    dense non-null ids that match the batch read."""
    from sling_cli_spark.sources.iceberg_py import (
        read_iceberg, write_iceberg)
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_iceberg_stream(spark)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_iceberg(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1), src,
        format_version=3)
    write_iceberg(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), src,
        mode="append")

    q = (spark.readStream.format("iceberg_stream").option("path", src)
         .load()
         .writeStream.format("iceberg_stream").option("path", dst)
         .option("formatVersion", "3")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    batch = read_iceberg(spark, dst, with_row_ids=True)
    rows = {(r.id, r._row_id) for r in batch.collect()}
    assert len(rows) == 3
    assert sorted(rid for _, rid in rows) == [0, 1, 2], rows

    out = str(tmp_path / "out")
    q2 = (spark.readStream.format("iceberg_stream").option("path", dst)
          .option("withRowLineage", "true").load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    streamed = {(r.id, r._row_id)
                for r in spark.read.parquet(out).collect()}
    assert streamed == rows
