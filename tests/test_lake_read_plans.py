"""Lake reads plan from table metadata: defining ``read_iceberg`` or
``read_delta`` submits no Spark job, whatever merge-on-read debt the
table carries, and deletion vectors small enough to broadcast decode on
the driver (no ``MapInPandas`` in the plan) with the same rows the
executor-side expansion returns."""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sling_cli_spark.sources import delta_dv
from sling_cli_spark.sources import delta_py as D
from sling_cli_spark.sources import iceberg_py as I


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, rows, ddl="id long, v string"):
    return spark.createDataFrame(rows, ddl)


def _ice_plain(spark, t):
    I.write_iceberg(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    I.write_iceberg(_df(spark, [(3, "c")]).coalesce(1), t)
    return {(1, "a"), (2, "b"), (3, "c")}


def _ice_eq_deletes(spark, t):
    I.write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t,
                    format_version=2)
    I.upsert_iceberg(spark, t, _df(spark, [(2, "B")]), "id")
    I.upsert_iceberg(spark, t, _df(spark, [(3, "C")]), "id",
                     delete_keys=_df(spark, [(1,)], "id long"))
    return {(2, "B"), (3, "C")}


def _ice_pos_deletes(spark, t):
    """A foreign v2 position delete file naming one row."""
    from test_iceberg import _upgrade_to_v2_with_delete

    I.write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    _, meta = I._current_metadata(t)
    victim = spark.read.parquet(
        *[f["file_path"] for f in I._active_files(t, meta, None)]) \
        .selectExpr("id", "_metadata.file_path AS fp",
                    "_metadata.row_index AS pos").filter("id = 2").first()
    _upgrade_to_v2_with_delete(
        spark, t, content=1,
        del_table=pa.table({"file_path": [I._canon(victim["fp"])],
                            "pos": [victim["pos"]]}))
    return {(1, "a"), (3, "c")}


def _ice_dvs(spark, t):
    I.write_iceberg(_df(spark, [(i, f"v{i}") for i in range(20)])
                    .repartition(2), t, format_version=3)
    keep = _df(spark, [(i,) for i in range(20) if i % 4], "id long")
    assert I.delete_missing_iceberg(spark, t, keep, "id",
                                    use_dvs=True)["dv_files"] == 2
    return {(i, f"v{i}") for i in range(20) if i % 4}


ICEBERG_TABLES = {"data_only": _ice_plain, "equality_deletes": _ice_eq_deletes,
                  "position_deletes": _ice_pos_deletes, "v3_dvs": _ice_dvs}


@pytest.mark.parametrize("kind", sorted(ICEBERG_TABLES))
def test_read_iceberg_definition_runs_no_job(spark, spark_jobs, tmp_path,
                                             kind):
    t = str(tmp_path / "t")
    want = ICEBERG_TABLES[kind](spark, t)
    with spark_jobs() as jobs:
        df = I.read_iceberg(spark, t)
    assert jobs.count == 0
    assert set(_rows(df)) == want


def test_spark_jobs_helper_counts_jobs(spark, spark_jobs):
    with spark_jobs() as jobs:
        spark.range(10).count()
    assert jobs.count >= 1


def _delta_dv_table(spark, t):
    D.write_delta(spark.range(0, 40).selectExpr("id", "id % 3 AS v")
                  .repartition(2), t)
    _, files = D.replay_log(t)
    delta_dv.add_deletion_vectors(t, {rel: [0, 2, 5] for rel in files})
    return 40 - 3 * len(files)


def test_read_delta_dv_definition_runs_no_job(spark, spark_jobs, tmp_path):
    t = str(tmp_path / "t")
    n = _delta_dv_table(spark, t)
    with spark_jobs() as jobs:
        df = D.read_delta(spark, t)
    assert jobs.count == 0
    assert df.count() == n


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_small_dvs_decode_on_driver_and_match_executor_path(
        spark, tmp_path, fmt):
    """Below the broadcast threshold the deleted positions are a local
    relation; with the threshold set very low they expand on executors
    through ``mapInPandas`` — to the same rows."""
    t = str(tmp_path / "t")
    if fmt == "delta":
        _delta_dv_table(spark, t)
        read = D.read_delta
    else:
        _ice_dvs(spark, t)
        read = I.read_iceberg
    small = read(spark, t)
    assert "MapInPandas" not in _plan(small)
    want = _rows(small)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        big = read(spark, t)
        assert "MapInPandas" in _plan(big)
        assert _rows(big) == want
    finally:
        spark.conf.set(key, old)


# ---- schema evolution and layouts through the table-schema read

def test_added_column_reads_null_in_older_files(spark, tmp_path):
    t = str(tmp_path / "t")
    I.write_iceberg(_df(spark, [(1, "a")]), t)
    I.write_iceberg(_df(spark, [(2, "b", 2.5)],
                        "id long, v string, w double"), t)
    df = I.read_iceberg(spark, t)
    assert df.columns == ["id", "v", "w"]
    assert _rows(df) == [(1, "a", None), (2, "b", 2.5)]


def _promote(t, types):
    """Record a type promotion the way an engine's ALTER COLUMN does: a
    new current schema with the same field ids and wider types."""
    version, meta = I._current_metadata(t)
    cur = I._current_schema(meta)
    sid = 1 + max(s["schema-id"] for s in meta["schemas"])
    meta["schemas"].append({**cur, "schema-id": sid, "fields": [
        {**f, "type": types.get(f["name"], f["type"])}
        for f in cur["fields"]]})
    meta["current-schema-id"] = sid
    meta_dir = os.path.join(t, "metadata")
    with open(os.path.join(meta_dir, f"v{version + 1}.metadata.json"),
              "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version + 1))


def test_promoted_columns_read_as_promoted_type(spark, tmp_path):
    t = str(tmp_path / "t")
    I.write_iceberg(_df(spark, [(1, 1.5)], "id int, x float"), t)
    _promote(t, {"id": "long", "x": "double"})
    I.write_iceberg(_df(spark, [(2 ** 40, 0.1)], "id long, x double"), t)
    df = I.read_iceberg(spark, t)
    assert dict(df.dtypes) == {"id": "bigint", "x": "double"}
    assert _rows(df) == [(1, 1.5), (2 ** 40, 0.1)]


def test_materialized_row_ids_stay_out_of_plain_reads(spark, tmp_path):
    t = str(tmp_path / "t")
    I.write_iceberg(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t,
                    format_version=3)
    I.merge_iceberg(spark, t, _df(spark, [(2, "B")]), "id")
    names = {n for p in glob.glob(os.path.join(t, "data", "**", "*.parquet"),
                                  recursive=True)
             for n in pq.read_schema(p).names}
    assert "_row_id" in names  # the rewrite materialized lineage ids
    assert I.read_iceberg(spark, t).columns == ["id", "v"]
    lineage = I.read_iceberg(spark, t, with_row_ids=True)
    assert lineage.columns == [
        "id", "v", "_row_id", "_last_updated_sequence_number"]
    assert sorted(r["_row_id"] for r in lineage.collect()) == [0, 1]


def _layout_identity(spark, t):
    I.write_iceberg(_df(spark, [(1, "a", 10), (2, "b", 20)],
                        "id long, v string, grp long"), t,
                    partition_by=["grp"])


def _layout_transform(spark, t):
    I.write_iceberg(_df(spark, [(1, "a", 10), (2, "b", 20)],
                        "id long, v string, grp long"), t,
                    partition_by=["bucket(4, id)"])


def _layout_evolved(spark, t):
    I.write_iceberg(_df(spark, [(1, "a", 10)],
                        "id long, v string, grp long"), t)
    I.evolve_partition_spec(t, ["grp"])
    I.write_iceberg(_df(spark, [(2, "b", 20)],
                        "id long, v string, grp long"), t)


def _layout_migrated(spark, t):
    _df(spark, [(1, "a", 10)], "id long, v string, grp long") \
        .write.partitionBy("grp").parquet(t)
    I.migrate_to_iceberg(spark, t)
    I.write_iceberg(_df(spark, [(2, "b", 20)],
                        "id long, v string, grp long"), t)
    _, meta = I._current_metadata(t)
    roots = {I._canon(f["file_path"]).startswith(
        I._absolute(os.path.join(t, "data")) + "/")
        for f in I._active_files(t, meta, None)}
    assert roots == {True, False}  # files under both roots


@pytest.mark.parametrize("layout", [
    _layout_identity, _layout_transform, _layout_evolved, _layout_migrated],
    ids=["identity", "transform", "evolved", "migrated"])
def test_partition_layouts_read_table_rows(spark, spark_jobs, tmp_path,
                                           layout):
    t = str(tmp_path / "t")
    layout(spark, t)
    with spark_jobs() as jobs:
        df = I.read_iceberg(spark, t)
    assert jobs.count == 0
    assert sorted(df.columns) == ["grp", "id", "v"]
    # the table schema types every column, partition columns included
    _, meta = I._current_metadata(t)
    assert sorted(df.schema.fields, key=lambda f: f.name) == sorted(
        I._spark_schema(meta).fields, key=lambda f: f.name)
    assert sorted(df.select("id", "v", "grp").collect()) == [
        (1, "a", 10), (2, "b", 20)]
