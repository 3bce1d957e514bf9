"""SQL-backed Iceberg catalog (reference database_iceberg.go —
IcebergConn over iceberg-go catalog/sql; see iceberg_catalog.py
docstring for the line map)."""

import json
import os
import threading

import pytest

from pyspark.sql import functions as F

from sling_cli_spark.sources.iceberg_catalog import (
    CommitConflict, NamespaceNotEmpty, NoSuchNamespace, NoSuchTable,
    SqlCatalog, TableAlreadyExists, create_table, max_value,
    read_table, repair_pointer, table_columns, write_table)


@pytest.fixture
def cat(tmp_path):
    return SqlCatalog(str(tmp_path / "catalog.db"),
                      warehouse=str(tmp_path / "wh"))


def test_namespace_crud(cat):
    cat.create_namespace("analytics", {"owner": "etl"})
    with pytest.raises(Exception):
        cat.create_namespace("analytics")
    cat.create_namespace("analytics", exists_ok=True)
    assert cat.list_namespaces() == ["analytics"]
    assert cat.namespace_properties("analytics")["owner"] == "etl"
    with pytest.raises(NoSuchNamespace):
        cat.namespace_properties("nope")
    cat.drop_namespace("analytics")
    assert cat.list_namespaces() == []


def test_create_write_read_roundtrip(cat, spark):
    cat.create_namespace("db")
    loc = create_table(
        cat, "db.orders", spark.range(0).select(
            F.col("id").cast("long"),
            F.lit("x").alias("v")).schema)
    # created EMPTY (reference CreateTable:1015): pointer at v1,
    # zero snapshots
    assert read_table(cat, spark, "db.orders").count() == 0
    assert cat.load_table("db.orders").endswith("v1.metadata.json")
    assert loc.endswith(os.path.join("db.db", "orders"))

    df = spark.range(5).select("id", F.lit("a").alias("v"))
    write_table(df, cat, "db.orders")
    write_table(df.withColumn("id", F.col("id") + 5), cat, "db.orders")
    got = read_table(cat, spark, "db.orders")
    assert {r["id"] for r in got.collect()} == set(range(10))
    assert cat.load_table("db.orders").endswith("v3.metadata.json")
    # overwrite replaces
    write_table(df, cat, "db.orders", mode="overwrite")
    assert read_table(cat, spark, "db.orders").count() == 5

    assert table_columns(cat, "db.orders") == [
        ("id", "long", False), ("v", "string", False)]
    assert ("db", "orders") in cat.list_tables()
    with pytest.raises(NoSuchTable):
        cat.load_table("db.ghost")


def test_pointer_cas_conflict_and_rollback(cat, spark):
    cat.create_namespace("db")
    create_table(cat, "db.t", spark.range(0).schema)
    df = spark.range(3)
    write_table(df, cat, "db.t")
    ml = cat.load_table("db.t")
    # a foreign committer moves the pointer behind our back
    cat.commit_table("db.t", ml, ml.replace(
        "v2.metadata.json", "v9.metadata.json"))
    with pytest.raises(CommitConflict):
        cat.commit_table("db.t", ml, "anything")


def test_losing_writer_rolls_back_hint(cat, spark, tmp_path):
    cat.create_namespace("db")
    loc = create_table(cat, "db.t", spark.range(0).schema)
    write_table(spark.range(3), cat, "db.t")
    # simulate a racer: swap the catalog row under the live table
    ml = cat.load_table("db.t")
    fake = ml.replace("v2.metadata.json", "v0.metadata.json")
    cat.commit_table("db.t", ml, fake)
    cat.commit_table("db.t", fake, ml)  # back, but via two commits:
    # now stage OUR write against a pointer that will move mid-flight
    other = SqlCatalog(str(tmp_path / "catalog.db"))
    hint = os.path.join(loc, "metadata", "version-hint.text")
    before = open(hint).read()

    orig = SqlCatalog.commit_table

    def racing_commit(self, ident, expected, new):
        # the racer commits first, exactly once
        if not getattr(racing_commit, "hit", False):
            racing_commit.hit = True
            orig(other, "db.t", expected,
                 expected.replace("v2.", "v99."))
        return orig(self, ident, expected, new)

    SqlCatalog.commit_table = racing_commit
    try:
        with pytest.raises(CommitConflict):
            write_table(spark.range(5), cat, "db.t")
    finally:
        SqlCatalog.commit_table = orig
    # loser rolled the hint back and withdrew its metadata file
    assert open(hint).read() == before
    assert not os.path.exists(
        os.path.join(loc, "metadata", "v3.metadata.json"))


def test_stale_pointer_guard_and_repair(cat, spark):
    cat.create_namespace("db")
    loc = create_table(cat, "db.t", spark.range(0).schema)
    write_table(spark.range(3), cat, "db.t")
    # catalog points at v2; a PATH writer advances the hint to v3
    from sling_cli_spark.sources.iceberg_py import write_iceberg
    write_iceberg(spark.range(3, 6), loc)
    with pytest.raises(CommitConflict, match="hint v3"):
        write_table(spark.range(9), cat, "db.t")
    # catalog readers still see the catalog's snapshot (v2: 3 rows)
    assert read_table(cat, spark, "db.t").count() == 3
    # roll the pointer forward, then both converge
    ml = repair_pointer(cat, "db.t")
    assert ml.endswith("v3.metadata.json")
    assert read_table(cat, spark, "db.t").count() == 6
    write_table(spark.range(6, 9), cat, "db.t")
    assert read_table(cat, spark, "db.t").count() == 9


def test_rename_swap_drop(cat, spark):
    cat.create_namespace("db")
    create_table(cat, "db.a", spark.range(0).schema)
    create_table(cat, "db.b", spark.range(0).schema)
    write_table(spark.range(2), cat, "db.a")
    write_table(spark.range(7), cat, "db.b")
    # atomic swap (reference SwapTable:1185 needs 3 renames; SQL
    # catalog does it in one transaction)
    cat.swap_tables("db.a", "db.b")
    assert read_table(cat, spark, "db.a").count() == 7
    assert read_table(cat, spark, "db.b").count() == 2
    cat.rename_table("db.b", "db.c")
    assert cat.table_exists("db.c") and not cat.table_exists("db.b")
    with pytest.raises(TableAlreadyExists):
        cat.rename_table("db.c", "db.a")
    with pytest.raises(NamespaceNotEmpty):
        cat.drop_namespace("db")
    cat.drop_table("db.a")
    cat.drop_table("db.c")
    cat.drop_namespace("db")


def test_max_value_from_manifests_no_scan(cat, spark):
    """Reference GetMaxValue:671 — watermark from manifest upper
    bounds, zero data file reads."""
    cat.create_namespace("db")
    df = spark.range(100).select(
        F.col("id").cast("long"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("k"), F.lpad(
            F.col("id").cast("string"), 3, "0")).alias("s"))
    create_table(cat, "db.t", df.schema)
    write_table(df.repartition(4), cat, "db.t")
    assert max_value(cat, "db.t", "id") == 99
    assert max_value(cat, "db.t", "x") == 99.0
    assert max_value(cat, "db.t", "s") == "k099"
    # date bounds decode to epoch days per the spec's single-value form
    import datetime
    days = max_value(cat, "db.t", "d")
    assert datetime.date(1970, 1, 1) + \
        datetime.timedelta(days=days) == datetime.date(2024, 4, 9)


def test_max_value_reads_bounds_from_before_a_promotion(cat, spark):
    """A file written while ``id`` was int keeps 4-byte bounds after
    the int -> long promotion; the watermark still counts it."""
    cat.create_namespace("db")
    create_table(cat, "db.t", spark.range(0).selectExpr(
        "cast(id as int) id").schema)
    write_table(spark.range(90, 100).selectExpr("cast(id as int) id"),
                cat, "db.t")
    write_table(spark.range(1, 10), cat, "db.t")
    assert max_value(cat, "db.t", "id") == 99


def test_concurrent_commits_serialize(cat, spark, tmp_path):
    """Two threads CAS against the same pointer: exactly one wins per
    round — the sqlite conditional UPDATE serializes them."""
    cat.create_namespace("db")
    create_table(cat, "db.t", spark.range(0).schema)
    write_table(spark.range(1), cat, "db.t")
    ml = cat.load_table("db.t")
    wins, losses = [], []

    def contender(i):
        c = SqlCatalog(str(tmp_path / "catalog.db"))
        try:
            c.commit_table("db.t", ml, f"{ml}.winner{i}")
            wins.append(i)
        except CommitConflict:
            losses.append(i)

    ts = [threading.Thread(target=contender, args=(i,))
          for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1 and len(losses) == 7


def test_register_existing_path_table(cat, spark, tmp_path):
    from sling_cli_spark.sources.iceberg_py import write_iceberg
    loc = str(tmp_path / "ext")
    write_iceberg(spark.range(4), loc)
    cat.create_namespace("db")
    with open(os.path.join(loc, "metadata",
                           "version-hint.text")) as f:
        v = int(f.read())
    cat.register_table(
        "db.ext", os.path.join(loc, "metadata",
                               f"v{v}.metadata.json"))
    assert read_table(cat, spark, "db.ext").count() == 4
    meta = json.loads(open(cat.load_table("db.ext")).read())
    assert meta["location"]


def test_commit_many_atomic(cat, tmp_path):
    """r10: multi-table pointer CAS is all-or-nothing — a stale
    expectation on the SECOND table rolls the first back too."""
    from sling_cli_spark.sources.iceberg_catalog import CommitConflict

    cat.create_namespace("db")
    cat.register_table("db.a", "/wh/a/metadata/v1.metadata.json")
    cat.register_table("db.b", "/wh/b/metadata/v1.metadata.json")
    cat.commit_many([
        ("db.a", "/wh/a/metadata/v1.metadata.json",
         "/wh/a/metadata/v2.metadata.json"),
        ("db.b", "/wh/b/metadata/v1.metadata.json",
         "/wh/b/metadata/v2.metadata.json")])
    assert cat.load_table("db.a").endswith("v2.metadata.json")
    assert cat.load_table("db.b").endswith("v2.metadata.json")
    import pytest as _pytest
    with _pytest.raises(CommitConflict, match="no table moved"):
        cat.commit_many([
            ("db.a", "/wh/a/metadata/v2.metadata.json",
             "/wh/a/metadata/v3.metadata.json"),
            ("db.b", "/wh/b/metadata/v1.metadata.json",  # STALE
             "/wh/b/metadata/v3.metadata.json")])
    # table a did NOT move despite its CAS matching
    assert cat.load_table("db.a").endswith("v2.metadata.json")
    assert cat.load_table("db.b").endswith("v2.metadata.json")
    # creation inside the transaction
    cat.commit_many([
        ("db.c", None, "/wh/c/metadata/v1.metadata.json"),
        ("db.a", "/wh/a/metadata/v2.metadata.json",
         "/wh/a/metadata/v3.metadata.json")])
    assert cat.load_table("db.c").endswith("v1.metadata.json")
    assert cat.load_table("db.a").endswith("v3.metadata.json")


def test_run_committed_many_writes_and_rollback(cat, spark):
    """r10: two tables written under ONE transaction; a conflict
    injected at commit time withdraws BOTH tables' staged metadata
    and rolls their hints back."""
    import pytest as _pytest

    from sling_cli_spark.sources.iceberg_catalog import (
        CommitConflict, run_committed_many)
    from sling_cli_spark.sources.iceberg_py import write_iceberg

    cat.create_namespace("db")
    a = spark.range(5).selectExpr("id", "id * 2 as x")
    create_table(cat, "db.a", a.schema)
    create_table(cat, "db.b", a.schema)
    out = run_committed_many(cat, [
        ("db.a", lambda loc: write_iceberg(a, loc, mode="append")),
        ("db.b", lambda loc: write_iceberg(a, loc, mode="append")),
    ])
    assert len(out) == 2
    assert read_table(cat, spark, "db.a").count() == 5
    assert read_table(cat, spark, "db.b").count() == 5

    # sabotage: move db.b's pointer behind the transaction's back
    ml_b = cat.load_table("db.b")
    hint_a = cat.load_table("db.a")

    class _Sabotage:
        def __getattr__(self, k):
            return getattr(cat, k)

        def commit_many(self, changes):
            raise CommitConflict("injected")

    with _pytest.raises(CommitConflict):
        run_committed_many(_Sabotage(), [
            ("db.a", lambda loc: write_iceberg(a, loc,
                                               mode="append")),
            ("db.b", lambda loc: write_iceberg(a, loc,
                                               mode="append")),
        ])
    # pointers unmoved, hints rolled back, counts unchanged
    assert cat.load_table("db.a") == hint_a
    assert cat.load_table("db.b") == ml_b
    assert read_table(cat, spark, "db.a").count() == 5
    assert read_table(cat, spark, "db.b").count() == 5


def test_pre_views_store_migrates_iceberg_type(tmp_path):
    """r11 advice fix: catalog DBs created before the views feature
    lack the iceberg_type column; init must ALTER it in (the Java JDBC
    catalog migrates the same way), or every list/load/commit on an
    old store dies with 'no such column: iceberg_type'."""
    import sqlite3

    db = str(tmp_path / "old.db")
    with sqlite3.connect(db) as c:
        c.execute("""
            CREATE TABLE iceberg_tables (
                catalog_name TEXT NOT NULL,
                table_namespace TEXT NOT NULL,
                table_name TEXT NOT NULL,
                metadata_location TEXT,
                previous_metadata_location TEXT,
                PRIMARY KEY (catalog_name, table_namespace,
                             table_name))""")
        c.execute("""
            CREATE TABLE iceberg_namespace_properties (
                catalog_name TEXT NOT NULL,
                namespace TEXT NOT NULL,
                property_key TEXT NOT NULL,
                property_value TEXT,
                PRIMARY KEY (catalog_name, namespace, property_key))""")
        c.execute("INSERT INTO iceberg_namespace_properties VALUES "
                  "('sling', 'db', 'exists', 'true')")
        c.execute("INSERT INTO iceberg_tables VALUES "
                  "('sling', 'db', 'legacy', '/nowhere/v1.json', NULL)")
    cat = SqlCatalog(db, warehouse=str(tmp_path / "wh"))
    assert cat.list_tables("db") == [("db", "legacy")]  # was: OperationalError
    assert cat.load_table("db.legacy") == "/nowhere/v1.json"
    cat.commit_table("db.legacy", "/nowhere/v1.json", "/nowhere/v2.json")
    assert cat.load_table("db.legacy") == "/nowhere/v2.json"
    # re-init on the migrated store is a no-op
    assert SqlCatalog(db).list_tables("db") == [("db", "legacy")]
