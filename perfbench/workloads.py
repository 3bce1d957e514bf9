"""The closed-loop workloads. Each runs from the one driver process;
every task starts after the previous one returns (README: "Workloads").

A workload object has:

- ``setup()``: write the generated inputs of ``rounds`` rounds and run
  one untimed warm-up operation of each kind (counted in ``setup_s``);
- ``load_round(i)``: round ``i`` of the timed load phase; returns the
  source rows committed and the bytes of generated input its tasks read;
- ``read()``: the fixed read-back set over the tables the load made;
- ``check()``: compare the final tables with results computed from the
  generated inputs alone;
- ``targets`` (dirs whose written bytes count), ``live()`` (live bytes
  and rows of the final state) and ``storage()`` (facts for the
  per-layer table).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from perfbench import gen, oracle


def _scan(df, key: str):
    """One full scan: row count, key sum and a hash over every column,
    so the read cannot skip any column or any delete file."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.col(key)).alias("k"),
               F.max(F.xxhash64(*cols)).alias("h")).collect()[0]
    return int(r["n"]), int(r["k"] or 0)


def _key_stats(tbl: pa.Table, key: str) -> tuple[int, int]:
    """The (count, key sum) a read-back scan of ``tbl`` must give."""
    return tbl.num_rows, int(pc.sum(tbl.column(key)).as_py() or 0)


class _Base:
    name = ""

    def __init__(self, run, tracer, ops, seed: int, rounds: int):
        self.run = run
        self.spark = run.spark
        self.tracer = tracer
        self.ops = ops
        self.seed = seed
        self.rounds = rounds
        self.targets: list[str] = []

    def _frame(self, fmt: str, path: str):
        """The engine's read of table ``path`` (a plain Spark read for
        parquet targets)."""
        from sling_cli_spark.sources.delta_py import read_delta
        from sling_cli_spark.sources.iceberg_py import read_iceberg

        if fmt == "delta":
            return read_delta(self.spark, path)
        if fmt == "iceberg":
            return read_iceberg(self.spark, path)
        return self.spark.read.parquet(path)

    def _read_one(self, fmt: str, path: str, key: str,
                  expect: tuple[int, int], label: str):
        """Read ``path`` through the engine and scan it once; the count
        and key sum must match ``expect``."""
        df = self._frame(fmt, path)
        scan = {"delta": "delta_py.scan", "iceberg": "iceberg_py.scan"}.get(
            fmt, "bench.scan")
        with self.tracer.span(scan):
            got = _scan(df, key)
        self.ops.check(f"{self.name}: read {label}", got == expect)

    def _read_table(self, fmt: str, path: str) -> pa.Table:
        return self._frame(fmt, path).toArrow()

    def storage(self) -> dict:
        out = {"delta_log_bytes": 0, "iceberg_metadata_bytes": 0,
               "iceberg_delete_files_live": 0}
        for fmt, path in self.tables():
            if fmt == "delta":
                out["delta_log_bytes"] += oracle.dir_bytes(
                    os.path.join(path, "_delta_log"))
            elif fmt == "iceberg":
                out["iceberg_metadata_bytes"] += oracle.dir_bytes(
                    os.path.join(path, "metadata"))
                out["iceberg_delete_files_live"] += sum(
                    1 for _, _, c in oracle.iceberg_live_files(path) if c)
        return out

    def tables(self) -> list[tuple[str, str]]:
        """(format, path) of every table the load phase writes."""
        raise NotImplementedError

    def live(self) -> tuple[int, int]:
        """(live bytes, live rows) over the final tables."""
        b = sum(oracle.live_bytes(fmt, p) for fmt, p in self.tables())
        return b, sum(self.expected_rows(fmt, p) for fmt, p in self.tables())


# ------------------------------------------------------------ bulk_load


class BulkLoad(_Base):
    """Full-refresh replications of a wildcard CSV stream and a wildcard
    JSONL stream into parquet, Delta and Iceberg targets. Each round
    runs one replication per target format; every round overwrites the
    same targets, as a re-run of a replication does."""

    name = "bulk_load"
    FORMATS = ("parquet", "delta", "iceberg")
    CSV_PARTS, CSV_ROWS = 2, 30_000
    JSONL_PARTS, JSONL_ROWS = 2, 30_000

    def setup(self):
        self.expect = {"orders": [], "events": []}
        self.source_bytes = 0
        self.reported = []
        for k in range(self.CSV_PARTS):
            text, tbl = gen.bulk_csv(self.seed, self.CSV_ROWS, k)
            self.source_bytes += gen.write_text(
                self.run.path("src", "csv", f"orders_{k}.csv"), text)
            self.expect["orders"].append(tbl)
        for k in range(self.JSONL_PARTS):
            text, tbl = gen.bulk_jsonl(self.seed, self.JSONL_ROWS, k)
            self.source_bytes += gen.write_text(
                self.run.path("src", "jsonl", f"events_{k}.jsonl"), text)
            self.expect["events"].append(tbl)
        self.expect = {k: pa.concat_tables(v) for k, v in self.expect.items()}
        self.read_expect = {k: _key_stats(v, "id")
                            for k, v in self.expect.items()}
        # warm-up: one replication of each target format on small inputs
        for fn, ext in ((gen.bulk_csv, "csv"), (gen.bulk_jsonl, "jsonl")):
            text, _ = fn(self.seed + 1, 200, 0)
            gen.write_text(self.run.path("warm", ext, f"w.{ext}"), text)
        for fmt in self.FORMATS:
            self._replicate(self.run.path("warm"), self.run.path("warm_out"),
                            fmt)
        self.targets = [self.run.path("out", fmt) for fmt in self.FORMATS]

    def _replicate(self, src: str, out: str, fmt: str) -> dict:
        from sling_cli_spark.plans.replication import (
            ReplicationConfig, run_replication)

        rc = ReplicationConfig(
            source="local", target="local",
            defaults={"mode": "full-refresh",
                      "target_options": {"format": fmt}},
            streams={
                os.path.join(src, "csv", "*.csv"):
                    {"object": os.path.join(out, fmt, "orders")},
                os.path.join(src, "jsonl", "*.jsonl"):
                    {"object": os.path.join(out, fmt, "events")},
            })
        return run_replication(self.spark, rc)

    def load_round(self, i: int) -> tuple[int, int]:
        rows = 0
        for fmt in self.FORMATS:
            res = self._replicate(self.run.path("src"), self.run.path("out"),
                                  fmt)
            got = sorted(r.rows for r in res.values())
            self.reported.append((fmt, got))
            rows += sum(got)
        # every replication reads every input file
        return rows, len(self.FORMATS) * self.source_bytes

    def tables(self):
        return [(fmt, self.run.path("out", fmt, t))
                for fmt in self.FORMATS for t in ("orders", "events")]

    def expected_rows(self, fmt, path):
        return self.expect[os.path.basename(path)].num_rows

    def read(self):
        for fmt, path in self.tables():
            t = os.path.basename(path)
            self._read_one(fmt, path, "id", self.read_expect[t],
                           f"{fmt}/{t}")

    def check(self):
        want = sorted(t.num_rows for t in self.expect.values())
        for fmt, got in self.reported:
            self.ops.check(f"bulk_load: {fmt} replication row counts {got}",
                           got == want, n_ops=len(got))
        types = {"orders": gen.CSV_TYPES, "events": gen.JSONL_TYPES}
        want = {t: oracle.fingerprint(tbl) for t, tbl in self.expect.items()}
        for fmt, path in self.tables():
            t = os.path.basename(path)
            got = self._read_table(fmt, path)
            ok_types = oracle.type_names(got) == types[t]
            ok_data = oracle.fingerprint(got) == want[t]
            self.ops.check(
                f"bulk_load: {fmt}/{t} types "
                f"{oracle.type_names(got)} data {ok_data}",
                ok_types and ok_data)
        self.probe_incremental_replication()

    def probe_incremental_replication(self):
        """Incremental run_replication with a primary key and an update
        key: an overlapping second batch into a fresh Delta target must
        upsert, not append. Fixed inputs, independent of the seed."""
        from sling_cli_spark.plans.replication import (
            ReplicationConfig, run_replication)

        src = self.run.path("probe", "src", "items.csv")
        out = self.run.path("probe", "items")
        batches = ["id,val,ts\n1,x,1\n2,y,1\n",
                   "id,val,ts\n1,x,1\n2,y2,2\n3,z,2\n"]
        rc = ReplicationConfig(
            source="local", target="local",
            defaults={"mode": "incremental", "primary_key": ["id"],
                      "update_key": "ts",
                      "target_options": {"format": "delta"}},
            streams={src: {"object": out}})
        for text in batches:
            gen.write_text(src, text)
            run_replication(self.spark, rc)
        got = self._read_table("delta", out)
        rows = sorted(zip(got.column("id").to_pylist(),
                          got.column("val").to_pylist()))
        self.ops.check(
            f"bulk_load: incremental run_replication upsert gave {rows}",
            rows == [(1, "x"), (2, "y2"), (3, "z")], known_fault=True)


# ----------------------------------------------------------- cdc_stream


class CdcStream(_Base):
    """Rounds of Debezium change files, each drained by four checkpointed
    availableNow streams: CDC merge into Delta (deletion vectors on),
    CDC equality-delete upsert into Iceberg, a bronze leg (raw change
    files -> delta_stream sink) and a mirror leg (delta_stream source ->
    iceberg_stream sink)."""

    name = "cdc_stream"
    KEYS = 5_000
    EVENTS = 1_500  # per change file, before replays
    REPLAY = 0.1
    # A key outside the seeded key space whose events are fixed: created
    # at seq 10 and updated at seq 20 in the snapshot file, its seq-10
    # create is delivered again in the first round's file, a micro-batch
    # later. It must keep its seq-20 image (README: "Correctness checks").
    PROBE_KEY = 1_000_000

    def setup(self):
        from pyspark.sql import types as T

        from sling_cli_spark.sources.delta_py import (
            set_table_properties, write_delta)
        from sling_cli_spark.sources.iceberg_py import write_iceberg
        from sling_cli_spark.streaming.delta_source import (
            register_delta_stream)
        from sling_cli_spark.streaming.iceberg_source import (
            register_iceberg_stream)

        register_delta_stream(self.spark)
        register_iceberg_stream(self.spark)
        self.row_schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("lsn", T.LongType())])
        self.dir = self.run.path("cdc")
        os.makedirs(os.path.join(self.dir, "in"))
        # the initial snapshot of every key, drained untimed: it loads the
        # targets the timed rounds then change, and it is the warm-up of
        # every leg
        snap = gen.cdc_snapshot(self.seed, self.KEYS)
        probe = [gen.cdc_event(self.PROBE_KEY, "c", 10, "a", 1.0),
                 gen.cdc_event(self.PROBE_KEY, "u", 20, "b", 2.0)]
        gen.write_jsonl(os.path.join(self.dir, "in", "snapshot.json"),
                        snap + probe)
        self.events = snap + probe
        self.files = []  # per round: (path, bytes, events)
        prev = snap
        for rnd in range(self.rounds):
            ev, prev = gen.cdc_round(self.seed, rnd, self.KEYS, self.EVENTS,
                                     self.REPLAY,
                                     len(snap) + 1 + rnd * self.EVENTS, prev)
            if rnd == 0:
                ev.append(probe[0])
            p = self.run.path("staged", f"changes_{rnd:04d}.json")
            self.files.append((p, gen.write_jsonl(p, ev), len(ev)))
            self.events.extend(ev)
        self.expect = oracle.fold_changes(self.events, gen.CDC_ROW)
        self.read_expect = _key_stats(self.expect, "id")
        self.expect_events = oracle.events_table(
            self.events, gen.CDC_ROW, "_sling_synced_op",
            "_sling_synced_seq")
        empty = self.spark.createDataFrame([], self.row_schema)
        write_delta(empty, os.path.join(self.dir, "t_delta"))
        set_table_properties(os.path.join(self.dir, "t_delta"), {
            "delta.enableDeletionVectors": "true"})
        write_iceberg(empty, os.path.join(self.dir, "t_iceberg"))
        self._drain_all()
        self.targets = [p for _, p in self.tables()]

    def _conf(self):
        return {"format": "json", "envelope": "debezium",
                "path": os.path.join(self.dir, "in"),
                "max_files_per_trigger": 1}

    def _drain_all(self):
        from sling_cli_spark.streaming.cdc import (
            build_cdc_source, run_cdc_pipeline)

        d = self.dir
        for t in ("t_delta", "t_iceberg"):
            run_cdc_pipeline(self.spark, self._conf(), self.row_schema,
                             os.path.join(d, t), "id",
                             checkpoint=os.path.join(d, "ck", t))
        bronze = build_cdc_source(self.spark, self._conf(), self.row_schema)
        self._lake_drain(bronze.writeStream.format("delta_stream")
                         .option("path", os.path.join(d, "bronze"))
                         .option("txnAppId", "perfbench-bronze")
                         .option("checkpointLocation",
                                 os.path.join(d, "ck", "bronze")))
        mirror = self.spark.readStream.format("delta_stream") \
            .option("path", os.path.join(d, "bronze")).load()
        self._lake_drain(mirror.writeStream.format("iceberg_stream")
                         .option("path", os.path.join(d, "mirror"))
                         .option("txnAppId", "perfbench-mirror")
                         .option("checkpointLocation",
                                 os.path.join(d, "ck", "mirror")))

    def _lake_drain(self, writer):
        from perfbench.trace import query_progress

        with self.tracer.span("lake_stream.drain") as sp:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            if sp is not None:
                sp.info["progress"] = query_progress(q)

    def load_round(self, i: int) -> tuple[int, int]:
        p, nbytes, n = self.files[i]
        os.rename(p, os.path.join(self.dir, "in", os.path.basename(p)))
        self.tracer.context["batch_bytes"] = nbytes
        self._drain_all()
        # every leg commits every delivered event; three legs read the
        # change file (the mirror reads bronze)
        return 4 * n, 3 * nbytes

    def tables(self):
        d = self.dir
        return [("delta", os.path.join(d, "t_delta")),
                ("iceberg", os.path.join(d, "t_iceberg")),
                ("delta", os.path.join(d, "bronze")),
                ("iceberg", os.path.join(d, "mirror"))]

    def expected_rows(self, fmt, path):
        if os.path.basename(path).startswith("t_"):
            return self.expect.num_rows
        return self.expect_events.num_rows

    def read(self):
        # the two merge targets: the read debt the merges leave (deletion
        # vectors, equality deletes) lands on them; bronze and the mirror
        # only append, and check() reads them
        for fmt, path in self.tables()[:2]:
            self._read_one(fmt, path, "id", self.read_expect,
                           f"{fmt}/{os.path.basename(path)}")

    def _versions(self):
        out = []
        for fmt, path in self.tables():
            if fmt == "delta":
                log = os.path.join(path, "_delta_log")
                out.append(len([n for n in os.listdir(log)
                                if n.endswith(".json")]))
            else:
                out.append(oracle.iceberg_current_metadata(path).get(
                    "current-snapshot-id"))
        return out

    def check(self):
        n = self.rounds + 1  # drains per leg, the snapshot's too
        (_, t_delta), (_, t_ice), (_, bronze), (_, mirror) = self.tables()
        is_probe = pc.equal(self.expect["id"], self.PROBE_KEY)
        want = self.expect.filter(is_probe).to_pylist()
        probe_rows = {}
        for fmt, path in (("delta", t_delta), ("iceberg", t_ice)):
            got = self._read_table(fmt, path)
            mask = pc.equal(got["id"], self.PROBE_KEY)
            probe_rows[fmt] = got.filter(mask).select(
                self.expect.column_names).to_pylist()
            self.ops.check(
                f"cdc_stream: {fmt} fold of change events",
                oracle.no_duplicate_keys(got, "id")
                and oracle.same_rows(got.filter(pc.invert(mask)),
                                     self.expect.filter(pc.invert(is_probe)),
                                     "id"), n_ops=n)
        self.ops.check(
            f"cdc_stream: replay of the seq-10 event in a later micro-batch "
            f"left {probe_rows}, want {want}",
            all(v == want for v in probe_rows.values()), known_fault=True)
        b = self._read_table("delta", bronze)
        self.ops.check("cdc_stream: bronze equals delivered events",
                       oracle.same_rows(b, self.expect_events,
                                        "_sling_synced_seq"), n_ops=n)
        m = self._read_table("iceberg", mirror)
        self.ops.check("cdc_stream: mirror equals bronze",
                       oracle.same_rows(m, b, "_sling_synced_seq"),
                       n_ops=n)
        # a drain with no new files commits nothing, on every leg
        before = self._versions()
        self._drain_all()
        after = self._versions()
        for leg, (x, y) in zip(("delta", "iceberg", "bronze", "mirror"),
                               zip(before, after)):
            self.ops.check(f"cdc_stream: idle drain of {leg} committed "
                           f"{x} -> {y}", x == y)


WORKLOADS = {"bulk_load": BulkLoad, "cdc_stream": CdcStream}
