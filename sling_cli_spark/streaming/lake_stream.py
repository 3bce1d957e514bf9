"""Shared core of the two lake stream formats, ``delta_stream`` and
``iceberg_stream``, on PySpark 4's Python DataSource API.

Who owns what:

- This module owns everything the formats share. On the read side: the
  per-file ``InputPartition``, the Arrow column assembly executors run
  in ``read()`` (partition constants, typed nulls for columns a file
  predates, change-feed metadata columns, row ids that coalesce the
  materialized and the freshly derived ids) and the
  ``maxFilesPerTrigger``/``maxBytesPerTrigger`` admission walk. On the
  sink side: the construction checks (column types, ``partitionBy``
  against the recorded layout, missing partition columns), staging of
  Arrow batches as zstd parquet, the commit message, cleanup of staged
  files and the 10-attempt compare-and-swap commit loop.
- ``delta_source`` and ``iceberg_source`` are format adapters. Each
  supplies only what differs between the formats, as its module
  docstring details: the offset model, how an offset range lists its
  files, and the commit protocol.

Data stays columnar end to end: readers yield Arrow record batches,
and the sinks receive Arrow batches (``DataSourceStreamArrowWriter``),
cast them to the Arrow schema of the files they write and split them by
partition with pyarrow. No row becomes a Python object.

Triggers: PySpark's Python stream readers have no
``Trigger.AvailableNow`` hook, so under ``availableNow`` both sources
fall back to a single batch over the whole backlog. The admission caps
(``maxVersionsPerTrigger``/``maxSnapshotsPerTrigger``,
``maxFilesPerTrigger``, ``maxBytesPerTrigger``) therefore bind only
under processing-time triggers, and only from a reader's second
trigger on: the engine fixes a stream's first range before it consults
``initialOffset``, so batch 0 of a fresh start or restart is uncapped.
"""

from __future__ import annotations

import json
import os
import uuid
from types import SimpleNamespace

from pyspark.sql.datasource import (
    CaseInsensitiveDict, DataSourceStreamArrowWriter, DataSourceStreamReader,
    InputPartition, WriterCommitMessage)

_SINK_SIMPLE = {"long", "integer", "short", "byte", "double", "float",
                "boolean", "date", "timestamp", "timestamp_ntz",
                "string", "binary"}


def _flag(options, name: str) -> bool:
    """A boolean option; ``options`` is the engine's
    ``CaseInsensitiveDict``, so any spelling of ``name`` matches."""
    return str(options.get(name, "false")).lower() == "true"


def _cap(options, name: str) -> int | None:
    return int(options.get(name, 0)) or None


def _arrow_type_opt(spark_type: str):
    """Arrow type for a Spark typeName, or None when no 1:1 mapping
    exists (complex types): callers must NOT cast in that case — the
    parquet file's own physical type is already what Spark expects."""
    import re as _re

    import pyarrow as pa

    m = _re.fullmatch(r"decimal\((\d+),\s*(-?\d+)\)", spark_type)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return {
        "long": pa.int64(), "integer": pa.int32(), "short": pa.int16(),
        "byte": pa.int8(), "double": pa.float64(), "float": pa.float32(),
        "boolean": pa.bool_(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
        "binary": pa.binary(), "string": pa.string(),
    }.get(spark_type)


def _arrow_type(spark_type: str):
    import pyarrow as pa

    return _arrow_type_opt(spark_type) or pa.string()


def _py_value(spark_type: str, s: str):
    if s is None:
        return None
    if spark_type in ("long", "integer", "short", "byte"):
        return int(s)
    if spark_type in ("double", "float"):
        return float(s)
    if spark_type == "boolean":
        return s.lower() == "true"
    if spark_type == "date":
        import datetime

        return datetime.date.fromisoformat(s)
    return s


def _const(value, typ, n: int):
    import pyarrow as pa

    return pa.repeat(pa.scalar(value, type=typ), n)


class _FilePart(InputPartition):
    """One data file of a micro-batch, read executor-side."""

    def __init__(self, uri: str, schema_json: str, part_values: dict,
                 cdf: tuple | None = None, lineage: tuple | None = None,
                 dv: tuple | None = None, phys: dict | None = None):
        self.uri = uri
        self.schema_json = schema_json
        # {column: (spark type name, raw value)}: identity-partition
        # values live in the log/manifest, not in the file
        self.part_values = part_values or {}
        # (change_type|None, commit id, commit ts ms) — change-feed
        # parts; change_type None = the file carries its own
        # _change_type column (Delta cdc files: update pre/post images)
        self.cdf = cdf
        # (first row id, row version, materialized id column|None,
        # materialized version column|None) — row-id parts
        self.lineage = lineage
        # Delta: (deletion-vector descriptor, blob|None, table path)
        self.dv = dv
        # Delta column mapping: logical -> PHYSICAL parquet column name
        # (files store physical; the stream schema is logical)
        self.phys = phys


class _LakeStreamReader(DataSourceStreamReader):
    """Micro-batches over one integer offset (``{_KEY: n}``). Adapters
    implement ``_setup`` (own options -> initial offset), ``_pending``,
    ``_unit_cost`` and ``_plan``, and set the class attributes below."""

    _KEY: str                # offset field
    _UNIT_CAP: str           # option capping offset units per trigger
    _LINEAGE_OPT: str        # option adding the two row-id columns
    _CDF_COLS: tuple         # change type, commit id, commit ts columns
    _LINEAGE_COLS: tuple     # row id, row version columns
    _PARTS_FIRST = False     # partition constants beat a file column
    _CAST = False            # cast file columns mapping 1:1 to Arrow

    def __init__(self, options):
        options = CaseInsensitiveDict(options)
        self._path = options["path"]
        # destructive units re-emit their added files whole instead of
        # failing the append-only stream (delta-spark's contract)
        self._ignore_changes = _flag(options, "ignoreChanges")
        self._with_lineage = _flag(options, self._LINEAGE_OPT)
        # admission control, so a source that BURSTS (a backfill
        # writer, a compactor replaying history) cannot make one
        # trigger the whole backlog — state, shuffle and retry unit all
        # scale with it. Unit-granular: a unit (version/snapshot) is
        # never split across triggers, so the file/byte caps admit
        # whole units until the budget is first met (always at least
        # one: a unit larger than the cap must still drain). The anchor
        # only moves forward (engine-logged offsets never regress).
        self._max_units = _cap(options, self._UNIT_CAP)
        self._max_files = _cap(options, "maxFilesPerTrigger")
        self._max_bytes = _cap(options, "maxBytesPerTrigger")
        self._initial = self._setup(options)
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        if self._last_end is None:
            self._last_end = self._initial
        return {self._KEY: self._initial}

    def latestOffset(self) -> dict:
        anchor = self._last_end
        head, units = self._pending(anchor)
        if anchor is None:
            return {self._KEY: head}
        if self._max_units:
            units = units[:self._max_units]
        if units:
            head = units[-1][0]
        if self._max_files or self._max_bytes:
            nf = nb = 0
            for offset, unit in units:
                head = offset
                cost = self._unit_cost(unit)
                if cost is None:
                    # hole (cleaned commit): ADMIT through it so the
                    # range reaches _plan, which fails loudly — breaking
                    # at the anchor would stall the stream forever while
                    # reporting healthy
                    break
                nf, nb = nf + cost[0], nb + cost[1]
                if (self._max_files and nf >= self._max_files) or \
                        (self._max_bytes and nb >= self._max_bytes):
                    break
        # never return less than the anchor — a capped value below an
        # engine-logged offset would regress the checkpoint
        return {self._KEY: max(head, anchor)}

    def partitions(self, start: dict, end: dict):
        self._last_end = end[self._KEY]
        return self._plan(start[self._KEY], end[self._KEY])

    def commit(self, end: dict) -> None:
        self._last_end = end[self._KEY]

    def _load(self, partition: _FilePart):
        """(file table, physical row position of each of its rows)."""
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.uri)
        return tbl, np.arange(tbl.num_rows)

    def read(self, partition: _FilePart):
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl, positions = self._load(partition)
        n = tbl.num_rows
        names, cols = [], []
        for f in json.loads(partition.schema_json).get("fields") or []:
            name, typ = f["name"], f.get("type")
            typ = typ if isinstance(typ, str) else "string"
            src = (partition.phys or {}).get(name, name)
            in_file = src in tbl.column_names
            names.append(name)
            if name in partition.part_values \
                    and (self._PARTS_FIRST or not in_file):
                ptyp, raw = partition.part_values[name]
                ptyp = ptyp if isinstance(ptyp, str) else "string"
                val = _py_value(ptyp, raw) if isinstance(raw, str) else raw
                cols.append(_const(val, _arrow_type(ptyp), n))
            elif in_file:
                col = tbl.column(src).combine_chunks()
                at = _arrow_type_opt(typ) if self._CAST else None
                cols.append(col if at is None else col.cast(at))
            else:  # file predates an evolved column -> typed nulls
                cols.append(pa.nulls(n, type=_arrow_type(typ)))
        if partition.cdf is not None:
            ct, cid, ts = partition.cdf
            names += list(self._CDF_COLS)
            cols += [
                tbl.column("_change_type").combine_chunks().cast(pa.string())
                if ct is None else _const(ct, pa.string(), n),
                _const(cid, pa.int64(), n), _const(ts, pa.int64(), n)]
        if partition.lineage is not None:
            first, version, id_col, version_col = partition.lineage
            fresh = (pa.array(first + positions, type=pa.int64()),
                     _const(version, pa.int64(), n))
            # materialized columns win when the physical file carries
            # them (rewrites thread the original ids through): the
            # materialized value, else the derived one
            for stored, derived in zip((id_col, version_col), fresh):
                if stored and stored in tbl.column_names:
                    derived = pc.coalesce(tbl.column(stored).combine_chunks()
                                          .cast(pa.int64()), derived)
                cols.append(derived)
            names += list(self._LINEAGE_COLS)
        yield from pa.table(dict(zip(names, cols))).to_batches()


class _SinkMsg(WriterCommitMessage):
    """The files one sink task staged, one per partition value it held:
    ``[{rel, size, n, partitionValues, ...}]`` (adapters may add
    per-file fields, e.g. Iceberg value bounds)."""

    def __init__(self, files: list[dict]):
        self.files = files


def _schema_shim(schema) -> SimpleNamespace:
    """The lake layers' schema helpers only touch ``.schema`` and
    ``.columns`` of the frame they receive."""
    return SimpleNamespace(schema=schema, columns=schema.names)


def _partition_groups(tbl, cols: list[str]):
    """(partition values, row indices) per distinct partition value of
    ``tbl``, in order of first arrival; indices keep arrival order.
    Timestamps come back as naive UTC wall time."""
    import numpy as np
    import pyarrow as pa

    keys = tbl.select(cols)
    keys = keys.cast(pa.schema([
        (f.name, pa.timestamp(f.type.unit)
         if pa.types.is_timestamp(f.type) else f.type)
        for f in keys.schema]))
    groups = keys.append_column(
        "__row", pa.array(np.arange(tbl.num_rows))).group_by(
        cols, use_threads=False).aggregate([("__row", "list")])
    rows = groups.column("__row_list")
    for i, key in enumerate(groups.select(cols).to_pylist()):
        yield key, np.sort(rows[i].values.to_numpy())


class _LakeStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming SINK: executors write final-named parquet
    straight into the table (invisible until a commit names it — the
    lake invariant); the driver commits once per micro-batch and
    recognizes a re-delivered batch id by the (app id, batch id) the
    table records, dropping it and deleting its re-written files. Pass
    ``txnAppId`` for idempotence that survives query restarts — it
    defaults per writer, which is at-least-once across a restart.

    Adapters set ``_FORMAT``, ``_DATA_DIR`` and ``_FILE_NAME`` and
    implement ``_recorded_layout`` and ``_commit_once``."""

    _FORMAT: str
    _DATA_DIR = ""           # staging dir under the table root
    _FILE_NAME: str          # format string over a fresh uuid

    def __init__(self, options, schema):
        from sling_cli_spark import fsio

        options = CaseInsensitiveDict(options)
        self._path = options["path"]
        fsio.local_path(self._path)  # executors write with plain I/O
        self._app = options.get("txnAppId") \
            or f"{self._FORMAT}-{uuid.uuid4().hex[:12]}"
        self._schema = schema
        bad = [f.name for f in schema.fields
               if f.dataType.typeName() not in _SINK_SIMPLE]
        if bad:
            raise ValueError(
                f"{self._FORMAT} sink: unsupported column types on {bad} "
                f"(supported: {sorted(_SINK_SIMPLE)})")
        self._part_cols = [
            c for c in options.get("partitionBy", "").split(",") if c]
        recorded = self._recorded_layout()
        if recorded is not None:
            # the recorded layout wins — a partitionBy option that
            # disagrees is a config error, not a re-layout
            if self._part_cols and self._part_cols != recorded:
                raise ValueError(
                    f"{self._FORMAT} sink: partitionBy={self._part_cols} "
                    f"!= the table's recorded layout {recorded}")
            self._part_cols = recorded
        missing = [c for c in self._part_cols
                   if c not in {f.name for f in schema.fields}]
        if missing:
            raise ValueError(
                f"{self._FORMAT} sink: partition columns {missing} not in "
                f"the stream schema")

    def _data_dir(self) -> str:
        from sling_cli_spark import fsio

        return os.path.join(fsio.local_path(self._path), self._DATA_DIR)

    def _file_stats(self, tbl) -> dict:
        """Extra per-file fields of the commit message."""
        return {}

    def write(self, iterator):
        from urllib.parse import quote

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sling_cli_spark.sources.delta_py import hive_partition_str

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _SinkMsg([])
        tbl = pa.Table.from_batches(batches)
        pcols = self._part_cols
        target = pa.schema([
            (f.name, _arrow_type(f.dataType.typeName()))
            for f in self._schema.fields if f.name not in pcols])
        # Spark hands timestamps over in the session time zone (e.g.
        # tz=Etc/UTC); the files carry tz=UTC (the cast moves no values)
        data = tbl.select(target.names).cast(target)
        groups = _partition_groups(tbl, pcols) if pcols \
            else [({}, None)]
        base = self._data_dir()
        files = []
        for key, rows in groups:
            if any(v is None for v in key.values()):
                raise ValueError(
                    f"{self._FORMAT} sink: NULL partition values are not "
                    "supported")
            pv = {c: hive_partition_str(v) for c, v in key.items()}
            part = data if rows is None else data.take(rows)
            # one file per partition value this task held (the Hive dir
            # is over-escaped vs Spark's escapePathName — both unescape
            # %hh, so a stricter writer is still a compatible reader)
            subdir = "/".join(f"{c}={quote(pv[c], safe='')}" for c in pcols)
            rel = self._FILE_NAME.format(uuid.uuid4().hex)
            rel = f"{subdir}/{rel}" if subdir else rel
            dest = os.path.join(base, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            # zstd (guide §6): 20-33% fewer bytes than snappy at flat
            # write time; see tests/test_staged_codec.py
            pq.write_table(part, dest, compression="zstd")
            files.append({"rel": rel, "size": os.path.getsize(dest),
                          "n": part.num_rows, "partitionValues": pv,
                          **self._file_stats(part)})
        return _SinkMsg(files)

    def _cleanup(self, messages):
        base = self._data_dir()
        for m in messages:
            for f in (m.files if m is not None else []):
                p = os.path.join(base, f["rel"])
                if os.path.exists(p):
                    os.remove(p)

    def commit(self, messages, batchId) -> None:
        """Re-checks idempotence on EVERY claim attempt, not just once
        up front: a zombie driver's concurrent commit of the same
        (app id, batch id) can land between our check and our claim —
        losing the race must re-read the table's watermark before
        re-claiming, or the batch commits twice."""
        entries = [f for m in messages if m is not None for f in m.files]
        for _ in range(10):
            try:
                if not self._commit_once(entries, int(batchId)):
                    self._cleanup(messages)  # batch already committed
                return
            except FileExistsError:
                continue  # a concurrent committer won; re-read, retry
        raise FileExistsError(
            f"{self._FORMAT} sink: lost the commit race 10 times at "
            f"{self._path}")

    def abort(self, messages, batchId) -> None:
        self._cleanup(messages)
