"""``format("delta_stream")``: the Delta adapter of the lake stream core
(:mod:`sling_cli_spark.streaming.lake_stream`) over the delta_py table
layer. ``spark.readStream.format("delta_stream").option("path", t)``
micro-batches one Delta COMMIT RANGE at a time, the same offset model
as delta-spark's streaming source (reference surface:
core/sling/task.go streaming reads are file-watch based; this is the
Spark-native equivalent over the transaction log).

What this adapter owns:

- the offset model: ``{"version"}``, starting at ``startingVersion - 1``
  (or the commit a ``startingTimestamp`` resolves to);
- unit listing: each version's commit JSON. Only dataChange adds emit
  rows (compaction rearrangements are silent). A version that REMOVES
  data (update/delete/overwrite) is not expressible as an append-only
  stream — it raises unless ``ignoreChanges=true``, which re-emits
  touched files whole minus their deletion-vector rows (delta-spark's
  documented contract). ``readChangeFeed=true`` emits row changes;
- the commit protocol: adds plus a SetTransaction (``txn``) action per
  micro-batch (PROTOCOL.md §Transaction Identifiers); a re-delivered
  batch id is recognized via :func:`delta_py.last_txn_version`.

Partition values ride the partition object and win over file columns;
file columns are passed through uncast.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource

from sling_cli_spark.streaming.lake_stream import (
    _FilePart, _LakeStreamReader, _LakeStreamWriter, _flag, _schema_shim)


def _phys_map(meta: dict) -> dict | None:
    """logical -> physical column names for a column-mapped table
    (PROTOCOL.md Column Mapping), or None when unmapped."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode == "none":
        return None
    out = {}
    for f in json.loads(meta["schemaString"]).get("fields") or []:
        p = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName")
        if p:
            out[f["name"]] = p
    return out


def _require_full_range(versions: list[int], start: int, end: int,
                        path: str) -> None:
    """A micro-batch covers (start, end]; any version in that range
    whose JSON commit was cleaned up after checkpointing is silent
    DATA LOSS in the stream — fail like delta-spark's source does when
    a starting version's log is unavailable."""
    if end <= start:
        return
    first = min(versions) if versions else None
    if first is None or first > start + 1:
        raise ValueError(
            f"delta_stream: commit log for versions "
            f"{start + 1}..{first - 1 if first else end} of {path} has "
            "been cleaned up (checkpoint retention) — the requested "
            "range is not fully covered by retained JSON commits; "
            "restart the stream from a retained version")


def _dv_payload(table_path: str, add: dict) -> tuple | None:
    """(descriptor, blob|None) for an add carrying a deletion vector —
    the blob pre-read driver-side for u/p storage so executors filter
    with zero fs access; inline ('i') vectors ride the descriptor."""
    desc = add.get("deletionVector")
    if not desc or not int(desc.get("cardinality") or 0):
        return None
    blob = None
    if desc.get("storageType") != "i":
        from sling_cli_spark import fsio
        from sling_cli_spark.sources.delta_dv import dv_absolute_path

        p = dv_absolute_path(table_path, desc)
        blob = fsio.get_fs(p).read_bytes(p)
    return (dict(desc), blob, table_path)


class DeltaStreamSource(DataSource):
    """``format("delta_stream")`` — register once per session with
    :func:`register_delta_stream`."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self):
        from pyspark.sql import types as T

        from sling_cli_spark.sources.delta_py import replay_log

        meta, _ = replay_log(self.options["path"])
        if meta is None:
            raise FileNotFoundError(
                f"not a delta table: {self.options['path']}")
        base = T.StructType.fromJson(json.loads(meta["schemaString"]))
        if _flag(self.options, "readChangeFeed"):
            if _flag(self.options, "withRowIds"):
                raise ValueError(
                    "delta_stream: withRowIds composes with the plain "
                    "append stream only — the change feed carries its "
                    "own identity columns")
            return base.add("_change_type", "string") \
                .add("_commit_version", "long") \
                .add("_commit_timestamp", "long")
        if _flag(self.options, "withRowIds"):
            return base.add("_row_id", "long") \
                .add("_row_commit_version", "long")
        return base

    def streamReader(self, schema):
        if _flag(self.options, "readChangeFeed"):
            return _DeltaCdfStreamReader(self.options)
        return _DeltaStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        return _DeltaStreamWriter(self.options, schema)


class _DeltaStreamReader(_LakeStreamReader):
    _KEY = "version"
    _UNIT_CAP = "maxVersionsPerTrigger"
    # withRowIds (PROTOCOL.md §Row Tracking): micro-batches carry
    # _row_id / _row_commit_version derived from each add's
    # (baseRowId, defaultRowCommitVersion) — the streaming twin of
    # read_delta(with_row_ids=True)
    _LINEAGE_OPT = "withRowIds"
    _CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")
    _LINEAGE_COLS = ("_row_id", "_row_commit_version")
    _PARTS_FIRST = True

    def _setup(self, options) -> int:
        starting = int(options.get("startingVersion", 0))
        # delta-spark's startingTimestamp twin: epoch ms resolved to
        # the first commit AT OR AFTER the instant through the commit
        # timestamps (monotonic inCommitTimestamp on ICT tables).
        # startingVersion wins when both are given (delta-spark errors
        # there; one deterministic precedence is kinder to configs
        # templated from defaults).
        st = options.get("startingTimestamp")
        if st is not None and "startingVersion" not in options:
            from sling_cli_spark.sources.delta_py import (
                first_version_at_or_after, latest_version)
            sv = first_version_at_or_after(self._path, int(st))
            # past the latest commit -> start AFTER the head (stream
            # begins empty and picks up future commits — the streaming
            # reading of "from this instant on")
            starting = latest_version(self._path) + 1 if sv is None else sv
        return starting - 1

    def _pending(self, anchor):
        from sling_cli_spark.sources.delta_py import latest_version

        head = latest_version(self._path)
        if anchor is None:
            return head, []
        return head, [(v, v) for v in range(anchor + 1, head + 1)]

    def _unit_cost(self, v: int):
        from sling_cli_spark import fsio
        from sling_cli_spark.sources.delta_py import _log_path

        fs, p = fsio.get_fs(self._path), _log_path(self._path, v)
        if not fs.exists(p):
            return None  # cleaned commit
        adds = [a for a in (json.loads(ln).get("add") for ln in
                            fs.read_bytes(p).decode().splitlines()
                            if '"add"' in ln)
                if a and a.get("dataChange", True)]
        return len(adds), sum(int(a.get("size") or 0) for a in adds)

    def _plan(self, start: int, end: int):
        from sling_cli_spark import fsio
        from sling_cli_spark.sources.delta_py import (
            _add_uri, _list_versions, _log_path, replay_log)

        meta, _ = replay_log(self._path)
        schema_json = meta["schemaString"]
        fields = {f["name"]: f for f in
                  json.loads(schema_json).get("fields") or []}
        part_cols = meta.get("partitionColumns") or []
        phys = _phys_map(meta)
        fs = fsio.get_fs(self._path)
        versions = [v for v in _list_versions(self._path, fs)
                    if start < v <= end]
        _require_full_range(versions, start, end, self._path)

        def part(action: dict, **kw) -> _FilePart:
            raw = action.get("partitionValues") or {}
            pv = {c: (fields.get(c, {}).get("type", "string"),
                      raw.get((phys or {}).get(c, c), raw.get(c)))
                  for c in part_cols}
            return _FilePart(_add_uri(self._path, action["path"]),
                             schema_json, pv, phys=phys, **kw)

        state = {"meta": meta}
        parts: list[_FilePart] = []
        for v in versions:
            actions = [json.loads(ln) for ln in fs.read_bytes(
                _log_path(self._path, v)).decode().splitlines()
                if ln.strip()]
            parts += self._version_parts(v, actions, part, state)
        return parts

    def _version_parts(self, v, actions, part, state):
        adds = [a["add"] for a in actions
                if "add" in a and a["add"].get("dataChange", True)]
        if not self._ignore_changes and any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions):
            raise ValueError(
                f"delta_stream: version {v} of {self._path} removes "
                "data (update/delete/overwrite) — an append-only "
                "stream cannot express it; set ignoreChanges=true "
                "to re-emit touched files whole")
        return [part(add, dv=_dv_payload(self._path, add),
                     lineage=self._lineage(v, add, state)
                     if self._with_lineage else None)
                for add in adds]

    def _lineage(self, v: int, add: dict, state: dict) -> tuple:
        from sling_cli_spark.sources.delta_py import _rt_cols, replay_log

        src = add
        if src.get("baseRowId") is None:
            # the version's own add predates row tracking; the
            # enable-time backfill RE-ADDED the file with its assigned
            # baseRowId — the current replayed state is authoritative
            # per file (replayed once per plan, only when needed)
            if "files" not in state:
                state["files"] = replay_log(self._path)[1]
            src = state["files"].get(add["path"], add)
        if src.get("baseRowId") is None:
            # same loud refusal as the batch _scan_with_row_ids: a null
            # id would silently break a lineage consumer downstream
            raise ValueError(
                f"delta_stream: add {add['path']} carries no baseRowId "
                "— withRowIds needs row tracking; enable it via "
                "set_table_properties to backfill")
        return (int(src["baseRowId"]),
                int(src.get("defaultRowCommitVersion") or v),
                *_rt_cols(state["meta"]))

    def _load(self, partition: _FilePart):
        import numpy as np
        import pyarrow as pa

        tbl, positions = super()._load(partition)
        if partition.dv is None:
            return tbl, positions
        from sling_cli_spark.sources.delta_dv import dv_indices

        # the add's deletion vector: rows it dooms must NOT be emitted
        # (ignoreChanges re-emits touched files whole, but a DV'd row is
        # DELETED, not duplicated). Positions are captured BEFORE the
        # filter — a row's id is baseRowId + its PHYSICAL position
        desc, blob, tpath = partition.dv
        doomed = dv_indices(tpath, desc, blob)
        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[doomed[doomed < tbl.num_rows]] = False
        return tbl.filter(pa.array(keep)), positions[keep]


class _DeltaCdfStreamReader(_DeltaStreamReader):
    """``readChangeFeed=true``: micro-batches emit the versions' ROW
    CHANGES instead of their table state — delta-spark's streaming
    ``table_changes`` surface, same offsets/rate-limit as the plain
    source. Commits carrying ``cdc`` actions read exactly those files
    (update pre/post image fidelity, the _change_type column lives IN
    the file); commits without them derive per the protocol —
    dataChange adds are ``insert`` rows, dataChange removes are
    ``delete`` rows read from the not-yet-vacuumed file. Destructive
    commits are the POINT here, so nothing refuses; a derived commit
    carrying a deletion vector (underivable) does, exactly like the
    batch reader (delta_py.read_change_feed). Column-mapped tables
    project physical names back to logical (same contract as
    delta_py._read_cdf_actions)."""

    def _version_parts(self, v, actions, part, state):
        from sling_cli_spark.sources.delta_py import (
            UnsupportedTableFeature, commit_timestamp_ms)

        ts = commit_timestamp_ms(self._path, v)
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        if cdcs:  # _change_type rides in the file
            return [part(a, cdf=(None, v, ts)) for a in cdcs]
        adds = [a["add"] for a in actions
                if "add" in a and a["add"].get("dataChange")]
        removes = [a["remove"] for a in actions
                   if "remove" in a and a["remove"].get("dataChange")]
        if any(a.get("deletionVector") for a in adds + removes):
            raise UnsupportedTableFeature(
                f"delta_stream change feed: commit {v} attaches a "
                "deletion vector without cdc files — underivable")
        return [part(a, cdf=("insert", v, ts)) for a in adds] \
            + [part(a, cdf=("delete", v, ts)) for a in removes]


class _DeltaStreamWriter(_LakeStreamWriter):
    """Adds land in the table dir; each micro-batch commits them with a
    SetTransaction (``txn``) action for its (txnAppId, batch id)."""

    _FORMAT = "delta_stream"
    _FILE_NAME = "part-{}.zstd.parquet"

    def _recorded_layout(self) -> list[str] | None:
        from sling_cli_spark.sources.delta_py import (
            _column_mapping_mode, _generation_exprs, _identity_fields,
            _schema_has_invariants, replay_log)

        meta, _ = replay_log(self._path)
        if meta is None:  # no table yet: the first commit records one
            return None
        if _column_mapping_mode(meta) != "none":
            raise ValueError(
                "delta_stream sink: column-mapped targets need "
                "physical-name staging this sink does not do — "
                "use foreachBatch + write_delta")
        conf = meta.get("configuration") or {}
        if any(k.startswith("delta.constraints.") for k in conf) \
                or _schema_has_invariants(meta) \
                or _generation_exprs(meta) or _identity_fields(meta):
            raise ValueError(
                "delta_stream sink: target declares column "
                "contracts (CHECK constraints, invariants, "
                "generated or identity columns) this sink does "
                "not evaluate — use foreachBatch + write_delta")
        return list(meta.get("partitionColumns") or [])

    def _commit_once(self, entries: list[dict], batch_id: int) -> bool:
        import time as _time

        from sling_cli_spark.sources.delta_py import (
            _assign_fresh_row_ids, _commit, _evolve_schema_actions,
            _first_commit_actions, _maybe_auto_checkpoint, _update_crc,
            check_writer_protocol, last_txn_version, latest_version,
            replay_log)

        seen = last_txn_version(self._path, self._app)
        if seen is not None and seen >= batch_id:
            return False
        now = int(_time.time() * 1000)
        version = latest_version(self._path) + 1
        shim = _schema_shim(self._schema)
        actions: list[dict] = []
        wprot: dict = {}
        if version == 0:
            actions += _first_commit_actions(shim, self._part_cols)
        else:
            wprot = check_writer_protocol(self._path)
            meta, _ = replay_log(self._path)
            actions += _evolve_schema_actions(shim, meta)
        adds = [{"add": {
            "path": f["rel"], "size": f["size"],
            "partitionValues": f.get("partitionValues") or {},
            "modificationTime": now, "dataChange": True,
            "stats": json.dumps({"numRecords": f["n"]})}}
            for f in entries]
        actions += adds
        actions.append({"txn": {
            "appId": self._app, "version": batch_id, "lastUpdated": now}})
        actions += _assign_fresh_row_ids(
            self._path, adds, version, protocol=wprot)
        # pure append: losing the race (FileExistsError) is retryable
        _commit(self._path, version, actions)
        _update_crc(self._path, version, actions)
        # the highest-commit-rate writer is exactly where
        # delta.checkpointInterval matters most
        _maybe_auto_checkpoint(self._path, version, actions)
        return True


def register_delta_stream(spark) -> None:
    """Idempotently register ``format("delta_stream")`` on a session."""
    spark.dataSource.register(DeltaStreamSource)
