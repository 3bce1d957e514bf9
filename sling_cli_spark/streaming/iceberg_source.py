"""``format("iceberg_stream")``: the Iceberg adapter of the lake stream
core (:mod:`sling_cli_spark.streaming.lake_stream`) over the iceberg_py
table layer. ``spark.readStream.format("iceberg_stream").option("path",
t)`` micro-batches one SNAPSHOT RANGE at a time, the same
incremental-scan model as Apache Iceberg's own Spark streaming source
(reference surface: core/sling/task.go streaming reads are file-watch
based; this is the Spark-native equivalent over the snapshot chain).

What this adapter owns:

- the offset model: ``{"seq"}``, DATA SEQUENCE NUMBERS (spec v2
  §Sequence Numbers) of the main-branch snapshots (or of a named
  ``branch``), so an offset survives snapshot expiry and concurrent
  branch writes (branch commits bump the table's last-sequence-number
  but never enter the parent chain this source walks). v1 tables have
  no sequence numbers and are refused;
- unit listing: per snapshot, the entries it ADDED (status=1,
  snapshot_id=self), found via the manifests whose list entry names it
  as ``added_snapshot_id`` — O(new files), never a full-table diff. An
  ``append`` emits them; a ``replace`` (compaction) is silent; anything
  else (``overwrite``/``delete``) supersedes rows, which an append-only
  stream cannot express -> raise, unless ``ignoreChanges=true``
  re-emits that snapshot's added files whole. ``readChangelog=true``
  emits file-turnover row changes;
- the commit protocol: one append snapshot per micro-batch whose new
  manifest names the staged files with the per-file record counts and
  value bounds the executors computed (no driver footer sweep).
  Exactly-once rides the snapshot summary — ``streaming-app-id`` +
  ``streaming-batch-id``, the mechanism Iceberg's own Spark sink uses.

File columns win over identity-partition values and are cast when
their Spark type maps 1:1 to Arrow.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import CaseInsensitiveDict, DataSource

from sling_cli_spark.streaming.lake_stream import (
    _FilePart, _LakeStreamReader, _LakeStreamWriter, _flag, _schema_shim)

# spark typeName -> iceberg bound type the sink can encode executor-side
_SPARK_TO_BOUND = {"long": "long", "integer": "int", "double": "double",
                   "float": "float", "string": "string", "date": "date",
                   "boolean": "boolean", "timestamp": "timestamptz",
                   "timestamp_ntz": "timestamp"}


def _seq(snap: dict) -> int:
    return int(snap.get("sequence-number") or 0)


def _main_chain(meta: dict, branch: str | None = None) -> list[dict]:
    """Branch snapshots, oldest first, by walking parent ids from the
    branch head (default: main via current-snapshot-id) — the lineage
    a rollback or another branch's write never contaminates. A named
    ``branch`` streams a WAP/audit line before publish (spec §Refs;
    Spark-Iceberg's ``option("branch", ...)``). Tags are immutable —
    a stream over one would never advance, so they refuse."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if branch:
        ref = (meta.get("refs") or {}).get(branch)
        if ref is None:
            raise ValueError(
                f"iceberg_stream: no ref named {branch!r}")
        if (ref.get("type") or "branch") != "branch":
            raise ValueError(
                f"iceberg_stream: ref {branch!r} is a tag — immutable; "
                "streams read branches")
        cur = ref.get("snapshot-id")
    else:
        cur = meta.get("current-snapshot-id")
    chain: list[dict] = []
    while cur is not None and cur in by_id:
        s = by_id[cur]
        chain.append(s)
        cur = s.get("parent-snapshot-id")
    return chain[::-1]


def _require_chain_coverage(meta: dict, start: int, end: int,
                            path: str,
                            branch: str | None = None) -> None:
    """A micro-batch covers sequence numbers (start, end]; snapshots
    EXPIRED out of that range would silently drop their rows from the
    stream (the iceberg sibling of delta's retention-cleaned commits).
    Detection: expire_snapshots removes a PREFIX of the main chain,
    leaving the oldest retained snapshot with a DANGLING parent
    pointer — if that truncation point sits above ``start + 1``, the
    requested range is not fully covered. Branch snapshots taking
    intermediate sequence numbers never false-positive this (the walk
    follows main parents only)."""
    if end <= start:
        return
    chain = _main_chain(meta, branch)
    if not chain:
        return
    oldest = chain[0]
    parent = oldest.get("parent-snapshot-id")
    by_id = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    truncated = parent is not None and int(parent) != -1 \
        and parent not in by_id
    first_seq = _seq(oldest)
    if truncated and first_seq > start + 1:
        raise ValueError(
            f"iceberg_stream: snapshots covering sequence numbers "
            f"{start + 1}..{first_seq - 1} of {path} were expired "
            "(expire_snapshots) — the requested range is not fully "
            "covered by retained snapshots; restart the stream from a "
            "retained sequence number")


def _added_entries(snap: dict, want_content: int = 0) -> list[dict]:
    """Manifest entries ADDED by ``snap`` (status=1 committed by this
    snapshot id), pruned via ``added_snapshot_id`` so only the new
    manifests are opened."""
    from sling_cli_spark.sources.avro_py import read_avro

    sid = snap["snapshot-id"]
    out: list[dict] = []
    _, manifests = read_avro(snap["manifest-list"])
    for m in manifests:
        if int(m.get("added_snapshot_id") or -1) != sid:
            continue
        _, entries = read_avro(m["manifest_path"])
        for e in entries:
            if e.get("status") != 1 or e.get("snapshot_id") != sid:
                continue
            f = dict(e["data_file"])
            # data sequence number: explicit on the entry, inherited
            # from the committing snapshot otherwise (spec §Sequence
            # Number Inheritance) — the lineage read needs it
            f["__seq"] = int(e.get("sequence_number") or _seq(snap))
            if (f.get("content") or 0) == want_content:
                out.append(f)
    return out


def _adds_deletes(snap: dict) -> bool:
    """True when ``snap`` adds position or equality delete files."""
    return bool(_added_entries(snap, want_content=1)
                or _added_entries(snap, want_content=2))


class IcebergStreamSource(DataSource):
    """``format("iceberg_stream")`` — register once per session with
    :func:`register_iceberg_stream`."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_stream"

    def schema(self):
        from sling_cli_spark.sources.iceberg_py import (
            _current_metadata, _spark_schema)

        _, meta = _current_metadata(self.options["path"])
        if meta.get("format-version", 1) < 2:
            raise ValueError(
                "iceberg_stream: format-version 1 tables have no "
                "sequence numbers to anchor streaming offsets on — "
                "upgrade the table to v2")
        base = _spark_schema(meta)
        if any(f.dataType.typeName() == "variant" for f in base.fields):
            # the pyarrow-side reader has no variant arrow mapping —
            # an emitted struct batch would mismatch the declared
            # VariantType schema (same loud-refusal rule as the
            # decimal fix); batch reads support variant fully
            raise ValueError(
                "iceberg_stream: variant columns are batch-only here "
                "(no pyarrow variant mapping) — read_iceberg supports "
                "them")
        if _flag(self.options, "readChangelog"):
            if _flag(self.options, "withRowLineage"):
                raise ValueError(
                    "iceberg_stream: withRowLineage composes with the "
                    "plain append stream only — the changelog stream "
                    "derives row changes from file turnover and has "
                    "its own identity columns")
            return base.add("_change_type", "string") \
                .add("_snapshot_id", "long") \
                .add("_commit_timestamp_ms", "long")
        if _flag(self.options, "withRowLineage"):
            if meta.get("format-version", 1) < 3:
                raise ValueError(
                    "iceberg_stream: withRowLineage requires "
                    "format-version 3 (row lineage) — this table is "
                    f"v{meta.get('format-version', 1)}")
            return base.add("_row_id", "long") \
                .add("_last_updated_sequence_number", "long")
        return base

    def streamReader(self, schema):
        if _flag(self.options, "readChangelog"):
            return _IceChangelogStreamReader(self.options)
        return _IceStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        return _IceStreamWriter(self.options, schema)


class _IceStreamReader(_LakeStreamReader):
    _KEY = "seq"
    # counted in snapshots: branch commits make sequence numbers
    # non-contiguous on main
    _UNIT_CAP = "maxSnapshotsPerTrigger"
    # withRowLineage (spec v3 §Row Lineage): micro-batches carry
    # _row_id / _last_updated_sequence_number, derived per file from
    # manifest metadata (first_row_id + row position / data sequence
    # number) — the streaming twin of read_iceberg(with_row_ids=True)
    _LINEAGE_OPT = "withRowLineage"
    _CDF_COLS = ("_change_type", "_snapshot_id", "_commit_timestamp_ms")
    _LINEAGE_COLS = ("_row_id", "_last_updated_sequence_number")
    _CAST = True

    def _setup(self, options) -> int:
        self._branch = options.get("branch") or None
        return int(options.get("startingSequence", 0))

    def _pending(self, anchor):
        from sling_cli_spark.sources.iceberg_py import _current_metadata

        _, meta = _current_metadata(self._path)
        chain = _main_chain(meta, self._branch)
        head = _seq(chain[-1]) if chain else 0
        if anchor is None:
            return head, []
        return head, [(_seq(s), s) for s in chain if _seq(s) > anchor]

    def _unit_cost(self, snap: dict):
        # the spec Appendix F summary counters when present (zero
        # manifest reads), else one manifest walk
        sm = snap.get("summary") or {}
        if sm.get("added-data-files") is not None:
            return (int(sm["added-data-files"]),
                    int(sm.get("added-files-size") or 0))
        added = _added_entries(snap)
        return (len(added),
                sum(int(f.get("file_size_in_bytes") or 0) for f in added))

    def _plan(self, start: int, end: int):
        from sling_cli_spark.sources.iceberg_py import (
            _current_metadata, _spark_schema)

        _, meta = _current_metadata(self._path)
        _require_chain_coverage(meta, start, end, self._path, self._branch)
        schema = _spark_schema(meta)
        schema_json = schema.json()
        field_types = {f.name: f.dataType.typeName()
                       for f in schema.fields}

        def part(f: dict, **kw) -> _FilePart:
            pv = {c: (field_types.get(c, "string"), v)
                  for c, v in (f.get("partition") or {}).items()
                  if c in field_types}
            return _FilePart(f["file_path"], schema_json, pv, **kw)

        parts: list[_FilePart] = []
        for snap in _main_chain(meta, self._branch):
            if start < _seq(snap) <= end:
                parts += self._snapshot_parts(meta, snap, part)
        return parts

    def _snapshot_parts(self, meta, snap, part):
        op = (snap.get("summary") or {}).get("operation", "append")
        if op == "replace":
            return []  # compaction: rearrangement only, no new rows
        if op != "append" and not self._ignore_changes:
            raise ValueError(
                f"iceberg_stream: snapshot {snap['snapshot-id']} of "
                f"{self._path} is a {op!r} (rows removed or "
                "superseded) — an append-only stream cannot express "
                "it; set ignoreChanges=true to re-emit its added "
                "files whole")
        if op == "append" and not self._ignore_changes \
                and _adds_deletes(snap):
            raise ValueError(
                f"iceberg_stream: snapshot {snap['snapshot-id']} "
                "adds delete files under an 'append' summary — "
                "rows are superseded; set ignoreChanges=true")
        return [part(f, lineage=self._lineage(f)
                     if self._with_lineage else None)
                for f in _added_entries(snap, want_content=0)]

    def _lineage(self, f: dict) -> tuple:
        # (the source's schema() already refused tables below v3, and a
        # table's format version never goes down)
        if f.get("first_row_id") is None:
            # same loud refusal as the batch read_iceberg_incremental:
            # a silent null id would drop rows from a lineage consumer
            raise ValueError(
                "iceberg_stream: data file "
                f"{f['file_path']} carries no first_row_id "
                "(written before the v3 upgrade) — "
                "withRowLineage cannot cover it; rewrite "
                "(compact) the table first")
        # a rewrite's materialized columns win when present
        # (ignoreChanges re-emits of overwrite-added files)
        return (int(f["first_row_id"]), int(f.get("__seq") or 0),
                "_row_id", "_last_updated_sequence_number")


class _IceChangelogStreamReader(_IceStreamReader):
    """``readChangelog=true``: micro-batches emit each snapshot's ROW
    CHANGES derived from file turnover — the same semantics as the
    batch :func:`iceberg_py.iceberg_changelog` (Spark-Iceberg's
    create_changelog_view): files a snapshot ADDS stream as ``insert``
    rows, files it drops from the active set as ``delete`` rows (a
    rewrite emits delete+insert pairs for carried rows — the
    documented derived contract), so destructive snapshots are the
    point and nothing refuses on operation. Snapshots that ADD
    position/equality delete files (DV or eq-upsert paths) refuse —
    their row sets need sequence-number scoping the per-file stream
    cannot carry; read those with the batch changelog. Driver work is
    two manifest walks per snapshot (parent actives vs own), data
    moves executor-side as Arrow batches."""

    def _snapshot_parts(self, meta, snap, part):
        from sling_cli_spark.sources.iceberg_py import (
            UnsupportedTableFeature, _active_entries, _canon)

        sid = snap["snapshot-id"]
        ts = int(snap.get("timestamp-ms") or 0)
        if _adds_deletes(snap):
            raise UnsupportedTableFeature(
                f"iceberg_stream changelog: snapshot {sid} adds "
                "position/equality delete files — their row sets "
                "need sequence-number scoping; use the batch "
                "iceberg_changelog")
        parent = snap.get("parent-snapshot-id")
        prev = _active_entries(self._path, meta, parent)[0] \
            if parent is not None else []
        cur = _active_entries(self._path, meta, sid)[0]
        prev_by = {_canon(f["file_path"]): f for f in prev}
        cur_by = {_canon(f["file_path"]): f for f in cur}
        return [part(cur_by[p], cdf=("insert", sid, ts))
                for p in sorted(set(cur_by) - set(prev_by))] \
            + [part(prev_by[p], cdf=("delete", sid, ts))
               for p in sorted(set(prev_by) - set(cur_by))]


class _IceStreamWriter(_LakeStreamWriter):
    """Data files land under ``data/``; each micro-batch commits one
    FastAppend snapshot recording (txnAppId, batch id) in its
    summary."""

    _FORMAT = "iceberg_stream"
    _DATA_DIR = "data"
    _FILE_NAME = "{}.parquet"

    def __init__(self, options, schema):
        # table format version when the SINK creates the target: 3
        # makes every micro-batch commit assign row-lineage
        # first_row_id ranges — the lineage stream reader's input
        options = CaseInsensitiveDict(options)
        self._format_version = int(options.get("formatVersion", 2))
        super().__init__(options, schema)

    def _recorded_layout(self) -> list[str] | None:
        from sling_cli_spark.sources.iceberg_py import (
            _current_metadata, _identity_part_cols, _part_cols,
            _spark_schema, is_iceberg_table)

        if not is_iceberg_table(self._path):
            return None
        _, meta = _current_metadata(self._path)
        if meta.get("format-version", 1) < 2:
            raise ValueError(
                "iceberg_stream sink: v1 targets are not supported "
                "(no sequence numbers)")
        recorded = _part_cols(meta)
        if set(recorded) - _identity_part_cols(meta):
            raise ValueError(
                "iceberg_stream sink: transform partition layouts "
                "are not supported — use foreachBatch")
        cols = [f.name for f in self._schema.fields]
        cur = [f.name for f in _spark_schema(meta).fields]
        if cols != cur:
            raise ValueError(
                f"iceberg_stream sink: stream columns {cols} != table "
                f"columns {cur} — evolve via foreachBatch + "
                "write_iceberg")
        return recorded

    def _file_stats(self, tbl) -> dict:
        """Per-file value bounds, so the driver writes real
        ``lower_bounds``/``upper_bounds`` without re-reading a single
        footer (at 1000 files/batch a driver footer sweep would be the
        bottleneck)."""
        import pyarrow.compute as pc

        bounds = {}
        for f in self._schema.fields:
            if f.name in self._part_cols \
                    or f.dataType.typeName() not in _SPARK_TO_BOUND:
                continue
            col = tbl.column(f.name)
            if col.null_count < len(col):
                mm = pc.min_max(col)
                bounds[f.name] = (mm["min"].as_py(), mm["max"].as_py())
        return {"bounds": bounds}

    def _committed_batch(self, meta: dict) -> int | None:
        """Highest batch id a retained snapshot's summary records for
        this app — the exactly-once watermark."""
        best = None
        for s in meta.get("snapshots") or []:
            sm = s.get("summary") or {}
            if sm.get("streaming-app-id") == self._app:
                b = int(sm.get("streaming-batch-id", -1))
                best = b if best is None else max(best, b)
        return best

    def _commit_once(self, entries: list[dict], batch_id: int) -> bool:
        from sling_cli_spark import fsio
        from sling_cli_spark.sources.avro_py import read_avro
        from sling_cli_spark.sources.iceberg_py import (
            _absolute, _commit_snapshot, _current_metadata,
            _current_schema, _encode_bound, _init_meta, is_iceberg_table)

        reuse = None
        if is_iceberg_table(self._path):
            # for_write: the __base_version marker makes
            # _commit_snapshot raise (-> the retry loop) if a concurrent
            # committer lands between this read and the claim —
            # committing from the stale meta would drop that snapshot
            _, meta = _current_metadata(self._path, for_write=True)
            # FastAppend: reuse the head's manifest-list entries
            # verbatim — a micro-batch commit costs O(batch files), not
            # O(table files); thousands of triggers stay flat
            snap = next(
                (s for s in meta.get("snapshots") or []
                 if s["snapshot-id"] == meta.get("current-snapshot-id")),
                None)
            if snap is not None:
                reuse = read_avro(snap["manifest-list"])[1]
        else:
            meta = _init_meta(
                _schema_shim(self._schema), self._path, self._part_cols,
                format_version=self._format_version)
        seen = self._committed_batch(meta)
        if seen is not None and seen >= batch_id:
            return False
        fid_of = {f["name"]: (str(f["id"]), f["type"])
                  for f in (_current_schema(meta) or {}).get("fields", [])
                  if isinstance(f.get("type"), str)}
        staged = []
        for f in entries:
            lo, hi = {}, {}
            for col, (mn, mx) in (f.get("bounds") or {}).items():
                fid, t = fid_of.get(col, (None, None))
                if fid is None:
                    continue
                try:
                    lb, ub = _encode_bound(t, mn), _encode_bound(t, mx)
                except (TypeError, ValueError):
                    # stream value type the table column cannot encode:
                    # the file simply carries no bound for it
                    lb = ub = None
                if lb is not None and ub is not None:
                    lo[fid], hi[fid] = lb, ub
            staged.append({
                "file_path": _absolute(
                    fsio.join(self._path, "data", f["rel"])),
                "file_format": "PARQUET",
                "record_count": f["n"],
                "file_size_in_bytes": f["size"],
                "partition": f.get("partitionValues") or None,
                "lower_bounds": lo or None,
                "upper_bounds": hi or None,
            })
        _commit_snapshot(
            None, self._path, meta, carried=[], staged_files=staged,
            reuse_manifests=reuse, operation="append",
            summary_extra={"streaming-app-id": self._app,
                           "streaming-batch-id": str(batch_id)})
        return True


def register_iceberg_stream(spark) -> None:
    """Idempotently register ``format("iceberg_stream")`` on a
    session."""
    spark.dataSource.register(IcebergStreamSource)
