"""Minimal Delta Lake table layer over the PUBLIC transaction-log protocol.

Reference: the engine's Delta surface (``core/dbio/iop/delta.go`` scans
via duckdb ``delta_scan``; ``task_run_write.go:997-1179`` merges) and the
open Delta protocol (github.com/delta-io/delta PROTOCOL.md): a table is
a directory of parquet data files plus ``_delta_log/NNNNNNNNNN...N.json``
commits, each a list of actions (``protocol`` / ``metaData`` / ``add`` /
``remove``). Readers reconstruct the active file set by replaying the
log; writers commit atomically by writing the next version file.

Neither the delta-spark jars nor DuckDB's delta extension are available
in this environment, so this module implements the subset directly:

- :func:`read_delta` — replay the JSON log, read ACTIVE files only
  (time travel via ``version=``); snapshot isolation for free, since a
  concurrent writer only adds new log versions.
- :func:`write_delta` — append / overwrite with atomic log commits
  (``protocol`` minReader=1 / minWriter=2 + Spark-schema ``metaData`` on
  version 0, matching what delta-spark writes for simple tables).
  ``partition_by`` writes Hive-layout data files with per-file
  ``add.partitionValues`` (PROTOCOL.md Add File and Remove File).
- :func:`merge_delta` — the REAL incremental-merge answer at scale:
  copy-on-write at file granularity (operators/file_merge's touched-file
  probe) committed as ``remove`` + ``add`` actions. An incremental batch
  touching 0.1% of PKs rewrites only the files holding them, and readers
  at any version never see a partial merge. On a partitioned table the
  probe scans only the partitions present in the batch (driver-side
  prune over ``add.partitionValues`` — no file in an untouched
  partition is even opened).
- Parquet **checkpoints** (PROTOCOL.md Checkpoints): every
  ``CHECKPOINT_INTERVAL`` commits the replayed state is written as
  ``NNN.checkpoint.parquet`` + ``_last_checkpoint``, so readers load
  one parquet file + the JSON tail instead of re-reading every commit —
  the CDC-cadence fix (a commit per micro-batch made replay O(commits)).

All metadata I/O goes through :mod:`sling_cli_spark.fsio` — plain ``os``
for schemeless local paths, Hadoop ``FileSystem`` for any URI scheme —
so the fallback layer works on HDFS/object stores, not just a laptop.
Data files are written by Spark executors directly (``df.write``); the
driver never holds row data.

Column mapping (name AND id modes, nested structs, partitioned) reads
are supported — id mode resolves columns by parquet field id via
Spark's native ``fieldId.read`` path (:func:`_fieldid_fields`) — and so
are **deletion vectors** (merge-on-read: descriptor +
roaring-bitmap parse in :mod:`.delta_dv`, anti-join on
``_metadata.row_index`` in :func:`_apply_deletion_vectors`); anything
else (generated columns, v2 checkpoints, ...) the reader/writer protocol
gates (_check_reader_protocol / check_writer_protocol) refuse loudly
instead of returning wrong rows or breaking invariants.
"""

from __future__ import annotations

import io
import json
import os
import posixpath
import re
import time
import uuid
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..localframe import local_df
from pyspark.sql import functions as F

from sling_cli_spark import fsio
from sling_cli_spark.sources.footer_stats import (
    HIVE_NULL as _HIVE_NULL, canon_path, footer_num_rows,
    hive_partition_values as _partition_values, staged_stats)
from sling_cli_spark.sources.lake_core import (  # noqa: F401 (public kernel)
    RID, SEQ, attach_preserved, bounds_disprove, doomed_positions,
    fold_dv_rows, partition_value_disprove, prune_files, touched_files)

_LOG_DIR = "_delta_log"

#: write a parquet checkpoint every N commits (delta-spark default: 10)
CHECKPOINT_INTERVAL = 10

def _log_dir(path: str) -> str:
    return fsio.join(path, _LOG_DIR)


def is_delta_table(path: str) -> bool:
    try:
        return fsio.get_fs(path).isdir(_log_dir(path))
    except Exception:
        return False


def _log_path(path: str, version: int) -> str:
    return fsio.join(path, _LOG_DIR, f"{version:020d}.json")


def _list_versions(path: str, fs=None) -> list[int]:
    fs = fs or fsio.get_fs(path)
    d = _log_dir(path)
    if not fs.isdir(d):
        return []
    out = []
    for f in fs.listdir(d):
        if f.endswith(".json") and f[:-5].isdigit():
            out.append(int(f[:-5]))
    return sorted(out)


def latest_version(path: str) -> int:
    """Highest committed version: max of the JSON commits and the
    checkpointed version — after metadata cleanup a table may hold
    ONLY a checkpoint, and ignoring it would re-claim (and silently
    orphan) an already-used version number."""
    vs = _list_versions(path)
    latest = vs[-1] if vs else -1
    cp = _last_checkpoint_info(path, fsio.get_fs(path))
    if cp is not None:
        latest = max(latest, int(cp.get("version", -1)))
    return latest


# ------------------------------------------------------------- checkpoints

def _last_checkpoint_info(path: str, fs) -> dict | None:
    p = fsio.join(path, _LOG_DIR, "_last_checkpoint")
    if not fs.exists(p):
        return None
    try:
        return json.loads(fs.read_bytes(p).decode())
    except Exception:
        return None  # torn write: fall back to full JSON replay


def _checkpoint_file(path: str, version: int) -> str:
    return fsio.join(path, _LOG_DIR, f"{version:020d}.checkpoint.parquet")


def _checkpoint_parts(path: str, version: int, parts: int) -> list[str]:
    """Multi-part checkpoint names (PROTOCOL.md Checkpoints:
    ``NNN.checkpoint.<part>.<parts>.parquet``, both fields 10 digits) —
    foreign writers split large state; the parts union to one state."""
    return [
        fsio.join(path, _LOG_DIR,
                  f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}"
                  ".parquet")
        for i in range(parts)
    ]


def _norm_checkpoint_meta(m: dict) -> dict:
    meta = dict(m)
    meta["partitionColumns"] = list(meta.get("partitionColumns") or [])
    cfg = meta.get("configuration")
    if isinstance(cfg, list):  # pyarrow map -> list of (k, v)
        cfg = dict(cfg)
    meta["configuration"] = cfg or {}
    return meta


def _norm_checkpoint_add(a: dict) -> dict:
    add = dict(a)
    pv = add.get("partitionValues")
    if isinstance(pv, list):  # pyarrow map -> list of (k, v)
        pv = dict(pv)
    add["partitionValues"] = pv or {}
    dv = add.get("deletionVector")
    if dv is not None:
        add["deletionVector"] = {
            k: v for k, v in dict(dv).items() if v is not None}
    else:
        add.pop("deletionVector", None)
    for k in ("baseRowId", "defaultRowCommitVersion",
              "clusteringProvider"):
        if add.get(k) is None:  # non-row-tracked/clustered rows
            add.pop(k, None)
    return add


def _fold_checkpoint_rows(rows, meta, files, protocol):
    """Accumulate checkpoint action rows (dicts with one non-null
    action field) into the (meta, files, protocol) state."""
    for row in rows:
        if row.get("protocol") is not None:
            protocol = {k: v for k, v in dict(row["protocol"]).items()
                        if v is not None}
        elif row.get("metaData") is not None:
            meta = _norm_checkpoint_meta(dict(row["metaData"]))
        elif row.get("add") is not None:
            add = _norm_checkpoint_add(row["add"])
            files[add["path"]] = add
    return meta, files, protocol


def _read_checkpoint(path: str, fs, version: int, parts: int | None = None):
    """checkpoint parquet -> (metadata_action, {rel_path: add_action},
    protocol_action). ``parts`` (from ``_last_checkpoint``) selects the
    multi-part layout; actions across parts are disjoint per the spec,
    so rows just accumulate. When the classic single-file name is
    absent, the UUID-named V2 checkpoint layout is searched
    (:func:`_read_checkpoint_v2`)."""
    import pyarrow.parquet as pq

    if parts:
        names = _checkpoint_parts(path, version, parts)
    else:
        classic = _checkpoint_file(path, version)
        if not fs.exists(classic):
            return _read_checkpoint_v2(path, fs, version)
        names = [classic]
    rows: list[dict] = []
    for name in names:
        buf = io.BytesIO(fs.read_bytes(name))
        rows.extend(pq.read_table(buf).to_pylist())
    return _fold_checkpoint_rows(rows, None, {}, None)


def _read_checkpoint_v2(path: str, fs, version: int):
    """PROTOCOL.md V2 Checkpoints: a UUID-named
    ``NNN.checkpoint.<uuid>.{json|parquet}`` top-level file carrying
    checkpointMetadata / protocol / metaData plus either inline file
    actions or ``sidecar`` actions whose parquet files (under
    ``_delta_log/_sidecars/``) hold the adds. Any one v2 checkpoint of
    a version is complete, so the lexically first candidate is read."""
    log = fsio.join(path, _LOG_DIR)
    prefix = f"{version:020d}.checkpoint."
    cands = []
    for name in fs.listdir(log):
        if not name.startswith(prefix):
            continue
        rest = name[len(prefix):]
        if rest.endswith(".json") or (
                rest.endswith(".parquet")
                and not _is_multipart_suffix(rest)):
            cands.append(name)
    if not cands:
        raise FileNotFoundError(
            f"no checkpoint file for version {version} at {path}")
    top = fsio.join(log, sorted(cands)[0])
    if top.endswith(".json"):
        rows = [json.loads(ln)
                for ln in fs.read_bytes(top).decode().splitlines()
                if ln.strip()]
    else:
        import pyarrow.parquet as pq
        rows = pq.read_table(io.BytesIO(fs.read_bytes(top))).to_pylist()
    meta, files, protocol = _fold_checkpoint_rows(rows, None, {}, None)
    import pyarrow.parquet as pq
    for row in rows:
        sc = row.get("sidecar")
        if sc is None:
            continue
        sp = fsio.join(log, fsio.join("_sidecars", sc["path"])) \
            if "/" not in sc["path"] else sc["path"]
        side = pq.read_table(io.BytesIO(fs.read_bytes(sp))).to_pylist()
        meta, files, protocol = _fold_checkpoint_rows(
            side, meta, files, protocol)
    return meta, files, protocol


def _is_multipart_suffix(rest: str) -> bool:
    """True for the classic multi-part tail ``<part>.<parts>.parquet``
    (two 10-digit fields) — NOT a v2 UUID name."""
    bits = rest[:-len(".parquet")].split(".")
    return len(bits) == 2 and all(b.isdigit() and len(b) == 10
                                  for b in bits)


def _domain_metadata(path: str, version: int | None = None) -> dict:
    """{domain: configuration} — latest wins, ``removed`` tombstones
    drop the domain (PROTOCOL.md §Domain Metadata). Seeds from the
    newest checkpoint when early log files were cleaned (foreign
    tables), then folds the retained JSON commits."""
    fs = fsio.get_fs(path)
    vs = [v for v in _list_versions(path, fs)
          if version is None or v <= version]
    domains: dict[str, str] = {}
    if vs and vs[0] > 0:
        info = _last_checkpoint_info(path, fs)
        cp_v = (info or {}).get("version")
        # retained logs are a SUFFIX; the checkpoint reflects state at
        # cp_v, and replaying any overlapping suffix commits after the
        # seed is idempotent for latest-wins domains
        if cp_v is not None and (version is None or cp_v <= version):
            for dm in _checkpoint_domain_rows(path, fs, int(cp_v)):
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration")
    for text in _log_texts(path, fs, -1, version):
        for line in text.splitlines():
            if '"domainMetadata"' not in line:
                continue
            dm = json.loads(line).get("domainMetadata")
            if not dm:
                continue
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration")
    return domains


def _txn_versions(path: str) -> dict[str, int]:
    """{appId: last committed transaction version} (PROTOCOL.md
    §Transaction Identifiers — the SetTransaction action streaming
    sinks key exactly-once idempotence on). Seeds from the newest
    checkpoint's txn rows, then folds the retained log objects —
    through :func:`_log_texts`, so a minor log compaction substitutes
    for cleaned per-version commits and the exactly-once markers
    survive retention (latest wins)."""
    fs = fsio.get_fs(path)
    vs = _list_versions(path, fs)
    txns: dict[str, int] = {}
    if vs and vs[0] > 0:
        info = _last_checkpoint_info(path, fs)
        cp_v = (info or {}).get("version")
        if cp_v is not None:
            for t in _checkpoint_txn_rows(path, fs, int(cp_v)):
                txns[t["appId"]] = int(t["version"])
    for text in _log_texts(path, fs, -1, None):
        for line in text.splitlines():
            if '"txn"' not in line:
                continue
            t = json.loads(line).get("txn")
            if t and t.get("appId") is not None:
                txns[t["appId"]] = int(t.get("version") or 0)
    return txns


def last_txn_version(path: str, app_id: str) -> int | None:
    """Latest SetTransaction version for ``app_id``, or None — the
    idempotence probe (re-delivered micro-batches compare their batch
    id against it and skip)."""
    return _txn_versions(path).get(app_id)


def _checkpoint_txn_rows(path: str, fs, version: int) -> list[dict]:
    """txn rows stored in a checkpoint (classic parquet column, or
    action lines in a V2 top-level JSON). Best-effort: a checkpoint
    without them yields []."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    classic = _checkpoint_file(path, version)
    if fs.exists(classic):
        t = pq.read_table(io.BytesIO(fs.read_bytes(classic)))
        if "txn" in t.column_names:
            out = [dict(r) for r in t.column("txn").to_pylist()
                   if r is not None]
        return out
    for name in fs.listdir(fsio.join(path, _LOG_DIR)):
        if name.startswith(f"{version:020d}.checkpoint.") \
                and name.endswith(".json"):
            for line in fs.read_bytes(
                    fsio.join(path, fsio.join(_LOG_DIR, name))
            ).decode().splitlines():
                if '"txn"' in line:
                    t = json.loads(line).get("txn")
                    if t:
                        out.append(t)
            break
    return out


def _checkpoint_domain_rows(path: str, fs, version: int) -> list[dict]:
    """domainMetadata rows stored in a checkpoint (classic parquet
    column, or action lines in a V2 top-level JSON). Best-effort: a
    checkpoint without the column yields []."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    classic = _checkpoint_file(path, version)
    if fs.exists(classic):
        t = pq.read_table(io.BytesIO(fs.read_bytes(classic)))
        if "domainMetadata" in t.column_names:
            out = [dict(r) for r in t.column("domainMetadata").to_pylist()
                   if r is not None]
        return out
    # V2: UUID-named top JSON
    for name in fs.listdir(fsio.join(path, _LOG_DIR)):
        if name.startswith(f"{version:020d}.checkpoint.") \
                and name.endswith(".json"):
            for line in fs.read_bytes(
                    fsio.join(path, fsio.join(_LOG_DIR, name))
            ).decode().splitlines():
                if '"domainMetadata"' in line:
                    dm = json.loads(line).get("domainMetadata")
                    if dm:
                        out.append(dm)
            break
    return out


def _write_checkpoint(path: str, fs, version: int, state=None) -> None:
    """Materialize the state at ``version`` as a parquet checkpoint +
    ``_last_checkpoint`` pointer (PROTOCOL.md Checkpoints: one action per
    row, one non-null action column per row). ``state`` lets a caller
    that already replayed (meta, files, protocol) skip the re-replay.

    The checkpoint must round-trip EVERYTHING replay produced — the
    replayed protocol (incl. reader/writerFeatures), the full metaData
    (incl. ``configuration``, which carries delta.appendOnly and the
    column-mapping mode), and per-add ``deletionVector`` descriptors.
    Dropping any of these would silently downgrade the table for every
    later reader that starts from the checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta, files, protocol = state or _replay_state(path, version)
    if "v2Checkpoint" in set((protocol or {}).get("writerFeatures") or ()):
        # the v2Checkpoint writer feature obliges checkpoints in V2
        # form — a classic one would violate the table contract
        return _write_checkpoint_v2(path, fs, version,
                                    meta, files, protocol)
    adds = [files[p] for p in sorted(files)]

    protocol_t, meta_t, add_t = _checkpoint_arrow_types()

    n = 2 + len(adds)
    proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    protocol_col = [{
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": proto.get("minWriterVersion", 2),
        "readerFeatures": proto.get("readerFeatures"),
        "writerFeatures": proto.get("writerFeatures"),
    }] + [None] * (n - 1)
    meta_col = [None, {
        "id": (meta or {}).get("id"),
        "format": {"provider": "parquet"},
        "schemaString": (meta or {}).get("schemaString"),
        "partitionColumns": (meta or {}).get("partitionColumns") or [],
        "configuration": (meta or {}).get("configuration") or {},
        "createdTime": (meta or {}).get("createdTime"),
    }] + [None] * (n - 2)
    add_col = [None, None] + [_checkpoint_add_row(a) for a in adds]

    cols = {
        "protocol": pa.array(protocol_col, type=protocol_t),
        "metaData": pa.array(meta_col, type=meta_t),
        "add": pa.array(add_col, type=add_t),
    }
    # domain metadata must survive the checkpoint (PROTOCOL.md §Domain
    # Metadata: replay from a checkpoint that dropped them would lose
    # every domain for readers that never see the earlier JSON
    # commits). One action per row: domains APPEND as fresh rows.
    domains = _domain_metadata(path, version)
    if domains:
        dm_t = pa.struct([("domain", pa.string()),
                          ("configuration", pa.string()),
                          ("removed", pa.bool_())])
        dm_rows = [{"domain": d, "configuration": c, "removed": False}
                   for d, c in sorted(domains.items())]
        for k in list(cols):
            cols[k] = pa.concat_arrays(
                [cols[k], pa.nulls(len(dm_rows), type=cols[k].type)])
        cols["domainMetadata"] = pa.array(
            [None] * n + dm_rows, type=dm_t)
        n += len(dm_rows)
    txns = _txn_versions(path)  # checkpoints are written at latest,
    if txns:                    # so the unbounded fold matches
        txn_t = pa.struct([("appId", pa.string()),
                           ("version", pa.int64()),
                           ("lastUpdated", pa.int64())])
        txn_rows = [{"appId": a, "version": v, "lastUpdated": None}
                    for a, v in sorted(txns.items())]
        for k in list(cols):
            cols[k] = pa.concat_arrays(
                [cols[k], pa.nulls(len(txn_rows), type=cols[k].type)])
        cols["txn"] = pa.array(
            [None] * n + txn_rows, type=txn_t)
        n += len(txn_rows)
    table = pa.table(cols)
    buf = io.BytesIO()
    pq.write_table(table, buf)
    fs.write_bytes(_checkpoint_file(path, version), buf.getvalue())
    fs.write_bytes(fsio.join(path, _LOG_DIR, "_last_checkpoint"),
                   json.dumps({"version": version, "size": n,
                               # delta-spark pre-sizes snapshot state
                               # from these optional fields
                               "sizeInBytes": len(buf.getvalue()),
                               "numOfAddFiles": len(adds)}).encode())


def _checkpoint_arrow_types():
    """(protocol, metaData, add) arrow struct types shared by the
    classic checkpoint writer and the V2 sidecar writer."""
    import pyarrow as pa

    protocol_t = pa.struct([("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string()))])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string())])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("createdTime", pa.int64()),
    ])
    dv_t = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("deletionVector", dv_t),
        ("stats", pa.string()),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
        ("clusteringProvider", pa.string()),
    ])
    return protocol_t, meta_t, add_t


def _checkpoint_add_row(a: dict) -> dict:
    return {
        "path": a["path"],
        "partitionValues": a.get("partitionValues") or {},
        "size": a.get("size", 0),
        "modificationTime": a.get("modificationTime", 0),
        "dataChange": False,  # checkpoint adds are not data changes
        "deletionVector": a.get("deletionVector"),
        "stats": a.get("stats"),
        "baseRowId": a.get("baseRowId"),
        "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
        "clusteringProvider": a.get("clusteringProvider"),
    }


def _write_checkpoint_v2(path: str, fs, version: int,
                         meta, files, protocol,
                         max_actions_per_sidecar: int = 50_000) -> None:
    """PROTOCOL.md V2 Checkpoints: the add actions land in parquet
    sidecars under ``_delta_log/_sidecars/`` (full fidelity — stats
    and deletionVector descriptors included, same schema as the
    classic writer), and a UUID-named top-level JSON carries
    checkpointMetadata + protocol + metaData + the sidecar pointers.

    Adds split across sidecars every ``max_actions_per_sidecar``
    actions — the scale point of the V2 form: a 10M-file table's state
    parallelizes across sidecar files readers can fetch and decode
    concurrently, instead of one monolithic classic checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, _, add_t = _checkpoint_arrow_types()
    adds = [_checkpoint_add_row(files[p]) for p in sorted(files)]
    side_dir = fsio.join(path, fsio.join(_LOG_DIR, "_sidecars"))
    fs.mkdirs(side_dir)
    now = int(time.time() * 1000)
    sidecars: list[dict] = []
    for i in range(0, max(len(adds), 1), max_actions_per_sidecar):
        chunk = adds[i:i + max_actions_per_sidecar]
        side_name = f"{uuid.uuid4().hex}.parquet"
        buf = io.BytesIO()
        pq.write_table(
            pa.table({"add": pa.array(chunk, type=add_t)}), buf)
        fs.write_bytes(fsio.join(side_dir, side_name), buf.getvalue())
        sidecars.append({"path": side_name,
                         "sizeInBytes": len(buf.getvalue()),
                         "modificationTime": now})

    top = fsio.join(
        path, fsio.join(
            _LOG_DIR, f"{version:020d}.checkpoint.{uuid.uuid4().hex}.json"))
    lines = [
        {"checkpointMetadata": {"version": version, "tags": {}}},
        {"protocol": protocol or {"minReaderVersion": 1,
                                  "minWriterVersion": 2}},
        {"metaData": meta or {}},
    ] + [
        {"domainMetadata": {"domain": d, "configuration": c,
                            "removed": False}}
        for d, c in sorted(_domain_metadata(path, version).items())
    ] + [
        {"txn": {"appId": a, "version": v}}
        for a, v in sorted(_txn_versions(path).items())
    ] + [
        {"sidecar": sc} for sc in sidecars
    ]
    fs.write_bytes(top, "".join(
        json.dumps(ln) + "\n" for ln in lines).encode())
    fs.write_bytes(fsio.join(path, _LOG_DIR, "_last_checkpoint"),
                   json.dumps({"version": version,
                               "size": len(adds) + 3,
                               "sizeInBytes": fs.getsize(top),
                               "numOfAddFiles": len(adds)}).encode())


def create_checkpoint(path: str, version: int | None = None,
                      v2: bool | None = None,
                      max_actions_per_sidecar: int = 50_000) -> int:
    """Public checkpoint verb. ``version`` defaults to the latest;
    ``v2=None`` honors the table's protocol (the ``v2Checkpoint``
    feature obliges the V2 form), ``v2=True`` ADOPTS the feature first
    (protocol-upgrade commit, reader v3 / writer v7, existing features
    carried forward) then writes the UUID-top-file + sidecar layout,
    ``v2=False`` refuses on a v2-obliged table rather than violating
    its contract. Returns the checkpointed version."""
    fs = fsio.get_fs(path)
    prot = _replay_state(path)[2] or {}
    has_v2 = "v2Checkpoint" in set(prot.get("writerFeatures") or ())
    if v2 is False and has_v2:
        raise UnsupportedTableFeature(
            f"delta table at {path} carries the v2Checkpoint feature; "
            "a classic checkpoint would violate the table contract")
    if v2 and not has_v2:
        rf = set(prot.get("readerFeatures") or ())
        wf = set(prot.get("writerFeatures") or ())
        legacy = not prot.get("writerFeatures")
        if legacy and (prot.get("minReaderVersion", 1) == 2
                       or prot.get("minWriterVersion", 2) >= 5):
            rf.add("columnMapping")
            wf.add("columnMapping")
        if legacy and prot.get("minWriterVersion", 2) >= 4:
            wf.add("changeDataFeed")
        rf.add("v2Checkpoint")
        wf |= {"v2Checkpoint", "appendOnly"}
        _commit_with_retry(path, latest_version(path) + 1, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": sorted(rf),
                          "writerFeatures": sorted(wf)}}])
    if version is None:
        version = latest_version(path)
    if v2:
        meta, files, protocol = _replay_state(path, version)
        _write_checkpoint_v2(path, fs, version, meta, files, protocol,
                             max_actions_per_sidecar)
    else:
        _write_checkpoint(path, fs, version)
    return int(version)


# {table path: delta.checkpointInterval} — the interval probe must not
# cost a state replay on EVERY commit (2x the driver's log reads for a
# feature most tables never enable). Seeded from the commit's own
# metaData action when one rides along (set_table_properties always
# commits one), else one replay per path per process. A foreign writer
# flipping the property concurrently is seen at the next process or
# metaData-carrying commit — benign, the interval only times an
# optimization.
_CKPT_INTERVAL_CACHE: dict[str, int] = {}


def _maybe_auto_checkpoint(path: str, version: int,
                           actions: list[dict] | None = None) -> None:
    """``delta.checkpointInterval`` (delta-spark table property): when
    the table EXPLICITLY sets it, write a checkpoint after every
    interval-th commit — the replay tail stays O(interval) instead of
    O(commits since someone last ran ``lake checkpoint``), which on a
    busy 100 TB table is the difference between 10 and 10,000 log GETs
    per snapshot resolution. Opt-in by property (delta-spark defaults
    to 10; an EL-tool engine keeps the log layout deterministic unless
    asked). A failure here never fails the commit: the checkpoint is
    an optimization, the JSON log stays the source of truth."""
    if version <= 0:
        return
    try:
        iv = None
        for a in actions or ():
            md = a.get("metaData")
            if md is not None:
                iv = int((md.get("configuration") or {})
                         .get("delta.checkpointInterval") or 0)
                _CKPT_INTERVAL_CACHE[path] = iv
        if iv is None:
            iv = _CKPT_INTERVAL_CACHE.get(path)
        if iv is None:
            meta0 = _replay_state(path, version)[0]
            iv = int(((meta0 or {}).get("configuration") or {})
                     .get("delta.checkpointInterval") or 0)
            _CKPT_INTERVAL_CACHE[path] = iv
        if iv <= 0 or version % iv != 0:
            return
        fs = fsio.get_fs(path)
        info = _last_checkpoint_info(path, fs) or {}
        if int(info.get("version", -1)) >= version:
            return
        meta, files, protocol = _replay_state(path, version)
        if "v2Checkpoint" in set((protocol or {})
                                 .get("writerFeatures") or ()):
            _write_checkpoint_v2(path, fs, version, meta, files, protocol)
        else:
            # one replay total: thread the state through
            _write_checkpoint(path, fs, version,
                              state=(meta, files, protocol))
    except Exception:
        pass


def _crc_path(path: str, version: int) -> str:
    return fsio.join(path, _LOG_DIR, f"{version:020d}.crc")


def _crc_state(meta, files, protocol) -> dict:
    return {
        "tableSizeBytes": sum(int(f.get("size") or 0)
                              for f in files.values()),
        "numFiles": len(files),
        "numMetadata": 1, "numProtocol": 1,
        "metadata": meta, "protocol": protocol,
    }


def _update_crc(path: str, version: int, actions: list[dict]) -> None:
    """Version checksum file (delta-spark OSS ``VersionChecksum`` /
    the ``{v:020d}.crc`` beside each commit): table-level invariants —
    total bytes, file count, current metadata + protocol — a reader or
    auditor validates a reconstructed snapshot against. Maintained
    INCREMENTALLY from the previous version's .crc plus this commit's
    actions (O(commit), never O(table) — delta-spark does the same),
    falling back to one full replay when the commit isn't incremental-
    safe: a remove without the optional ``size`` field, or a
    dataChange=false re-add without a paired remove (the row-tracking
    backfill shape — the path may already be counted). No previous
    .crc (a pre-feature table) -> skip; ``verify_checksum`` seeds the
    chain. Best-effort: never fails the commit."""
    try:
        prev = None
        fs = fsio.get_fs(path)
        if version > 0:
            p = _crc_path(path, version - 1)
            if not fs.exists(p):
                return
            prev = json.loads(fs.read_bytes(p).decode())
        adds = [a["add"] for a in actions if "add" in a]
        rems = [a["remove"] for a in actions if "remove" in a]
        rem_paths = {r["path"] for r in rems}
        safe = all(r.get("size") is not None for r in rems) and all(
            a.get("dataChange", True) or a["path"] in rem_paths
            for a in adds)
        if prev is not None and safe:
            meta = prev["metadata"]
            protocol = prev["protocol"]
            for a in actions:
                if "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
            # order-independent: per-path net effect (remove+re-add of
            # one path nets to the size delta)
            size = prev["tableSizeBytes"] \
                - sum(int(r["size"]) for r in rems) \
                + sum(int(a.get("size") or 0) for a in adds)
            nfiles = prev["numFiles"] - len(rem_paths) + len(adds)
            state = {"tableSizeBytes": size, "numFiles": nfiles,
                     "numMetadata": 1, "numProtocol": 1,
                     "metadata": meta, "protocol": protocol}
        else:
            state = _crc_state(*_replay_state(path, version))
        fs.write_bytes(_crc_path(path, version),
                       json.dumps(state).encode())
    except Exception:
        pass


def verify_checksum(path: str, version: int | None = None) -> dict:
    """Compare the ``{v}.crc`` version checksum against the replayed
    state (delta-spark's checksum validation); SEEDS the checksum
    when the version has none (pre-feature tables start their
    incremental chain here). Returns {"version", "ok", "seeded",
    "crc", "actual"} — ``ok=False`` means the log and the checksum
    disagree: the table state was mutated outside the commit
    protocol."""
    fs = fsio.get_fs(path)
    if version is None:
        version = latest_version(path)
    meta, files, protocol = _replay_state(path, version)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    actual = _crc_state(meta, files, protocol)
    p = _crc_path(path, version)
    if not fs.exists(p):
        fs.write_bytes(p, json.dumps(actual).encode())
        return {"version": int(version), "ok": True, "seeded": True,
                "crc": actual, "actual": actual}
    crc = json.loads(fs.read_bytes(p).decode())
    ok = (int(crc.get("tableSizeBytes", -1)) == actual["tableSizeBytes"]
          and int(crc.get("numFiles", -1)) == actual["numFiles"]
          and crc.get("metadata", {}).get("id")
          == actual["metadata"].get("id"))
    return {"version": int(version), "ok": bool(ok), "seeded": False,
            "crc": crc, "actual": actual}


# -------------------------------------------------------------- log replay

class UnsupportedTableFeature(RuntimeError):
    """The table requires a reader protocol feature this implementation
    does not support (deletion vectors, column mapping, ...). Refusing
    loudly beats silently returning deleted or mis-mapped rows."""


# reader features this implementation actually honors (PROTOCOL.md
# Table Features): column mapping is applied at read time
# (_column_mapping_mode / _physical_struct); deletion vectors are applied
# merge-on-read (_apply_deletion_vectors — descriptor parse + roaring
# bitmap anti-join on _metadata.row_index, delta_dv.py); v2 checkpoints
# are read via the UUID-named top file + sidecars (_read_checkpoint_v2);
# typeWidening needs NO special handling here because every read uses
# the explicit table schema and Spark's parquet reader promotes
# narrower file types (int->long/double/decimal, float->double,
# decimal widening, date->timestampNtz) — a promotion outside that set
# errors loudly at scan time, never silently; anything else must
# refuse.
SUPPORTED_READER_FEATURES = {"columnMapping", "deletionVectors",
                             "v2Checkpoint", "typeWidening",
                             "typeWidening-preview", "timestampNtz",
                             "variantType", "variantType-preview",
                             "vacuumProtocolCheck"}


def _check_reader_protocol(path: str, protocol: dict | None) -> None:
    """PROTOCOL.md Reader Requirements: a reader MUST refuse tables whose
    ``minReaderVersion`` (or listed readerFeatures) exceeds what it
    implements. v1 = plain add/remove replay; v2 = column mapping
    (supported, resolved at read time); v3 = table features — allowed
    iff every listed readerFeature is in SUPPORTED_READER_FEATURES
    (e.g. deletion vectors are NOT: replaying them as plain adds would
    resurrect deleted rows)."""
    mrv = (protocol or {}).get("minReaderVersion") or 1
    if mrv <= 2:
        return
    feats = set((protocol or {}).get("readerFeatures") or [])
    unsupported = feats - SUPPORTED_READER_FEATURES
    if mrv > 3 or unsupported:
        detail = f" (readerFeatures: {', '.join(sorted(unsupported))})" \
            if unsupported else ""
        raise UnsupportedTableFeature(
            f"delta table at {path} requires reader protocol v{mrv}"
            f"{detail}; supported: v1/v2 and v3 with features "
            f"{sorted(SUPPORTED_READER_FEATURES)}")


def _apply_action_lines(text: str, meta, files, protocol):
    for line in text.splitlines():
        if not line.strip():
            continue
        action = json.loads(line)
        if "protocol" in action:
            protocol = action["protocol"]
        elif "metaData" in action:
            meta = action["metaData"]
        elif "add" in action:
            files[action["add"]["path"]] = action["add"]
        elif "remove" in action:
            files.pop(action["remove"]["path"], None)
    return meta, files, protocol


_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compaction_ranges(path: str, fs) -> dict[int, tuple[int, str]]:
    """{start: (end, abs_path)} of minor log-compaction files
    (``{s:020d}.{e:020d}.compacted.json`` — the public delta-kernel
    log-compaction convention, delta-io/delta kernel docs): one file
    holding the RECONCILED actions of JSON commits s..e inclusive.
    When several files share a start, the widest wins."""
    d = _log_dir(path)
    out: dict[int, tuple[int, str]] = {}
    if not fs.isdir(d):
        return out
    for name in fs.listdir(d):
        m = _COMPACTED_RE.match(name)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            if s not in out or e > out[s][0]:
                out[s] = (e, fsio.join(d, name))
    return out


def _log_texts(path: str, fs, start: int, limit):
    """Yield the decoded text of each log object covering commits
    > ``start`` and <= ``limit`` (None = all), in commit order,
    substituting a compaction file for its covered range whenever one
    begins exactly at the next needed version and ends within the
    limit — one object-store read instead of (e - s + 1). Per-version
    JSON commits are authoritative when no compaction applies."""
    vs = [v for v in _list_versions(path, fs)
          if v > start and (limit is None or v <= limit)]
    comp = _compaction_ranges(path, fs)
    idx, cur = 0, start
    while True:
        c = comp.get(cur + 1) if comp else None
        if c and (limit is None or c[0] <= limit):
            yield fs.read_bytes(c[1]).decode()
            cur = c[0]
            while idx < len(vs) and vs[idx] <= cur:
                idx += 1
            continue
        if idx < len(vs):
            yield fs.read_bytes(_log_path(path, vs[idx])).decode()
            cur = vs[idx]
            idx += 1
            continue
        return


def _replay_tail(path: str, fs, start: int, limit, meta, files, protocol):
    for text in _log_texts(path, fs, start, limit):
        meta, files, protocol = _apply_action_lines(
            text, meta, files, protocol)
    return meta, files, protocol


def _replay_state(path: str, version: int | None = None):
    """-> (metadata_action, {relative_file_path: add_action}, protocol)
    at ``version`` (default: latest). Reads the newest checkpoint at or
    below ``version`` plus the JSON tail — O(tail), not O(commits).
    No protocol gating — callers decide (reader vs writer checks)."""
    fs = fsio.get_fs(path)
    meta: dict[str, Any] | None = None
    files: dict[str, dict] = {}
    protocol: dict[str, Any] | None = None
    start = -1
    cp = _last_checkpoint_info(path, fs)
    if cp is not None and (version is None or cp.get("version", -1) <= version):
        try:
            meta, files, protocol = _read_checkpoint(
                path, fs, cp["version"], cp.get("parts"))
            start = cp["version"]
        except Exception:
            # missing/corrupt cp: replay from scratch
            meta, files, protocol, start = None, {}, None, -1
    return _replay_tail(path, fs, start, version, meta, files, protocol)


def replay_log(path: str, version: int | None = None):
    """-> (metadata_action, {relative_file_path: add_action}) at
    ``version`` (default: latest), reader-gated: raises
    :class:`UnsupportedTableFeature` when the protocol requires features
    this reader does not implement."""
    meta, files, protocol = _replay_state(path, version)
    _check_reader_protocol(path, protocol)
    return meta, files


def compact_log(path: str, start: int = 0, end: int | None = None) -> str:
    """Minor log compaction (the public delta-kernel convention,
    ``{start:020d}.{end:020d}.compacted.json``): write ONE log object
    holding the reconciled actions of JSON commits ``start..end``
    inclusive. Additive — the per-version commits stay authoritative
    and untouched; a convention-aware reader (:func:`_log_texts` here,
    delta kernel elsewhere) substitutes the single object for the
    range, turning an O(commits) tail replay into one object-store
    read — the difference between 1 and 1000 S3 GETs per snapshot
    resolution on a busy 100 TB table. Reconciliation per PROTOCOL.md
    Action Reconciliation: latest protocol / metaData, net add set
    (later remove cancels an add), remove tombstones for files dropped
    in-range (so they still cancel pre-range adds), latest txn per
    appId, latest domainMetadata per domain (``removed`` tombstones
    KEPT — dropping them would resurrect a domain for readers seeded
    before ``start``). commitInfo is not reconciled. Returns the
    written path. Reference parity: delta log replay semantics,
    reference/core/dbio ADR on incremental state."""
    fs = fsio.get_fs(path)
    if end is None:
        vs = _list_versions(path, fs)
        end = vs[-1] if vs else -1
    start, end = int(start), int(end)
    if end <= start:
        raise ValueError(
            f"compact_log needs end > start, got {start}..{end}")
    have = set(_list_versions(path, fs))
    missing = [v for v in range(start, end + 1) if v not in have]
    if missing:
        raise FileNotFoundError(
            f"compact_log {start}..{end} on {path}: JSON commits "
            f"{missing} are not retained — a compaction over a hole "
            "would silently drop those versions' actions")
    meta: dict | None = None
    protocol: dict | None = None
    added: dict[str, dict] = {}
    removed: dict[str, dict] = {}
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    for v in range(start, end + 1):
        for line in fs.read_bytes(_log_path(path, v)).decode().splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "protocol" in action:
                protocol = action["protocol"]
            elif "metaData" in action:
                meta = action["metaData"]
            elif "add" in action:
                p = action["add"]["path"]
                added[p] = action["add"]
                removed.pop(p, None)
            elif "remove" in action:
                p = action["remove"]["path"]
                removed[p] = action["remove"]
                added.pop(p, None)
            elif "txn" in action and action["txn"].get("appId") is not None:
                txns[action["txn"]["appId"]] = action["txn"]
            elif "domainMetadata" in action:
                domains[action["domainMetadata"]["domain"]] = \
                    action["domainMetadata"]
    lines: list[str] = []
    if protocol is not None:
        lines.append(json.dumps({"protocol": protocol}))
    if meta is not None:
        lines.append(json.dumps({"metaData": meta}))
    lines += [json.dumps({"txn": t}) for _, t in sorted(txns.items())]
    lines += [json.dumps({"domainMetadata": d})
              for _, d in sorted(domains.items())]
    # removes BEFORE adds: _apply_action_lines folds in file order, so a
    # path both removed and re-added in-range must end live
    lines += [json.dumps({"remove": r}) for _, r in sorted(removed.items())]
    lines += [json.dumps({"add": a}) for _, a in sorted(added.items())]
    out = fsio.join(_log_dir(path),
                    f"{start:020d}.{end:020d}.compacted.json")
    fs.write_bytes(out, ("\n".join(lines) + "\n").encode())
    return out


# writer features this implementation honors when committing to an
# existing table: plain add/remove with optimistic retry. appendOnly is
# honored explicitly below; anything else must refuse rather than
# silently violate.
# invariants (writer v2 / the "invariants" feature) are ENFORCED (r8):
# _with_invariant_guard wraps each declared column so any batch row
# whose expression evaluates to FALSE fails the write before commit
# (PROTOCOL.md §Column Invariants; SQL CHECK semantics — NULL passes).
# generatedColumns are HONORED (r8): a batch missing a generated column
# gets it computed from delta.generationExpression; a batch providing
# one is validated value-by-value against the expression (PROTOCOL.md
# §Default Columns / Generated Columns Writer Requirements).
# identityColumns are HONORED (r8): a batch missing the column gets
# per-task disjoint fresh values beyond the high watermark; the new
# watermark (derived from the staged stats) commits in the same
# version; explicit inserts refuse unless allowExplicitInsert
# (PROTOCOL.md §Identity Columns).
# deletionVectors as a WRITER feature obliges an engine to RESPECT
# existing DVs, not to produce them: appends leave foreign adds (and
# their descriptors) untouched, and every CoW rewrite reads touched
# files merge-on-read (_read_files_mor) and drops the descriptor with
# the rewritten file — PROTOCOL.md Writer Requirements for the feature.
# typeWidening as a writer feature obliges recording typeChanges
# metadata WHEN widening a type — this writer never changes an existing
# column's type (schema evolution only ADDS columns), so the obligation
# never triggers and writes to widened tables are safe.
# changeDataFeed obliges writing change files for updates/deletes/
# merges when delta.enableChangeDataFeed is set — merge_delta /
# delete_missing_delta do exactly that (_stage_cdc_actions), and blind
# appends are derivable per the protocol.
SUPPORTED_WRITER_FEATURES = {"appendOnly", "deletionVectors",
                             "v2Checkpoint", "typeWidening",
                             "typeWidening-preview", "changeDataFeed",
                             "invariants", "generatedColumns",
                             "identityColumns", "checkConstraints",
                             "timestampNtz", "allowColumnDefaults",
                             "variantType", "variantType-preview",
                             "domainMetadata", "vacuumProtocolCheck",
                             "rowTracking", "clustering",
                             # columnMapping: writes stage PHYSICAL
                             # names (_to_physical), stats/partition
                             # values keyed physical; rename/drop/add
                             # DDL is metadata-only
                             "columnMapping",
                             # collations: metadata preserved verbatim,
                             # collated columns excluded from min/max
                             # stats (binary order may disagree);
                             # icebergCompat: DV production forced off
                             # so every commit stays convertible
                             "collations", "collations-preview",
                             "icebergCompatV1", "icebergCompatV2",
                             # _commit stamps a monotonic
                             # inCommitTimestamp once the table carries
                             # one (or the commit enables the property)
                             "inCommitTimestamp",
                             "inCommitTimestamp-preview"}


def check_writer_protocol(path: str, removes_files: bool = False) -> dict:
    """PROTOCOL.md Writer Requirements: a writer MUST refuse tables
    whose ``minWriterVersion`` (or listed writerFeatures) exceeds what
    it implements — committing anyway can break invariants other
    engines rely on (constraint checks, change-data files, ...). We
    implement writer protocol v2 (plain appends/removes). Also honors
    the ``delta.appendOnly`` table property: commits that REMOVE files
    (overwrite/merge/delete/optimize) refuse on append-only tables.
    Returns the protocol action (callers gating feature-specific write
    obligations — row-id assignment — reuse it instead of replaying
    again)."""
    meta, _, protocol = _replay_state(path)
    return _check_writer_state(path, meta, protocol, removes_files)


def _check_writer_state(
    path: str, meta, protocol, removes_files: bool = False,
) -> dict:
    """Writer-protocol gate over an ALREADY-REPLAYED state — the write
    paths that replay the log anyway reuse their state instead of a
    second full replay per commit (r15, guide §1.2)."""
    mwv = (protocol or {}).get("minWriterVersion") or 1
    feats = set((protocol or {}).get("writerFeatures") or [])
    if mwv > 2 and not (mwv == 7 and feats <= SUPPORTED_WRITER_FEATURES):
        unsupported = sorted(feats - SUPPORTED_WRITER_FEATURES)
        detail = f" (writerFeatures: {', '.join(unsupported)})" \
            if unsupported else ""
        raise UnsupportedTableFeature(
            f"delta table at {path} requires writer protocol v{mwv}"
            f"{detail}; this writer implements v2 (and v7 with features "
            f"{sorted(SUPPORTED_WRITER_FEATURES)})")
    append_only = ((meta or {}).get("configuration") or {}).get(
        "delta.appendOnly") == "true"
    if removes_files and append_only:
        raise UnsupportedTableFeature(
            f"delta table at {path} is append-only "
            "(delta.appendOnly=true); refusing a commit that removes "
            "files")
    return protocol or {}


# ------------------------------------------------------------------ commit

class ConcurrentModificationError(RuntimeError):
    """A concurrent commit invalidated this transaction (a file this
    commit removes was already removed) — the caller must re-run the
    merge against the new snapshot."""


def _prev_ict(path: str, fs, version: int) -> int | None:
    """The previous commit's ``inCommitTimestamp``, or None when it has
    none (table not ICT-enabled) or its log was checkpointed away
    (monotonicity is then enforced against wall clock only)."""
    if version <= 0:
        return None
    try:
        for line in fs.read_bytes(
                _log_path(path, version - 1)).decode().splitlines():
            if '"commitInfo"' not in line:
                continue
            info = json.loads(line).get("commitInfo") or {}
            v = info.get("inCommitTimestamp")
            return int(v) if v is not None else None
    except Exception:
        return None
    return None


def _commit(path: str, version: int, actions: list[dict]) -> None:
    """Atomic commit via exclusive create of the next version file.
    A concurrent committer of the same version loses the claim and
    raises — the optimistic-concurrency contract of the protocol.
    A ``commitInfo`` action (timestamp) leads every commit unless the
    caller supplied one — that is what timestamp time travel reads, so
    it survives file copies that reset modification times. On an
    ICT table (PROTOCOL.md §In-Commit Timestamps: the previous commit
    carries ``inCommitTimestamp``, or this commit enables the
    property) the commitInfo also records a MONOTONIC
    inCommitTimestamp = max(wall clock, previous + 1)."""
    fs = fsio.get_fs(path)
    fs.mkdirs(_log_dir(path))
    if not any("commitInfo" in a for a in actions):
        ts = int(time.time() * 1000)
        prev = _prev_ict(path, fs, version)
        enabling = any(
            ((a.get("metaData") or {}).get("configuration") or {})
            .get("delta.enableInCommitTimestamps") == "true"
            for a in actions)
        info = {"timestamp": ts}
        if prev is not None or enabling:
            info["inCommitTimestamp"] = max(ts, (prev or 0) + 1)
        actions = [{"commitInfo": info}] + list(actions)
    payload = "".join(json.dumps(a) + "\n" for a in actions).encode()
    try:
        fs.create_exclusive(_log_path(path, version), payload)
    except FileExistsError:
        raise FileExistsError(
            f"delta: version {version} already committed at {path}")
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(path, fs, version)


def _commit_with_retry(
    path: str, version: int, actions: list[dict], max_retries: int = 10,
    read_files: set[str] | None = None,
) -> int:
    """Commit with delta-spark's conflict resolution: when another
    writer claims our version first, re-validate against the NEW
    snapshot and retry at the next version.

    - pure-append commits (no ``remove``) never conflict logically —
      always safe to retry;
    - commits removing files conflict iff a removed file is no longer
      active (someone else rewrote it) -> ConcurrentModificationError,
      the caller's merge must re-run on the new snapshot;
    - when the caller passes ``read_files`` (the active set its merge
      READ), any file added since is also a conflict — the concurrent
      append may hold the batch's PKs, and retrying without recomputing
      would leave duplicates (delta-spark's ConcurrentAppendException
      for appends overlapping a MERGE's read set).

    Returns the version actually committed."""
    removes = {a["remove"]["path"] for a in actions if "remove" in a}

    def _validate_against_current():
        _, active = replay_log(path)
        if removes - set(active):
            raise ConcurrentModificationError(
                f"delta: concurrent commit rewrote "
                f"{sorted(removes - set(active))[:3]}... at {path}")
        if read_files is not None and set(active) - read_files:
            raise ConcurrentModificationError(
                f"delta: concurrent commit added "
                f"{sorted(set(active) - read_files)[:3]}... since this "
                f"merge's snapshot at {path} — re-run the merge against "
                f"the new snapshot")

    if removes or read_files is not None:
        # r10: validate BEFORE the first claim too. A rewrite plans
        # against the snapshot it read, but ``version`` is computed at
        # commit time — if a concurrent commit landed during the
        # (long) replacement job, the claim SUCCEEDS at the advanced
        # version and the stale remove set silently resurrects the
        # concurrently-rewritten rows (caught by the r10 multi-process
        # stress test: optimize + merge racing appends read 650 rows
        # where 600 were ever committed). Any commit landing between
        # this check and the claim collides on the version file and
        # re-validates in the except branch below.
        _validate_against_current()
    for _ in range(max_retries):
        try:
            _commit(path, version, actions)
            _update_crc(path, version, actions)
            _maybe_auto_checkpoint(path, version, actions)
            return version
        except FileExistsError:
            _validate_against_current()
            prev, version = version, latest_version(path) + 1
            # row-tracked commits: the concurrent winner may have
            # advanced the row-id watermark — reassign the FRESH adds
            # (the ones stamped with the lost version; DV re-adds keep
            # their original ids) against the new snapshot, and refresh
            # defaultRowCommitVersion to the version actually claimed
            rt = [a for a in actions
                  if (a.get("domainMetadata") or {}).get("domain")
                  == _ROW_TRACKING_DOMAIN]
            if rt:
                fresh = [a for a in actions if "add" in a and
                         a["add"].get("defaultRowCommitVersion") == prev]
                for a in fresh:
                    a["add"].pop("baseRowId", None)
                    a["add"].pop("defaultRowCommitVersion", None)
                actions = [a for a in actions if a not in rt] + \
                    _assign_fresh_row_ids(path, fresh, version)
    raise FileExistsError(
        f"delta: could not claim a version after {max_retries} retries "
        f"at {path}")


def _schema_string(df: DataFrame) -> str:
    return df.schema.json()


def _first_commit_actions(
    df: DataFrame, partition_by: list[str] | None = None,
) -> list[dict]:
    # PROTOCOL.md §timestampNtz / §variantType: a table USING the type
    # must announce the reader+writer feature — foreign readers key the
    # parquet handling (isAdjustedToUTC; variant struct encoding) on it
    prot: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
    feats = [f for f, marker in (("timestampNtz", '"timestamp_ntz"'),
                                 ("variantType", '"variant"'))
             if marker in _schema_string(df)]
    if feats:
        prot = {"minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(feats),
                "writerFeatures": sorted(["appendOnly"] + feats)}
    return [
        {"protocol": prot},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(df),
            "partitionColumns": list(partition_by or []),
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }},
    ]


def hive_partition_str(v) -> str:
    """Spark's cast-to-string form of a partition value, as it appears
    in a Hive dir name after URL-unquoting: None -> the Hive null
    sentinel, booleans lowercase ("true"/"false", unlike Python's
    str()). Used to compare driver-side batch values against
    ``add.partitionValues`` — str(True) would never match Spark's
    "true" and the prune would silently miss every candidate file."""
    if v is None:
        return _HIVE_NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


_STATS_MAX_COLS = 32  # delta's dataSkippingNumIndexedCols default


def _stats_serializable(v):
    """Stats values in a form that is JSON-clean AND whose string order
    matches the value order — fixed-width timestamp rendering so
    lexicographic comparison in the pruner equals chronological."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:  # aware -> the same instant, naive UTC
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    return v


def _collated_cols(meta: dict | None) -> set[str]:
    """Top-level columns carrying COLLATION metadata (PROTOCOL.md
    String Collation, the ``collations`` writer feature). Detection is
    deliberately loose — any field-metadata key mentioning 'collation'
    — so preview/finalized key spellings are all honored
    conservatively: the obligation is to never record min/max bounds
    whose binary order could disagree with the collation's."""
    try:
        fields = json.loads((meta or {}).get("schemaString") or "{}") \
            .get("fields") or []
    except (ValueError, TypeError):
        return set()
    return {f["name"] for f in fields
            if any("collation" in str(k).lower()
                   for k in (f.get("metadata") or {}))}


#: the column types whose bounds ``add.stats`` records. Decimals are
#: deliberately EXCLUDED: serializing them as float can collapse >2^53
#: values onto one double, and a collapsed bound could wrongly
#: disprove a watermark — conservative no-stats beats that
_STATS_TYPES = ("long", "integer", "short", "byte", "double", "float",
                "string", "date", "timestamp", "timestamp_ntz", "boolean")


def _add_stats_json(
    df: DataFrame, tmp: str, exclude: set[str] | None = None,
) -> dict[str, str]:
    """``add.stats`` JSON per staged file (PROTOCOL.md Per-file
    Statistics: numRecords / minValues / maxValues / nullCount over the
    first ``_STATS_MAX_COLS`` atomic columns), keyed by canonical
    staged path — :func:`footer_stats.staged_stats` encoded. A NaN
    bound (a NaN in the file surfaces as max) is OMITTED, per the spec:
    a recorded NaN would disprove every comparison downstream.
    ``exclude`` drops columns whose bounds must not be recorded
    (collated strings: binary min/max can disagree with the
    collation's ordering)."""
    import math

    def _nan(x):
        return isinstance(x, float) and math.isnan(x)

    cols = [f.name for f in df.schema.fields
            if f.name not in (exclude or ())
            and f.dataType.typeName() in _STATS_TYPES][:_STATS_MAX_COLS]
    if not cols:
        return {}
    out: dict[str, str] = {}
    for key, st in staged_stats(df, tmp, cols).items():
        if not st["num_rows"]:
            out[key] = json.dumps({"numRecords": 0})
            continue
        mins, maxs, nulls = {}, {}, {}
        for c in cols:
            ent = st["cols"].get(c) or {}
            mn, mx = ent.get("mn"), ent.get("mx")
            if mn is not None and not _nan(mn) and not _nan(mx):
                mins[c] = _stats_serializable(mn)
                maxs[c] = _stats_serializable(mx)
            if "nulls" in ent:
                nulls[c] = ent["nulls"]
        out[key] = json.dumps({
            "numRecords": st["num_rows"], "minValues": mins,
            "maxValues": maxs, "nullCount": nulls})
    return out


def _stage_data_files(
    df: DataFrame, path: str, meta0: dict | None,
    partition_by: list[str] | None = None,
    data_change: bool = True, subdir: str | None = None,
    small: bool = False,
) -> list[dict]:
    """Write ``df`` as parquet part files INTO the table dir (unique
    names; invisible until committed) -> list of add actions carrying
    per-file skipping stats. With ``partition_by`` the Hive subdir
    layout is preserved and each add carries its ``partitionValues``.
    ``data_change=False`` marks rearrangement-only adds (compaction);
    ``subdir`` places files under a table subdirectory (the CDF path
    stages change files under ``_change_data/``).

    ``small=True`` asserts the CALLER PROVED the frame small (a counted
    micro-batch, or a byte bound from the log): the stage collects via
    Arrow and writes one file driver-side instead of paying a
    distributed write job (r15, guide §1.2/§5 —
    sources/driver_stage.py); everything downstream (footer stats,
    rename walk, add actions) is identical, and any fast-path failure
    falls back to the normal write.

    ``meta0`` is the table metadata the caller's own log replay holds
    (None for a new table): column-mapped tables stage physical
    names."""
    if meta0 is not None and _column_mapping_mode(meta0) != "none":
        # PROTOCOL.md Column Mapping Writer Requirements: data files
        # (and change files) store PHYSICAL names; partition dirs and
        # add.partitionValues key on them too. Stats below are computed
        # from the translated frame, so they land physical as well.
        l2p = _logical_physical_names(meta0)
        df = _to_physical(df, meta0)
        if partition_by:
            partition_by = [l2p.get(c, c) for c in partition_by]
    fs = fsio.get_fs(path)
    base_dir = fsio.join(path, subdir) if subdir else path
    fs.mkdirs(base_dir)
    tmp = fsio.join(path, f".stage_{uuid.uuid4().hex[:8]}")
    # zstd for staged data files (guide §6: smaller than snappy at
    # similar read speed — measured 20-33% fewer bytes on the TPC-H
    # tables at flat write wall time; tests/test_staged_codec.py pins
    # the byte cut). Scoped here, not session-wide, so plain parquet
    # roundtrip fixtures keep their own codecs.
    staged_fast = False
    if small and not partition_by and (
            meta0 is None or _column_mapping_mode(meta0) == "none"):
        # (column-mapped tables keep the Spark write: their physical
        # files carry parquet field-id metadata the Arrow path would
        # not reproduce)
        from sling_cli_spark.sources.driver_stage import (
            driver_stage_parquet)
        staged_fast = driver_stage_parquet(df, tmp)
    writer = df.write.option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        if not staged_fast:
            writer.parquet(tmp)
    except Exception as e:
        # surface an inline constraint-guard trip (raise_error during
        # the write pass) as the typed violation, not a Py4J wall
        if "delta.invariants violated" in str(e) \
                or "delta constraint" in str(e) \
                or "delta generated column" in str(e):
            fs.delete(tmp, True)
            raise InvariantViolation(str(e)[:500]) from None
        raise
    excl = _collated_cols(meta0) if meta0 is not None else set()
    if meta0 is not None and _column_mapping_mode(meta0) != "none":
        excl = {_logical_physical_names(meta0).get(c, c) for c in excl}
    staged_stats = _add_stats_json(df, tmp, exclude=excl)
    adds: list[dict] = []
    now = int(time.time() * 1000)

    def walk(rel_dir: str) -> None:
        base = fsio.join(tmp, rel_dir) if rel_dir else tmp
        for fname in sorted(fs.listdir(base)):
            if fname.startswith((".", "_")):
                continue
            full = fsio.join(base, fname)
            if fs.isdir(full):
                walk(f"{rel_dir}/{fname}" if rel_dir else fname)
                continue
            if not fname.endswith(".parquet"):
                continue
            new_name = f"part-{uuid.uuid4().hex}.zstd.parquet"
            dest_rel = f"{rel_dir}/{new_name}" if rel_dir else new_name
            if subdir:
                dest_rel = f"{subdir}/{dest_rel}"
            if "/" in dest_rel:
                fs.mkdirs(fsio.join(path, dest_rel.rsplit("/", 1)[0]))
            dest = fsio.join(path, dest_rel)
            skey = canon_path(full)
            if not fs.rename(full, dest):
                raise IOError(f"delta stage: could not place {dest_rel}")
            add = {
                "path": dest_rel,
                "size": fs.getsize(dest),
                "partitionValues": _partition_values(rel_dir),
                "modificationTime": now,
                "dataChange": data_change,
            }
            if skey in staged_stats:
                add["stats"] = staged_stats[skey]
            elif staged_stats:
                # the stats job SUCCEEDED (other files have rows) and
                # this file produced no group -> it holds zero rows;
                # record the count so metadata-only consumers (uniform
                # sync, count pushdown) never need its footer — which
                # pyarrow cannot even open for v3 variant columns
                add["stats"] = json.dumps({"numRecords": 0})
            adds.append({"add": add})

    walk("")
    fs.delete(tmp, True)
    if len(adds) > 1:
        # a multi-file stage can include zero-row part files (empty
        # post-shuffle partitions); committing them is pure noise — an
        # empty add carries no data yet consumes a row-id reservation
        # (max(1, numRecords) in _assign_fresh_row_ids) and bloats the
        # log. Drop them (delta-spark never commits empty adds either);
        # the all-empty single-file stage stays, so empty-frame writes
        # keep their one marker file.
        def _is_empty(a: dict) -> bool:
            try:
                return json.loads(a["add"].get("stats") or "{}") \
                    .get("numRecords") == 0
            except (ValueError, TypeError):
                return False
        nonempty = [a for a in adds if not _is_empty(a)]
        if nonempty and len(nonempty) < len(adds):
            for a in adds:
                if _is_empty(a):
                    fs.delete(fsio.join(path, a["add"]["path"]), False)
            adds = nonempty
    return adds


# -------------------------------------------------------------- read/write

def _apply_table_schema(df: DataFrame, meta: dict) -> DataFrame:
    """Cast/reorder to the table schema. Partition columns come back
    from Hive-dir inference (stringly) — the cast restores their
    declared types; for unpartitioned tables this is a no-op
    projection Catalyst elides. Columns the table schema declares but
    the scanned files predate (schema evolution, e.g. the soft-delete
    op column) read as typed nulls, per PROTOCOL.md Column Mapping /
    delta-spark's missing-column semantics."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    have = set(df.columns)
    return df.select(
        *[(F.col(f.name) if f.name in have else F.lit(None))
          .cast(f.dataType).alias(f.name) for f in schema.fields])


def _column_mapping_mode(meta: dict | None) -> str:
    return ((meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")


def _physical_type(t):
    """Recurse into nested types for :func:`_physical_fields` — structs
    rename their fields; arrays and maps may hold structs whose fields
    also carry physical names (leaving those logical would make Spark's
    by-name parquet resolution silently read them as null)."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {**t, "fields": _physical_fields(t["fields"])}
    if kind == "array":
        return {**t, "elementType": _physical_type(t["elementType"])}
    if kind == "map":
        return {**t, "keyType": _physical_type(t["keyType"]),
                "valueType": _physical_type(t["valueType"])}
    return t


def _physical_fields(fields: list[dict]) -> list[dict]:
    """Recursively rename schema fields to their
    ``delta.columnMapping.physicalName`` (PROTOCOL.md Column Mapping:
    in ``name`` mode the parquet files store physical names at every
    nesting level, including structs nested under arrays and maps)."""
    out = []
    for f in fields:
        pf = dict(f)
        md = pf.get("metadata") or {}
        pf["name"] = md.get("delta.columnMapping.physicalName", pf["name"])
        pf["type"] = _physical_type(pf.get("type"))
        out.append(pf)
    return out


def _fieldid_type(t):
    """Recurse into nested types for :func:`_fieldid_fields`."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {**t, "fields": _fieldid_fields(t["fields"])}
    if kind == "array":
        return {**t, "elementType": _fieldid_type(t["elementType"])}
    if kind == "map":
        return {**t, "keyType": _fieldid_type(t["keyType"]),
                "valueType": _fieldid_type(t["valueType"])}
    return t


def _fieldid_fields(fields: list[dict]) -> list[dict]:
    """Schema fields for an ``id``-mapped read: LOGICAL names with
    ``parquet.field.id`` metadata set to ``delta.columnMapping.id`` at
    every nesting level — Spark's parquet reader then matches columns
    by field id, the resolution PROTOCOL.md mandates for id mode
    (physical names may not be trusted there). A field missing its id
    is a broken mapping and refuses loudly."""
    out = []
    for f in fields:
        md = f.get("metadata") or {}
        fid = md.get("delta.columnMapping.id")
        if fid is None:
            raise UnsupportedTableFeature(
                f"column-mapping mode 'id': field {f.get('name')!r} has "
                "no delta.columnMapping.id — mapping metadata incomplete")
        pf = dict(f)
        pf["metadata"] = {"parquet.field.id": int(fid)}
        pf["type"] = _fieldid_type(pf.get("type"))
        out.append(pf)
    return out


def prune_files_by_stats(files: dict, skip_filters, part_cols=()) -> dict:
    """:func:`lake_core.prune_files` over ``{rel: add}``: drop every
    file whose ``add.stats`` min/max/nullCount (PROTOCOL.md Per-file
    Statistics) — or literal ``add.partitionValues``, for filters on a
    partition column — PROVE no row satisfies the conjunction of
    ``(col, op, value)`` filters. This is the file-level skipping a
    100 TB incremental load needs: the watermark predicate eliminates
    files (and whole partitions) without opening a single footer."""
    part_cols = set(part_cols or ())

    def partition_disproves(f, col, op, val):
        return col in part_cols and partition_value_disprove(
            (f[1].get("partitionValues") or {}).get(col), op, val)

    def bounds(f, cols):
        try:
            s = json.loads(f[1].get("stats") or "{}")
        except (ValueError, TypeError):
            return {}
        mins, maxs = s.get("minValues") or {}, s.get("maxValues") or {}
        nulls = s.get("nullCount") or {}
        return {c: (mins.get(c), maxs.get(c), nulls.get(c),
                    s.get("numRecords")) for c in cols} if s else {}

    return dict(prune_files(
        files.items(), skip_filters, partition_disproves, bounds,
        lambda col, val: _stats_serializable(val)))


def commit_timestamp_ms(path: str, version: int) -> int:
    """A commit's timestamp: the leading ``commitInfo.timestamp`` when
    present (what delta-spark writes, and what :func:`_commit` stamps;
    survives file copies), else the log file's modification time — the
    same precedence delta-spark's timestamp travel applies."""
    fs = fsio.get_fs(path)
    p = _log_path(path, version)
    for line in fs.read_bytes(p).decode().splitlines():
        if not line.strip():
            continue
        a = json.loads(line)
        if "commitInfo" in a:
            # inCommitTimestamp (the ICT table feature's monotonic
            # field) outranks the plain wall-clock timestamp
            ts = a["commitInfo"].get("inCommitTimestamp",
                                     a["commitInfo"].get("timestamp"))
            if ts is not None:
                return int(ts)
    try:
        lp = fsio.local_path(p)
    except ValueError:
        raise UnsupportedTableFeature(
            f"delta commit {version} at {path} has no commitInfo "
            "timestamp and is not on a local filesystem — timestamp "
            "time travel needs one of the two")
    return int(os.path.getmtime(lp) * 1000)


def version_at_timestamp(path: str, ts_ms: int) -> int | None:
    """The latest version whose commit timestamp is <= ``ts_ms``
    (delta-spark's timestampAsOf rule); None when the instant predates
    the first commit."""
    best = None
    for v in _list_versions(path):
        if commit_timestamp_ms(path, v) <= ts_ms:
            best = v
    return best


def read_delta_incremental(
    spark: SparkSession, path: str, since_version: int,
) -> DataFrame:
    """Rows created OR updated after commit ``since_version`` via row
    tracking (PROTOCOL.md §Row Tracking; the format twin of
    ``iceberg_py.read_iceberg_incremental``) — incremental consumption
    WITHOUT change-data files: a row's commit version is its
    materialized value (always <= the carrying file's
    ``defaultRowCommitVersion`` — rewrites only carry versions
    backward) or the file default, so files with
    ``defaultRowCommitVersion <= since_version`` cannot hold a
    qualifying row and PRUNE FROM LOG METADATA without opening. Only
    files added after the watermark scan; a row filter drops their
    rewrite-carried old rows. Cost scales with data touched since the
    watermark, not table size.

    Returns table columns + ``_row_id`` + ``_row_commit_version``; the
    caller's next watermark is ``latest_version(path)``. Requires row
    tracking (missing ``baseRowId`` past the watermark raises — enable
    ``delta.enableRowTracking`` to backfill)."""
    from pyspark.sql import functions as F

    meta, files = replay_log(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if not row_tracking_enabled(meta):
        raise UnsupportedTableFeature(
            f"delta table at {path}: incremental-by-row-tracking "
            "requires delta.enableRowTracking=true")
    fresh = {
        rel: add for rel, add in files.items()
        if int(add.get("defaultRowCommitVersion") or 0) > since_version}
    out = _scan_with_row_ids(spark, path, meta, fresh, sorted(fresh))
    return out.filter(
        F.col("_row_commit_version") > F.lit(int(since_version)))


def read_delta(
    spark: SparkSession, path: str, version: int | None = None,
    skip_filters=None, as_of_timestamp_ms: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Snapshot read at ``version`` (default latest), or at the latest
    version committed at or before ``as_of_timestamp_ms``
    (:func:`version_at_timestamp`; an instant before the first commit
    reads empty).

    Column-mapped tables (``delta.columnMapping.mode = name``, reader
    protocol v2 / v3+columnMapping) are read with the PHYSICAL schema
    and projected back to logical names — nested struct fields rename
    via the positional struct cast; partitioned mapped tables attach
    partition values from ``add.partitionValues``
    (_read_mapped_partitioned). ``id`` mode resolves columns by parquet
    field id (Spark's fieldId.read path, :func:`_fieldid_fields`).
    Deletion vectors combine with every mapping mode: the anti-join
    runs on the raw physical scan (where ``_metadata`` resolves),
    before the logical projection.

    ``skip_filters`` — a list of ``(col, op, value)`` conjuncts — prunes
    the file list via per-file stats BEFORE the scan is built
    (:func:`prune_files_by_stats`); the caller still applies the actual
    filter (pruning is file-granular, not row-granular)."""
    if version is None and as_of_timestamp_ms is not None:
        version = version_at_timestamp(path, as_of_timestamp_ms)
        if version is None:
            meta, _ = replay_log(path)  # also: not-a-table raises here
            if meta is None:
                raise FileNotFoundError(f"not a delta table: {path}")
            vs = _list_versions(path)
            if not vs or vs[0] != 0:
                # history truncated (checkpoint-only / expired commits):
                # data may have existed at the instant — erroring like
                # delta-spark beats silently returning an empty frame
                raise ValueError(
                    f"timestamp {as_of_timestamp_ms} predates the "
                    f"earliest retained commit of {path} — cannot "
                    "time travel there")
            # full history retained: the instant truly predates v0
            from pyspark.sql import types as T
            return local_df(spark, 
                [], T.StructType.fromJson(json.loads(meta["schemaString"])))
    meta, files = replay_log(path, version)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    from pyspark.sql import types as T

    if skip_filters:
        files = prune_files_by_stats(
            files, skip_filters, meta.get("partitionColumns") or ())
    schema_json = json.loads(meta["schemaString"])
    logical = T.StructType.fromJson(schema_json)
    cm = _column_mapping_mode(meta)
    if with_row_ids:
        # PROTOCOL.md §Row Tracking: table columns + _row_id +
        # _row_commit_version (materialized value when a rewrite
        # threaded one through, else baseRowId + row_index); column
        # mapping handled inside the scan (mapped+partitioned refuses)
        return _scan_with_row_ids(spark, path, meta, files, sorted(files))
    if not files:
        return local_df(spark, [], logical)

    dvs = {rel: add["deletionVector"] for rel, add in files.items()
           if add.get("deletionVector")}
    if cm == "none":
        if meta.get("partitionColumns") and _has_foreign_adds(files):
            # shallow clone of a partitioned source: no shared
            # basePath — partition values attach from the log
            df = _scan_log_partitioned(
                spark, path, meta, files, sorted(files))
            if dvs:
                df = df.join(_dv_deleted_df(spark, path, dvs),
                             ["__fp", "__pos"], "left_anti")
            return _apply_table_schema(df.drop("__fp", "__pos"), meta)
        # explicit table schema: skips footer inference across N files
        # and makes schema evolution work — files predating a column
        # (e.g. the soft-delete op column) read it as null; bare
        # inference would take ONE file's footer and silently drop
        # evolved columns elsewhere
        reader = spark.read.schema(logical)
        if meta.get("partitionColumns"):
            reader = reader.option("basePath", path)
        df = reader.parquet(*[_add_uri(path, p) for p in sorted(files)])
        if dvs:
            df = _apply_deletion_vectors(spark, df, path, dvs)
        return _apply_table_schema(df, meta)
    if cm not in ("name", "id"):
        raise UnsupportedTableFeature(
            f"delta table at {path} uses column mapping mode {cm!r}; "
            "only 'name', 'id' (and 'none') are supported")
    if cm == "id":
        # PROTOCOL.md Column Mapping: in id mode columns resolve by the
        # parquet FIELD ID (delta.columnMapping.id), not by name —
        # Spark's native field-id resolution does exactly this when the
        # read schema's field metadata carries parquet.field.id. The
        # conf only affects reads whose schema has that metadata, so
        # enabling it session-wide is inert elsewhere; files missing
        # ids error loudly (fieldId.read.ignoreMissing stays false).
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if meta.get("partitionColumns"):
        return _read_mapped_partitioned(
            spark, path, meta, files, schema_json, logical,
            id_mode=(cm == "id"), dvs=dvs)
    from pyspark.sql import functions as F

    if cm == "id":
        rs = T.StructType.fromJson(
            {"type": "struct",
             "fields": _fieldid_fields(schema_json["fields"])})
        df = spark.read.schema(rs).parquet(
            *[_add_uri(path, p) for p in sorted(files)])
        if dvs:  # on the raw scan — _metadata resolves only there
            df = _apply_deletion_vectors(spark, df, path, dvs)
        # names are already logical (field-id matching ignores them);
        # re-alias to drop the parquet.field.id metadata from the result
        return df.select(*[
            F.col(lf.name).alias(lf.name, metadata={})
            for lf in logical.fields])
    phys = T.StructType.fromJson(
        {"type": "struct", "fields": _physical_fields(schema_json["fields"])})
    df = spark.read.schema(phys).parquet(
        *[_add_uri(path, p) for p in sorted(files)])
    if dvs:  # on the raw scan — _metadata resolves only there
        df = _apply_deletion_vectors(spark, df, path, dvs)
    # physical -> logical: top-level alias + cast to the logical type
    # (struct casts are positional, which renames nested fields)
    return df.select(*[
        F.col(pf.name).cast(lf.dataType).alias(lf.name)
        for pf, lf in zip(phys.fields, logical.fields)])


def _apply_deletion_vectors(
    spark, df: DataFrame, path: str, dvs: dict[str, dict],
) -> DataFrame:
    """Merge-on-read DVs (PROTOCOL.md §Deletion Vectors): drop the rows
    whose ordinal appears in a file's deletion vector.

    Spark-native shape, same as the Iceberg positional-delete path
    (iceberg_py._apply_positional_deletes): ``_metadata.row_index``
    supplies each row's ordinal within its parquet file, the descriptors
    expand to (file, row_index) rows (:func:`_dv_deleted_df` — on the
    driver below the broadcast threshold, on executors above it), and a
    left-anti join removes matches.

    The join key is the scheme-free ABSOLUTE path on both sides
    (:func:`_abs_of_add` vs :func:`_abs_fp_col`), so hdfs://-style
    tables and shallow clones match exactly like local ones."""
    from pyspark.sql import functions as F

    deleted = _dv_deleted_df(spark, path, dvs)
    left = (df
            .withColumn("__fp", _abs_fp_col())
            .withColumn("__pos", F.col("_metadata.row_index")))
    return left.join(deleted, ["__fp", "__pos"], "left_anti") \
        .drop("__fp", "__pos")


def _add_uri(path: str, p: str) -> str:
    """An add's scan path: the log records table-relative paths for
    managed files and absolute paths/URIs for EXTERNAL ones (shallow
    clones — PROTOCOL.md: ``path`` may be absolute)."""
    if p.startswith("/") or (urlparse(p).scheme
                             and len(urlparse(p).scheme) > 1):
        return p
    return fsio.join(path, p)


def _abs_of_add(path: str, p: str) -> str:
    """Scheme-free absolute on-disk path of an add's file — the
    comparison key scan-side URIs reduce to (:func:`_uri_abs`)."""
    parsed = urlparse(p)
    if parsed.scheme and len(parsed.scheme) > 1:
        return parsed.path
    if p.startswith("/"):
        return p
    return _table_base(path) + "/" + p


def _uri_abs(uri: str) -> str:
    """``_metadata.file_path`` (or any scan URI) -> scheme-free
    absolute on-disk path, one url-decode (Spark encodes the URI over
    the on-disk name)."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else os.path.abspath(uri)


def _add_key_map(path: str, rels) -> dict[str, str]:
    """{absolute on-disk path: add key} for the given add-path keys —
    how scan-side URIs map back to log entries on tables that mix
    relative and absolute (cloned) adds."""
    return {_abs_of_add(path, r): r for r in rels}


def _table_base(path: str) -> str:
    """Filesystem path of the table root (scheme/authority stripped for
    URI tables), no trailing slash — the prefix :func:`_rel_fp_col`
    removes."""
    parsed = urlparse(path)
    base = parsed.path if (parsed.scheme and len(parsed.scheme) > 1) \
        else os.path.abspath(path)
    return base.rstrip("/")


def _rel_fp_col(path: str):
    """Column expression: ``_metadata.file_path`` reduced to the log's
    literal table-relative path — scheme://authority stripped, ONE
    url-decode (Spark encodes the URI over the on-disk name), then the
    table base prefix + '/' removed. The SQL twin of
    :func:`_rel_to_table`."""
    from pyspark.sql import functions as F

    return F.substring(_abs_fp_col(), len(_table_base(path)) + 2, 1 << 30)


def _abs_fp_col():
    """Column expression: ``_metadata.file_path`` reduced to the
    scheme-free absolute on-disk path — the SQL twin of
    :func:`_uri_abs`, and the join key that still matches when a
    shallow clone's adds point OUTSIDE the table root."""
    from pyspark.sql import functions as F

    return F.url_decode(F.regexp_replace(
        F.col("_metadata.file_path"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""))


def _dv_deleted_df(spark, path: str, dvs: dict[str, dict]) -> DataFrame:
    """``(__fp, __pos)`` rows for every DV-deleted position of ``dvs``
    (rel path -> descriptor): :func:`delta_dv.deleted_positions_df`
    with the descriptor decode, keyed on each file's ABSOLUTE on-disk
    path (shallow-cloned adds point outside the table root, where a
    relative key cannot match). Non-local tables pre-read u/p DV blobs
    through fsio on the driver and ship the raw compressed roaring
    inline (executors run plain Python with no JVM filesystem
    client)."""
    import base64

    from . import delta_dv

    parsed = urlparse(path)
    is_uri = bool(parsed.scheme and len(parsed.scheme) > 1)
    table_ref = path if is_uri else _table_base(path)

    items = []
    for rel, desc in dvs.items():
        blob64 = ""
        if is_uri and desc.get("storageType") in ("u", "p"):
            p = delta_dv.dv_absolute_path(table_ref, desc)
            blob64 = base64.b64encode(
                fsio.get_fs(p).read_bytes(p)).decode()
        items.append((_abs_of_add(path, rel),
                      int(desc.get("cardinality") or 0),
                      json.dumps([desc, blob64])))

    def decode(payload: str):
        desc, b64 = json.loads(payload)
        return delta_dv.dv_indices(
            table_ref, desc, blob=base64.b64decode(b64) if b64 else None)

    return delta_dv.deleted_positions_df(spark, items, decode)


def _read_files_mor(
    spark, path: str, meta: dict, files: dict, rels,
    keep_fp: bool = False,
) -> DataFrame:
    """Scan a subset of active files with the table schema applied and
    their deletion vectors anti-joined away — the read the CoW write
    paths (merge / delete_missing / optimize) must use for TOUCHED
    files: rewriting from the raw parquet would resurrect every
    DV-deleted row into the replacement file. Handles every table
    shape read_delta does: column mapping (name/id), partitioned via
    ``basePath``, and foreign absolute adds (shallow clones) via
    log-attached partition values. ``keep_fp=True`` appends each
    row's ``__fp`` (scheme-free absolute file path, captured on the
    raw scan before any join) — the probe column the write paths key
    touched-file decisions on."""
    from pyspark.sql import types as T

    schema_json = json.loads(meta["schemaString"])
    logical = T.StructType.fromJson(schema_json)
    rels = sorted(rels)
    if not rels:
        out = T.StructType(list(logical.fields) + (
            [T.StructField("__fp", T.StringType())] if keep_fp else []))
        return local_df(spark, [], out)
    dvs = {rel: files[rel]["deletionVector"] for rel in rels
           if files[rel].get("deletionVector")}
    cm = _column_mapping_mode(meta)
    parted = bool(meta.get("partitionColumns"))
    if cm not in ("none", "name", "id"):
        raise UnsupportedTableFeature(
            f"delta table at {path} uses column mapping mode {cm!r}; "
            "only 'name', 'id' (and 'none') are supported")
    if cm != "none" and parted:
        return _read_mapped_partitioned(
            spark, path, meta, {r: files[r] for r in rels}, schema_json,
            logical, id_mode=(cm == "id"), dvs=dvs, keep_file=keep_fp)
    if cm == "name":
        rs = T.StructType.fromJson({
            "type": "struct",
            "fields": _physical_fields(schema_json["fields"])})
        sel = [F.col(f"`{pf.name}`").cast(lf.dataType).alias(lf.name)
               for pf, lf in zip(rs.fields, logical.fields)]
    elif cm == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        rs = T.StructType.fromJson({
            "type": "struct",
            "fields": _fieldid_fields(schema_json["fields"])})
        sel = [F.col(f"`{lf.name}`").cast(lf.dataType)
               .alias(lf.name, metadata={}) for lf in logical.fields]
    else:
        # EXPLICIT table schema, exactly like read_delta: bare
        # inference takes ONE footer, so compacting/merging across
        # schema-evolved files would silently null an evolved column
        # for every row when the sampled file predates it
        rs, sel = logical, None
        if parted and _has_foreign_adds(rels):
            df = _scan_log_partitioned(spark, path, meta, files, rels)
            if dvs:
                df = df.join(_dv_deleted_df(spark, path, dvs),
                             ["__fp", "__pos"], "left_anti")
            df = df.drop("__pos")
            have = set(df.columns)
            cols = [(F.col(f"`{f.name}`") if f.name in have
                     else F.lit(None)).cast(f.dataType).alias(f.name)
                    for f in logical.fields]
            if keep_fp:
                cols.append(F.col("__fp"))
            return df.select(*cols)
    reader = spark.read.schema(rs)
    if parted:
        reader = reader.option("basePath", path)
    df = reader.parquet(*[_add_uri(path, p) for p in rels])
    if keep_fp:  # before any DV join — _metadata resolves only here
        df = df.withColumn("__fp0", _abs_fp_col())
    if dvs:
        df = _apply_deletion_vectors(spark, df, path, dvs)
    if sel is None:  # unmapped: evolution-tolerant table-schema apply
        have = set(df.columns)
        sel = [(F.col(f"`{f.name}`") if f.name in have else F.lit(None))
               .cast(f.dataType).alias(f.name) for f in logical.fields]
    if keep_fp:
        sel = sel + [F.col("__fp0").alias("__fp")]
    return df.select(*sel)


def _has_foreign_adds(rels) -> bool:
    """Any add path absolute or a URI — files living OUTSIDE the table
    root (shallow clones reference the source's files that way)."""
    return any(
        r.startswith("/") or (urlparse(r).scheme
                              and len(urlparse(r).scheme) > 1)
        for r in rels)


def _scan_log_partitioned(
    spark, path: str, meta: dict, files: dict, rels,
    extra_fields=(),
) -> DataFrame:
    """Partitioned scan that cannot pin ``basePath`` (foreign absolute
    adds — a shallow clone of a partitioned source, possibly mixed
    with the clone's own relative adds): the data files are read
    WITHOUT partition columns (the Hive layout keeps them out of the
    files) and each file's values attach from the authoritative
    ``add.partitionValues`` via a broadcast one-row-per-FILE map join
    — still one multi-file parquet scan, and file-level pruning
    already happened driver-side (:func:`prune_files_by_stats`), so no
    Catalyst partition pruning is lost at any scale. Returns logical
    columns (+ ``extra_fields``) with ``__fp``/``__pos`` coordinate
    columns retained — callers anti-join deletion vectors on those,
    then drop them."""
    from pyspark.sql import types as T

    logical = T.StructType.fromJson(json.loads(meta["schemaString"]))
    parts = list(meta.get("partitionColumns") or [])
    data_fields = [f for f in logical.fields if f.name not in parts]
    rels = sorted(rels)
    df = spark.read.schema(
        T.StructType(data_fields + list(extra_fields))).parquet(
        *[_add_uri(path, r) for r in rels])
    df = df.withColumn("__fp", _abs_fp_col()) \
           .withColumn("__pos", F.col("_metadata.row_index"))
    def _pv(r, c):  # JSON null (spec) and the Hive dir sentinel (ours)
        v = (files[r].get("partitionValues") or {}).get(c)
        return None if v is None or v == _HIVE_NULL else v

    pmap = local_df(spark, 
        [tuple([_abs_of_add(path, r)] + [_pv(r, c) for c in parts])
         for r in rels],
        T.StructType(
            [T.StructField("__fp", T.StringType())]
            + [T.StructField(f"__pv_{i}", T.StringType())
               for i in range(len(parts))]))
    df = df.join(F.broadcast(pmap), "__fp", "left")
    sel = []
    for f in logical.fields:
        if f.name in parts:
            sel.append(F.col(f"__pv_{parts.index(f.name)}")
                       .cast(f.dataType).alias(f.name))
        else:
            sel.append(F.col(f"`{f.name}`"))
    sel += [F.col(f"`{ef.name}`") for ef in extra_fields]
    return df.select(*sel, "__fp", "__pos")


def _remove_action(
    rel: str, add: dict, now: int, data_change: bool = True,
) -> dict:
    """Remove action for an active file; a DV-bearing add's descriptor
    rides along (PROTOCOL.md: remove should carry the deletionVector of
    the version it removes so foreign readers reconcile (path, dvId)
    pairs exactly)."""
    r = {"path": rel, "deletionTimestamp": now, "dataChange": data_change}
    if add.get("size") is not None:
        # optional per PROTOCOL.md; carrying it keeps the version
        # checksum (_update_crc) incremental — O(commit), not O(table)
        r["size"] = int(add["size"])
    if add.get("deletionVector"):
        r["deletionVector"] = add["deletionVector"]
    return {"remove": r}


# ----------------------------------------------- deletion-vector production

def _dv_writes_enabled(meta: dict | None, use_dvs: bool | None) -> bool:
    """Should this write produce deletion vectors instead of CoW
    rewrites? Explicit ``use_dvs`` wins; default follows the public
    ``delta.enableDeletionVectors`` table property (the switch modern
    Databricks writers key DV production on). Column-mapped tables
    stay CoW — the raw position scan reads physical names."""
    if _column_mapping_mode(meta) != "none":
        return False
    conf = (meta or {}).get("configuration") or {}
    if conf.get("delta.enableIcebergCompatV1") == "true" \
            or conf.get("delta.enableIcebergCompatV2") == "true":
        # icebergCompat writer requirement: commits must stay
        # Iceberg-convertible — deletes/merges rewrite CoW, never DV
        # (overrides an explicit use_dvs=True: honoring it would
        # violate the table contract foreign converters rely on)
        return False
    if use_dvs is not None:
        return bool(use_dvs)
    return conf.get("delta.enableDeletionVectors") == "true"


def _dv_protocol_action(path: str) -> dict | None:
    """Protocol action authorizing deletionVectors (reader v3/writer v7,
    PROTOCOL.md §Deletion Vectors), or None when the table's protocol
    already lists the feature. Existing features — and the implicit
    obligations of legacy versions — carry forward explicitly."""
    prot = _replay_state(path)[2] or {}
    rf = set(prot.get("readerFeatures") or ())
    wf = set(prot.get("writerFeatures") or ())
    if "deletionVectors" in rf and "deletionVectors" in wf:
        return None
    rf.add("deletionVectors")
    wf |= {"deletionVectors", "appendOnly"}  # appendOnly: v2-implied
    # legacy version numbers IMPLY features; a protocol already on v7
    # lists its features explicitly — re-deriving from the version
    # would bolt on obligations (columnMapping) the table never had
    legacy = not prot.get("writerFeatures")
    if legacy and (prot.get("minReaderVersion", 1) == 2
                   or prot.get("minWriterVersion", 2) >= 5):
        rf.add("columnMapping")
        wf.add("columnMapping")
    if legacy and prot.get("minWriterVersion", 2) >= 4:
        wf.add("changeDataFeed")
    return {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(rf), "writerFeatures": sorted(wf)}}


def _raw_position_scan(spark, path: str, meta: dict, rels) -> DataFrame:
    """Raw (NOT DV-applied) scan of ``rels`` with each row's physical
    coordinates: ``__fp`` (table-relative path) and ``__pos``
    (``_metadata.row_index``) — the coordinate space deletion vectors
    address. Explicit table schema, same rationale as
    :func:`_read_files_mor`."""
    from pyspark.sql import types as T

    logical = T.StructType.fromJson(json.loads(meta["schemaString"]))
    reader = spark.read.schema(logical)
    if meta.get("partitionColumns"):
        reader = reader.option("basePath", path)
    df = _apply_table_schema(
        reader.parquet(*[_add_uri(path, p) for p in sorted(rels)]), meta)
    return df.withColumn("__fp", F.col("_metadata.file_path")) \
             .withColumn("__pos", F.col("_metadata.row_index"))


def _loosen_stats(stats_json: str | None) -> str | None:
    """Re-added DV file keeps its stats for skipping, marked
    ``tightBounds: false`` (PROTOCOL.md §Per-file Statistics: with a DV
    attached, min/max remain valid BOUNDS but no longer tight values;
    numRecords stays the physical count)."""
    if not stats_json:
        return stats_json
    try:
        s = json.loads(stats_json)
    except Exception:
        return stats_json
    s["tightBounds"] = False
    return json.dumps(s)


def _produce_dv_actions(
    spark, path: str, meta: dict, files: dict, rels, pk: list[str],
    keys: DataFrame, doom_matched: bool, now: int,
    max_dv_rows: int = 4_000_000,
) -> tuple[list[dict], int, int, list[str]] | None:
    """Deletion-vector actions for a sparse delete over ``rels``
    (PROTOCOL.md §Deletion Vectors, Writer Requirements): each touched
    file gets remove+add on the SAME data file with a new DV descriptor
    (:func:`lake_core.fold_dv_rows`: old positions unioned in, one DV
    per file), fully-dead files become plain removes, untouched files
    produce nothing. The one doomed-positions scan
    (:func:`lake_core.doomed_positions`) doubles as the touched-file
    probe, so callers pass the WHOLE candidate set. Physical row counts
    come from the log (:func:`_add_num_records`). Returns ``(actions,
    n_dv, n_dead, doomed_rels)``, or None when the delete is dense
    (> ``max_dv_rows`` doomed positions) and the caller falls back to
    a CoW rewrite."""
    from . import delta_dv

    amap = _add_key_map(path, rels)
    doom, positions = doomed_positions(
        _raw_position_scan(spark, path, meta, rels), keys, pk,
        doom_matched, max_dv_rows, key=lambda fp: amap[_uri_abs(fp)])
    if not doom:
        return [], 0, 0, []
    if positions is None:  # dense delete: CoW rewrite is the better plan
        return None

    def old_positions(rel):
        desc = files[rel].get("deletionVector")
        return delta_dv.dv_indices(path, desc) if desc else ()

    dv_rows, dead = fold_dv_rows(
        doom, positions, old_positions,
        lambda rel: _add_num_records(path, files[rel]))
    actions: list[dict] = []
    if dv_rows:
        descs = delta_dv.write_dv_file(path, dv_rows)
        for rel, desc in descs.items():
            old = files[rel]
            actions.append(_remove_action(rel, old, now))
            actions.append({"add": {
                **{k: v for k, v in old.items()
                   if k not in ("deletionVector", "stats")},
                **({"stats": _loosen_stats(old.get("stats"))}
                   if old.get("stats") else {}),
                "modificationTime": now, "dataChange": True,
                "deletionVector": desc}})
    for rel in dead:
        actions.append(_remove_action(rel, files[rel], now))
    return actions, len(dv_rows), len(dead), sorted(doom)


# ------------------------------------------------------------ row tracking

_ROW_TRACKING_DOMAIN = "delta.rowTracking"
_RID_CONF = "delta.rowTracking.materializedRowIdColumnName"
_RCV_CONF = "delta.rowTracking.materializedRowCommitVersionColumnName"


def row_tracking_enabled(meta: dict | None) -> bool:
    """Row-id PRESERVATION is required of rewrites when the public
    ``delta.enableRowTracking`` property is set (PROTOCOL.md §Row
    Tracking); mere protocol support only obliges fresh-id assignment
    (:func:`_assign_fresh_row_ids` keys on the feature instead)."""
    return ((meta or {}).get("configuration") or {}).get(
        "delta.enableRowTracking") == "true"


def _rt_cols(meta: dict | None) -> tuple[str | None, str | None]:
    """Materialized (row-id, row-commit-version) physical column names
    the enabling writer recorded in the table configuration."""
    conf = (meta or {}).get("configuration") or {}
    return conf.get(_RID_CONF), conf.get(_RCV_CONF)


def _row_id_hwm(path: str) -> int:
    """Current row-id high watermark from the ``delta.rowTracking``
    domain (PROTOCOL.md §Row Tracking: a JSON configuration holding
    ``rowIdHighWaterMark``); -1 before any assignment."""
    cfg = _domain_metadata(path).get(_ROW_TRACKING_DOMAIN)
    if not cfg:
        return -1
    try:
        return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def _add_num_records(path: str, add: dict) -> int:
    """Physical row count of a staged add — from its stats when present
    (the stage computes them), else the parquet footer."""
    st = add.get("stats")
    if st:
        try:
            return int(json.loads(st)["numRecords"])
        except (ValueError, KeyError, TypeError):
            pass
    return footer_num_rows(_add_uri(path, add["path"]))


def _assign_fresh_row_ids(
    path: str, adds: list[dict], version: int, protocol: dict | None = None,
) -> list[dict]:
    """Assign ``baseRowId`` / ``defaultRowCommitVersion`` to staged add
    actions (mutated in place) and return the domainMetadata action
    advancing the row-id high watermark — PROTOCOL.md §Row Tracking
    Writer Requirements: once the protocol lists the feature, EVERY new
    add gets fresh ids past the watermark. Adds that already carry a
    ``baseRowId`` (DV re-adds of existing files) keep it. Returns []
    when the feature is absent or nothing was assigned."""
    if protocol is None:
        protocol = _replay_state(path)[2]
    if "rowTracking" not in set((protocol or {}).get("writerFeatures")
                                or ()):
        return []
    hwm = _row_id_hwm(path)
    assigned = False
    for a in adds:
        add = a.get("add", a)
        if add.get("baseRowId") is not None:
            continue
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += max(1, _add_num_records(path, add))
        assigned = True
    if not assigned:
        return []
    return [{"domainMetadata": {
        "domain": _ROW_TRACKING_DOMAIN,
        "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
        "removed": False}}]


def _scan_with_row_ids(
    spark, path: str, meta: dict, files: dict, rels,
    rid_out: str = "_row_id", rcv_out: str = "_row_commit_version",
) -> DataFrame:
    """DV-applied scan of ``rels`` with two extra columns: each row's
    stable row id and row commit version (PROTOCOL.md §Row Tracking:
    the materialized column value when the physical file carries one —
    rewrites thread it through — else the fresh
    ``baseRowId + row_index`` / ``defaultRowCommitVersion``).

    The per-file (baseRowId, defaultRowCommitVersion) map is metadata
    the log replay already holds, broadcast-joined on the relative
    file path; id arithmetic is whole-stage-codegen column math, so
    the scan stays one JVM-side pass at any scale.

    Column-mapped tables read with the PHYSICAL (``name`` mode) or
    field-id (``id`` mode) schema exactly like :func:`read_delta`; the
    materialized row-tracking columns need no translation — their
    on-disk names ARE the configured physical names
    (``delta.rowTracking.materializedRowIdColumnName``). Mapped AND
    partitioned stays refused (partition values live only in
    ``add.partitionValues``, and the grouped union read does not
    thread ``_metadata`` ordinals through)."""
    from pyspark.sql import types as T

    schema_json = json.loads(meta["schemaString"])
    logical = T.StructType.fromJson(schema_json)
    rid_col, rcv_col = _rt_cols(meta)
    rels = sorted(rels)
    out = T.StructType(list(logical.fields) + [
        T.StructField(rid_out, T.LongType()),
        T.StructField(rcv_out, T.LongType())])
    if not rels:
        return local_df(spark, [], out)
    missing = [r for r in rels if files[r].get("baseRowId") is None]
    if missing:
        raise UnsupportedTableFeature(
            f"delta table at {path}: row tracking requires every active "
            f"file to carry baseRowId; missing on {missing[:3]} — enable "
            "row tracking via set_table_properties to backfill")
    cm = _column_mapping_mode(meta)
    if cm != "none" and meta.get("partitionColumns"):
        raise UnsupportedTableFeature(
            f"delta table at {path}: row-id reads on column-mapped "
            "PARTITIONED tables are not implemented")
    rt_fields = [T.StructField(c, T.LongType())
                 for c in (rid_col, rcv_col) if c]
    if cm == "name":
        phys = T.StructType.fromJson({
            "type": "struct",
            "fields": _physical_fields(schema_json["fields"])})
        read_fields = list(phys.fields)
        sel = [F.col(f"`{pf.name}`").cast(lf.dataType).alias(lf.name)
               for pf, lf in zip(phys.fields, logical.fields)]
    elif cm == "id":
        # field-id resolution: fields carrying parquet.field.id match
        # by id, the rt columns (no id — they are writer-internal)
        # still match by name
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        fid = T.StructType.fromJson({
            "type": "struct",
            "fields": _fieldid_fields(schema_json["fields"])})
        read_fields = list(fid.fields)
        sel = [F.col(f"`{lf.name}`").cast(lf.dataType)
               .alias(lf.name, metadata={}) for lf in logical.fields]
    else:
        if cm != "none":
            raise UnsupportedTableFeature(
                f"delta table at {path} uses column mapping mode "
                f"{cm!r}; only 'name', 'id' (and 'none') are supported")
        read_fields = list(logical.fields)
        sel = [F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
               for f in logical.fields]
    if meta.get("partitionColumns") and _has_foreign_adds(rels):
        # partitioned shallow clone (cm is "none" here — mapped +
        # partitioned refused above): partition values from the log
        df = _scan_log_partitioned(
            spark, path, meta, files, rels, rt_fields)
    else:
        reader = spark.read.schema(T.StructType(read_fields + rt_fields))
        if meta.get("partitionColumns"):
            reader = reader.option("basePath", path)
        df = reader.parquet(*[_add_uri(path, r) for r in rels])
        df = df.withColumn("__fp", _abs_fp_col()) \
               .withColumn("__pos", F.col("_metadata.row_index"))
    dvs = {r: files[r]["deletionVector"] for r in rels
           if files[r].get("deletionVector")}
    if dvs:
        df = df.join(_dv_deleted_df(spark, path, dvs),
                     ["__fp", "__pos"], "left_anti")
    fmap = local_df(spark, 
        [(_abs_of_add(path, r), int(files[r]["baseRowId"]),
          int(files[r].get("defaultRowCommitVersion") or 0))
         for r in rels],
        "__fp string, __base long, __dcv long")
    df = df.join(F.broadcast(fmap), "__fp", "left")
    rid_val = F.col("__base") + F.col("__pos")
    rcv_val = F.col("__dcv")
    if rid_col:
        rid_val = F.coalesce(F.col(f"`{rid_col}`"), rid_val)
    if rcv_col:
        rcv_val = F.coalesce(F.col(f"`{rcv_col}`"), rcv_val)
    sel = sel + [rid_val.cast("long").alias(rid_out),
                 rcv_val.cast("long").alias(rcv_out)]
    return df.select(*sel)


def _rt_attach_preserved(
    spark, path: str, meta: dict, files: dict, rels,
    replacement: DataFrame, updated_keys: DataFrame | None, pk: list[str],
) -> DataFrame:
    """Materialize row ids into a rewrite's output (PROTOCOL.md Row
    Tracking Writer Requirements: rewritten rows keep their row ids;
    UPDATED rows — pk in ``updated_keys`` — take the new commit's
    version, untouched rows keep theirs; inserts read fresh ids from
    the new file's baseRowId): :func:`lake_core.attach_preserved` over
    the touched files' materialized columns."""
    rid_col, rcv_col = _rt_cols(meta)
    if not rid_col:
        return replacement
    mapping = _scan_with_row_ids(
        spark, path, meta, files, rels, RID, SEQ).select(*pk, RID, SEQ)
    return attach_preserved(
        replacement, mapping, updated_keys, pk, rid_col, rcv_col)


def _read_mapped_partitioned(
    spark, path: str, meta: dict, files: dict, schema_json: dict, logical,
    id_mode: bool = False, dvs: dict | None = None,
    keep_file: bool = False, extra_cols: list[tuple] | None = None,
):
    """Column-mapped AND partitioned: mapped tables keep partition
    values ONLY in ``add.partitionValues`` (keys are physical names —
    the data files hold no partition columns and the dir layout is
    opaque), so the scan groups active files by their partition tuple
    and attaches the values as typed literals, one union branch per
    DISTINCT partition tuple in the snapshot. The driver already holds
    every add action (that is what log replay is), so grouping is free;
    the plan grows with distinct partition tuples, which a snapshot
    bounds far below file count. ``id_mode`` reads data columns by
    parquet field id (:func:`_fieldid_fields`) instead of physical
    name; ``dvs`` (rel path -> descriptor) anti-join each branch's raw
    scan before the projection."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fields = schema_json["fields"]
    by_logical = {f["name"]: f for f in fields}

    def physname(f):
        return (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"])

    by_physical = {physname(f): f for f in fields}
    part_fields = []
    for name in meta["partitionColumns"]:
        f = by_logical.get(name) or by_physical.get(name)
        if f is None:
            raise UnsupportedTableFeature(
                f"delta table at {path}: partition column {name!r} not "
                "found in the schema")
        part_fields.append(f)
    part_names = {f["name"] for f in part_fields}
    data_fields = [f for f in fields if f["name"] not in part_names]
    phys_fields = (_fieldid_fields if id_mode
                   else _physical_fields)(data_fields)
    # extra UNMAPPED physical columns (the change files' _change_type:
    # not part of the table schema, stored verbatim, matched by name
    # even under fieldId reads since it carries no id metadata)
    phys_fields += [{"name": n, "type": t, "nullable": True,
                     "metadata": {}} for n, t in (extra_cols or [])]
    phys = T.StructType.fromJson(
        {"type": "struct", "fields": phys_fields})

    groups: dict[tuple, list[str]] = {}
    for rel, add in files.items():
        pv = add.get("partitionValues") or {}
        key = tuple(
            pv.get(physname(f), pv.get(f["name"])) for f in part_fields)
        groups.setdefault(key, []).append(rel)

    logical_by_name = {f.name: f for f in logical.fields}
    branches = []
    for key, rels in sorted(
            groups.items(), key=lambda kv: tuple(map(str, kv[0]))):
        df = spark.read.schema(phys).parquet(
            *[_add_uri(path, r) for r in sorted(rels)])
        if keep_file:  # pre-join — _metadata resolves only on the scan
            df = df.withColumn("__fp0", _abs_fp_col())
        branch_dvs = {r: (dvs or {})[r] for r in rels if r in (dvs or {})}
        if branch_dvs:  # on the raw scan — _metadata resolves only there
            df = _apply_deletion_vectors(spark, df, path, branch_dvs)
        vals = {f["name"]: v for f, v in zip(part_fields, key)}
        sel = []
        for f in fields:
            lf = logical_by_name[f["name"]]
            if f["name"] in part_names:
                sel.append(F.lit(vals[f["name"]])
                           .cast(lf.dataType).alias(lf.name))
            else:
                src = f["name"] if id_mode else physname(f)
                sel.append(F.col(src)
                           .cast(lf.dataType).alias(lf.name, metadata={}))
        for n, _t in (extra_cols or []):
            sel.append(F.col(n))
        if keep_file:
            sel.append(F.col("__fp0").alias("__fp"))
        branches.append(df.select(*sel))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _evolve_schema_actions(df: DataFrame, meta: dict | None) -> list[dict]:
    """A metaData action when ``df`` widens the recorded schema (new
    columns; existing ones preserved) — delta-spark's mergeSchema
    semantics. The explicit-schema read then projects the new columns
    as nulls from pre-evolution files. A frame MISSING recorded columns
    does not shrink the schema (dropping columns needs an explicit
    overwrite)."""
    if meta is None:
        return []
    recorded = [f["name"] for f in
                json.loads(meta["schemaString"])["fields"]]
    have = df.columns
    if set(recorded) <= set(have) and set(have) != set(recorded):
        if _column_mapping_mode(meta) != "none":
            raise UnsupportedTableFeature(
                "implicit schema evolution on a column-mapped table: "
                f"new column(s) {sorted(set(have) - set(recorded))} "
                "need mapping metadata — add them explicitly via "
                "add_column first")
        new_meta = dict(meta)
        new_meta["schemaString"] = df.schema.json()
        return [{"metaData": new_meta}]
    return []


def write_delta(
    df: DataFrame, path: str, mode: str = "append",
    partition_by: list[str] | None = None,
    txn_app_id: str | None = None, txn_version: int | None = None,
) -> int:
    """Append or overwrite; returns the committed version. On an
    existing table the recorded partitioning wins (append must not
    change layout); ``partition_by`` takes effect on table creation or
    full overwrite. Appends that widen the schema ride a metaData
    update (mergeSchema semantics).

    ``txn_app_id`` + ``txn_version`` make the write IDEMPOTENT
    (delta-spark's txnAppId/txnVersion DataFrame options, PROTOCOL.md
    §Transaction Identifiers): a retried batch whose (app, version)
    the log already records is silently skipped — the retry contract
    an EL orchestrator needs when a task re-runs after a driver
    failure that may or may not have committed."""
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError(
            "txn_app_id and txn_version must be passed together")
    if txn_app_id is not None:
        seen = last_txn_version(path, txn_app_id)
        if seen is not None and seen >= txn_version:
            return latest_version(path)  # already committed: no-op
    version = latest_version(path) + 1
    actions: list[dict] = []
    honor_meta = None  # table whose column contracts bind this batch
    prot: dict = {}
    meta = None
    if version == 0:
        actions += _first_commit_actions(df, partition_by)
    else:
        prot = check_writer_protocol(path,
                                     removes_files=(mode == "overwrite"))
        meta, files = replay_log(path)
        existing_parts = (meta or {}).get("partitionColumns") or []
        if mode == "overwrite":
            if partition_by is not None \
                    and list(partition_by) != existing_parts:
                actions += [_first_commit_actions(df, partition_by)[1]]
                existing_parts = list(partition_by)
            else:
                # overwrite replaces the schema wholesale
                if meta is not None and \
                        df.schema.json() != meta["schemaString"]:
                    if _column_mapping_mode(meta) != "none" and \
                            [f.name for f in df.schema.fields] != \
                            [f["name"] for f in json.loads(
                                meta["schemaString"])["fields"]]:
                        raise UnsupportedTableFeature(
                            "overwrite must not replace a column-mapped "
                            "table's schema (mapping metadata would be "
                            "lost) — use rename/drop/add_column DDL")
                    # same column names: keep the mapped schemaString
                    if _column_mapping_mode(meta) == "none":
                        new_meta = dict(meta)
                        new_meta["schemaString"] = df.schema.json()
                        actions += [{"metaData": new_meta}]
            now = int(time.time() * 1000)
            actions += [_remove_action(p, files[p], now)
                        for p in sorted(files)]
        elif partition_by is not None \
                and list(partition_by) != existing_parts:
            raise ValueError(
                f"append partitioning {partition_by} != table's "
                f"{existing_parts}")
        else:
            actions += _evolve_schema_actions(df, meta)
        # honor identity + generated columns and enforce declared
        # invariants on the batch — unless this overwrite just replaced
        # the schema (the declarations are gone from the post-commit
        # table, so there is nothing to honor)
        if mode == "append" or (meta is not None
                                and df.schema.json() == meta["schemaString"]):
            honor_meta = meta
            df = _with_invariant_guard(
                _with_generated_columns(
                    _with_identity_columns(
                        _with_column_defaults(df, meta), meta),
                    meta), meta)
        partition_by = existing_parts
    staged = _stage_data_files(df, path, meta, partition_by)
    actions += staged
    if honor_meta is not None:
        actions += _identity_hwm_action(honor_meta, staged, frame=df)
    actions += _assign_fresh_row_ids(path, staged, version, protocol=prot)
    if txn_app_id is not None:
        actions.append({"txn": {
            "appId": txn_app_id, "version": int(txn_version),
            "lastUpdated": int(time.time() * 1000)}})
    if mode == "append" and version > 0:
        return _commit_with_retry(path, version, actions)
    _commit(path, version, actions)
    _update_crc(path, version, actions)
    _maybe_auto_checkpoint(path, version, actions)
    return version


def _rel_to_table(file_uri: str, path: str) -> str:
    """_metadata.file_path URI -> path relative to the table root.
    Spark percent-encodes the URI over the ON-DISK file name (itself
    already Hive-escaped: a ':' partition char stored as '%3A' surfaces
    as '%253A'), so the URI path needs exactly one unquote to match the
    log's literal relative paths."""
    import os as _os

    parsed_uri = urlparse(file_uri)
    child = unquote(parsed_uri.path) if parsed_uri.scheme else file_uri
    parsed = urlparse(path)
    base = parsed.path if parsed.scheme else _os.path.abspath(path)
    return posixpath.relpath(child, base)


def merge_delta(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    primary_key,
    strategy=None,
    update_key: str | None = None,
    seq_col: str | None = None,
    op_col: str | None = None,
    use_dvs: bool | None = None,
    max_dv_rows: int = 4_000_000,
    batch_rows: int | None = None,
) -> dict:
    """MERGE: rewrite only data files holding matched PKs, committed
    atomically as remove+add (reference semantics: base.yaml:52-126
    merge strategies; delta-spark MERGE INTO is the jar-backed
    equivalent).

    ``batch_rows`` (r15, perf hint only — never changes results): the
    caller's materialized count of ``src`` (the CDC foreachBatch path
    counts every micro-batch anyway). Together with the touched files'
    ``add.size`` from the log it PROVES the replacement frame small, so
    the stage writes driver-side instead of paying a distributed write
    job per micro-batch (guide §1.2/§5; sources/driver_stage.py).

    On a partitioned table, the touched-file probe reads only files
    whose ``partitionValues`` match a partition present in the batch —
    the driver filters the add-list, so untouched partitions cost
    nothing (not even a footer read).

    When DV production is on (``use_dvs=True``, or the table property
    ``delta.enableDeletionVectors=true``), matched rows are instead
    DELETED from their files via deletion vectors and the merge output
    lands in NEW files — a 10-row merge into a 1 GB file costs a
    roaring bitmap, not a 1 GB rewrite (PROTOCOL.md §Deletion Vectors;
    the write-side twin of the r7 read support). Dense merges
    (> ``max_dv_rows`` matched positions) fall back to CoW — rewriting
    is the better plan when most of the file changes anyway.

    Returns {"touched": n, "new_files": n, "kept": n, "version": v}
    (+ "dv_files" on the DV path).
    """
    from sling_cli_spark.config import MergeStrategy
    from sling_cli_spark.operators.merge import merge_dataframes

    strategy = strategy or MergeStrategy.UPDATE_INSERT
    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    # ONE log replay serves the reader gate, the writer gate and the
    # active-file set (r15: was two full replays per merge — a per-
    # micro-batch cost on the CDC foreachBatch path, guide §1.2)
    meta, files, protocol = _replay_state(path)
    _check_reader_protocol(path, protocol)
    wprot = _check_writer_state(path, meta, protocol, removes_files=True)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    # identity + generated columns fill/validate on the BATCH (before
    # the merge): a src row missing the column would otherwise merge a
    # null where foreign readers expect the derived value
    src = _with_generated_columns(
        _with_identity_columns(_with_column_defaults(src, meta), meta),
        meta)
    part_cols = meta.get("partitionColumns") or []

    from sling_cli_spark.sources.driver_stage import (
        DRIVER_STAGE_BYTES, DRIVER_STAGE_ROWS)
    small_batch = (batch_rows is not None
                   and 0 <= batch_rows <= DRIVER_STAGE_ROWS)

    def _bytes_of(rels) -> int:
        return sum(int(files[p].get("size") or 0) for p in rels)

    touched_rel: list[str] = []
    if strategy == MergeStrategy.INSERT:
        # anti-join must see the FULL target PK set
        target = read_delta(spark, path)
        replacement = src.join(target.select(*pk), on=pk, how="left_anti")
    elif strategy == MergeStrategy.HISTORY_INSERT:
        replacement = src
    else:
        # partition prune: restrict the probe to partitions in the batch
        candidates = files
        if part_cols and all(c in src.columns for c in part_cols):
            batch_parts = {
                tuple(hive_partition_str(r[c]) for c in part_cols)
                for r in src.select(*part_cols).distinct().collect()
            }
            l2p = _logical_physical_names(meta)  # mapped: physical keys
            candidates = {
                p: a for p, a in files.items()
                if tuple((a.get("partitionValues") or {}).get(
                    l2p.get(c, c),
                    (a.get("partitionValues") or {}).get(c, _HIVE_NULL))
                         for c in part_cols) in batch_parts
            }
        cdc_cols = {}
        if seq_col:
            cdc_cols["seq_col"] = seq_col
        if op_col:
            cdc_cols["op_col"] = op_col
        dv = None
        if candidates and _dv_writes_enabled(meta, use_dvs) \
                and not (part_cols and _has_foreign_adds(candidates)):
            # (partitioned shallow-clone candidates stay CoW: the raw
            # position scan has no basePath to pin)
            # DV path: the doomed-coordinates scan over the pruned
            # candidates doubles as the touched-file probe (one scan);
            # matched rows are DV-deleted in place and the merge output
            # (updated matched rows + inserted rows — exactly
            # merge_dataframes over the MATCHED subset, since unmatched
            # target rows never leave their file) appends as new files.
            now = int(time.time() * 1000)
            dv = _produce_dv_actions(
                spark, path, meta, files, sorted(candidates), pk, src,
                doom_matched=True, now=now, max_dv_rows=max_dv_rows)
        if dv is None and candidates:
            # CoW (or dense-fallback) probe: which candidates hold
            # matched PKs. DV-applied + mapping-aware (_read_files_mor
            # serves every table shape); __fp keys the add map.
            amap = _add_key_map(path, candidates)
            probe = _read_files_mor(
                spark, path, meta, files, sorted(candidates),
                keep_fp=True)
            touched_rel = [amap[fp] for fp in
                           touched_files(probe, "__fp", src, pk)]
        if dv is not None:
            dv_actions, n_dv, n_dead, doomed_rels = dv
            # DV-applied read of just the doomed files: their DV-deleted
            # rows must not resurrect into the appended merge output.
            # doomed_rels may be EMPTY (pure-insert batch) — the merge
            # over zero matched rows still appends the inserted rows.
            matched_rows = _read_files_mor(
                spark, path, meta, files, doomed_rels).join(
                src.select(*pk).distinct(), on=pk, how="left_semi")
            appended = _with_invariant_guard(merge_dataframes(
                matched_rows, src, pk, strategy=strategy,
                update_key=update_key, **cdc_cols), meta)
            data_appended = appended
            if doomed_rels and row_tracking_enabled(meta):
                # matched rows moved to new files keep their row ids
                # via the materialized column; all of them are UPDATES
                # so their commit version resets to the new default
                appended = _rt_attach_preserved(
                    spark, path, meta, files, doomed_rels, appended,
                    src, pk)
            adds = _stage_data_files(
                appended, path, meta, part_cols or None,
                # appended <= doomed files' rows + batch rows
                small=small_batch
                and _bytes_of(doomed_rels) <= DRIVER_STAGE_BYTES)
            cdc_actions = []
            if cdf_enabled(meta):
                cdc_actions = _stage_cdc_actions(
                    _cdf_diff(matched_rows, data_appended, pk), path,
                    meta, part_cols or None,
                    # diff <= doomed pre-image + staged post-image
                    small=_bytes_of(doomed_rels)
                    + sum(int(a["add"].get("size") or 0) for a in adds)
                    <= DRIVER_STAGE_BYTES)
            prot = _dv_protocol_action(path) if dv_actions else None
            evolve = _evolve_schema_actions(data_appended, meta)
            hwm = _identity_hwm_action(
                evolve[-1]["metaData"] if evolve else meta, adds,
                frame=appended)
            if hwm:  # hwm metaData already carries any evolution
                evolve = []
            schema_actions = ([prot] if prot else []) + evolve + hwm
            version = latest_version(path) + 1
            schema_actions += _assign_fresh_row_ids(
                path, adds, version, protocol=wprot)
            version = _commit_with_retry(
                path, version,
                schema_actions + dv_actions + adds + cdc_actions,
                read_files=set(files))
            # active-after-commit is fully determined: DV'd files keep
            # their path (remove+add pairs), n_dead files drop, adds
            # join — no post-commit replay needed (r15, guide §1.2)
            return {"touched": n_dv + n_dead, "new_files": len(adds),
                    "dv_files": n_dv,
                    "kept": len(files) - n_dead, "version": version}
        # CoW rewrite (DV off, or dense-merge fallback): DV-applied
        # read — a touched file's DV-deleted rows must not resurrect
        # into the rewritten file (the probe above may run raw — a
        # deleted row can only mark an extra file touched, never
        # corrupt the result)
        touched_rows = _read_files_mor(spark, path, meta, files,
                                       touched_rel)
        replacement = merge_dataframes(
            touched_rows, src, pk, strategy=strategy, update_key=update_key,
            **cdc_cols)

    replacement = _with_invariant_guard(replacement, meta)
    data_repl = replacement
    if touched_rel and row_tracking_enabled(meta):
        # rewritten rows keep their ids (materialized); updated rows
        # (pk in the batch) reset to the new commit's version
        replacement = _rt_attach_preserved(
            spark, path, meta, files, touched_rel, replacement, src, pk)
    adds = _stage_data_files(
        replacement, path, meta, part_cols or None,
        # replacement <= touched files' rows + batch rows (both proven)
        small=small_batch and _bytes_of(touched_rel) <= DRIVER_STAGE_BYTES)
    now = int(time.time() * 1000)
    removes = [_remove_action(p, files[p], now) for p in touched_rel]
    # CDF (PROTOCOL.md Change Data Files): a rewriting commit on a
    # delta.enableChangeDataFeed table must record row-level changes —
    # the pre-image of touched files diffed against the rewrite.
    # Blind appends (no removes) stay derivable from the add actions
    # and write no change files, delta-spark's behavior.
    cdc_actions: list[dict] = []
    if cdf_enabled(meta) and touched_rel:
        cdc_actions = _stage_cdc_actions(
            _cdf_diff(touched_rows, data_repl, pk), path,
            meta, part_cols or None,
            # diff <= touched pre-image + staged post-image, both sizes
            # already in hand — no batch hint needed
            small=_bytes_of(touched_rel)
            + sum(int(a["add"].get("size") or 0) for a in adds)
            <= DRIVER_STAGE_BYTES)
    # a batch carrying new columns evolves the table schema with the
    # same commit (mergeSchema semantics; untouched files read the new
    # columns as nulls); an identity watermark advance rides the same
    # metaData action when both apply
    schema_actions = _evolve_schema_actions(data_repl, meta)
    hwm = _identity_hwm_action(
        schema_actions[-1]["metaData"] if schema_actions else meta, adds,
        frame=replacement)
    if hwm:
        schema_actions = hwm
    version = latest_version(path) + 1
    schema_actions += _assign_fresh_row_ids(
        path, adds, version, protocol=wprot)
    version = _commit_with_retry(
        path, version, schema_actions + removes + adds + cdc_actions,
        read_files=set(files))
    # kept = pre-merge actives minus the rewritten (removed) files —
    # arithmetic over state already in hand, not a post-commit replay
    return {"touched": len(removes), "new_files": len(adds),
            "kept": len(files) - len(removes), "version": version}


def delete_missing_delta(
    spark: SparkSession,
    path: str,
    keyset: DataFrame,
    primary_key,
    soft: bool = False,
    use_dvs: bool | None = None,
    max_dv_rows: int = 4_000_000,
) -> dict:
    """delete_missing on a Delta target: only files holding at least
    one row whose PK is ABSENT from the source keyset are touched
    (reference semantics: config.go:1838-1876; the swap-path twin would
    rewrite — and de-Delta — the whole table).

    soft=True flags missing rows ``_sling_synced_op='D'`` instead of
    dropping them; the op column joining the schema is committed as an
    updated metaData action.

    With DV production on (``use_dvs=True`` or table property
    ``delta.enableDeletionVectors=true``; hard deletes only — a soft
    delete CHANGES row values, which a DV cannot express), doomed rows
    are committed as deletion vectors against their files instead of
    CoW rewrites: remove+add on the same data file with a roaring
    bitmap descriptor, plain remove when every physical row dies, CoW
    fallback past ``max_dv_rows`` doomed positions.

    Returns {"touched": n, "new_files": n, "kept": n, "version": v}
    (+ "dv_files" on the DV path).
    """
    from pyspark.sql import functions as F

    from sling_cli_spark.operators.merge import delete_missing as _dm

    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    # one replay serves reader gate + writer gate + actives (r15 §1.2)
    meta, files, protocol = _replay_state(path)
    _check_reader_protocol(path, protocol)
    wprot = _check_writer_state(path, meta, protocol, removes_files=True)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    part_cols = meta.get("partitionColumns") or []
    keys = keyset.select(*pk).distinct()

    from sling_cli_spark.sources.driver_stage import DRIVER_STAGE_BYTES

    def _bytes_of(rels) -> int:
        return sum(int(files[p].get("size") or 0) for p in rels)

    if files and not soft and _dv_writes_enabled(meta, use_dvs) \
            and not (part_cols and _has_foreign_adds(files)):
        # DV path: the doomed-coordinates scan over ALL files doubles
        # as the touched-file probe (one scan of the table, not two; an
        # already-DV-deleted doomed row only re-unions its own
        # position — a no-op)
        now = int(time.time() * 1000)
        dv = _produce_dv_actions(
            spark, path, meta, files, sorted(files), pk, keys,
            doom_matched=False, now=now, max_dv_rows=max_dv_rows)
        if dv is not None:
            dv_actions, n_dv, n_dead, doomed_rels = dv
            if not dv_actions:
                return {"touched": 0, "new_files": 0, "dv_files": 0,
                        "kept": len(files),
                        "version": latest_version(path)}
            cdc_actions = []
            if cdf_enabled(meta):
                # pre-image of doomed rows only: kept rows never move
                touched_live = _read_files_mor(
                    spark, path, meta, files, doomed_rels)
                cdc_actions = _stage_cdc_actions(
                    _cdf_diff(touched_live,
                              _dm(touched_live, keys, pk), pk),
                    path, meta, part_cols or None,
                    # diff <= 2x the doomed files' pre-image bytes
                    small=2 * _bytes_of(doomed_rels)
                    <= DRIVER_STAGE_BYTES)
            prot = _dv_protocol_action(path)
            version = _commit_with_retry(
                path, latest_version(path) + 1,
                ([prot] if prot else []) + dv_actions + cdc_actions,
                read_files=set(files))
            # DV'd files keep their path; only fully-dead files drop —
            # no post-commit replay needed (r15, guide §1.2)
            return {"touched": n_dv + n_dead, "new_files": 0,
                    "dv_files": n_dv, "kept": len(files) - n_dead,
                    "version": version}
        # dense delete: fall through to the CoW rewrite below

    # DV-applied + mapping-aware probe (file captured BEFORE the DV
    # anti-join inside _read_files_mor — ``_metadata`` does not resolve
    # past a join), so DV-deleted rows can neither mark a file touched
    # nor resurrect into the rewrite
    amap = _add_key_map(path, files)
    scan = _read_files_mor(spark, path, meta, files, sorted(files),
                           keep_fp=True)
    touched_rel = sorted(amap[fp] for fp in touched_files(
        scan, "__fp", keys, pk, matched=False))
    if not touched_rel:
        return {"touched": 0, "new_files": 0, "kept": len(files),
                "version": latest_version(path)}
    touched_rows = _read_files_mor(spark, path, meta, files, touched_rel)
    replacement = _dm(touched_rows, keys, pk, soft=soft)

    data_repl = replacement
    if row_tracking_enabled(meta):
        # surviving rows keep both id and commit version; a SOFT
        # delete modifies the rows it flags (pk absent from the
        # keyset), so those reset to the new commit's version
        upd = touched_rows.select(*pk).join(keys, on=pk, how="left_anti") \
            if soft else None
        replacement = _rt_attach_preserved(
            spark, path, meta, files, touched_rel, replacement, upd, pk)
    actions: list[dict] = _evolve_schema_actions(data_repl, meta)
    adds = _stage_data_files(
        replacement, path, meta, part_cols or None,
        # delete_missing only drops/flags rows: replacement is bounded
        # by the touched files' own bytes — no caller hint needed
        small=_bytes_of(touched_rel) <= DRIVER_STAGE_BYTES)
    now = int(time.time() * 1000)
    removes = [_remove_action(p, files[p], now) for p in touched_rel]
    cdc_actions: list[dict] = []
    if cdf_enabled(meta):  # deletes (or soft-delete flips) per row
        cdc_actions = _stage_cdc_actions(
            _cdf_diff(touched_rows, data_repl, pk), path,
            meta, part_cols or None,
            small=_bytes_of(touched_rel)
            + sum(int(a["add"].get("size") or 0) for a in adds)
            <= DRIVER_STAGE_BYTES)
    version = latest_version(path) + 1
    actions += _assign_fresh_row_ids(path, adds, version, protocol=wprot)
    version = _commit_with_retry(
        path, version, actions + removes + adds + cdc_actions,
        read_files=set(files))
    # kept = pre-delete actives minus the rewritten files (r15 §1.2)
    return {"touched": len(removes), "new_files": len(adds),
            "kept": len(files) - len(removes), "version": version}


def replace_where_delta(
    spark: SparkSession, path: str, df: DataFrame, predicate: str,
    validate: bool = True, skip_filters=None,
) -> dict:
    """delta-spark's ``replaceWhere`` — selective overwrite: delete
    every row matching ``predicate`` and insert ``df``, atomically in
    ONE commit (the backfill-target shape: reload a date range without
    touching the rest of the table). ``validate`` (delta-spark's
    default) refuses a batch carrying rows OUTSIDE the predicate.

    File handling is stats-driven CoW: ``skip_filters`` (``(col, op,
    value)`` conjuncts) prunes candidate files from per-file skipping
    stats before any read; surviving candidates probe row-level —
    files with no matching row are untouched, files whose every
    live row matches are plain removes, partially-matching files
    rewrite only their non-matching rows. Row-tracking tables keep
    rewritten rows' ids/versions (pure rearrangement — the scan
    materializes lineage straight into the rewrite). CDF tables stage
    delete rows for the overwritten range + insert rows for the batch.

    Returns {"touched": n, "new_files": n, "version": v}."""
    from pyspark.sql import functions as F

    wprot = check_writer_protocol(path, removes_files=True)
    meta, files = replay_log(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    part_cols = meta.get("partitionColumns") or []
    pred_true = F.coalesce(F.expr(predicate), F.lit(False))
    if validate and df.filter(~pred_true).limit(1).count():
        raise ValueError(
            f"replaceWhere: written data contains rows not matching "
            f"{predicate!r} (pass validate=False to allow)")

    candidates = dict(files)
    if skip_filters:
        candidates = prune_files_by_stats(
            candidates, skip_filters, part_cols or ())
    touched_rel: list[str] = []
    if candidates:
        amap = _add_key_map(path, files)
        scan = _read_files_mor(spark, path, meta, files,
                               sorted(candidates), keep_fp=True)
        touched_rel = sorted(
            amap[fp] for fp in touched_files(scan.filter(pred_true), "__fp"))

    kept = pre = None
    if touched_rel:
        pre = _read_files_mor(spark, path, meta, files, touched_rel)
        rid_col, rcv_col = _rt_cols(meta)
        if row_tracking_enabled(meta) and rid_col:
            # unchanged rows keep id AND commit version: materialize
            # lineage straight off the scan (no pk needed — this is a
            # pure filter, not a keyed transform)
            kept = _scan_with_row_ids(
                spark, path, meta, files, touched_rel, rid_col,
                rcv_col or "__rw_rcv")
            if not rcv_col:
                kept = kept.drop("__rw_rcv")
        else:
            kept = pre
        kept = kept.filter(~pred_true)

    actions = _evolve_schema_actions(df, meta)
    adds = _stage_data_files(df, path, meta, part_cols or None)
    if kept is not None and kept.limit(1).count():
        for c, t in df.dtypes:  # evolved columns read null in kept
            if c not in kept.columns:
                kept = kept.withColumn(c, F.lit(None).cast(t))
        adds += _stage_data_files(kept, path, meta, part_cols or None)

    cdc_actions: list[dict] = []
    if cdf_enabled(meta):
        ins = df.withColumn("_change_type", F.lit("insert"))
        cdf = ins
        if pre is not None:
            dels = pre.filter(pred_true)
            for c, t in df.dtypes:
                if c not in dels.columns:
                    dels = dels.withColumn(c, F.lit(None).cast(t))
            cdf = dels.withColumn(
                "_change_type", F.lit("delete")).unionByName(ins)
        cdc_actions = _stage_cdc_actions(cdf, path, meta,
                                         part_cols or None)

    now = int(time.time() * 1000)
    removes = [_remove_action(p, files[p], now) for p in touched_rel]
    version = latest_version(path) + 1
    actions += _assign_fresh_row_ids(path, adds, version,
                                     protocol=wprot)
    version = _commit_with_retry(
        path, version, actions + removes + adds + cdc_actions,
        read_files=set(files))
    return {"touched": len(removes), "new_files": len(adds),
            "version": version}


def _walk_data_files(fs, path: str, rel: str = "") -> list[str]:
    out: list[str] = []
    base = fsio.join(path, rel) if rel else path
    for fname in fs.listdir(base):
        if fname.startswith((".", "_")):
            continue
        full = fsio.join(base, fname)
        r = f"{rel}/{fname}" if rel else fname
        if fs.isdir(full):
            out.extend(_walk_data_files(fs, path, r))
        elif fname.endswith(".parquet"):
            out.append(r)
    return out


def _walk_dv_files(fs, path: str, rel: str = "") -> list[str]:
    """Relative paths of deletion_vector_*.bin files under the table
    (they live at the root or under short random-prefix dirs)."""
    out: list[str] = []
    base = fsio.join(path, rel) if rel else path
    for fname in fs.listdir(base):
        if fname.startswith((".", "_")):
            continue
        full = fsio.join(base, fname)
        r = f"{rel}/{fname}" if rel else fname
        if fs.isdir(full):
            out.extend(_walk_dv_files(fs, path, r))
        elif fname.startswith("deletion_vector_") and fname.endswith(".bin"):
            out.append(r)
    return out


def cleanup_logs(path: str, keep_versions: int = 10) -> list[str]:
    """Metadata retention (delta.logRetentionDuration twin, commit-count
    sized like :func:`vacuum`): delete JSON commits — and superseded
    checkpoints + their orphaned sidecars — that the newest checkpoint
    makes redundant, always retaining the last ``keep_versions``
    commits. Replay correctness is the invariant: state at any retained
    point reconstructs from the newest kept checkpoint plus the JSON
    suffix after it; time travel BELOW the cut stops working (delta-
    spark's documented trade), and the delta_stream source fails loudly
    if asked to start inside the removed range
    (streaming/delta_source._require_full_range). No checkpoint ->
    nothing is removable. Returns the deleted log-relative names."""
    fs = fsio.get_fs(path)
    vs = _list_versions(path, fs)
    if not vs:
        return []
    info = _last_checkpoint_info(path, fs)
    cp_v = (info or {}).get("version")
    if cp_v is None:
        return []
    head = vs[-1]
    # deletable JSON: covered by the checkpoint AND older than the
    # retained window
    cut = min(int(cp_v), head - keep_versions)
    log = fsio.join(path, _LOG_DIR)
    deleted: list[str] = []
    retained_tops: list[str] = []
    names = list(fs.listdir(log))
    for name in names:
        if (name.endswith(".json") or name.endswith(".crc")) \
                and name[:20].isdigit() and ".checkpoint." not in name:
            if int(name[:20]) <= cut:
                fs.delete(fsio.join(log, name))
                deleted.append(name)
        elif ".checkpoint." in name:
            v = int(name[:20])
            if v < int(cp_v):  # superseded checkpoint (any layout)
                fs.delete(fsio.join(log, name))
                deleted.append(name)
            elif name.endswith(".json"):
                retained_tops.append(name)
    # sidecars referenced by RETAINED v2 checkpoint tops stay; the rest
    # belonged to checkpoints deleted above
    side_dir = fsio.join(log, "_sidecars")
    if fs.exists(side_dir):
        keep_sc = set()
        for top in retained_tops:
            for ln in fs.read_bytes(
                    fsio.join(log, top)).decode().splitlines():
                if not ln.strip():
                    continue
                sc = json.loads(ln).get("sidecar")
                if sc:
                    keep_sc.add(sc["path"].rsplit("/", 1)[-1])
        for name in fs.listdir(side_dir):
            if name.endswith(".parquet") and name not in keep_sc:
                fs.delete(fsio.join(side_dir, name))
                deleted.append(f"_sidecars/{name}")
    return deleted


def vacuum(path: str, keep_versions: int = 1,
           retention_hours: float | None = None) -> list[str]:
    """Delete data files — and deletion-vector .bin files (r8: DV
    production superseded-vector cleanup) plus expired change-data
    files — no longer referenced by the retained versions (delta
    VACUUM, commit-count sized by default — EL-tool shaped).

    ``retention_hours`` switches to delta-spark's own retention
    semantics (``VACUUM t RETAIN n HOURS`` /
    ``delta.deletedFileRetentionDuration``): only files whose remove
    tombstone's ``deletionTimestamp`` — or, for never-tracked strays,
    the file's mtime — is older than ``now - retention_hours`` are
    reclaimed, regardless of commit count. Time travel to versions
    whose files aged out stops working, the documented trade. Younger
    tombstones keep their files so a concurrent reader of a recent
    snapshot never loses a file mid-scan — the reason the knob exists.

    vacuumProtocolCheck (PROTOCOL.md): vacuum consults the table
    protocol before deleting anything — a protocol listing features
    this implementation doesn't understand refuses, because an unknown
    feature may change which files are referenced (exactly the failure
    the feature exists to gate)."""
    from . import delta_dv

    meta_p, _, protocol = _replay_state(path)
    if meta_p is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    unknown = (set((protocol or {}).get("writerFeatures") or ())
               - SUPPORTED_WRITER_FEATURES) \
        | (set((protocol or {}).get("readerFeatures") or ())
           - SUPPORTED_READER_FEATURES)
    if unknown:
        raise UnsupportedTableFeature(
            f"vacuum on {path} refused: protocol lists features "
            f"{sorted(unknown)} this implementation does not "
            "understand — they may change which files are referenced")
    fs = fsio.get_fs(path)
    vs = _list_versions(path, fs)
    if retention_hours is not None:
        # delta-spark retention semantics: reference only the CURRENT
        # snapshot; age-gate everything else on its tombstone
        keep_after = vs[-1] if vs else 0
        cutoff_ms = int((time.time() - retention_hours * 3600) * 1000)
        tomb: dict[str, int] = {}
        for text in _log_texts(path, fs, -1, None):
            for line in text.splitlines():
                if '"remove"' not in line:
                    continue
                r = json.loads(line).get("remove")
                if r and r.get("path"):
                    ts = int(r.get("deletionTimestamp") or 0)
                    tomb[r["path"]] = max(tomb.get(r["path"], 0), ts)
    else:
        keep_after = vs[-keep_versions] if len(vs) >= keep_versions else 0
    referenced: set[str] = set()
    ref_dv: set[str] = set()

    def note(files: dict) -> None:
        referenced.update(files)
        for a in files.values():
            desc = a.get("deletionVector")
            if desc and desc.get("storageType") in ("u", "p"):
                p = delta_dv.dv_absolute_path(path, desc)
                base = path.rstrip("/") + "/"
                # prefix strip, not os.path.relpath — URI table paths
                # (scheme://...) would be normalized into mismatch
                ref_dv.add(p[len(base):] if p.startswith(base) else p)

    note(replay_log(path)[1])
    for v in vs:
        if v >= keep_after:
            note(replay_log(path, v)[1])
    # change-data files (CDF) belong to the COMMIT that wrote them:
    # keep those of retained versions so read_change_feed still serves
    # them; drop the rest with the history they describe
    ref_cdc: set[str] = set()
    for v in vs:
        if v < keep_after:
            continue
        try:
            lines = fs.read_bytes(_log_path(path, v)).decode().splitlines()
        except FileNotFoundError:
            continue
        for line in lines:
            if '"cdc"' not in line:
                continue
            a = json.loads(line)
            if "cdc" in a:
                ref_cdc.add(a["cdc"]["path"])
    def _aged_out(rel: str) -> bool:
        """retention_hours mode: reclaim only when the file's tombstone
        (or, for never-tracked strays, its mtime) predates the cutoff —
        a reader of a recent snapshot never loses a file mid-scan."""
        if retention_hours is None:
            return True
        ts = tomb.get(rel)
        if ts is None or ts <= 0:
            try:
                ts = fs.getmtime_ms(fsio.join(path, rel))
            except Exception:
                return False
        return ts <= cutoff_ms

    deleted = []
    for rel in _walk_data_files(fs, path):
        if rel not in referenced and _aged_out(rel):
            fs.delete(fsio.join(path, rel))
            deleted.append(rel)
    for rel in _walk_dv_files(fs, path):
        if rel not in ref_dv and _aged_out(rel):
            fs.delete(fsio.join(path, rel))
            deleted.append(rel)
    cdf_dir = fsio.join(path, "_change_data")
    if fs.exists(cdf_dir):
        for rel in _walk_data_files(fs, cdf_dir):
            full_rel = f"_change_data/{rel}"
            if full_rel not in ref_cdc and _aged_out(full_rel):
                fs.delete(fsio.join(path, full_rel))
                deleted.append(full_rel)
    return deleted


def _zorder_value(df: DataFrame, cols: list[str], bits: int = 10):
    """Z-order (Morton) curve value over ``cols`` — the multi-dim
    clustering key Delta's OPTIMIZE ZORDER BY sorts by, so each
    rewritten file's min/max stats become TIGHT in every listed
    dimension at once and stats-based skipping prunes on any of them.

    Scale shape: each column linearly buckets into 2**bits cells
    against its global min/max (ONE tiny scalar aggregate — no global
    window/ntile, which would serialize the table through one
    partition), then the bucket bits interleave via pure Catalyst
    shift/mask expressions. Linear (not quantile) bucketing trades
    skew-optimality for zero extra passes; heavily skewed dimensions
    still benefit, just with coarser cells where values crowd.
    Numeric, date, and timestamp columns are supported."""
    from functools import reduce

    def as_double(c: str):
        t = dict(df.dtypes)[c]
        col = F.col(f"`{c}`")
        if t == "date":
            return F.datediff(col, F.lit("1970-01-01")).cast("double")
        if t.startswith("timestamp"):
            return col.cast("double")
        if t in ("string", "boolean", "binary") or t.startswith(
                ("array", "map", "struct")):
            raise ValueError(
                f"zorder_by column {c!r} has type {t}; numeric/date/"
                "timestamp only")
        return col.cast("double")

    aggs = []
    for c in cols:
        d = as_double(c)
        aggs += [F.min(d).alias(f"__lo_{c}"), F.max(d).alias(f"__hi_{c}")]
    row = df.agg(*aggs).first()
    n = len(cols)
    terms = []
    for ci, c in enumerate(cols):
        lo = row[f"__lo_{c}"]
        hi = row[f"__hi_{c}"]
        if lo is None or hi is None or hi <= lo:
            continue  # constant/all-null dimension carries no bits
        cells = float(2 ** bits)
        b = F.floor((as_double(c) - F.lit(float(lo)))
                    / F.lit((hi - lo) / cells + 1e-12)).cast("long")
        b = F.coalesce(
            F.least(F.greatest(b, F.lit(0)), F.lit(2 ** bits - 1)),
            F.lit(0))
        for i in range(bits):
            terms.append(F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + ci))
    if not terms:
        return F.lit(0).cast("long")
    return reduce(lambda a, x: a.bitwiseOR(x), terms)


_CLUSTERING_DOMAIN = "delta.clustering"


def clustering_columns(path: str) -> list[str]:
    """Clustering columns from the ``delta.clustering`` domain
    (PROTOCOL.md §Clustered Tables: the domain configuration holds
    ``clusteringColumns`` as column-name paths). This writer clusters
    only unmapped tables, where physical names equal logical ones."""
    cfg = _domain_metadata(path).get(_CLUSTERING_DOMAIN)
    if not cfg:
        return []
    try:
        cols = json.loads(cfg).get("clusteringColumns") or []
    except (ValueError, TypeError):
        return []
    return [".".join(p) if isinstance(p, list) else str(p) for p in cols]


def set_clustering(path: str, cols: list[str]) -> int:
    """ALTER TABLE ... CLUSTER BY (PROTOCOL.md §Clustered Tables):
    record the clustering columns in the ``delta.clustering`` domain
    and list the ``clustering`` + ``domainMetadata`` writer features.
    Clustering is LAZY, matching delta-spark's contract — writes land
    unclustered and the next :func:`optimize_delta` re-clusters along
    the recorded columns (no ``zorder_by`` needed). Returns the
    committed version."""
    meta, _, protocol = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if _column_mapping_mode(meta) != "none":
        raise UnsupportedTableFeature(
            f"delta table at {path}: clustering on column-mapped tables "
            "is not supported (the domain stores physical names)")
    have = {f["name"] for f in
            json.loads(meta["schemaString"])["fields"]}
    missing = [c for c in cols if c.split(".")[0] not in have]
    if missing:
        raise ValueError(f"clustering columns not in schema: {missing}")
    actions: list[dict] = []
    prot = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    wf = set(prot.get("writerFeatures") or ())
    if "clustering" not in wf or "domainMetadata" not in wf:
        if not prot.get("writerFeatures"):
            wf.add("appendOnly")  # v2-implied obligation, made explicit
        wf |= {"clustering", "domainMetadata"}
        rf = set(prot.get("readerFeatures") or ())
        actions.append({"protocol": {
            "minReaderVersion": prot.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            **({"readerFeatures": sorted(rf)} if rf else {}),
            "writerFeatures": sorted(wf)}})
    actions.append({"domainMetadata": {
        "domain": _CLUSTERING_DOMAIN,
        "configuration": json.dumps(
            {"clusteringColumns": [c.split(".") for c in cols]}),
        "removed": False}})
    v = latest_version(path) + 1
    _commit(path, v, actions)
    _update_crc(path, v, actions)
    return v


def _dv_fraction(add: dict) -> float:
    """Deleted fraction of a DV-bearing file: descriptor cardinality
    over the stats' physical numRecords (1.0 when stats are absent —
    without a row count the conservative purge choice is rewrite)."""
    desc = add.get("deletionVector")
    if not desc:
        return 0.0
    try:
        n = int(json.loads(add.get("stats") or "{}").get("numRecords"))
    except (TypeError, ValueError):
        return 1.0
    return (int(desc.get("cardinality") or 0) / n) if n else 1.0


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    purge_dvs: bool = False,
    dv_purge_ratio: float = 0.3,
    zorder_by: list[str] | None = None,
) -> dict:
    """Bin-pack small data files (delta-spark's OPTIMIZE): active files
    under ``target_file_bytes`` are rewritten as ~target-sized files and
    committed as remove+add with ``dataChange: false`` — readers see
    identical rows, time travel still works, and the CDC small-file
    pile-up (one commit per micro-batch) stops degrading scans.

    ``purge_dvs=True`` (the ``REORG TABLE ... APPLY (PURGE)``
    equivalent, completing the produce->respect->purge DV lifecycle)
    also rewrites any file whose deletion vector covers at least
    ``dv_purge_ratio`` of its physical rows, regardless of size — the
    rewrite materializes the live rows and drops the descriptor, so
    long-lived tables reclaim the scan cost DV-producing deletes defer.
    These files qualify alone (``min_files`` governs only small-file
    bin-packing).

    ``zorder_by=[cols...]`` (delta-spark's OPTIMIZE ZORDER BY)
    re-clusters EVERY active file along the Morton curve of the listed
    columns — rewritten files take range-disjoint z-value spans, so
    their per-file min/max stats become tight in all listed dimensions
    at once and :func:`prune_files_by_stats` skips on ANY of them
    (single-column sorts only help the leading column). The rewrite is
    ``dataChange: false`` (same visible rows, rearranged).

    Partitioned tables compact within each partition (files never merge
    across partition values). Returns {"compacted": n_in, "new_files":
    n_out, "version": v} ({"compacted": 0} when nothing qualifies).
    """
    wprot = check_writer_protocol(path, removes_files=True)
    meta, files = replay_log(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    part_cols = meta.get("partitionColumns") or []
    clustered = clustering_columns(path)
    if zorder_by is None and clustered:
        # clustered table (PROTOCOL.md §Clustered Tables): clustering
        # is lazy — OPTIMIZE re-clusters along the recorded columns
        zorder_by = clustered

    # group candidates by partition tuple; only groups with >= min_files
    # small files are worth rewriting
    groups: dict[tuple, list[str]] = {}
    purge: list[str] = []
    for rel, add in files.items():
        if zorder_by:
            purge.append(rel)  # re-clustering rewrites every file
        elif purge_dvs and _dv_fraction(add) >= dv_purge_ratio:
            purge.append(rel)
        elif add.get("size", 0) < target_file_bytes:
            key = tuple(sorted((add.get("partitionValues") or {}).items()))
            groups.setdefault(key, []).append(rel)
    todo = {k: v for k, v in groups.items() if len(v) >= min_files}
    if not todo and not purge:
        return {"compacted": 0, "new_files": 0,
                "version": latest_version(path)}

    compacted: list[str] = \
        [rel for rels in todo.values() for rel in rels] + purge
    # DV-applied: compaction materializes the LOGICAL rows (dropping the
    # descriptor with the rewrite); dataChange stays false because the
    # visible row set is identical
    rid_col, rcv_col = _rt_cols(meta)
    if row_tracking_enabled(meta) and rid_col:
        # pure rearrangement: EVERY row keeps its id and commit version
        # — materialize both straight into the rewrite's columns, no
        # pk join needed
        rows = _scan_with_row_ids(
            spark, path, meta, files, compacted, rid_col,
            rcv_col or "__rt_rcv_drop")
        if not rcv_col:
            rows = rows.drop("__rt_rcv_drop")
    else:
        rows = _read_files_mor(spark, path, meta, files, compacted)
    total = sum(files[p].get("size", 0) for p in compacted)
    n_out = max(1, round(total / target_file_bytes))
    if zorder_by:
        # range-partition by the Morton value so each output file owns
        # a disjoint z-span (tight multi-dim bounds), then sort within;
        # Hive partition columns lead the range so a partitioned
        # table's tasks stay partition-contiguous and the partitionBy
        # write doesn't re-fragment them
        rows = rows.withColumn("__z", _zorder_value(rows, zorder_by)) \
            .repartitionByRange(n_out, *part_cols, "__z") \
            .sortWithinPartitions(*part_cols, "__z").drop("__z")
    # partitioned tables repartition BY the partition columns: a plain
    # round-robin would spread every partition's rows across all n_out
    # tasks and partitionBy would then write n_out files per partition —
    # MORE, smaller files than were compacted. Hash co-locates each
    # partition in one task (one output file per partition from it).
    elif part_cols:
        rows = rows.repartition(n_out, *part_cols)
    else:
        rows = rows.repartition(n_out)
    adds = _stage_data_files(
        rows, path, meta, part_cols or None, data_change=False)
    if clustered and zorder_by == clustered:
        for a in adds:  # spec: clustered rewrites tag their provider
            a["add"]["clusteringProvider"] = "liquid"
    now = int(time.time() * 1000)
    removes = [_remove_action(p, files[p], now, data_change=False)
               for p in sorted(compacted)]
    version = latest_version(path) + 1
    rt_actions = _assign_fresh_row_ids(path, adds, version, protocol=wprot)
    version = _commit_with_retry(
        path, version, rt_actions + removes + adds)
    return {"compacted": len(compacted), "new_files": len(adds),
            "version": version}


# ------------------------------------------------- change data feed (CDF)

def cdf_enabled(meta: dict | None) -> bool:
    return str(((meta or {}).get("configuration") or {})
               .get("delta.enableChangeDataFeed", "")).lower() == "true"


def set_table_properties(path: str, props: dict[str, str]) -> int:
    """Commit an updated ``metaData.configuration`` (how
    ``delta.enableChangeDataFeed`` switches on). Enabling CDF also
    upgrades the protocol to list the ``changeDataFeed`` writer
    feature when the current protocol does not already authorize it
    (PROTOCOL.md: the property requires writer version 4+ or the
    feature) — existing reader/writer features carry forward, plus the
    legacy obligations the v7 upgrade makes explicit. Returns the
    version."""
    meta, files, protocol = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    new_meta = dict(meta)
    cfg0 = {**(meta.get("configuration") or {}),
            **{k: str(v) for k, v in props.items() if v is not None}}
    for k, v in props.items():  # None unsets (ALTER ... UNSET twin)
        if v is None:
            cfg0.pop(k, None)
    new_meta["configuration"] = cfg0
    actions: list[dict] = []
    enabling_cdf = str(props.get(
        "delta.enableChangeDataFeed", "")).lower() == "true"
    enabling_check = any(k.startswith("delta.constraints.")
                         for k in props)
    enabling_rt = str(props.get(
        "delta.enableRowTracking", "")).lower() == "true" \
        and not row_tracking_enabled(meta)
    enabling_ict = str(props.get(
        "delta.enableInCommitTimestamps", "")).lower() == "true"
    if enabling_rt:
        # PROTOCOL.md §Row Tracking: the enabling writer records the
        # materialized column names rewrites thread row ids through
        cfg = new_meta["configuration"]
        cfg.setdefault(_RID_CONF, f"_row-id-col-{uuid.uuid4().hex[:8]}")
        cfg.setdefault(
            _RCV_CONF, f"_row-commit-version-col-{uuid.uuid4().hex[:8]}")
    prot = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    mwv = prot.get("minWriterVersion", 2)
    wf = set(prot.get("writerFeatures") or ())
    needs_upgrade = (enabling_cdf and mwv < 4
                     and "changeDataFeed" not in wf) or \
        (enabling_check and mwv < 3 and "checkConstraints" not in wf) or \
        (enabling_rt and "rowTracking" not in wf) or \
        (enabling_ict and "inCommitTimestamp" not in wf)
    if needs_upgrade:
        rf = set(prot.get("readerFeatures") or ())
        wf.add("appendOnly")  # v2-implied
        if enabling_cdf:
            wf.add("changeDataFeed")
        if enabling_check or any(
                k.startswith("delta.constraints.")
                for k in new_meta["configuration"]):
            wf.add("checkConstraints")  # PROTOCOL.md: writer v3+
        # legacy VERSION NUMBERS imply features; a protocol already
        # carrying an explicit feature list says exactly what it has —
        # re-deriving from the version would bolt columnMapping onto
        # e.g. a v7+timestampNtz table that never mapped a column
        if _column_mapping_mode(meta) != "none" \
                or (not prot.get("writerFeatures") and mwv >= 5):
            wf.add("columnMapping")
            rf.add("columnMapping")
        if any(a.get("deletionVector") for a in files.values()):
            wf.add("deletionVectors")
            rf.add("deletionVectors")
        if _schema_has_invariants(meta):
            wf.add("invariants")  # enforced on write (r8 guard)
        if enabling_rt:  # rowTracking's watermark lives in a domain
            wf |= {"rowTracking", "domainMetadata"}
        if enabling_ict:
            wf.add("inCommitTimestamp")
        actions.append({"protocol": {
            "minReaderVersion": max(prot.get("minReaderVersion", 1),
                                    3 if rf else 1),
            "minWriterVersion": 7,
            **({"readerFeatures": sorted(rf)} if rf else {}),
            "writerFeatures": sorted(wf)}})
    actions.append({"metaData": new_meta})
    v = latest_version(path) + 1
    if enabling_ict:
        # enablement provenance (PROTOCOL.md §In-Commit Timestamps):
        # readers use it to bound timestamp travel across the
        # wall-clock/ICT boundary. new_meta is the object the metaData
        # action above holds — mutating it before commit is the point.
        ict = max(int(time.time() * 1000),
                  (_prev_ict(path, fsio.get_fs(path), v) or 0) + 1)
        new_meta["configuration"][
            "delta.inCommitTimestampEnablementVersion"] = str(v)
        new_meta["configuration"][
            "delta.inCommitTimestampEnablementTimestamp"] = str(ict)
        actions.insert(0, {"commitInfo": {
            "timestamp": ict, "inCommitTimestamp": ict}})
    if enabling_rt:
        # backfill (delta-spark's ALTER TABLE enablement): re-add every
        # active file with a fresh baseRowId in the SAME commit —
        # metadata only, no data rewrite; re-adds replace on replay
        backfill = [{"add": {**files[rel], "dataChange": False}}
                    for rel in sorted(files)
                    if files[rel].get("baseRowId") is None]
        actions += backfill
        actions += _assign_fresh_row_ids(
            path, backfill, v, protocol={"writerFeatures": ["rowTracking"]})
    _commit(path, v, actions)
    _update_crc(path, v, actions)
    _maybe_auto_checkpoint(path, v, actions)
    return v


# ------------------------------------------- column mapping DDL + writes

def _logical_physical_names(meta: dict | None) -> dict[str, str]:
    """Top-level {logical name: physical name} for a mapped table
    (identity map entries when no mapping metadata is present)."""
    if meta is None:
        return {}
    fields = json.loads(meta["schemaString"])["fields"]
    return {f["name"]: (f.get("metadata") or {}).get(
        "delta.columnMapping.physicalName", f["name"]) for f in fields}


def _to_physical(df: DataFrame, meta: dict | None) -> DataFrame:
    """Logical-named batch -> the physical column names a
    column-mapped table's data files must store (PROTOCOL.md Column
    Mapping Writer Requirements). Nested struct fields rename via the
    positional struct cast (same trick the read path inverts). Columns
    NOT in the table schema pass through unchanged — writer internals
    like the materialized row-id columns already carry their physical
    names."""
    from pyspark.sql import types as T

    if _column_mapping_mode(meta) == "none":
        return df
    schema_json = json.loads(meta["schemaString"])
    logical = T.StructType.fromJson(schema_json)
    phys = T.StructType.fromJson({
        "type": "struct",
        "fields": _physical_fields(schema_json["fields"])})
    by_name = {lf.name: pf for lf, pf in zip(logical.fields, phys.fields)}
    sel = []
    for c in df.columns:
        pf = by_name.get(c)
        if pf is None:
            sel.append(F.col(f"`{c}`"))
        else:
            sel.append(F.col(f"`{c}`").cast(pf.dataType)
                       .alias(pf.name, metadata={}))
    return df.select(*sel)


def _assign_mapping_fields(fields: list[dict], counter: list) -> list[dict]:
    """Recursively assign ``delta.columnMapping.id`` (next from
    ``counter``) and ``physicalName`` (existing columns KEEP their
    current name — on-disk files stay readable, delta-spark's upgrade
    semantics) to every field, including nested struct fields."""

    def walk_type(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {**t,
                        "fields": _assign_mapping_fields(
                            t["fields"], counter)}
            if t.get("type") == "array":
                return {**t, "elementType": walk_type(t["elementType"])}
            if t.get("type") == "map":
                return {**t, "keyType": walk_type(t["keyType"]),
                        "valueType": walk_type(t["valueType"])}
        return t

    out = []
    for f in fields:
        nf = dict(f)
        md = dict(nf.get("metadata") or {})
        if "delta.columnMapping.id" not in md:
            counter[0] += 1
            md["delta.columnMapping.id"] = counter[0]
        md.setdefault("delta.columnMapping.physicalName", nf["name"])
        nf["metadata"] = md
        nf["type"] = walk_type(nf.get("type"))
        out.append(nf)
    return out


def enable_column_mapping(path: str) -> int:
    """ALTER TABLE ... SET ('delta.columnMapping.mode' = 'name') twin
    (PROTOCOL.md §Column Mapping): every field — nested included —
    takes a ``columnMapping.id`` and a ``physicalName`` equal to its
    CURRENT name, so every existing file keeps reading unchanged; the
    protocol upgrades to reader-v3/writer-v7 with the columnMapping
    feature on both lists. From here RENAME/DROP COLUMN are
    metadata-only commits and new writes stage physical names.
    Idempotent. Returns the committed version."""
    meta, files, protocol = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if _column_mapping_mode(meta) != "none":
        return latest_version(path)
    check_writer_protocol(path)
    if _identity_fields(meta):
        raise UnsupportedTableFeature(
            f"delta table at {path} declares identity columns; their "
            "watermark bookkeeping reads staged stats by logical name "
            "— enabling column mapping here is not supported")
    conf = meta.get("configuration") or {}
    counter = [int(conf.get("delta.columnMapping.maxColumnId") or 0)]
    schema_json = json.loads(meta["schemaString"])
    schema_json["fields"] = _assign_mapping_fields(
        schema_json["fields"], counter)
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    new_meta["configuration"] = {
        **conf, "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": str(counter[0])}
    prot = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    rf = set(prot.get("readerFeatures") or ())
    wf = set(prot.get("writerFeatures") or ())
    if not wf:  # legacy version numbers -> explicit feature form
        wf.add("appendOnly")
        if _schema_has_invariants(meta):
            wf.add("invariants")
    if any(a.get("deletionVector") for a in files.values()):
        wf.add("deletionVectors")
        rf.add("deletionVectors")
    wf.add("columnMapping")
    rf.add("columnMapping")
    actions = [{"protocol": {
        "minReaderVersion": max(int(prot.get("minReaderVersion") or 1), 3),
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf)}},
        {"metaData": new_meta}]
    v = latest_version(path) + 1
    _commit(path, v, actions)
    _update_crc(path, v, actions)
    return v


def _refuse_column_referenced(meta: dict, name: str, verb: str) -> None:
    """A column referenced by CHECK constraints, invariants, or
    generated-column expressions cannot be renamed/dropped — the
    stored expression would dangle (delta-spark refuses the same)."""
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(name)}\b")
    conf = meta.get("configuration") or {}
    for k, expr in conf.items():
        if k.startswith("delta.constraints.") and pat.search(expr or ""):
            raise UnsupportedTableFeature(
                f"cannot {verb} column {name!r}: referenced by "
                f"constraint {k.removeprefix('delta.constraints.')!r}")
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        for key in ("delta.generationExpression", "delta.invariants"):
            if pat.search(md.get(key) or "") and f["name"] != name:
                raise UnsupportedTableFeature(
                    f"cannot {verb} column {name!r}: referenced by "
                    f"{key} on {f['name']!r}")


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — a metadata-only commit on a
    column-mapped table: the LOGICAL name changes, the field keeps its
    id and physicalName, so no data file is touched and old files keep
    serving the column (PROTOCOL.md Column Mapping — the whole point
    of the feature). Top-level columns; partitionColumns entries
    follow the rename."""
    meta, _, _ = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if _column_mapping_mode(meta) == "none":
        raise UnsupportedTableFeature(
            f"delta table at {path}: RENAME COLUMN needs column "
            "mapping — call enable_column_mapping first")
    check_writer_protocol(path)
    schema_json = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema_json["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    _refuse_column_referenced(meta, old, "rename")
    schema_json["fields"] = [
        {**f, "name": new} if f["name"] == old else f
        for f in schema_json["fields"]]
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    new_meta["partitionColumns"] = [
        new if c == old else c
        for c in (meta.get("partitionColumns") or [])]
    v = latest_version(path) + 1
    _commit(path, v, [{"metaData": new_meta}])
    _update_crc(path, v, [{"metaData": new_meta}])
    return v


def drop_column(path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only on a column-mapped
    table: the field leaves the schema, its physical data stays in the
    files (unreadable until a rewrite drops it physically); reads
    simply stop projecting it. Partition columns refuse."""
    meta, _, _ = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if _column_mapping_mode(meta) == "none":
        raise UnsupportedTableFeature(
            f"delta table at {path}: DROP COLUMN needs column "
            "mapping — call enable_column_mapping first")
    check_writer_protocol(path)
    if name in (meta.get("partitionColumns") or []):
        raise UnsupportedTableFeature(
            f"cannot drop partition column {name!r}")
    schema_json = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema_json["fields"]]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    _refuse_column_referenced(meta, name, "drop")
    schema_json["fields"] = [
        f for f in schema_json["fields"] if f["name"] != name]
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    v = latest_version(path) + 1
    _commit(path, v, [{"metaData": new_meta}])
    _update_crc(path, v, [{"metaData": new_meta}])
    return v


def add_column(path: str, name: str, ddl_type: str) -> int:
    """ALTER TABLE ... ADD COLUMN on a column-mapped table: the new
    nullable field takes a FRESH columnMapping id and a
    ``col-<uuid>`` physical name (never reuses a dropped column's
    physical slot — old files must not resurrect stale bytes into the
    new column). On unmapped tables schema evolution via write/merge
    already covers widening."""
    from pyspark.sql import types as T

    meta, _, _ = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if _column_mapping_mode(meta) == "none":
        raise UnsupportedTableFeature(
            f"delta table at {path}: explicit ADD COLUMN targets "
            "mapped tables; unmapped tables evolve on write")
    check_writer_protocol(path)
    schema_json = json.loads(meta["schemaString"])
    if name in [f["name"] for f in schema_json["fields"]]:
        raise ValueError(f"column {name!r} already exists")
    conf = meta.get("configuration") or {}
    next_id = int(conf.get("delta.columnMapping.maxColumnId") or 0) + 1
    s = ddl_type.strip().lower()
    atomic = {"string", "long", "integer", "short", "byte", "double",
              "float", "boolean", "binary", "date", "timestamp",
              "timestamp_ntz"}
    alias = {"bigint": "long", "int": "integer", "smallint": "short",
             "tinyint": "byte", "bool": "boolean", "varchar": "string",
             "text": "string"}
    s = alias.get(s, s)
    if s in atomic or re.fullmatch(r"decimal\(\d+,\s*\d+\)", s):
        type_json = s.replace(" ", "")
    else:  # complex types: Spark's DDL parser (needs a session)
        type_json = json.loads(T.DataType.fromDDL(ddl_type).json())
    schema_json["fields"].append({
        "name": name, "type": type_json, "nullable": True,
        "metadata": {
            "delta.columnMapping.id": next_id,
            "delta.columnMapping.physicalName":
                f"col-{uuid.uuid4().hex[:12]}"}})
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema_json)
    new_meta["configuration"] = {
        **conf, "delta.columnMapping.maxColumnId": str(next_id)}
    v = latest_version(path) + 1
    _commit(path, v, [{"metaData": new_meta}])
    _update_crc(path, v, [{"metaData": new_meta}])
    return v


def convert_to_delta(
    spark: SparkSession, path: str,
    partition_by: list[str] | None = None,
) -> int:
    """CONVERT TO DELTA (delta-spark's in-place adoption): an existing
    parquet directory becomes a Delta table — commit 0 references the
    files ALREADY THERE (zero rewrite, zero copy); Hive partition dirs
    map to ``add.partitionValues`` and the partition columns join the
    table schema typed from dir inference (``partition_by`` overrides
    the inferred order when given).

    Per-file numRecords + value bounds ride each add from ONE Spark
    aggregate over the directory (the same job shape as
    :func:`_add_stats_json`), so data skipping works from version 0 —
    converting a 100 TB directory costs one metadata pass, not a
    rewrite. Refuses directories that are already Delta or Iceberg
    tables."""
    from sling_cli_spark.sources.iceberg_py import is_iceberg_table

    fs = fsio.get_fs(path)
    if fs.exists(fsio.join(path, _LOG_DIR)):
        raise ValueError(f"{path} is already a delta table")
    if is_iceberg_table(path):
        raise ValueError(
            f"{path} is an iceberg table — use sync_delta for a "
            "shared-copy delta log")
    rels = _walk_data_files(fs, path)
    if not rels:
        raise FileNotFoundError(f"no parquet files under {path}")
    inferred = sorted({k for rel in rels
                       for k in _partition_values(
                           os.path.dirname(rel))})
    part_cols = partition_by if partition_by is not None else inferred
    if set(part_cols) != set(inferred):
        raise ValueError(
            f"partition_by {part_cols} != the directory layout's "
            f"partition keys {inferred}")
    reader = spark.read.option("basePath", path) if part_cols \
        else spark.read
    df = reader.parquet(path)
    stats = _add_stats_json(df.drop(*part_cols) if part_cols else df,
                            path)
    now = int(time.time() * 1000)
    actions = _first_commit_actions(df, part_cols or None)
    for rel in sorted(rels):
        pv = _partition_values(os.path.dirname(rel))
        actions.append({"add": {
            "path": rel,
            "partitionValues": {c: pv.get(c) for c in part_cols},
            "size": fs.getsize(fsio.join(path, rel)),
            "modificationTime": now, "dataChange": True,
            "stats": stats.get(canon_path(fsio.join(path, rel))),
        }})
    _commit(path, 0, actions)
    _update_crc(path, 0, actions)
    return 0


def clone_delta(src: str, dst: str) -> int:
    """SHALLOW CLONE (delta-spark's CREATE TABLE ... SHALLOW CLONE):
    a new table whose commit 0 references the source's CURRENT data
    files by ABSOLUTE path — metadata only, zero data copied
    (PROTOCOL.md: ``add.path`` may be absolute). DV descriptors
    convert to absolute ``p`` storage so they keep resolving from the
    clone. The clone evolves independently afterwards: appends land
    inside the clone dir, rewrites (merge/delete/optimize) materialize
    only the touched files' rows into it (the absolute->add-key maps
    route every path op), and vacuum walks only the clone dir so
    source data is never reclaimed from here. Partitioned sources
    work too: foreign adds cannot share the clone's ``basePath``, so
    every read path attaches their partition values from the
    authoritative ``add.partitionValues``
    (:func:`_scan_log_partitioned`); rewrites on such clones stay CoW
    (DV production needs the pinned-basePath position scan)."""
    from . import delta_dv

    meta, files, protocol = _replay_state(src)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {src}")
    _check_reader_protocol(src, protocol)
    if latest_version(dst) >= 0:
        raise FileExistsError(f"delta table already exists at {dst}")
    new_meta = dict(meta)
    new_meta["id"] = str(uuid.uuid4())
    new_meta["createdTime"] = int(time.time() * 1000)
    actions: list[dict] = []
    if protocol:
        actions.append({"protocol": protocol})
    actions.append({"metaData": new_meta})
    for d, c in sorted(_domain_metadata(src).items()):
        # the rowTracking watermark (and any other domain) carries so
        # fresh ids in the clone keep extending the source's space
        actions.append({"domainMetadata": {
            "domain": d, "configuration": c, "removed": False}})
    now = int(time.time() * 1000)
    for rel in sorted(files):
        add = dict(files[rel])
        add["path"] = _abs_of_add(src, rel)
        add["modificationTime"] = now
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            add["deletionVector"] = {
                **dv, "storageType": "p",
                "pathOrInlineDv": delta_dv.dv_absolute_path(
                    _table_base(src), dv)}
        actions.append({"add": add})
    _commit(dst, 0, actions)
    _update_crc(dst, 0, actions)
    return 0


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL twin: one row of table-level facts from the
    replayed state (metadata-sized — the log IS the control plane)."""
    meta, files, protocol = _replay_state(path)
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    prot = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    n_dv = sum(1 for a in files.values() if a.get("deletionVector"))
    row = (
        "delta", meta.get("id"), os.path.abspath(path)
        if not urlparse(path).scheme else path,
        int(meta.get("createdTime") or 0),
        latest_version(path),
        list(meta.get("partitionColumns") or []),
        sorted(clustering_columns(path)),
        len(files),
        sum(int(a.get("size") or 0) for a in files.values()),
        n_dv,
        json.dumps(meta.get("configuration") or {}, sort_keys=True),
        int(prot.get("minReaderVersion") or 1),
        int(prot.get("minWriterVersion") or 2),
        sorted(prot.get("readerFeatures") or []),
        sorted(prot.get("writerFeatures") or []),
    )
    return local_df(spark, [row], (
        "format string, id string, location string, created_time long, "
        "version long, partition_columns array<string>, "
        "clustering_columns array<string>, num_files long, "
        "size_in_bytes long, num_files_with_dvs long, properties string, "
        "min_reader_version int, min_writer_version int, "
        "reader_features array<string>, writer_features array<string>"))


def restore_delta(
    path: str, version: int | None = None,
    as_of_timestamp_ms: int | None = None,
) -> dict:
    """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF (delta-spark's
    RESTORE): commit the add/remove delta that makes the CURRENT state
    equal the target version's — metadata-only when the files still
    exist; time travel keeps working because history is append-only.
    Re-added files must still be on disk (vacuum may have reclaimed
    them — refuse loudly, delta-spark's missing-file semantics), and a
    re-add restores the target's deletion vector and stats verbatim.
    Returns {"restored_version", "re_added", "removed", "version"}."""
    if version is None:
        if as_of_timestamp_ms is None:
            raise ValueError("restore needs version or timestamp")
        version = version_at_timestamp(path, as_of_timestamp_ms)
        if version is None:
            raise ValueError(
                f"no commit at or before {as_of_timestamp_ms}")
    check_writer_protocol(path, removes_files=True)
    tgt_meta, tgt_files = replay_log(path, version)
    cur_meta, cur_files = replay_log(path)
    if tgt_meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    fs = fsio.get_fs(path)

    def _dv_key(a: dict):
        dv = a.get("deletionVector")
        return (dv or {}).get("pathOrInlineDv")

    now = int(time.time() * 1000)
    actions: list[dict] = []
    if json.dumps(tgt_meta, sort_keys=True) != \
            json.dumps(cur_meta, sort_keys=True):
        actions.append({"metaData": tgt_meta})
    removes = [rel for rel in cur_files if rel not in tgt_files]
    re_adds = [rel for rel, a in tgt_files.items()
               if rel not in cur_files
               or _dv_key(cur_files[rel]) != _dv_key(a)]
    missing = [rel for rel in re_adds
               if not fs.exists(_add_uri(path, rel))]
    if missing:
        raise FileNotFoundError(
            f"restore to v{version} needs vacuumed files: "
            f"{missing[:3]}...")
    actions += [_remove_action(rel, cur_files[rel], now)
                for rel in sorted(removes)]
    # a file whose DV changed gets remove+add (foreign readers
    # reconcile (path, dvId) pairs); a fresh re-add replaces on replay
    actions += [_remove_action(rel, cur_files[rel], now)
                for rel in sorted(re_adds) if rel in cur_files]
    actions += [{"add": {**tgt_files[rel], "modificationTime": now,
                         "dataChange": True}}
                for rel in sorted(re_adds)]
    new_v = _commit_with_retry(path, latest_version(path) + 1, actions)
    return {"restored_version": version, "re_added": len(re_adds),
            "removed": len(removes), "version": new_v}


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY twin: one row per commit — version, timestamp
    (commitInfo when present, else the inCommitTimestamp/file order),
    operation (commitInfo's, else inferred from the action mix), and
    action counts. Metadata-sized (the log is the table's control
    plane), so the rows build driver-side like the add-list replay
    every operation already performs."""
    fs = fsio.get_fs(path)
    rows = []
    for v in _list_versions(path, fs):
        n_add = n_remove = n_cdc = 0
        has_meta = has_protocol = False
        info: dict = {}
        ts = None
        for line in fs.read_bytes(_log_path(path, v)).decode().splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                n_add += 1
            elif "remove" in a:
                n_remove += 1
            elif "cdc" in a:
                n_cdc += 1
            elif "metaData" in a:
                has_meta = True
            elif "protocol" in a:
                has_protocol = True
            elif "commitInfo" in a:
                info = a["commitInfo"] or {}
                ts = info.get("inCommitTimestamp") or info.get("timestamp")
        op = info.get("operation")
        if not op:
            if n_remove and n_add:
                op = "MERGE" if n_cdc else "REWRITE"
            elif n_add:
                op = "WRITE"
            elif n_remove:
                op = "DELETE"
            elif has_meta:
                op = "SET TBLPROPERTIES"
            elif has_protocol:
                op = "UPGRADE PROTOCOL"
            else:
                op = "COMMIT"
        if ts is None:
            ts = commit_timestamp_ms(path, v)
        rows.append((v, int(ts), op, n_add, n_remove, n_cdc))
    return local_df(spark, 
        rows, "version long, timestamp_ms long, operation string, "
              "n_added long, n_removed long, n_change_files long")


def _schema_has_invariants(meta: dict) -> bool:
    try:
        fields = json.loads(meta["schemaString"]).get("fields") or []
    except Exception:
        return False
    return any("delta.invariants" in (f.get("metadata") or {})
               for f in fields)


class InvariantViolation(RuntimeError):
    """A batch row violated a ``delta.invariants`` expression — the
    write failed before commit (PROTOCOL.md §Column Invariants)."""


def _invariant_exprs(meta: dict | None) -> list[tuple[str, str]]:
    """(column, SQL expression) pairs from field metadata
    ``delta.invariants`` — the writer-v2 constraint form
    ``{"expression": {"expression": "<sql>"}}`` (PROTOCOL.md §Column
    Invariants). An unparseable declaration refuses loudly: writing
    rows a foreign engine would have validated breaks the contract."""
    try:
        fields = json.loads(
            (meta or {}).get("schemaString") or "{}").get("fields") or []
    except Exception:
        return []
    out: list[tuple[str, str]] = []
    for f in fields:
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except Exception as ex:
            raise UnsupportedTableFeature(
                f"unparseable delta.invariants on column "
                f"{f.get('name')!r}: {inv!r} ({ex})")
        out.append((f["name"], expr))
    return out


def _generation_exprs(meta: dict | None) -> list[tuple[str, str, str]]:
    """(column, SQL expression, spark type) triples from field metadata
    ``delta.generationExpression`` (PROTOCOL.md Generated Columns)."""
    try:
        fields = json.loads(
            (meta or {}).get("schemaString") or "{}").get("fields") or []
    except Exception:
        return []
    return [(f["name"], (f.get("metadata") or {})
             ["delta.generationExpression"],
             json.dumps(f.get("type")))
            for f in fields
            if "delta.generationExpression" in (f.get("metadata") or {})]


def _with_generated_columns(df: DataFrame, meta: dict | None) -> DataFrame:
    """Honor generated columns on write (PROTOCOL.md Generated Columns
    Writer Requirements): a batch MISSING a generated column gets it
    computed from its ``delta.generationExpression``; a batch that
    PROVIDES one is validated row-by-row — a stored value differing
    from the expression result fails the write (null-safe comparison),
    because foreign readers treat the stored value as derived truth.
    Same inline raise_error shape as the invariant guard: the check
    rides the write pass, nothing extra to prune away."""
    from pyspark.sql import types as T

    gens = _generation_exprs(meta)
    if not gens:
        return df
    out = df
    for name, expr, type_json in gens:
        gen = F.expr(expr)
        if name not in out.columns:
            t = T._parse_datatype_json_string(type_json)
            out = out.withColumn(name, gen.cast(t))
            continue
        ctype = dict(out.dtypes)[name]
        out = out.withColumn(name, F.when(
            ~F.col(f"`{name}`").eqNullSafe(gen.cast(ctype)),
            F.raise_error(F.concat(
                F.lit(f"delta generated column {name} mismatch: "
                      f"stored value != ({expr}) for row "),
                F.to_json(F.struct(*[F.col(f"`{x}`")
                                     for x in df.columns]))))
            .cast(ctype)).otherwise(F.col(f"`{name}`")))
    return out


def _identity_fields(meta: dict | None) -> list[dict]:
    """Identity-column declarations from field metadata (PROTOCOL.md
    §Identity Columns): delta.identity.{start,step,highWaterMark,
    allowExplicitInsert}."""
    try:
        fields = json.loads(
            (meta or {}).get("schemaString") or "{}").get("fields") or []
    except Exception:
        return []
    out = []
    for f in fields:
        md = f.get("metadata") or {}
        if "delta.identity.start" not in md \
                and "delta.identity.step" not in md:
            continue
        step = int(md.get("delta.identity.step", 1))
        if step == 0:
            raise UnsupportedTableFeature(
                f"identity column {f['name']!r} declares step 0")
        out.append({
            "name": f["name"],
            "start": int(md.get("delta.identity.start", 1)),
            "step": step,
            "hwm": md.get("delta.identity.highWaterMark"),
            "allow_explicit": bool(
                md.get("delta.identity.allowExplicitInsert", False)),
        })
    return out


def _with_column_defaults(df: DataFrame, meta: dict | None) -> DataFrame:
    """Honor column DEFAULT values on write (PROTOCOL.md §Default
    Columns, writer feature "allowColumnDefaults"): a batch MISSING a
    column whose field metadata carries ``CURRENT_DEFAULT`` gets the
    default expression computed for every row — the write-time
    semantics of INSERT omitting the column. A batch PROVIDING the
    column keeps its values verbatim (defaults never validate, unlike
    generated columns), including explicit nulls."""
    from pyspark.sql import types as T

    try:
        fields = json.loads(
            (meta or {}).get("schemaString") or "{}").get("fields") or []
    except Exception:
        return df
    out = df
    for f in fields:
        dflt = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        if dflt is None or f["name"] in out.columns:
            continue
        t = T._parse_datatype_json_string(json.dumps(f.get("type")))
        out = out.withColumn(f["name"], F.expr(str(dflt)).cast(t))
    return out


def _with_identity_columns(df: DataFrame, meta: dict | None) -> DataFrame:
    """Honor identity columns on write (PROTOCOL.md §Identity Columns
    Writer Requirements): a batch missing the column gets fresh values
    ``hwm + step * (1 + monotonically_increasing_id())`` — per-task
    disjoint ranges, exactly delta-spark's reservation shape: unique,
    beyond the high watermark in the step direction, and aligned to
    start + k*step since the watermark itself is; gaps are legal. A
    batch PROVIDING the column refuses unless the declaration sets
    allowExplicitInsert. The new high watermark is derived from the
    staged files' stats by :func:`_identity_hwm_action` and committed
    in the same version. Concurrent identity writers race the
    watermark exactly as delta-spark's optimistic writers do — the
    commit-version CAS makes one retry."""
    ids = _identity_fields(meta)
    if not ids:
        return df
    for d in ids:
        if d["name"] in df.columns:
            if not d["allow_explicit"]:
                raise UnsupportedTableFeature(
                    f"identity column {d['name']!r} does not allow "
                    "explicit inserts (delta.identity."
                    "allowExplicitInsert is false)")
            continue
        base = int(d["hwm"]) if d["hwm"] is not None \
            else d["start"] - d["step"]
        df = df.withColumn(
            d["name"],
            (F.lit(base)
             + F.lit(d["step"])
             * (F.lit(1) + F.monotonically_increasing_id()))
            .cast("long"))
    return df


def _identity_hwm_action(
    meta: dict | None, adds: list[dict], frame: DataFrame | None = None,
) -> list[dict]:
    """metaData action advancing each identity column's
    ``delta.identity.highWaterMark`` to the furthest value the staged
    adds' per-file stats record (max for positive step, min for
    negative) — no extra job, the watermark rides the stats the stage
    already computed. No stats or no movement -> no action.

    Stats are best-effort (capped at ``_STATS_MAX_COLS`` columns;
    degraded to nothing on failure) but the watermark is NOT optional —
    a stale watermark reissues the same identity values on the next
    append (PROTOCOL.md Identity Columns). So any identity column the
    staged stats DON'T cover is recomputed with one dedicated aggregate
    over ``frame`` (the exact rows that were staged); without a frame
    to fall back on, the write fails rather than silently skipping."""
    ids = _identity_fields(meta)
    if not ids or not adds:
        return []
    extremes: dict[str, int] = {}
    for a in adds:
        st = a.get("add", a).get("stats")
        if not st:
            continue
        try:
            s = json.loads(st)
        except Exception:
            continue
        for d in ids:
            key = "maxValues" if d["step"] > 0 else "minValues"
            v = (s.get(key) or {}).get(d["name"])
            if v is None:
                continue
            v = int(v)
            cur = extremes.get(d["name"])
            further = cur is None or (v > cur if d["step"] > 0 else v < cur)
            if further:
                extremes[d["name"]] = v
    missing = [d for d in ids if d["name"] not in extremes]
    if missing:
        from pyspark.sql import functions as F

        if frame is None or any(d["name"] not in frame.columns
                                for d in missing):
            raise ValueError(
                "delta identity: staged per-file stats do not cover "
                f"identity column(s) {[d['name'] for d in missing]} "
                "(stats cap or stats failure) and no staged frame is "
                "available to recompute the high-water mark — refusing "
                "to commit a stale watermark")
        row = frame.agg(*[
            (F.max if d["step"] > 0 else F.min)(
                F.col(f"`{d['name']}`")).alias(d["name"])
            for d in missing]).collect()[0]
        for d in missing:
            v = row[d["name"]]
            if v is not None:  # empty staged frame: nothing to advance
                extremes[d["name"]] = int(v)
    moved = False
    schema = json.loads(meta["schemaString"])
    for f in schema.get("fields") or []:
        name = f.get("name")
        if name not in extremes:
            continue
        md = f.get("metadata") or {}
        old = md.get("delta.identity.highWaterMark")
        step = int(md.get("delta.identity.step", 1))
        new = extremes[name]
        if old is not None and (
                (step > 0 and int(old) >= new)
                or (step < 0 and int(old) <= new)):
            continue
        md["delta.identity.highWaterMark"] = new
        f["metadata"] = md
        moved = True
    if not moved:
        return []
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(schema)
    return [{"metaData": new_meta}]


def _check_constraint_exprs(meta: dict | None) -> list[tuple[str, str]]:
    """(name, SQL expression) pairs from ``delta.constraints.<name>``
    table configuration (PROTOCOL.md §CHECK Constraints, the writer-v3
    feature "checkConstraints" — the modern form of invariants)."""
    conf = (meta or {}).get("configuration") or {}
    pfx = "delta.constraints."
    return [(k[len(pfx):], v) for k, v in sorted(conf.items())
            if k.startswith(pfx) and v]


def _with_invariant_guard(df: DataFrame, meta: dict | None) -> DataFrame:
    """Enforce column invariants AND CHECK constraints INLINE on the
    write pass (PROTOCOL.md §Column Invariants / §CHECK Constraints):
    guarded expressions raise during staging when a row evaluates them
    to FALSE — zero extra jobs, the check rides the same scan that
    writes the files. SQL CHECK semantics: only FALSE violates, NULL
    passes. An invariant column absent from the batch stages as null
    for every row — its expression null-propagates to non-FALSE — so
    absent columns need (and get) no guard; table-level CHECK
    constraints attach to the first column (always kept, so Catalyst
    can never prune the check away with a dropped helper column)."""
    exprs = [(name, e) for name, e in _invariant_exprs(meta)
             if name in df.columns]
    checks = _check_constraint_exprs(meta)
    if not exprs and not checks:
        return df

    def row_json():
        return F.to_json(F.struct(*[F.col(f"`{x}`")
                                    for x in df.columns]))

    first = df.columns[0]
    cols = []
    for c in df.columns:
        guards = [(f"delta.invariants violated on {c}", e)
                  for name, e in exprs if name == c]
        if c == first:
            guards += [(f"delta constraint {name} violated", e)
                       for name, e in checks]
        if not guards:
            cols.append(F.col(f"`{c}`"))
            continue
        col = F.col(f"`{c}`")
        ctype = dict(df.dtypes)[c]
        for label, e in guards:
            col = F.when(
                F.expr(f"({e}) IS FALSE"),
                F.raise_error(F.concat(
                    F.lit(f"{label}: ({e}) IS FALSE for row "),
                    row_json())).cast(ctype)).otherwise(col)
        cols.append(col.alias(c))
    return df.select(*cols)


def _cdf_diff(pre: DataFrame, post: DataFrame, pk: list[str]) -> DataFrame:
    """Row-level changes between the touched files' PRE-image and the
    rewrite (PROTOCOL.md Change Data Files): pk only in pre -> delete,
    only in post -> insert, in both with differing values ->
    update_preimage + update_postimage; identical rows (rewritten
    only because their file was touched) produce NO change row. One
    full-outer join on the pk; struct null-safe equality compares all
    non-key columns at once."""
    from pyspark.sql import functions as F

    cols = post.columns
    for c in cols:  # align pre to post (schema may have evolved)
        if c not in pre.columns:
            pre = pre.withColumn(c, F.lit(None).cast(dict(post.dtypes)[c]))
    rest = [c for c in cols if c not in pk]
    p = pre.select(*pk, F.struct(*rest).alias("__pre"))
    q = post.select(*pk, F.struct(*rest).alias("__post"))
    j = p.join(q, on=pk, how="full_outer")
    # ONE pass over the joined rows (r15, guide §1.2/§2.4): the old
    # shape unioned four filter branches over `j`, so the outer join
    # (and both file reads under it) executed FOUR times per stage
    # write. explode() of a per-row change-type array emits the same
    # rows from a single join execution: delete/insert one row,
    # update two (pre+post image), identical zero.
    cts = (
        F.when(F.col("__post").isNull() & F.col("__pre").isNotNull(),
               F.array(F.lit("delete")))
        .when(F.col("__pre").isNull() & F.col("__post").isNotNull(),
              F.array(F.lit("insert")))
        .when(~F.col("__pre").eqNullSafe(F.col("__post")),
              F.array(F.lit("update_preimage"),
                      F.lit("update_postimage")))
        .otherwise(F.array().cast("array<string>")))
    e = j.select(*pk, "__pre", "__post",
                 F.explode(cts).alias("_change_type"))
    img = F.when(F.col("_change_type").isin("delete", "update_preimage"),
                 F.col("__pre")).otherwise(F.col("__post"))
    out = e.select(*pk, *[img[c].alias(c) for c in rest], "_change_type")
    return out.select(*cols, "_change_type")


def _stage_cdc_actions(
    cdf: DataFrame, path: str, meta: dict, part_cols: list[str] | None,
    small: bool = False,
) -> list[dict]:
    """Stage a change DataFrame under ``_change_data/`` -> ``cdc``
    actions (PROTOCOL.md Add CDC File: change files never count as
    data, so ``dataChange`` is false and replay ignores them).
    ``small``: the caller proved the change set byte-bounded (pre-image
    file sizes + staged add sizes, both already in hand from the log)
    — see _stage_data_files."""
    staged = _stage_data_files(
        cdf, path, meta, partition_by=part_cols or None,
        data_change=False, subdir="_change_data", small=small)
    return [{"cdc": {
        "path": a["add"]["path"],
        "partitionValues": a["add"]["partitionValues"],
        "size": a["add"]["size"],
        "dataChange": False,
    }} for a in staged]


def _read_actions_with_partitions(
    spark, path: str, actions: list[dict], meta: dict,
) -> DataFrame:
    """Read the parquet files behind add/remove/cdc actions with each
    action's ``partitionValues`` attached as typed literals — staged
    files carry NO partition columns (the log is authoritative, not
    the dir layout), so a raw read would surface them as nulls. One
    union branch per distinct partition tuple, same shape as
    _read_mapped_partitioned."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    part_cols = meta.get("partitionColumns") or []
    if not part_cols:
        return spark.read.parquet(
            *[fsio.join(path, a["path"]) for a in actions])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    types = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
    for a in actions:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(a["path"])
    branches = []
    for key, rels in sorted(groups.items(),
                            key=lambda kv: tuple(map(str, kv[0]))):
        df = spark.read.parquet(*[_add_uri(path, p) for p in rels])
        for c, val in zip(part_cols, key):
            df = df.withColumn(c, F.lit(val).cast(types[c]))
        branches.append(df)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches)


def _read_cdf_actions(
    spark, path: str, actions: list[dict], meta: dict, cdc: bool = False,
) -> DataFrame:
    """Read the files behind CDF add/remove/cdc actions with partition
    values attached — column-mapped tables project physical names (or
    parquet field ids in ``id`` mode) back to logical through the SAME
    machinery the state read uses (:func:`_read_mapped_partitioned`);
    change files' ``_change_type`` column is unmapped by the protocol
    and rides through verbatim."""
    from pyspark.sql import types as T

    if _column_mapping_mode(meta) == "none":
        return _read_actions_with_partitions(spark, path, actions, meta)
    schema_json = json.loads(meta["schemaString"])
    logical = T.StructType.fromJson(schema_json)
    id_mode = _column_mapping_mode(meta) == "id"
    if id_mode:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return _read_mapped_partitioned(
        spark, path, meta, {a["path"]: a for a in actions},
        schema_json, logical, id_mode=id_mode,
        extra_cols=[("_change_type", "string")] if cdc else None)


def first_version_at_or_after(path: str, ts_ms: int) -> int | None:
    """The EARLIEST version whose commit timestamp is >= ``ts_ms`` —
    delta-spark's ``startingTimestamp`` resolution rule (the mirror of
    :func:`version_at_timestamp`). ICT-aware via
    :func:`commit_timestamp_ms`. None when every commit predates the
    instant."""
    for v in _list_versions(path):
        if commit_timestamp_ms(path, v) >= ts_ms:
            return v
    return None


def read_change_feed(
    spark: SparkSession, path: str, starting_version: int = 0,
    ending_version: int | None = None,
    starting_timestamp_ms: int | None = None,
    ending_timestamp_ms: int | None = None,
) -> DataFrame:
    """The table's row-level changes across a version range — data
    columns + ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp`` (delta-spark's ``table_changes`` surface).

    Timestamp bounds (delta-spark ``startingTimestamp`` /
    ``endingTimestamp``) resolve to versions through the commit
    timestamps — the monotonic ``inCommitTimestamp`` on ICT tables,
    else the logged wall clock: start = first commit AT OR AFTER the
    instant (errors when the instant is past the latest commit, same
    as delta-spark), end = last commit at or before it.

    Commits carrying ``cdc`` actions read exactly those files
    (update_preimage/postimage fidelity); commits without them derive
    changes per the protocol: dataChange adds -> ``insert`` rows,
    dataChange removes -> ``delete`` rows (reading the removed file,
    which vacuum has not yet reclaimed). A derived commit whose add OR
    remove carries a deletion vector cannot be reconstructed this way
    and refuses loudly. Column-mapped tables (both modes) project the
    change files' physical names back to logical
    (:func:`_read_cdf_actions`, round 9). Partitioned tables attach
    each action's ``partitionValues`` as typed literals — staged files
    hold no partition columns."""
    from functools import reduce

    from pyspark.sql import functions as F

    meta, _ = replay_log(path)  # reader-protocol gate + schema
    if meta is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    if starting_timestamp_ms is not None:
        sv = first_version_at_or_after(path, starting_timestamp_ms)
        if sv is None:
            raise ValueError(
                f"startingTimestamp {starting_timestamp_ms} is after "
                f"the latest commit of {path}")
        starting_version = sv
    if ending_timestamp_ms is not None:
        ev = version_at_timestamp(path, ending_timestamp_ms)
        if ev is None:
            raise ValueError(
                f"endingTimestamp {ending_timestamp_ms} predates the "
                f"first commit of {path}")
        ending_version = ev
    fs = fsio.get_fs(path)
    versions = [v for v in _list_versions(path)
                if v >= starting_version
                and (ending_version is None or v <= ending_version)]
    branches = []
    for v in versions:
        ts = commit_timestamp_ms(path, v)
        actions = [json.loads(ln) for ln in
                   fs.read_bytes(_log_path(path, v)).decode().splitlines()
                   if ln.strip()]
        cdcs = [a["cdc"] for a in actions if "cdc" in a]
        stamp = lambda df, ct: df.withColumn(
            "_change_type", F.lit(ct)) if ct else df

        def final(df, ct=None):
            out = stamp(df, ct)
            branches.append(out
                            .withColumn("_commit_version", F.lit(v))
                            .withColumn("_commit_timestamp",
                                        F.lit(ts).cast("long")))

        if cdcs:
            final(_read_cdf_actions(spark, path, cdcs, meta, cdc=True))
            continue
        adds = [a["add"] for a in actions
                if "add" in a and a["add"].get("dataChange")]
        removes = [a["remove"] for a in actions
                   if "remove" in a and a["remove"].get("dataChange")]
        for a in adds + removes:
            if a.get("deletionVector"):
                raise UnsupportedTableFeature(
                    f"change feed: commit {v} attaches a deletion "
                    "vector without cdc files — underivable")
        if adds:
            final(_apply_table_schema(_read_cdf_actions(
                spark, path, adds, meta), meta), "insert")
        if removes:
            final(_apply_table_schema(_read_cdf_actions(
                spark, path, removes, meta), meta), "delete")
    if not branches:
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(json.loads(meta["schemaString"])) \
            .add("_change_type", "string") \
            .add("_commit_version", "long") \
            .add("_commit_timestamp", "long")
        return local_df(spark, [], schema)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches)
