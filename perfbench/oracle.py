"""Expected results and storage accounting, computed apart from the
engine: plain Python, pyarrow and the table formats' on-disk layout.
The only engine function used here is its generic Avro file reader,
to list the files an Iceberg snapshot references (storage metrics only;
no correctness check depends on it)."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pandas.util import hash_array

# ------------------------------------------------------------ checks


def fingerprint(tbl: pa.Table) -> dict:
    """Row count, per-column null count and an order-independent
    checksum per column. Floats sum with ``math.fsum`` (exact, so the
    order of rows cannot change the result), integers sum exactly; every
    other type sums a fixed-key 64-bit hash of its canonical text form
    modulo 2^64."""
    out = {"rows": tbl.num_rows}
    for name in tbl.column_names:
        col = tbl.column(name).combine_chunks()
        nulls = col.null_count
        vals = col.drop_null()
        if pa.types.is_floating(col.type):
            s = math.fsum(vals.to_numpy(zero_copy_only=False).tolist())
        elif pa.types.is_integer(col.type):
            s = int(pc.sum(vals).as_py() or 0)
        else:
            text = vals.cast(pa.string()).to_numpy(zero_copy_only=False)
            s = int(hash_array(text).sum(dtype=np.uint64))
        out[name] = (nulls, s)
    return out


def type_names(tbl: pa.Table) -> dict[str, str]:
    return {f.name: str(f.type) for f in tbl.schema}


def same_rows(actual: pa.Table, expected: pa.Table, key: str) -> bool:
    """Exact equality after sorting both sides by ``key``, over the
    expected columns (cast to the expected types)."""
    if actual.num_rows != expected.num_rows:
        return False
    try:
        a = actual.select(expected.column_names).cast(expected.schema)
    except (KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return False
    return a.sort_by(key).equals(expected.sort_by(key))


def no_duplicate_keys(tbl: pa.Table, key: str) -> bool:
    k = tbl.column(key).to_numpy()
    return len(np.unique(k)) == len(k)


def fold_changes(events: list[dict], row_schema: pa.Schema,
                 key: str = "id") -> pa.Table:
    """Highest seq wins per key; a winning delete drops the key."""
    best: dict[int, dict] = {}
    for e in events:
        img = e["after"] if e["op"] != "d" else e["before"]
        k = img[key]
        cur = best.get(k)
        if cur is None or e["ts_ms"] > cur["ts_ms"]:
            best[k] = e
    rows = [e["after"] for e in best.values() if e["op"] != "d"]
    return pa.Table.from_pylist(rows, schema=row_schema)


def events_table(events: list[dict], row_schema: pa.Schema,
                 op_col: str, seq_col: str) -> pa.Table:
    """Every delivered event as a flat row: the row image (``before`` for
    deletes), the op mapped c/r->I, u->U, d->D, and the seq."""
    opmap = {"c": "I", "r": "I", "u": "U", "d": "D"}
    rows = []
    for e in events:
        img = e["after"] if e["op"] != "d" else e["before"]
        rows.append({**img, op_col: opmap[e["op"]], seq_col: e["ts_ms"]})
    schema = row_schema.append(pa.field(op_col, pa.string())) \
        .append(pa.field(seq_col, pa.int64()))
    return pa.Table.from_pylist(rows, schema=schema)


# ------------------------------------------------- storage accounting


def file_sizes(root: str) -> dict[str, int]:
    """Every regular file under ``root`` -> its size."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files created or changed between two snapshots."""
    return sum(s for p, s in after.items() if before.get(p) != s)


def dir_bytes(root: str) -> int:
    return sum(file_sizes(root).values())


def delta_live_files(table: str) -> list[tuple[str, int]]:
    """Replay every JSON commit of ``_delta_log`` in version order:
    the (relative path, size) of each live data file, plus each live
    deletion-vector file. Commits are never deleted here (no vacuum or
    log cleanup runs), so the JSON log alone holds the full state."""
    log = os.path.join(table, "_delta_log")
    live: dict[tuple, dict] = {}
    for name in sorted(n for n in os.listdir(log)
                       if n.endswith(".json") and n[:20].isdigit()
                       and len(n) == 25):
        with open(os.path.join(log, name)) as f:
            for line in f:
                a = json.loads(line)
                for kind in ("remove", "add"):
                    act = a.get(kind)
                    if act is None:
                        continue
                    dv = act.get("deletionVector") or {}
                    ident = (act["path"], dv.get("pathOrInlineDv"),
                             dv.get("offset"))
                    if kind == "remove":
                        live.pop(ident, None)
                    else:
                        live[ident] = act
    out, dvs = [], set()
    for act in live.values():
        out.append((act["path"], int(act.get("size") or 0)))
        dv = act.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            dvs.add(_dv_rel_path(dv["pathOrInlineDv"]))
    for rel in sorted(dvs):
        out.append((rel, os.path.getsize(os.path.join(table, rel))))
    return out


_Z85 = ("0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
        ".-:+=^!/*?&<>()[]{}@%$#")


def _dv_rel_path(encoded: str) -> str:
    """Delta PROTOCOL.md: storage type 'u' = optional random prefix then
    a Z85-encoded UUID (20 chars) -> ``<prefix>/deletion_vector_<uuid>.bin``."""
    prefix, z = encoded[:-20], encoded[-20:]
    raw = b""
    for i in range(0, 20, 5):
        v = 0
        for ch in z[i:i + 5]:
            v = v * 85 + _Z85.index(ch)
        raw += v.to_bytes(4, "big")
    h = raw.hex()
    uid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
    name = f"deletion_vector_{uid}.bin"
    return os.path.join(prefix, name) if prefix else name


def iceberg_live_files(table: str) -> list[tuple[str, int, int]]:
    """(path, size, content) of every data (0) and delete (1, 2) file
    the current snapshot references, from the metadata JSON and the
    Avro manifest list and manifests."""
    from sling_cli_spark.sources.avro_py import read_avro

    meta = iceberg_current_metadata(table)
    snap_id = meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if snap_id is None or snap_id == -1 or snap_id not in snaps:
        return []
    _, mlist = read_avro(_local(snaps[snap_id]["manifest-list"]))
    out = []
    for m in mlist:
        _, entries = read_avro(_local(m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # deleted in this manifest
                continue
            df = e["data_file"]
            out.append((df["file_path"], int(df["file_size_in_bytes"]),
                        int(df.get("content") or 0)))
    return out


def iceberg_current_metadata(table: str) -> dict:
    md = os.path.join(table, "metadata")
    with open(os.path.join(md, "version-hint.text")) as f:
        v = int(f.read().strip())
    with open(os.path.join(md, f"v{v}.metadata.json")) as f:
        return json.load(f)


def _local(uri: str) -> str:
    return uri.removeprefix("file://").removeprefix("file:")


def live_bytes(kind: str, table: str) -> int:
    """Bytes of the live table state: the data and delete files the
    current Delta version or Iceberg snapshot references (the log and
    metadata files are not counted), or the whole directory for
    plain-file targets."""
    if kind == "delta":
        return sum(s for _, s in delta_live_files(table))
    if kind == "iceberg":
        return sum(s for _, s, _ in iceberg_live_files(table))
    return dir_bytes(table)
