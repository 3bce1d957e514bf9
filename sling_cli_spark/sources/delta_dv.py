"""Delta Lake deletion vectors — parse + apply (and synthesize for tests).

Public spec: delta-io PROTOCOL.md §"Deletion Vectors" / §"Deletion Vector
Descriptor Schema" and the RoaringBitmapArray "portable" serialization it
references (RoaringFormatSpec). Reference capability parity:
/root/reference/core/dbio/iop/delta.go:1-40 reads DV-bearing tables (via
DuckDB's delta extension); here the format is parsed directly and applied
merge-on-read as a Spark anti-join (see delta_py.read_delta), the same
shape as the Iceberg positional-delete path (iceberg_py.py).

On-disk layout (PROTOCOL.md):

- descriptor (in ``add.deletionVector``): ``storageType`` one of
  ``u`` (relative file, pathOrInlineDv = <optional random prefix> +
  20-char z85 of the 16-byte UUID; file lives at
  ``<table>/<prefix>/deletion_vector_<canonical uuid>.bin``),
  ``p`` (absolute file path), ``i`` (inline, pathOrInlineDv = z85 of the
  bitmap bytes); plus ``offset`` (u/p only), ``sizeInBytes`` (byte length
  of the serialized bitmap), ``cardinality``.
- DV file: 1 version byte (=1), then per stored vector:
  <int32 BE dataSize> <dataSize bytes bitmap> <int32 BE CRC-32 of bitmap>;
  ``offset`` points at the dataSize field.
- bitmap bytes: "RoaringBitmapArray" portable format — <int32 LE magic
  1681511377> <int64 LE number of 32-bit bitmaps> then each 32-bit
  RoaringBitmap in the standard interoperable serialization
  (RoaringFormatSpec), the array index being the high 32 bits of the
  member values.
"""

from __future__ import annotations

import io
import os
import struct
import uuid
import zlib

import numpy as np

# ---------------------------------------------------------------- z85

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 (spec 32/Z85): 4 bytes -> 5 chars, big-endian groups."""
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack(">I", data[i:i + 4])
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_ALPHABET[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i:i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += struct.pack(">I", v)
    return bytes(out)


# ------------------------------------------- roaring bitmap (32-bit, std)

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096
_MAGIC = 1681511377  # RoaringBitmapArray portable magic (delta PROTOCOL.md)


def _parse_rb32(buf: bytes) -> tuple[np.ndarray, int]:
    """Standard 32-bit RoaringBitmap serialization -> (sorted uint32
    array, bytes consumed).

    Handles all three container kinds (array / bitmap / run) per the
    public RoaringFormatSpec. ``buf`` must start at the cookie. The
    consumed-byte count comes from the SAME walk that produced the
    values — a RoaringBitmapArray holds one serialization per 32-bit
    high key back-to-back, and framing them with a second,
    independently-maintained length walk risks the two drifting apart
    and mis-framing every subsequent bitmap.
    """
    (cookie32,) = struct.unpack_from("<i", buf, 0)
    cookie = cookie32 & 0xFFFF
    if cookie == _SERIAL_COOKIE:
        n = (cookie32 >> 16) + 1
        run_bits = buf[4:4 + (n + 7) // 8]
        pos = 4 + (n + 7) // 8
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, 4)
        run_bits = b"\x00" * ((n + 7) // 8)
        pos = 8
        has_offsets = True
    else:
        raise ValueError(f"not a roaring bitmap (cookie {cookie})")
    keys_cards = struct.unpack_from(f"<{2 * n}H", buf, pos)
    pos += 4 * n
    if has_offsets:
        pos += 4 * n  # per-container offsets — sequential parse skips them
    parts: list[np.ndarray] = []
    for i in range(n):
        key, card = keys_cards[2 * i], keys_cards[2 * i + 1] + 1
        base = np.uint32(key) << np.uint32(16)
        if run_bits[i // 8] & (1 << (i % 8)):
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = struct.unpack_from(f"<{2 * n_runs}H", buf, pos)
            pos += 4 * n_runs
            for j in range(n_runs):
                start, length = runs[2 * j], runs[2 * j + 1] + 1
                parts.append(base + np.arange(
                    start, start + length, dtype=np.uint32))
        elif card > _ARRAY_MAX:
            words = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            bits = np.unpackbits(
                words.view(np.uint8), bitorder="little")
            parts.append(base + np.nonzero(bits)[0].astype(np.uint32))
        else:
            vals = np.frombuffer(buf, dtype="<u2", count=card, offset=pos)
            pos += 2 * card
            parts.append(base + vals.astype(np.uint32))
    if not parts:
        return np.empty(0, dtype=np.uint32), pos
    return np.concatenate(parts), pos


def _serialize_rb32(values: np.ndarray) -> bytes:
    """sorted uint32 array -> standard serialization (array/bitmap
    containers only, cookie 12346 — readable by every implementation)."""
    hi = (values >> np.uint32(16)).astype(np.uint32)
    keys, starts = np.unique(hi, return_index=True)
    bounds = list(starts) + [len(values)]
    out = io.BytesIO()
    out.write(struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, len(keys)))
    containers = []
    for i, key in enumerate(keys):
        chunk = (values[bounds[i]:bounds[i + 1]]
                 & np.uint32(0xFFFF)).astype(np.uint16)
        if len(chunk) > _ARRAY_MAX:
            words = np.zeros(1024, dtype="<u8")
            byts = np.zeros(8192, dtype=np.uint8)
            idx = chunk.astype(np.uint32)
            np.bitwise_or.at(byts, idx >> np.uint32(3),
                             (np.uint8(1) << (idx & np.uint32(7))
                              ).astype(np.uint8))
            words = byts.view("<u8")
            containers.append(words.tobytes())
        else:
            containers.append(chunk.astype("<u2").tobytes())
        out.write(struct.pack("<HH", int(key), len(chunk) - 1))
    # offset header (mandatory for cookie 12346)
    off = out.tell() + 4 * len(keys)
    for c in containers:
        out.write(struct.pack("<I", off))
        off += len(c)
    for c in containers:
        out.write(c)
    return out.getvalue()


def serialize_bitmap(indices) -> bytes:
    """sorted-or-not iterable of int row indices -> RoaringBitmapArray
    portable bytes (magic + count + dense high-key 32-bit bitmaps)."""
    vals = np.asarray(sorted(set(int(i) for i in indices)), dtype=np.uint64)
    if len(vals) and int(vals[-1]) >> 63:
        raise ValueError("row index out of range")
    n_maps = 0 if not len(vals) else (int(vals[-1]) >> 32) + 1
    out = io.BytesIO()
    out.write(struct.pack("<iq", _MAGIC, n_maps))
    for k in range(n_maps):
        lo = np.uint64(k) << np.uint64(32)
        hi = np.uint64(k + 1) << np.uint64(32)
        chunk = vals[(vals >= lo) & (vals < hi)]
        out.write(_serialize_rb32((chunk & np.uint64(0xFFFFFFFF))
                                  .astype(np.uint32)))
    return out.getvalue()


def deserialize_bitmap(data: bytes) -> np.ndarray:
    """RoaringBitmapArray portable bytes -> sorted int64 array of
    deleted row indices."""
    magic, n_maps = struct.unpack_from("<iq", data, 0)
    if magic != _MAGIC:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    pos = 12
    parts = []
    for k in range(n_maps):
        vals, consumed = _parse_rb32(data[pos:])
        pos += consumed
        if len(vals):
            parts.append(vals.astype(np.int64)
                         + (np.int64(k) << np.int64(32)))
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


# ------------------------------------------------------- descriptor I/O

def dv_absolute_path(table_path: str, desc: dict) -> str:
    """Resolve a u/p descriptor to the DV file's absolute path."""
    st = desc["storageType"]
    if st == "p":
        return desc["pathOrInlineDv"]
    if st != "u":
        raise ValueError(f"descriptor storageType {st!r} has no path")
    enc = desc["pathOrInlineDv"]
    prefix, uuid_z85 = enc[:-20], enc[-20:]
    u = uuid.UUID(bytes=z85_decode(uuid_z85))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(table_path, prefix, name) if prefix \
        else os.path.join(table_path, name)


def dv_indices(
    table_path: str, desc: dict, blob: bytes | None = None,
) -> np.ndarray:
    """Descriptor -> sorted int64 array of deleted row indices.

    Verifies the framing (size field vs ``sizeInBytes``, CRC-32) for
    file-backed vectors and the ``cardinality`` for all of them —
    corrupt DVs must fail loudly, not resurrect/over-delete rows.
    ``blob`` supplies the DV file bytes pre-read by the caller (the
    driver does this for non-local tables, where executors have no
    filesystem client); without it, u/p descriptors resolve against the
    local filesystem.
    """
    st = desc["storageType"]
    if st == "i":
        data = z85_decode(desc["pathOrInlineDv"])
    else:
        p = dv_absolute_path(table_path, desc)
        if blob is None:
            from sling_cli_spark import fsio
            blob = fsio.get_fs(p).read_bytes(p)
        if not blob or blob[0] != 1:
            raise ValueError(f"unsupported DV file version at {p}")
        off = int(desc.get("offset") or 1)
        (size,) = struct.unpack_from(">i", blob, off)
        if size != int(desc["sizeInBytes"]):
            raise ValueError(
                f"DV size mismatch at {p}:{off}: file says {size}, "
                f"descriptor says {desc['sizeInBytes']}")
        data = blob[off + 4:off + 4 + size]
        (crc,) = struct.unpack_from(">I", blob, off + 4 + size)
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"DV checksum mismatch at {p}:{off}")
    vals = deserialize_bitmap(data)
    card = int(desc.get("cardinality") or 0)
    if len(vals) != card:
        raise ValueError(
            f"DV cardinality mismatch: bitmap has {len(vals)}, "
            f"descriptor says {card}")
    return vals


def add_deletion_vectors(
    table_path: str, dv_rows: dict[str, list[int]], prefix: str = "ab",
) -> None:
    """Attach deletion vectors to existing data files of a delta table
    (test/fixture path — mirrors what a DV-enabled engine's DELETE
    commits): writes the ``.bin`` vector file, upgrades the protocol to
    reader v3 / writer v7 with the ``deletionVectors`` feature, and
    commits ``remove`` + ``add`` (same path, descriptor attached,
    PROTOCOL.md Add File and Remove File reconciliation)."""
    from . import delta_py

    meta, files = delta_py.replay_log(table_path)
    unknown = set(dv_rows) - set(files)
    if unknown:
        raise ValueError(f"no such data files in table: {sorted(unknown)}")
    descs = write_dv_file(table_path, dv_rows, prefix)
    now = int(__import__("time").time() * 1000)
    # preserve features the table already requires (e.g. columnMapping on
    # a mapped table) — dropping them would let non-mapping readers
    # mis-read (or foreign v7 writers mis-write) the table after this
    # commit; a legacy protocol's implicit obligations become explicit
    # on BOTH sides of the v3/v7 upgrade
    rf = {"deletionVectors"}
    wf = {"deletionVectors", "appendOnly"}  # appendOnly: v2-implied
    prot = delta_py._replay_state(table_path)[2]
    if prot:
        rf |= set(prot.get("readerFeatures") or ())
        wf |= set(prot.get("writerFeatures") or ())
        if prot.get("minReaderVersion", 1) == 2 \
                or prot.get("minWriterVersion", 2) >= 5:
            rf.add("columnMapping")
            wf.add("columnMapping")
    actions: list[dict] = [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf)}}]
    for rel, desc in descs.items():
        old = files[rel]
        actions.append({"remove": {
            "path": rel, "deletionTimestamp": now, "dataChange": True,
            "partitionValues": old.get("partitionValues") or {},
            "size": old.get("size", 0)}})
        actions.append({"add": {
            **{k: v for k, v in old.items() if k != "deletionVector"},
            "modificationTime": now, "dataChange": True,
            "deletionVector": desc}})
    version = delta_py.latest_version(table_path) + 1
    delta_py._commit(table_path, version, actions)


def write_dv_file(
    table_path: str, dv_rows: dict[str, list[int]], prefix: str = "ab",
) -> dict[str, dict]:
    """Write ONE ``deletion_vector_<uuid>.bin`` holding a vector per
    data file (the spec's multi-DV file layout) -> {rel_data_path:
    descriptor}. Serves both the production write path
    (delta_py._produce_dv_actions) and the foreign-table fixture
    (add_deletion_vectors); fsio-backed so URI tables (hdfs://-style)
    take the same path as local ones."""
    from sling_cli_spark import fsio

    u = uuid.uuid4()
    blob = io.BytesIO()
    blob.write(b"\x01")
    descs: dict[str, dict] = {}
    enc = prefix + z85_encode(u.bytes)
    for rel, indices in dv_rows.items():
        data = serialize_bitmap(indices)
        off = blob.tell()
        blob.write(struct.pack(">i", len(data)))
        blob.write(data)
        blob.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
        descs[rel] = {
            "storageType": "u", "pathOrInlineDv": enc, "offset": off,
            "sizeInBytes": len(data),
            "cardinality": len(set(int(i) for i in indices)),
        }
    fs = fsio.get_fs(table_path)
    d = fsio.join(table_path, prefix) if prefix else table_path
    fs.mkdirs(d)
    fs.write_bytes(fsio.join(d, f"deletion_vector_{u}.bin"),
                   blob.getvalue())
    return descs


# ------------------------------------------- deleted-position frames

def deleted_positions_df(spark, dvs: list[tuple[str, int, str]], decode):
    """``(__fp string, __pos long)`` rows for every position deleted by
    ``dvs`` — one ``(fp, cardinality, payload)`` per data file, where
    ``decode(payload)`` returns the file's sorted deleted positions
    (Delta descriptors and Iceberg Puffin blobs differ only there).

    The metadata gives every vector's cardinality before anything is
    decoded. When the rows fit under
    ``spark.sql.autoBroadcastJoinThreshold`` — the anti-join would
    broadcast them anyway — the driver decodes them into an Arrow
    table: a local relation, no Python worker at execution. Otherwise
    the payloads go to executors, which expand them via
    ``mapInPandas``: a large table's vectors can hold billions of
    positions, so the driver moves compressed bitmaps, never expanded
    rows. A vector whose decoded size disagrees with its positive
    cardinality fails loudly."""
    import pyarrow as pa

    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    size = sum(card * (len(fp.encode()) + 8) for fp, card, _ in dvs)
    if all(card > 0 for _, card, _ in dvs) and size <= threshold:
        fps, poss = [], []
        for fp, card, payload in dvs:
            idx = _checked_positions(decode, fp, card, payload)
            fps.append(pa.repeat(fp, len(idx)))
            poss.append(pa.array(idx, pa.int64()))
        return spark.createDataFrame(pa.table({
            "__fp": pa.chunked_array(fps, pa.string()),
            "__pos": pa.chunked_array(poss, pa.int64())}))

    import pandas as pd

    from sling_cli_spark.localframe import local_df

    src = local_df(spark, dvs, "__fp string, __n long, __p string")
    if len(dvs) > 1:
        src = src.repartition(min(len(dvs), 64), "__fp")

    def expand(batches):
        for pdf in batches:
            for fp, card, payload in zip(pdf["__fp"], pdf["__n"], pdf["__p"]):
                idx = _checked_positions(decode, fp, card, payload)
                step = 1 << 20  # bound per-batch memory
                for i in range(0, len(idx), step):
                    yield pd.DataFrame({"__fp": fp, "__pos": idx[i:i + step]})

    return src.mapInPandas(expand, "__fp string, __pos long")


def _checked_positions(decode, fp: str, card: int, payload: str):
    idx = decode(payload)
    if card and len(idx) != card:
        raise ValueError(
            f"deletion vector for {fp}: bitmap holds {len(idx)} "
            f"positions, metadata says {card}")
    return idx
