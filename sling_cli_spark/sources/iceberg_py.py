"""Minimal Iceberg v1/v2 table reader/writer over the PUBLIC table spec.

Reference surface: ``core/dbio/iop/iceberg.go`` (scans via DuckDB's
iceberg extension — not installable offline here). The open Iceberg spec
(iceberg.apache.org/spec) defines the layout this module implements
directly, reusing the stdlib Avro codec (``sources/avro_py``):

- ``metadata/vN.metadata.json`` — table metadata: schema (field-id
  annotated), snapshots, ``current-snapshot-id``; ``version-hint.text``
  points at the current metadata version.
- snapshot ``manifest-list`` (Avro): one entry per manifest file.
- manifest (Avro): entries of ``(status, data_file)``; status 2 means
  DELETED — readers skip those files.
- data files: plain parquet.

Scope (documented): WRITES default to format-version 2 — parquet data
files, identity-transform partitioning via Hive-dir layout, whole-file
removes (copy-on-write), per-snapshot data sequence numbers
(``last-sequence-number`` in metadata, inherited by added manifest
entries from the manifest list per spec §Sequence Number Inheritance,
explicit on carried EXISTING entries), schema evolution as a new
``schema-id`` appended to ``schemas``. Appends/merges to a v2 table
with delete files CARRY the delete files forward (kept data files stay
merge-on-read; replaced/added files sit at a higher sequence number so
old equality deletes no longer bind them). ``format_version=1`` still
writes the v1 single-schema layout. READS support v1-v3
merge-on-read: positional deletes (a `_metadata.row_index` anti-join),
equality deletes (null-safe anti-join scoped by data sequence
number), v3 Puffin-stored deletion vectors (spec v3 §Deletion
Vectors; :mod:`.puffin` parses the blobs, executors expand the
roaring bitmaps), and v3 primitive ``initial-default`` values (filled
per source FILE via a driver-side footer probe — rows predating the
column take the default, later genuine nulls stay null). WRITES to v3
tables assign row lineage at commit (contiguous ``first_row_id``
ranges from ``next-row-id``, snapshot ``first-row-id``; spec v3 §Row
Lineage) and carry DV entries with their blob coordinates; ``variant``
round-trips natively on v3 tables (Spark's parquet variant encoding,
batch only), the remaining v3-only types (geometry/timestamp_ns)
refuse loudly. Nested struct/list/map columns round-trip with
spec-conformant nested field ids (§Schemas). Enough for
EL-tool snapshots: :func:`write_iceberg` (append/overwrite creating a
new snapshot + metadata version) and :func:`read_iceberg` (current or
``snapshot_id=`` time travel). The jar-backed Spark DataSource takes
precedence when present (sources/files.py).

All metadata I/O goes through :mod:`sling_cli_spark.fsio` (plain ``os``
locally, Hadoop ``FileSystem`` for URI schemes), so the fallback works
on HDFS/object stores. The metadata version file is claimed with an
EXCLUSIVE create — two writers committing the same version race on the
claim and the loser raises instead of silently overwriting (the
optimistic-concurrency contract; same mechanism as
:func:`delta_py._commit`).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from ..localframe import local_df

from sling_cli_spark import fsio
from sling_cli_spark.sources.avro_py import read_avro, write_avro
from sling_cli_spark.sources.footer_stats import (
    HIVE_NULL as _HIVE_NULL, canon_path as _canon, footer_num_rows,
    hive_partition_values, staged_stats)
from sling_cli_spark.sources.delta_py import (
    UnsupportedTableFeature, _walk_data_files, hive_partition_str)
from sling_cli_spark.sources.lake_core import (
    RID, SEQ, attach_preserved, doomed_positions, fold_dv_rows,
    partition_value_disprove, prune_files, touched_files)

_SPARK_TO_ICE = {
    "long": "long", "integer": "int", "short": "int", "byte": "int",
    "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "binary": "binary",
    "date": "date", "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                # spec: per-spec typed partition struct; simplified here
                # to a string map (values as written in the Hive dirs)
                {"name": "partition",
                 "type": ["null", {"type": "map", "values": "string"}]},
            ],
        }},
    ],
}

# v2 manifest list: entries additionally carry the data sequence number
# of the snapshot that added the manifest (inherited by its added
# entries), the minimum sequence number across its live entries, and
# content (0 = data manifest, 1 = delete manifest).
_MANIFEST_FILE_SCHEMA_V2 = {
    "type": "record", "name": "manifest_file",
    "fields": _MANIFEST_FILE_SCHEMA["fields"] + [
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "min_sequence_number", "type": ["null", "long"]},
        {"name": "content", "type": ["null", "int"]},
    ],
}

# v2 manifest entry: per-entry data sequence number (null on ADDED
# entries -> inherited from the manifest list; explicit on EXISTING
# entries carried across snapshots, spec §Sequence Number Inheritance);
# data_file gains content (0 data / 1 position deletes / 2 equality
# deletes) and equality_ids.
_MANIFEST_ENTRY_SCHEMA_V2 = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "partition",
                 "type": ["null", {"type": "map", "values": "string"}]},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}]},
                # spec: map<int, bytes> (single-value serialization);
                # this stdlib codec renders map keys as str(field-id)
                {"name": "lower_bounds",
                 "type": ["null", {"type": "map", "values": "bytes"}]},
                {"name": "upper_bounds",
                 "type": ["null", {"type": "map", "values": "bytes"}]},
                # spec field 140: the sort order the file was written
                # under (null/0 = unsorted)
                {"name": "sort_order_id", "type": ["null", "int"]},
                # v3 fields, null on v1/v2 entries: deletion-vector
                # blob coordinates (spec v3: referenced_data_file 143,
                # content_offset 144, content_size_in_bytes 145) and
                # row-lineage base (first_row_id 142)
                {"name": "referenced_data_file",
                 "type": ["null", "string"]},
                {"name": "content_offset", "type": ["null", "long"]},
                {"name": "content_size_in_bytes", "type": ["null", "long"]},
                {"name": "first_row_id", "type": ["null", "long"]},
            ],
        }},
    ],
}

# the DV fixture writes with the same unified entry schema
_MANIFEST_ENTRY_SCHEMA_V3 = _MANIFEST_ENTRY_SCHEMA_V2

# spec v3 §Row Lineage: the reader-facing metadata columns. Rewrites
# (compact/merge/delete) MATERIALIZE them as physical parquet columns in
# the rewritten files so ids survive the move; fresh files leave them
# absent and readers derive first_row_id + position. Writer-internal:
# never part of the table schema, stripped from plain reads.
_LINEAGE_COLS = ("_row_id", "_last_updated_sequence_number")
#: the columns of a position delete file (spec §Position Delete Files)
_POS_DELETE_SCHEMA = "file_path string, pos long"


def _bounds_map(v):
    """Normalize a bounds value to {str(field-id): bytes} | None.
    Foreign manifests encode map<int, bytes> as the Avro LOGICAL map —
    an array of {key, value} records — which our codec surfaces as a
    list; a shape we can't interpret degrades to None (conservative:
    no bounds -> no pruning, and a carried entry re-serializes clean)."""
    if v is None or isinstance(v, dict):
        return v or None
    if isinstance(v, list):
        try:
            return {str(e["key"]): e["value"] for e in v} or None
        except Exception:
            return None
    return None


def _v2_data_file(f: dict) -> dict:
    """Normalize a file dict (fresh or round-tripped through a foreign
    manifest whose record lacks some fields) to the v2 data_file shape —
    the stdlib Avro encoder writes by schema field, so every key must be
    present and non-union fields non-null."""
    return {
        "content": f.get("content") or 0,
        "file_path": f["file_path"],
        "file_format": f.get("file_format") or "PARQUET",
        "record_count": int(f.get("record_count") or 0),
        "file_size_in_bytes": int(f.get("file_size_in_bytes") or 0),
        "partition": f.get("partition"),
        "equality_ids": f.get("equality_ids"),
        "lower_bounds": _bounds_map(f.get("lower_bounds")),
        "upper_bounds": _bounds_map(f.get("upper_bounds")),
        "sort_order_id": f.get("sort_order_id"),
        # v3 carriage: a kept DV entry must NOT lose its blob
        # coordinates, nor a kept data file its row-lineage base
        "referenced_data_file": f.get("referenced_data_file"),
        "content_offset": f.get("content_offset"),
        "content_size_in_bytes": f.get("content_size_in_bytes"),
        "first_row_id": f.get("first_row_id"),
    }


# --- single-value serialization for bounds (spec Appendix D) ----------

_BOUND_TYPES = {"int", "long", "float", "double", "string", "date",
                "timestamp", "timestamptz", "boolean"}


def _encode_bound(ice_type: str, v):
    """Python value -> the spec's single-value binary serialization
    (little-endian numerics, UTF-8 strings, date as days-from-epoch
    int32, timestamps as micros-from-epoch int64)."""
    import datetime
    import struct

    import math

    if v is None or (isinstance(v, float) and math.isnan(v)):
        # spec: NaN must never be written to bounds (nan_value_counts
        # exists for that) — a NaN bound would disprove every comparison
        return None
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "date":
        days = (v - datetime.date(1970, 1, 1)).days \
            if isinstance(v, datetime.date) else int(v)
        return struct.pack("<i", days)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            v = int((v - epoch).total_seconds() * 1_000_000)
        return struct.pack("<q", int(v))
    return None


def _decode_bound(ice_type: str, b: bytes):
    import struct

    if b is None:
        return None
    if ice_type == "int":
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        # a file written before an int -> long promotion keeps its
        # 4-byte bounds (spec Appendix D); likewise float -> double
        return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<f" if len(b) == 4 else "<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "boolean":
        return b == b"\x01"
    if ice_type == "date":
        return struct.unpack("<i", b)[0]
    if ice_type in ("timestamp", "timestamptz"):
        return struct.unpack("<q", b)[0]
    return None


def _norm_bound_value(ice_type: str, v):
    """Normalize a caller's predicate literal to the decoded-bound
    domain (dates -> epoch days, datetimes -> epoch micros) so pruning
    compares like with like."""
    import datetime

    if ice_type == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz") \
            and isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    return v


def prune_files_by_bounds(
    files: list[dict], skip_filters, meta: dict,
) -> list[dict]:
    """:func:`lake_core.prune_files` over manifest entries: drop files
    whose value bounds (spec: data_file.lower_bounds / upper_bounds) or
    partition values PROVE no row satisfies the conjunction of
    ``(col, op, value)`` filters. Identity-partition columns compare
    the literal value; a filter on a transformed field's SOURCE column
    disproves through the recorded transformed value
    (:func:`transform_partition_disprove`)."""
    from sling_cli_spark.sources.iceberg_transforms import (
        spec_transform_fields, transform_partition_disprove)

    current = _current_schema(meta) or {"fields": []}
    by_name = {f["name"]: f for f in current["fields"]
               if isinstance(f.get("type"), str)
               and f["type"] in _BOUND_TYPES}
    part_cols = _identity_part_cols(meta)
    # source column -> [(partition field name, transform, src type)]
    tf_by_src: dict[str, list[tuple[str, str, str]]] = {}
    for fname, (transform, src, styp) in spec_transform_fields(
            meta).items():
        tf_by_src.setdefault(src, []).append((fname, transform, styp))

    def partition_disproves(f, col, op, val):
        part = f.get("partition") or {}
        return (col in part_cols and partition_value_disprove(
            part.get(col), op, val)) or any(
            transform_partition_disprove(t, part.get(n), op, val, styp)
            for n, t, styp in tf_by_src.get(col, ()))

    def bounds(f, cols):
        lo = _bounds_map(f.get("lower_bounds")) or {}
        hi = _bounds_map(f.get("upper_bounds")) or {}
        out = {}
        for c in cols & by_name.keys():
            fid, t = str(by_name[c]["id"]), by_name[c]["type"]
            try:
                mn, mx = _decode_bound(t, lo.get(fid)), \
                    _decode_bound(t, hi.get(fid))
            except Exception:
                continue
            if mn is not None and mx is not None:
                out[c] = (mn, mx, None, None)
        return out

    def literal(col, val):
        try:
            return _norm_bound_value(by_name[col]["type"], val)
        except Exception:
            return None

    return prune_files(files, skip_filters, partition_disproves, bounds,
                       literal)


def _absolute(path: str) -> str:
    """Local paths -> abspath; URIs stay as-is (manifest file_path is
    required to be a full location by the spec)."""
    return path if urlparse(path).scheme and len(urlparse(path).scheme) > 1 \
        else os.path.abspath(path)


def _meta_dir(path: str) -> str:
    return fsio.join(path, "metadata")


def is_iceberg_table(path: str) -> bool:
    try:
        return fsio.get_fs(path).exists(
            fsio.join(_meta_dir(path), "version-hint.text"))
    except Exception:
        return False


def _current_metadata(path: str, for_write: bool = False) -> tuple[int, dict]:
    fs = fsio.get_fs(path)
    v = int(fs.read_bytes(
        fsio.join(_meta_dir(path), "version-hint.text")).decode().strip())
    meta = json.loads(fs.read_bytes(
        fsio.join(_meta_dir(path), f"v{v}.metadata.json")).decode())
    fv = meta.get("format-version", 1)
    if fv > 3:
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is format-version {fv}; this "
            "implementation reads and writes v1-v3 only")
    if fv == 3:
        _gate_v3_schema(path, meta)
    if for_write:
        # optimistic-concurrency basis (r10): _commit_snapshot compares
        # this against the hint at CLAIM time — a writer that planned
        # against v{N} must not commit v{M+1} over an interleaved
        # commit's v{M} (its stale meta would silently drop that
        # snapshot). Stripped by _dump_meta before serialization.
        meta["__base_version"] = v
    return v, meta


def _dump_meta(meta: dict) -> bytes:
    """Serialize table metadata, stripping writer-internal keys."""
    meta.pop("__base_version", None)
    return json.dumps(meta).encode()


# v3 adds types this engine cannot faithfully project into Spark —
# refuse loudly rather than silently coerce (spec v3 §Primitive Types).
_UNSUPPORTED_V3_TYPES = {
    "unknown", "geometry", "geography",
    "timestamp_ns", "timestamptz_ns",
}


def _type_field_ids(t):
    """All field ids a (possibly nested) iceberg type allocates —
    struct field ids, list element-id, map key-id/value-id (spec
    §Schemas: every one draws from the same table-wide id space that
    ``last-column-id`` must cover)."""
    if not isinstance(t, dict):
        return
    kind = t.get("type")
    if kind == "struct":
        for f in t.get("fields") or []:
            yield int(f["id"])
            yield from _type_field_ids(f.get("type"))
    elif kind == "list":
        if t.get("element-id") is not None:
            yield int(t["element-id"])
        yield from _type_field_ids(t.get("element"))
    elif kind == "map":
        for k in ("key-id", "value-id"):
            if t.get(k) is not None:
                yield int(t[k])
        yield from _type_field_ids(t.get("key"))
        yield from _type_field_ids(t.get("value"))


def _max_field_id(schema: dict) -> int:
    """Highest field id a schema allocates, nested ids included."""
    out = 0
    for f in schema.get("fields") or []:
        out = max(out, int(f["id"]),
                  *(list(_type_field_ids(f.get("type"))) or [0]))
    return out


def _gate_v3_schema(path: str, meta: dict) -> None:
    """Refuse v3 tables whose schema uses v3-only types or non-null
    ``initial-default`` field defaults (a default-bearing column must be
    filled per-file — only for data files written BEFORE the column was
    added — which this reader does not track)."""
    for schema in meta.get("schemas") or [meta.get("schema") or {}]:
        for f in schema.get("fields") or []:
            t = f.get("type")
            if isinstance(t, str) and (
                    t in _UNSUPPORTED_V3_TYPES
                    or t.startswith(("geometry(", "geography("))):
                raise UnsupportedTableFeature(
                    f"iceberg v3 table at {path} uses type {t!r} "
                    f"(field {f.get('name')!r}) — unsupported")
            if f.get("initial-default") is not None:
                dt = f.get("type")
                ok = isinstance(dt, str) and (
                    dt in _ICE_TO_SPARK or dt.startswith("decimal"))
                if not ok:
                    raise UnsupportedTableFeature(
                        f"iceberg v3 table at {path}: field "
                        f"{f.get('name')!r} carries an initial-default "
                        f"of non-primitive type {dt!r} — unsupported")


def _ice_schema_for(
    df: DataFrame, base: dict | None = None, last_column_id: int = 0,
    keep_wider: bool = True,
) -> dict:
    """Iceberg schema for ``df``. With ``base`` (the table's current
    schema), field ids are STABLE: columns present in the base keep
    their ids, new columns get fresh ids past ``last_column_id`` — the
    spec's evolution rule, and what keeps equality-delete field ids
    meaningful across commits. ``keep_wider`` keeps the base's type
    for a column the frame carries narrower (int under long): files
    that stay in the table need it; a full overwrite does not."""
    base_fields = {f["name"]: f for f in (base or {}).get("fields", [])}
    counter = [max(last_column_id, _max_field_id(base or {}))]
    fields = []
    for f in df.schema.fields:
        bf = base_fields.get(f.name)
        if bf is not None and (
                _ice_to_spark_type(bf["type"]) == f.dataType
                or keep_wider and _promotes(
                    _spark_to_ice_type(f.dataType, [0]), bf["type"])):
            # unchanged column, or one the frame carries narrower than
            # the table (it reads back widened): keep the base type
            # VERBATIM — top-level and nested field ids stay stable
            # across commits (spec §Schema Evolution), and bounds
            # encode under the table's type
            fields.append({"id": bf["id"], "name": f.name,
                           "required": False, "type": bf["type"]})
            continue
        if bf is not None and isinstance(bf["type"], str):
            # same name, primitive then and now: id stays, type
            # re-derives (promotion rides the same id)
            fid = bf["id"]
        else:
            counter[0] += 1
            fid = counter[0]
        fields.append({"id": fid, "name": f.name, "required": False,
                       "type": _spark_to_ice_type(f.dataType, counter)})
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _spark_to_ice_type(dt, counter: list[int]):
    """Recursive Spark DataType -> iceberg type (spec §Schemas).
    Nested structures allocate fresh field ids from the shared
    ``counter`` — struct fields, list element-id, map key-id/value-id
    all draw from the table-wide id space."""
    tn = dt.typeName()
    prim = _SPARK_TO_ICE.get(tn)
    if prim is not None:
        return prim
    if tn == "decimal":
        return f"decimal({dt.precision}, {dt.scale})"
    if tn == "variant":
        return "variant"
    if tn == "struct":
        fields = []
        for f in dt.fields:
            counter[0] += 1
            fid = counter[0]
            fields.append({"id": fid, "name": f.name,
                           "required": False,
                           "type": _spark_to_ice_type(f.dataType,
                                                      counter)})
        return {"type": "struct", "fields": fields}
    if tn == "array":
        counter[0] += 1
        eid = counter[0]
        return {"type": "list", "element-id": eid,
                "element-required": False,
                "element": _spark_to_ice_type(dt.elementType, counter)}
    if tn == "map":
        counter[0] += 1
        kid = counter[0]
        counter[0] += 1
        vid = counter[0]
        return {"type": "map",
                "key-id": kid,
                "key": _spark_to_ice_type(dt.keyType, counter),
                "value-id": vid, "value-required": False,
                "value": _spark_to_ice_type(dt.valueType, counter)}
    return "string"


def _ice_to_spark_type(ice_t):
    """Recursive iceberg type -> Spark DataType (spec §Schemas,
    including v3 ``variant`` and the nested struct/list/map forms)."""
    from pyspark.sql import types as T

    if isinstance(ice_t, str):
        if ice_t.startswith("decimal"):
            return _parse_ddl_type(ice_t)
        if ice_t == "variant":
            return T.VariantType()
        return _parse_ddl_type(_ICE_TO_SPARK.get(ice_t, "string"))
    kind = (ice_t or {}).get("type")
    if kind == "struct":
        return T.StructType([
            T.StructField(f["name"], _ice_to_spark_type(f.get("type")),
                          True)
            for f in ice_t.get("fields") or []])
    if kind == "list":
        return T.ArrayType(_ice_to_spark_type(ice_t.get("element")),
                           True)
    if kind == "map":
        return T.MapType(_ice_to_spark_type(ice_t.get("key")),
                         _ice_to_spark_type(ice_t.get("value")), True)
    return T.StringType()


_ICE_TO_SPARK = {
    "long": "long", "int": "integer", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "binary": "binary",
    "date": "date", "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
}


def _current_schema(meta: dict) -> dict | None:
    """The table's current schema: the ``schemas`` entry named by
    ``current-schema-id`` (v2), else the inline v1 ``schema``, else the
    first ``schemas`` entry."""
    cur_id = meta.get("current-schema-id")
    schemas = meta.get("schemas") or []
    return next((s for s in schemas if s.get("schema-id") == cur_id),
                None) or meta.get("schema") or (schemas or [None])[0]


def _spark_schema(meta: dict):
    """Spark StructType for the table's current Iceberg schema (spec
    §Schemas primitive types; decimals pass through verbatim)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(f["name"], _ice_to_spark_type(f["type"]), True)
        for f in _current_schema(meta)["fields"]])


def _parse_ddl_type(name: str):
    """Atomic type name (incl. ``decimal(p, s)``) -> Spark DataType. The
    pure-Python JSON-name parser covers every name this module
    generates and needs no JVM round trip — every read definition
    builds the table schema, one field at a time."""
    from pyspark.sql import types as T

    return T._parse_datatype_json_value(name.replace(" ", ""))


def _active_entries(
    path: str, meta: dict, snapshot_id: int | None,
) -> tuple[list[dict], list[dict], list[dict]]:
    """-> (data_files, positional_delete_files, equality_delete_files)
    for a snapshot.

    v2 manifests mark ``data_file.content``: 0/absent = data, 1 =
    position deletes, 2 = equality deletes (both applied in
    read_iceberg). Every returned dict carries ``__seq`` — the entry's
    data sequence number, inherited from the manifest-list entry when
    the manifest entry leaves it null (spec §Sequence Number
    Inheritance); files from a pre-upgrade v1 table default to 0."""
    snaps = meta.get("snapshots") or []
    sid = snapshot_id if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
    if snap is None:
        return [], [], []
    _, manifests = read_avro(snap["manifest-list"])
    files: list[dict] = []
    pos_deletes: list[dict] = []
    eq_deletes: list[dict] = []
    # manifests are independent objects — fan the reads out (FastAppend
    # lists grow one manifest per commit between consolidations, and on
    # an object store each read is a sequential round-trip otherwise)
    if len(manifests) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(manifests))) as ex:
            bodies = list(ex.map(
                lambda m: read_avro(m["manifest_path"])[1], manifests))
    else:
        bodies = [read_avro(m["manifest_path"])[1] for m in manifests]
    for m, entries in zip(manifests, bodies):
        mseq = m.get("sequence_number")
        for e in entries:
            if e["status"] == 2:  # 2 = DELETED
                continue
            df_ = dict(e["data_file"])
            seq = e.get("sequence_number")
            df_["__seq"] = mseq if seq is None else seq
            df_["__snap_id"] = e.get("snapshot_id")
            # the spec this file was written under rides the manifest
            # header; carried files keep it across commits (partition
            # evolution: one manifest per spec id)
            df_["__spec_id"] = int(m.get("partition_spec_id") or 0)
            content = df_.get("content") or 0
            if content == 0:
                files.append(df_)
            elif content == 1:
                pos_deletes.append(df_)
            else:
                eq_deletes.append(df_)
    return files, pos_deletes, eq_deletes


def _active_files(path: str, meta: dict, snapshot_id: int | None) -> list[dict]:
    """Data files only (delete files excluded)."""
    return _active_entries(path, meta, snapshot_id)[0]


def _added_files_of(meta: dict, snapshot_id: int) -> int:
    """Added-data-file count of a snapshot committed from THIS ``meta``
    (``_commit_snapshot`` appends the snapshot with its Appendix-F
    summary) — O(1) from the summary instead of the O(table-files)
    post-commit manifest replay the write paths used to run just to
    report ``new_files`` (r15, guide §1.2: on a 100 TB table that
    replay re-reads every manifest once per micro-batch commit)."""
    for s in reversed(meta.get("snapshots") or []):
        if s["snapshot-id"] == snapshot_id:
            return int((s.get("summary") or {})
                       .get("added-data-files") or 0)
    return 0


def _live_delete_files(
    keep: list[dict], pos_dels: list[dict], eq_dels: list[dict],
) -> list[dict]:
    """The delete files still capable of binding a KEPT data file —
    what a new snapshot should carry. When nothing is kept, none are
    (rewritten rows sit at a higher sequence number). An equality
    delete binds only data files with a STRICTLY smaller sequence
    number, so one at or below every kept file's seq is dead and
    retires — otherwise every compaction/merge would grow the delete
    manifest monotonically and every read would scan dead delete files
    forever. Positional deletes name exact paths (unknown without
    reading them) and stay while any file is kept."""
    if not keep:
        return []
    min_kept = min(int(f.get("__seq") or 0) for f in keep)
    return pos_dels + [d for d in eq_dels
                       if int(d.get("__seq") or 0) > min_kept]


def _norm_path_col(c):
    """SQL-side twin of :func:`_canon`: manifests store literal absolute
    paths while ``_metadata.file_path`` is a percent-encoded file: URI —
    normalize both to one comparable form."""
    from pyspark.sql import functions as F

    return F.url_decode(F.regexp_replace(c, "^file:(//)?", ""))


def _apply_equality_deletes(
    spark, df: DataFrame, eq_deletes: list[dict], meta: dict,
    data_files: list[dict],
) -> DataFrame:
    """Merge-on-read equality deletes (spec §Equality Delete Files): a
    delete row removes data rows whose values null-safe-equal it on the
    ``equality_ids`` columns, in data files with a STRICTLY SMALLER data
    sequence number. One left-anti join per distinct equality-column
    set, with the seq bound folded into the join condition; the data
    side learns its file's sequence number via a broadcast join on the
    normalized file path (driver already holds the manifest entries).

    Expects ``__fp`` (normalized file path) precomputed on ``df`` by
    :func:`_mor_read` — ``_metadata`` only resolves directly on the file
    scan, not after joins — and leaves it in place."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # resolve field ids against the CURRENT schema (spec: current-schema-id
    # picks from schemas[]; names from an older schema would be wrong
    # after a rename/evolution). Fall back to v1's inline "schema".
    current = _current_schema(meta)
    if current is None:
        raise UnsupportedTableFeature("iceberg metadata carries no schema")
    id_to_name = {f["id"]: f["name"] for f in current["fields"]}
    types = {f.name: f.dataType for f in _spark_schema(meta).fields}

    seq_rows = [(_canon(f["file_path"]), int(f["__seq"] or 0))
                for f in data_files]
    seq_df = local_df(spark, seq_rows, "__fp string, __seq long")
    # left join + loud null check: an inner join would silently DROP any
    # data row whose path failed to match the manifest (e.g. an escaping
    # quirk between _canon and _norm_path_col) — losing rows beats
    # nothing, erroring beats both
    left = df.join(F.broadcast(seq_df), "__fp", "left").withColumn(
        "__seq",
        F.when(F.col("__seq").isNull(), F.raise_error(F.lit(
            "iceberg equality-delete: data file path not found in "
            "manifest sequence map — path normalization mismatch"
        ))).otherwise(F.col("__seq")))

    groups: dict[tuple, list[dict]] = {}
    for d in eq_deletes:
        ids = tuple(sorted(d.get("equality_ids") or ()))
        if not ids:
            raise UnsupportedTableFeature(
                "equality delete file without equality_ids")
        groups.setdefault(ids, []).append(d)

    for ids, dels in groups.items():
        try:
            cols = [id_to_name[i] for i in ids]
        except KeyError as e:
            raise UnsupportedTableFeature(
                f"equality delete references unknown field id {e}")
        branches = []
        for d in dels:
            if d["__seq"] is None:
                raise UnsupportedTableFeature(
                    "equality delete file without a sequence number")
            branches.append(
                spark.read.schema(T.StructType(
                    [T.StructField(c, types[c]) for c in cols]))
                .parquet(d["file_path"])
                .withColumn("__dseq", F.lit(int(d["__seq"]))))
        dd = branches[0]
        for b in branches[1:]:
            dd = dd.unionByName(b)
        dd = dd.select(*[F.col(c).alias(f"__d_{c}") for c in cols], "__dseq")
        cond = reduce(
            lambda a, b: a & b,
            [left[c].eqNullSafe(dd[f"__d_{c}"]) for c in cols],
        ) & (left["__seq"] < dd["__dseq"])
        left = left.join(dd, cond, "left_anti")
    return left.drop("__seq")


def _apply_positional_deletes(spark, df: DataFrame, deletes: list[dict]):
    """Merge-on-read: anti-join the scan against the (file_path, pos)
    rows of the snapshot's positional delete files (spec §Position
    Delete Files) and v3 deletion vectors (spec v3 §Deletion Vectors,
    Puffin-stored — entries with ``file_format`` PUFFIN). Spark-native:
    `_metadata.row_index` supplies the row's ordinal within its parquet
    file, so no per-row Python and no extra scan pass. Delete rows are
    tiny next to data — AQE broadcasts the anti-join side. Both kinds
    name exact data file paths (UUID names are never reused), so
    path+pos matching needs no sequence-number ordering.

    Expects ``__fp``/``__pos`` precomputed on ``df`` by
    :func:`_mor_read`; drops ``__pos``, leaves ``__fp``."""
    from pyspark.sql import functions as F

    parq, dvs = [], []
    for f in deletes:
        fmt = (f.get("file_format") or "PARQUET").upper()
        (dvs if fmt == "PUFFIN" else parq).append(f)
    right = None
    if parq:
        dd = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
            *[f["file_path"] for f in parq])
        right = dd.select(_norm_path_col(F.col("file_path")).alias("__fp"),
                          F.col("pos").alias("__pos"))
    if dvs:
        dv_rows = _dv_deleted_df(spark, dvs)
        right = dv_rows if right is None else right.unionByName(dv_rows)
    return df.join(right, ["__fp", "__pos"], "left_anti").drop("__pos")


def _dv_deleted_df(spark, dvs: list[dict]) -> DataFrame:
    """v3 deletion-vector entries -> a (__fp, __pos) DataFrame:
    :func:`delta_dv.deleted_positions_df` with the Puffin blob decode
    and the manifest's ``record_count`` as the cardinality. The driver
    reads each Puffin delete file ONCE through fsio (they are tiny next
    to data; entries sharing a file share the read) and slices each
    blob by the manifest's ``content_offset``/``content_size_in_bytes``."""
    import base64

    from sling_cli_spark.sources import puffin
    from sling_cli_spark.sources.delta_dv import deleted_positions_df

    file_bytes: dict[str, bytes] = {}
    items = []
    for d in dvs:
        ref = d.get("referenced_data_file")
        if not ref:
            raise UnsupportedTableFeature(
                "iceberg v3 deletion vector without referenced_data_file")
        off, size = d.get("content_offset"), d.get("content_size_in_bytes")
        if off is None or size is None:
            raise UnsupportedTableFeature(
                "iceberg v3 deletion vector without content_offset/"
                "content_size_in_bytes")
        p = d["file_path"]
        if p not in file_bytes:
            file_bytes[p] = fsio.get_fs(p).read_bytes(p)
        blob = file_bytes[p][int(off):int(off) + int(size)]
        if len(blob) != int(size):
            raise ValueError(
                f"puffin blob at {p}:{off} truncated "
                f"({len(blob)} of {size} bytes)")
        items.append((_canon(ref), int(d.get("record_count") or 0),
                      base64.b64encode(blob).decode()))
    return deleted_positions_df(
        spark, items,
        lambda b64: puffin.dv_blob_indices(base64.b64decode(b64)))


def _initial_defaults(meta: dict) -> dict[str, tuple]:
    """Current-schema fields carrying a v3 ``initial-default`` ->
    {name: (json_value, iceberg_type)}."""
    cur = _current_schema(meta) or {}
    return {f["name"]: (f["initial-default"], f["type"])
            for f in cur.get("fields") or []
            if f.get("initial-default") is not None}


def _fill_initial_defaults(df, files: list[dict], defaults: dict):
    """v3 §Default values: a field's ``initial-default`` is the value
    of every row written BEFORE the field was added — i.e. rows from
    data files whose parquet footer lacks the column. Rows from files
    that HAVE the column keep their stored value, including genuine
    nulls, so a blanket coalesce would be wrong; the fill keys on the
    row's source file (``__fp``, precomputed on the raw scan).

    The footer probe (pyarrow, driver-side, one tiny read per file)
    runs ONLY when the current schema actually carries defaults —
    tables without them never pay it. A column absent from EVERY file
    reads the default on every row."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark_type = {
        t: _ICE_TO_SPARK.get(t, t) for t in
        {it for _, it in defaults.values()}}
    missing: dict[str, list[str]] = {}
    for f in files:
        p = f["file_path"]
        try:
            names = set(pq.read_schema(p).names)
        except Exception as ex:
            raise UnsupportedTableFeature(
                f"initial-default fill needs the parquet footer of {p} "
                f"({ex}) — cannot tell which rows predate the column")
        for name in defaults:
            if name not in names:
                missing.setdefault(name, []).append(_canon(p))
    for name, (val, ice_t) in defaults.items():
        st = spark_type[ice_t] if not str(ice_t).startswith("decimal") \
            else str(ice_t)
        lit = F.lit(val).cast(st)
        if name in missing:
            df = df.withColumn(
                name, F.when(F.col("__fp").isin(missing[name]), lit)
                .otherwise(F.col(name)))
    return df


def _mor_read(
    spark, path: str, meta: dict, files: list[dict],
    pos_dels: list[dict], eq_dels: list[dict],
    empty_schema=None, keep_file_col: bool = False,
    with_row_ids: bool = False,
) -> DataFrame:
    """Scan a set of data-file entries with the snapshot's delete files
    applied merge-on-read. Every parquet scan carries the table's
    current schema (:func:`_spark_schema`), so defining the read runs
    no footer-inference job: files written before a column was added
    read it as null, promoted columns (int -> long, float -> double)
    read as the promoted type, and columns outside the schema (e.g.
    materialized lineage ids) stay out.

    ``_metadata.file_path`` / ``row_index`` are captured into
    ``__fp``/``__pos`` ONCE, directly on the scan (they do not resolve
    after a join), then shared by the positional anti-join, the
    equality sequence map, the v3 initial-default fill, and
    (``keep_file_col=True``) the caller's touched-file detection via
    ``__file``.

    ``with_row_ids=True`` (spec v3 §Row Lineage) appends ``_row_id`` /
    ``_last_updated_sequence_number``: the file's MATERIALIZED column
    value when non-null (rewrites thread ids through), else
    ``first_row_id + row position`` / the file's data sequence number —
    computed BEFORE delete application (a DV filters rows; positions
    and therefore ids of survivors are unchanged). The per-file
    (first_row_id, seq) pair is manifest metadata the driver already
    holds, broadcast-joined on ``__fp``; the id arithmetic is
    whole-stage-codegen column math — one JVM-side pass at any scale.
    Files from pre-v3 manifests (null ``first_row_id``) yield null ids,
    per spec."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    lineage = [T.StructField(c, T.LongType()) for c in _LINEAGE_COLS] \
        if with_row_ids else []
    if not files:
        sch = empty_schema or _spark_schema(meta)
        df = local_df(spark, [], T.StructType(list(sch.fields) + lineage))
        return df.withColumn("__file", F.lit(None).cast("string")) \
            if keep_file_col else df
    schema = T.StructType(list(_spark_schema(meta).fields) + lineage)
    defaults = _initial_defaults(meta) \
        if meta.get("format-version", 1) >= 3 else {}
    need_fp = keep_file_col or bool(pos_dels) or bool(eq_dels) \
        or bool(defaults) or with_row_ids
    shapes = {frozenset((f.get("partition") or {}).keys()) for f in files}
    # migrated tables (migrate_to_iceberg): adopted files sit at the
    # table ROOT's Hive dirs while later commits land under data/ —
    # partition dirs at mixed depths break Spark's inference
    # (CONFLICTING_DIRECTORY_STRUCTURES), so such snapshots read via
    # the manifest-attached grouped branches like evolved layouts
    data_base = _absolute(fsio.join(path, "data")) + "/"
    under_data = [_canon(f["file_path"]).startswith(data_base)
                  for f in files]
    mixed_roots = any(under_data) and not all(under_data) \
        and next(iter(shapes))  # unpartitioned mixed roots are fine
    if len(shapes) > 1 or mixed_roots:
        # partition evolution left files under MORE THAN ONE layout —
        # dir inference cannot span them, so union one branch per
        # distinct partition tuple with the manifests' values attached
        df = _grouped_partition_read(
            spark, files, schema, need_fp,
            need_pos=bool(pos_dels) or with_row_ids)
    else:
        fpaths = sorted(f["file_path"] for f in files)
        reader = spark.read.schema(schema)
        shape = next(iter(shapes))
        identity = {f["name"] for s in meta.get("partition-specs") or []
                    for f in (s.get("fields") or [])
                    if f.get("transform", "identity") == "identity"}
        if shape and shape <= identity:
            # identity-transform layout: partition values live in the
            # Hive dirs; basePath restores them as columns. A TRANSFORM
            # layout (day/bucket/truncate) must NOT do this — the dirs
            # hold transformed values under a derived name (e.g.
            # ts_day) and basePath would graft that spurious column
            # onto the scan; the SOURCE columns are already inside the
            # data files (spec: transformed fields never replace their
            # source column), so a plain file-path read returns the
            # correct table schema. Keyed on the FILES' shape, not the
            # default spec — after evolution every retained file may
            # still sit under an older uniform layout.
            # UniForm metadata references the DELTA table's files,
            # which live under the table ROOT, not data/ — pick the
            # base every file actually sits under
            for base in (_absolute(fsio.join(path, "data")),
                         _absolute(path)):
                if all(_canon(f["file_path"]).startswith(base + "/")
                       for f in files):
                    reader = reader.option("basePath", base)
                    break
        df = reader.parquet(*fpaths)
        if need_fp:
            df = df.withColumn(
                "__fp", _norm_path_col(F.col("_metadata.file_path")))
        if with_row_ids and "__pos" not in df.columns:
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
    if with_row_ids:
        fmap = local_df(spark, 
            [(_canon(f["file_path"]),
              None if f.get("first_row_id") is None
              else int(f["first_row_id"]),
              int(f.get("__seq") or 0)) for f in files],
            "__fp string, __frid long, __fseq long")
        df = df.join(F.broadcast(fmap), "__fp", "left")
        rid = F.coalesce(F.col("_row_id"), F.col("__frid") + F.col("__pos"))
        seq = F.coalesce(
            F.col("_last_updated_sequence_number"),
            F.when(F.col("__frid").isNotNull(), F.col("__fseq")))
        df = df.withColumn("_row_id", rid.cast("long")) \
            .withColumn("_last_updated_sequence_number",
                        seq.cast("long")) \
            .drop("__frid", "__fseq")
    if defaults:
        df = _fill_initial_defaults(df, files, defaults)
    if pos_dels:
        if "__pos" not in df.columns:  # grouped path captured per-branch
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
        df = _apply_positional_deletes(spark, df, pos_dels)
    if eq_dels:
        df = _apply_equality_deletes(spark, df, eq_dels, meta, files)
    if "__pos" in df.columns:
        # internal — _apply_positional_deletes drops it on its path;
        # the row-id path must too, or a downstream rewrite would
        # stage it as a real table column
        df = df.drop("__pos")
    if keep_file_col:
        df = df.withColumnRenamed("__fp", "__file")
    elif need_fp:
        df = df.drop("__fp")
    return df


def _grouped_partition_read(
    spark, files: list[dict], schema, need_fp: bool,
    need_pos: bool = False,
) -> DataFrame:
    """Scan for a snapshot whose files span MULTIPLE partition layouts
    (spec §Partition Evolution): one parquet branch per distinct
    partition TUPLE, reading ``schema`` minus the identity partition
    columns, whose values attach as typed literals from the manifests
    (the log already holds them — no dir inference); branches union by
    name. ``__fp``/``__pos`` are captured per branch — metadata columns
    do not resolve through a union. The plan grows with distinct
    partition tuples in the snapshot, the same bound as delta_py's
    mapped-partitioned read."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    types = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[dict]] = {}
    for f in files:
        key = tuple(sorted((f.get("partition") or {}).items()))
        groups.setdefault(key, []).append(f)
    branches = []
    for key, grp in sorted(groups.items(),
                           key=lambda kv: tuple(map(str, kv[0]))):
        gpaths = sorted(g["file_path"] for g in grp)
        attached = {name: val for name, val in key if name in types}
        df = spark.read.schema(T.StructType(
            [f for f in schema.fields if f.name not in attached])) \
            .parquet(*gpaths)
        if need_fp:
            df = df.withColumn(
                "__fp", _norm_path_col(F.col("_metadata.file_path")))
        if need_pos:
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
        for name, val in attached.items():
            df = df.withColumn(name, F.lit(val).cast(types[name]))
        branches.append(df)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _rl_attach_preserved(
    spark, path: str, meta: dict, entries: list[dict],
    pos_dels: list[dict], eq_dels: list[dict],
    replacement: DataFrame, updated_keys: DataFrame | None, pk: list[str],
) -> DataFrame:
    """Materialize row-lineage ids into a rewrite's output (spec v3
    §Row Lineage Writer Requirements; the format twin of
    ``delta_py._rt_attach_preserved``): rewritten rows keep their
    ``_row_id``; UPDATED rows null their ``_last_updated_sequence_number``
    (readers then derive the new file's data sequence number) while
    untouched rows keep theirs — :func:`lake_core.attach_preserved`
    over the touched entries' (pk -> id) mapping. Rows absent from the
    mapping (inserts) materialize NULL and read fresh ids from the new
    file's ``first_row_id``. ``updated_keys`` None = pure rearrangement
    (compaction-style): both ids preserved verbatim. No-op below v3."""
    if int(meta.get("format-version", 1)) < 3:
        return replacement
    from pyspark.sql import functions as F

    mapping = _mor_read(spark, path, meta, entries, pos_dels, eq_dels,
                        with_row_ids=True).select(
        *pk, F.col("_row_id").alias(RID),
        F.col("_last_updated_sequence_number").alias(SEQ))
    return attach_preserved(replacement, mapping, updated_keys, pk,
                            "_row_id", "_last_updated_sequence_number")


def read_iceberg_incremental(
    spark: SparkSession, path: str, since_seq: int,
) -> DataFrame:
    """Rows created OR updated after data sequence number ``since_seq``
    — the v3-row-lineage incremental-consumer read (spec v3 §Row
    Lineage: ``_last_updated_sequence_number``), and the reason a CDC
    pipeline over a v3 warehouse table needs no change-data files.

    METADATA-LEVEL pruning does the heavy lifting: a row's seq is its
    materialized value (always <= the carrying file's data sequence
    number — rewrites only carry ids BACKWARD in time) or the file's
    own seq, so a file with ``__seq <= since_seq`` cannot hold a
    qualifying row and is skipped WITHOUT opening — the driver decides
    from manifest entries it already has. Only files committed after
    the watermark scan, then a row filter drops their carried-forward
    old rows (a rewrite copies untouched rows into new files at a
    higher file seq; their materialized seq keeps them out). Cost
    scales with data touched since the watermark, not table size.

    Returns the table columns + ``_row_id`` +
    ``_last_updated_sequence_number``; the caller's next watermark is
    the table's ``last-sequence-number``. Requires format-version 3."""
    from pyspark.sql import functions as F

    _, meta = _current_metadata(path)
    if int(meta.get("format-version", 1)) < 3:
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is format-version "
            f"{meta.get('format-version', 1)}; incremental-by-lineage "
            "requires v3 (row lineage)")
    files, pos_dels, eq_dels = _active_entries(path, meta, None)
    fresh = [f for f in files if int(f.get("__seq") or 0) > since_seq]
    untracked = [f for f in fresh if f.get("first_row_id") is None]
    if untracked:
        # pre-v3-upgrade files have no lineage: their rows' seq reads
        # null and would be SILENTLY dropped from the increment —
        # refuse loudly instead (our writer always assigns; this hits
        # only foreign tables upgraded without manifest rewrite)
        raise UnsupportedTableFeature(
            f"iceberg table at {path}: {len(untracked)} active file(s) "
            "past the watermark carry no first_row_id (written before "
            "the v3 upgrade) — incremental-by-lineage cannot cover "
            "them; rewrite them (compact) first")
    out = _mor_read(spark, path, meta, fresh, pos_dels, eq_dels,
                    with_row_ids=True)
    return out.filter(
        F.col("_last_updated_sequence_number") > F.lit(int(since_seq)))


def read_iceberg(
    spark: SparkSession, path: str, snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None, skip_filters=None,
    ref: str | None = None, with_row_ids: bool = False,
) -> DataFrame:
    """Scan the current (or a specific) snapshot. The scan carries the
    table's current schema, so defining it runs no Spark job, and files
    predating an evolved column (e.g. the soft-delete op column) read
    it as null — the spec's read-time projection semantics.
    v2 tables' positional AND equality delete files are applied
    merge-on-read (_apply_positional_deletes /
    _apply_equality_deletes). ``as_of_timestamp_ms`` time-travels to
    the latest snapshot at or before the instant (the spec's
    ``timestamp-ms`` snapshot field); an instant before the first
    snapshot reads empty. ``skip_filters`` (``(col, op, value)``
    conjuncts) prunes data files via the manifests' value bounds
    BEFORE the scan is built (:func:`prune_files_by_bounds`); the
    caller still applies the row filter. ``ref`` (spec §Refs) reads at
    a named tag or branch head — ``VERSION AS OF 'name'``.

    ``with_row_ids=True`` (spec v3 §Row Lineage; the format twin of
    ``delta_py.read_delta(with_row_ids=True)``) appends ``_row_id`` /
    ``_last_updated_sequence_number`` — see :func:`_mor_read`. Requires
    format-version 3 (where the writer assigns ``first_row_id`` ranges
    and maintains ``next-row-id``)."""
    _, meta = _current_metadata(path)
    if with_row_ids and int(meta.get("format-version", 1)) < 3:
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is format-version "
            f"{meta.get('format-version', 1)}; row lineage "
            "(_row_id / _last_updated_sequence_number) requires v3 — "
            "create the table with write_iceberg(format_version=3)")
    if ref is not None:
        r = (meta.get("refs") or {}).get(ref)
        if not r:
            raise ValueError(f"unknown ref {ref!r} at {path}")
        snapshot_id = int(r["snapshot-id"])
    if snapshot_id is None and as_of_timestamp_ms is not None:
        eligible = [s for s in meta.get("snapshots") or []
                    if s.get("timestamp-ms", 0) <= as_of_timestamp_ms]
        if not eligible:
            return local_df(spark, [], _spark_schema(meta))
        snapshot_id = max(
            eligible, key=lambda s: s["timestamp-ms"])["snapshot-id"]
    files, pos_dels, eq_dels = _active_entries(path, meta, snapshot_id)
    if skip_filters:
        files = prune_files_by_bounds(files, skip_filters, meta)
    return _mor_read(spark, path, meta, files, pos_dels, eq_dels,
                     with_row_ids=with_row_ids)


def merge_iceberg(
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
    branch: str = "main",
) -> dict:
    """MERGE as a new snapshot: data files holding matched PKs are
    replaced copy-on-write (carried forward files keep status 0,
    replaced ones are simply not carried), so readers of older
    snapshots still see the pre-merge table — same contract as
    :func:`delta_py.merge_delta`.

    With DV production on (``use_dvs=True``, or a v3 table with
    ``write.delete.mode=merge-on-read``), matched rows are instead
    DV-deleted in place (spec v3 §Deletion Vectors: new Puffin vector
    per touched file, superseding any prior DV) and the merge output
    appends as new files — a sparse merge never rewrites a data file.
    Dense merges (> ``max_dv_rows`` matched positions) fall back to
    CoW.

    Returns {"touched": n, "new_files": n, "kept": n, "snapshot_id": id}
    (+ "dv_files" on the DV path).
    """
    from pyspark.sql import functions as F

    from sling_cli_spark.config import MergeStrategy
    from sling_cli_spark.operators.merge import merge_dataframes

    strategy = strategy or MergeStrategy.UPDATE_INSERT
    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    _, meta = _current_metadata(path, for_write=True)
    active, pos_dels, eq_dels = _active_entries(
        path, meta, _branch_head(meta, branch))
    part_cols = _part_cols(meta)
    target = _mor_read(spark, path, meta, active, pos_dels, eq_dels)

    touched: set[str] = set()
    if strategy == MergeStrategy.INSERT:
        replacement = src.join(target.select(*pk), on=pk, how="left_anti")
    elif strategy == MergeStrategy.HISTORY_INSERT:
        replacement = src
    else:
        # partition prune: the probe scans only files whose manifest
        # partition values match a partition present in the batch —
        # transform fields included (the batch's DERIVED partition
        # values are computed with the same Catalyst transform exprs
        # the writer stages with)
        candidates = active
        src_parts = _with_spec_partition_cols(src, meta)
        if part_cols and src_parts is not None:
            # both sides in Spark's unquoted Hive-dir string form
            # (nulls -> __HIVE_DEFAULT_PARTITION__, booleans lowercase)
            # so the comparison can't silently miss candidate files
            batch_parts = {
                tuple(hive_partition_str(r[c]) for c in part_cols)
                for r in
                src_parts.select(*part_cols).distinct().collect()}
            candidates = [
                f for f in active
                # a file written under an OLDER spec (partition
                # evolution) lacks the default spec's keys — it stays
                # a candidate (scanning more is safe; pruning it could
                # skip matched rows)
                if not set(part_cols) <= set(f.get("partition") or {})
                or tuple((f.get("partition") or {}).get(c, _HIVE_NULL)
                         for c in part_cols) in batch_parts]
        cdc_cols = {}
        if seq_col:
            cdc_cols["seq_col"] = seq_col
        if op_col:
            cdc_cols["op_col"] = op_col
        dv = None
        if candidates and _dv_writes_enabled_ice(meta, use_dvs, "merge") \
                and all((d.get("file_format") or "PARQUET").upper()
                        == "PUFFIN" for d in pos_dels):
            # the doomed-positions scan over the pruned candidates
            # doubles as the touched-file probe: one scan, not two
            dv = _produce_dvs_ice(
                spark, path, meta, candidates, pos_dels, pk, src,
                doom_matched=True, max_dv_rows=max_dv_rows)
        if dv is not None:
            # matched rows DV-delete in place; the merge output over
            # the MATCHED subset (updated + inserted rows — unmatched
            # target rows never leave their file) appends as new files.
            # doomed may be EMPTY (pure-insert batch): the merge over
            # zero matched rows still appends the inserted rows.
            dv_rows, _, dead = dv
            doomed = set(dv_rows) | dead
            doomed_entries = [f for f in candidates
                              if _canon(f["file_path"]) in doomed]
            matched_rows = _mor_read(
                spark, path, meta, doomed_entries, pos_dels, eq_dels,
                empty_schema=target.schema).join(
                src.select(*pk).distinct(), on=pk, how="left_semi")
            appended = merge_dataframes(
                matched_rows, src, pk, strategy=strategy,
                update_key=update_key, **cdc_cols)
            sid, carried = _commit_dvs(
                appended, path, meta, active, pos_dels, eq_dels, dv,
                "overwrite", branch)
            return {"touched": len(dv_rows) + len(dead),
                    "new_files": _added_files_of(meta, sid),
                    "dv_files": len(dv_rows), "kept": len(carried),
                    "snapshot_id": sid}
        # CoW (or dense-fallback) probe: delete-applied so a row that
        # only exists in a delete-shadowed state can't mark its file
        # touched; __file (captured pre-join by _mor_read) supplies the
        # path
        probe = _mor_read(spark, path, meta, candidates, pos_dels, eq_dels,
                          empty_schema=target.schema, keep_file_col=True)
        touched = {_canon(fp) for fp in
                   touched_files(probe, "__file", src, pk)}
        touched_entries = [f for f in active
                           if _canon(f["file_path"]) in touched]
        touched_rows = _mor_read(spark, path, meta, touched_entries,
                                 pos_dels, eq_dels,
                                 empty_schema=target.schema)
        replacement = merge_dataframes(
            touched_rows, src, pk, strategy=strategy, update_key=update_key,
            **cdc_cols)
        # v3: rewritten rows keep their row ids; rows the batch updated
        # reset their last-updated sequence number to this commit's
        replacement = _rl_attach_preserved(
            spark, path, meta, touched_entries, pos_dels, eq_dels,
            replacement, updated_keys=src, pk=pk)

    keep = [f for f in active if _canon(f["file_path"]) not in touched]
    # delete files carry forward: kept data files stay merge-on-read;
    # replacement files land at a HIGHER sequence number so old equality
    # deletes no longer bind them, and positional deletes name replaced
    # paths that no longer exist in the snapshot (inert)
    snapshot_id = _commit_snapshot(
        df=replacement, path=path, meta=meta, carried=keep,
        carried_deletes=_live_delete_files(keep, pos_dels, eq_dels),
        # Spark-Iceberg MERGE commits as "overwrite" — the label gates
        # cherry-pick safety (a merge removes files implicitly; it must
        # never be republished as if it were a pure append)
        operation="overwrite", branch=branch)
    return {"touched": len(touched),
            "new_files": _added_files_of(meta, snapshot_id),
            "kept": len(keep), "snapshot_id": snapshot_id}


def delete_missing_iceberg(
    spark: SparkSession,
    path: str,
    keyset: DataFrame,
    primary_key,
    soft: bool = False,
    use_dvs: bool | None = None,
    max_dv_rows: int = 4_000_000,
    branch: str = "main",
) -> dict:
    """delete_missing as a new snapshot: only data files holding rows
    whose PK is absent from the keyset are touched; untouched files
    carry forward — same contract as
    :func:`delta_py.delete_missing_delta`.

    With DV production on (``use_dvs=True``, or a v3 table with
    ``write.delete.mode=merge-on-read``; hard deletes only), doomed
    rows commit as Puffin deletion vectors against their files instead
    of CoW rewrites (spec v3 §Deletion Vectors) — data files carry
    forward unchanged, superseded per-file DVs retire merged into the
    new vector, fully-dead files drop from the snapshot, and dense
    deletes (> ``max_dv_rows`` positions) fall back to CoW."""
    from sling_cli_spark.operators.merge import delete_missing as _dm

    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    _, meta = _current_metadata(path, for_write=True)
    active, pos_dels, eq_dels = _active_entries(
        path, meta, _branch_head(meta, branch))
    keys = keyset.select(*pk).distinct()
    # parquet position-delete files shadow unknown (file, pos) pairs a
    # raw position scan can't see — DV production needs a DV-only (or
    # delete-free) table; v3 tables are by construction
    if active and not soft and _dv_writes_enabled_ice(meta, use_dvs) \
            and all((d.get("file_format") or "PARQUET").upper() == "PUFFIN"
                    for d in pos_dels):
        # the doomed-positions scan over ALL active entries doubles
        # as the touched-file probe: one scan of the table, not two
        dv = _produce_dvs_ice(
            spark, path, meta, active, pos_dels, pk, keys,
            doom_matched=False, max_dv_rows=max_dv_rows)
        if dv is not None:
            dv_rows, _, dead = dv
            if not dv_rows and not dead:
                return {"touched": 0, "new_files": 0,
                        "kept": len(active),
                        "snapshot_id": meta.get("current-snapshot-id")}
            sid, carried = _commit_dvs(
                None, path, meta, active, pos_dels, eq_dels, dv, "delete",
                branch)
            return {"touched": len(dv_rows) + len(dead), "new_files": 0,
                    "dv_files": len(dv_rows), "kept": len(carried),
                    "snapshot_id": sid}
        # dense delete: fall through to the CoW rewrite below
    scan = _mor_read(spark, path, meta, active, pos_dels, eq_dels,
                     keep_file_col=True)
    touched = {_canon(fp) for fp in
               touched_files(scan, "__file", keys, pk, matched=False)}
    if not touched:
        return {"touched": 0, "new_files": 0, "kept": len(active),
                "snapshot_id": meta.get("current-snapshot-id")}
    touched_entries = [f for f in active
                       if _canon(f["file_path"]) in touched]
    replacement = _dm(
        _mor_read(spark, path, meta, touched_entries, pos_dels, eq_dels),
        keys, pk, soft=soft)
    # v3: survivors keep their row ids; a soft delete UPDATES the
    # marked rows (absent from the keyset), resetting their seq
    replacement = _rl_attach_preserved(
        spark, path, meta, touched_entries, pos_dels, eq_dels,
        replacement,
        updated_keys=replacement.join(keys, on=pk, how="left_anti")
        if soft else None, pk=pk)
    keep = [f for f in active if _canon(f["file_path"]) not in touched]
    snapshot_id = _commit_snapshot(
        replacement, path, meta, carried=keep, operation="delete",
        carried_deletes=_live_delete_files(keep, pos_dels, eq_dels),
        branch=branch)
    return {"touched": len(touched),
            "new_files": _added_files_of(meta, snapshot_id),
            "kept": len(keep), "snapshot_id": snapshot_id}


def overwrite_where_iceberg(
    spark: SparkSession, path: str, df: DataFrame, predicate: str,
    validate: bool = True, skip_filters=None, branch: str = "main",
) -> dict:
    """Overwrite-by-filter (the spec's ``overwrite`` operation;
    Spark-Iceberg's ``overwritePartitions``/``option("overwrite-
    filter")``, delta's ``replaceWhere`` twin): delete every row
    matching ``predicate`` and insert ``df`` in ONE snapshot.
    ``validate`` refuses batch rows outside the predicate.

    Bounds-driven CoW: ``skip_filters`` prunes candidates from
    manifest value bounds / transformed partition values before any
    read; candidates probe row-level; files with no match carry
    forward, partially-matching files rewrite only non-matching rows.
    v3 tables preserve kept rows' lineage (the MoR scan materializes
    ``_row_id``/``_last_updated_sequence_number`` straight into the
    rewrite — a pure filter needs no key join); batch rows read fresh
    ids from their files' ``first_row_id``."""
    from pyspark.sql import functions as F

    _, meta = _current_metadata(path, for_write=True)
    active, pos_dels, eq_dels = _active_entries(
        path, meta, _branch_head(meta, branch))
    pred_true = F.coalesce(F.expr(predicate), F.lit(False))
    if validate and df.filter(~pred_true).limit(1).count():
        raise ValueError(
            f"overwrite_where: batch contains rows not matching "
            f"{predicate!r} (pass validate=False to allow)")
    candidates = active
    if skip_filters:
        candidates = prune_files_by_bounds(active, skip_filters, meta)
    touched: set = set()
    if candidates:
        scan = _mor_read(spark, path, meta, candidates, pos_dels,
                         eq_dels, keep_file_col=True)
        touched = {_canon(fp) for fp in
                   touched_files(scan.filter(pred_true), "__file")}
    touched_entries = [f for f in active
                       if _canon(f["file_path"]) in touched]
    keep = [f for f in active if _canon(f["file_path"]) not in touched]
    replacement = df
    if touched_entries:
        v3 = int(meta.get("format-version", 1)) >= 3
        kept_rows = _mor_read(
            spark, path, meta, touched_entries, pos_dels, eq_dels,
            with_row_ids=v3).filter(~pred_true)
        replacement = df.unionByName(kept_rows,
                                     allowMissingColumns=True)
    snapshot_id = _commit_snapshot(
        replacement, path, meta, carried=keep, operation="overwrite",
        carried_deletes=_live_delete_files(keep, pos_dels, eq_dels),
        branch=branch)
    return {"touched": len(touched_entries), "kept": len(keep),
            "snapshot_id": snapshot_id}


def upsert_iceberg(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    primary_key,
    branch: str = "main",
    delete_keys: DataFrame | None = None,
    batch_rows: int | None = None,
) -> dict:
    """Flink-style streaming UPSERT via EQUALITY DELETES (spec v2
    §Equality Delete Files): one snapshot commits (a) equality-delete
    files listing the batch's distinct PKs (``equality_ids`` = the PK
    field ids, value bounds recorded for delete-file skipping) and (b)
    the batch itself as new data files. The target is NEVER scanned —
    an O(batch) commit regardless of table size, the property that
    makes per-micro-batch CDC upserts viable at 100 TB (contrast
    :func:`merge_iceberg`, whose probe reads candidate files). The
    delete binds only files at STRICTLY SMALLER sequence numbers, so
    the batch cannot delete itself, and successive upserts are
    last-write-wins by sequence order. Readers pay the MoR anti-join
    until :func:`compact_iceberg` folds the deletes in.

    ``delete_keys`` (r11): PK-only frame of rows to retire WITHOUT
    re-insert — the CDC 'd' op; their keys ride the same eq-delete
    files, so a delete costs O(keys) like everything else here.

    Unpartitioned targets only: these delete files are partition-global
    and our delete manifests claim spec 0 — on a partitioned table a
    strict foreign reader could scope them wrongly (merge_iceberg
    covers partitioned upserts CoW/DV).

    v3 ROW-LINEAGE interaction (spec §Row Lineage permits delete+insert
    identity loss; pinned in tests/test_iceberg_row_lineage.py): because
    the target is never scanned, an upserted row cannot carry its old
    ``_row_id`` — the equality delete retires the old identity and the
    re-inserted row gets a FRESH id from the commit's first_row_id
    range, with ``_last_updated_sequence_number`` = the new commit's
    seq. Lineage-dependent consumers (incremental-by-lineage readers,
    CDC downstreams keyed on _row_id) should use :func:`merge_iceberg`,
    which preserves ids through its rewrite.

    ``batch_rows`` (r15, perf hint only — never changes results): the
    caller's materialized count of the micro-batch; when small it
    stages the eq-delete key file and the data files driver-side
    instead of paying two distributed write jobs per micro-batch
    (guide §1.2/§5; delta_py twin: merge_delta's ``batch_rows``)."""
    pk = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    _, meta = _current_metadata(path, for_write=True)
    if int(meta.get("format-version", 1)) < 2:
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is format v1 — equality deletes "
            "need v2+ (merge_iceberg handles v1 copy-on-write)")
    if _part_cols(meta):
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is partitioned — partition-global "
            "equality deletes are not written here; use merge_iceberg")
    current = _current_schema(meta) or {"fields": []}
    name_to_id = {f["name"]: f["id"] for f in current["fields"]}
    missing = [c for c in pk if c not in name_to_id]
    if missing:
        raise ValueError(f"upsert key(s) {missing} not in table schema")
    eq_ids = [int(name_to_id[c]) for c in pk]

    active, pos_dels, eq_dels = _active_entries(
        path, meta, _branch_head(meta, branch))

    fs = fsio.get_fs(path)
    data_dir = fsio.join(path, "data")
    fs.mkdirs(data_dir)
    tmp = fsio.join(data_dir, f".eqstage_{uuid.uuid4().hex[:8]}")
    keys = src.select(*pk).distinct()
    if delete_keys is not None:
        # CDC 'd' ops: PKs retired WITHOUT re-insert — they join the
        # batch's equality-delete files but contribute no data rows
        keys = keys.unionByName(delete_keys.select(*pk)).distinct()
    from sling_cli_spark.sources.driver_stage import (
        DRIVER_STAGE_ROWS, driver_stage_parquet)
    small_batch = (batch_rows is not None
                   and 0 <= batch_rows <= DRIVER_STAGE_ROWS)
    # keys <= the batch's distinct PKs: when the caller proved the
    # batch small, the key file writes driver-side (r15, guide §1.2/§5)
    if not (small_batch and driver_stage_parquet(keys, tmp)):
        keys.write.option("compression", "zstd").parquet(tmp)
    ice_keys = _ice_schema_for(
        keys, base=current, last_column_id=meta.get("last-column-id", 0))
    staged = _data_file_bounds(keys, tmp, ice_keys)
    del_entries: list[dict] = []
    for rel in sorted(_walk_data_files(fs, tmp)):
        dest = fsio.join(data_dir, f"{uuid.uuid4().hex}-deletes.parquet")
        if not fs.rename(fsio.join(tmp, rel), dest):
            raise IOError(f"iceberg eq-delete stage: could not place {rel}")
        st = staged.get(_canon(fsio.join(tmp, rel))) or {}
        del_entries.append({
            "content": 2,  # EQUALITY_DELETES
            "file_path": _absolute(dest),
            "file_format": "PARQUET",
            "record_count": st.get("n", 0),
            "file_size_in_bytes": fs.getsize(dest),
            "partition": None,
            "equality_ids": eq_ids,
            "lower_bounds": st.get("lower"),
            "upper_bounds": st.get("upper"),
        })
    fs.delete(tmp, True)

    snapshot_id = _commit_snapshot(
        src, path, meta, carried=active, operation="overwrite",
        carried_deletes=_live_delete_files(active, pos_dels, eq_dels),
        new_deletes=del_entries, branch=branch,
        small_rows=batch_rows if small_batch else None)
    return {"touched": 0,
            "new_files": _added_files_of(meta, snapshot_id),
            "eq_delete_files": len(del_entries), "kept": len(active),
            "snapshot_id": snapshot_id}


def _init_meta(
    df: DataFrame, path: str, partition_by: list[str] | None = None,
    format_version: int = 2, sort_by: list[str] | None = None,
) -> dict:
    from sling_cli_spark.sources.iceberg_transforms import (
        parse_partition_field, parse_sort_field)

    ice = _ice_schema_for(df)
    if format_version < 3 and any(
            f["type"] == "variant" for f in ice["fields"]):
        raise UnsupportedTableFeature(
            f"iceberg table at {path}: the frame carries a variant "
            "column — a v3-only type (spec v3 §Variant); create with "
            "format_version=3")
    by_name = {f["name"]: f["id"] for f in ice["fields"]}
    spec_fields = []
    for i, entry in enumerate(partition_by or []):
        transform, src, fname = parse_partition_field(entry)
        if src not in by_name:
            raise ValueError(
                f"partition source column {src!r} not in the frame")
        spec_fields.append(
            {"name": fname, "transform": transform,
             "source-id": by_name[src], "field-id": 1000 + i})
    meta = {
        "format-version": format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": _absolute(path),
        "last-updated-ms": 0,
        "last-column-id": _max_field_id(ice),
        "schemas": [ice],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "properties": {},
        "snapshots": [],
        "current-snapshot-id": -1,
    }
    if format_version >= 3:
        meta["next-row-id"] = 0  # spec v3 §Row Lineage
    if format_version == 1:
        # v1's inline single-schema / single-spec fields (removed in v2)
        meta["schema"] = ice
        meta["partition-spec"] = spec_fields
    else:
        meta["last-sequence-number"] = 0
        meta["sort-orders"] = [{"order-id": 0, "fields": []}]
        meta["default-sort-order-id"] = 0
    if sort_by:
        fields = []
        for e in sort_by:
            sf = parse_sort_field(e)
            src = sf.pop("source")
            if src not in by_name:
                raise ValueError(f"sort column {src!r} not in the frame")
            fields.append({**sf, "source-id": by_name[src]})
        meta["sort-orders"] = [{"order-id": 0, "fields": []},
                               {"order-id": 1, "fields": fields}]
        meta["default-sort-order-id"] = 1
    return meta


def _default_spec(meta: dict) -> dict:
    """The table's DEFAULT partition spec (spec §Partition Evolution:
    ``default-spec-id`` selects it; older specs stay in
    ``partition-specs`` for the files written under them)."""
    specs = meta.get("partition-specs") or [{}]
    did = meta.get("default-spec-id", 0)
    return next((s for s in specs if s.get("spec-id", 0) == did),
                specs[0])


def _default_sort_fields(meta: dict) -> list[dict]:
    """Fields of the table's DEFAULT sort order (spec §Sort Orders:
    ``default-sort-order-id`` selects it; order-id 0 is the reserved
    unsorted order, whose field list is empty)."""
    oid = meta.get("default-sort-order-id", 0)
    for o in meta.get("sort-orders") or []:
        if o.get("order-id", 0) == oid:
            return o.get("fields") or []
    return []


def _sort_exprs(df: DataFrame, meta: dict,
                fields: list[dict]) -> list | None:
    """Spark sort Columns realizing a spec sort order over ``df`` —
    transform fields (``truncate[W]``/``bucket[N]``/temporal) sort by
    the SAME Catalyst expressions the partition writer derives with,
    direction and null placement per field. None when a source column
    is absent from the frame (the caller then writes unsorted —
    sortedness is an optimization, never a correctness gate)."""
    from pyspark.sql import functions as F

    from sling_cli_spark.sources.iceberg_transforms import (
        UnsupportedTransform, spark_type_name, transform_expr)

    cur = _current_schema(meta) or {"fields": []}
    by_id = {f["id"]: f["name"] for f in cur.get("fields", [])}
    types = {f.name: spark_type_name(f.dataType)
             for f in df.schema.fields}
    out = []
    for sf in fields:
        src = by_id.get(sf.get("source-id"))
        if src is None or src not in types:
            return None
        col = F.col(f"`{src}`")
        transform = sf.get("transform", "identity")
        if transform != "identity":
            try:
                col = transform_expr(transform, col, types[src])
            except UnsupportedTransform:
                return None
        desc = (sf.get("direction") or "asc").lower() == "desc"
        nf = (sf.get("null-order") or (
            "nulls-last" if desc else "nulls-first")
        ).lower() == "nulls-first"
        out.append(
            (col.desc_nulls_first() if nf else col.desc_nulls_last())
            if desc else
            (col.asc_nulls_first() if nf else col.asc_nulls_last()))
    return out


def _part_cols(meta: dict) -> list[str]:
    return [f["name"] for f in (_default_spec(meta).get("fields") or [])]


def _identity_part_cols(meta: dict) -> set[str]:
    """Default-spec fields with the IDENTITY transform only — a
    foreign table's bucket/truncate/day field stores transformed values
    under the source column's name, and pruning a source-column filter
    against those would silently drop matching rows."""
    return {f["name"] for f in (_default_spec(meta).get("fields") or [])
            if f.get("transform", "identity") == "identity"}


def _with_spec_partition_cols(df: DataFrame, meta: dict):
    """``df`` with every default-spec partition column available —
    identity columns must already be present, transform columns are
    DERIVED with the same Catalyst expressions the writer stages with
    — or None when a spec field can't be satisfied from ``df`` (the
    caller then skips partition pruning; scanning more is safe)."""
    from pyspark.sql import functions as F

    from sling_cli_spark.sources.iceberg_transforms import (
        UnsupportedTransform, spark_type_name, transform_expr)

    cur = _current_schema(meta) or {"fields": []}
    by_id = {f["id"]: f["name"] for f in cur.get("fields", [])}
    types = {f.name: spark_type_name(f.dataType)
             for f in df.schema.fields}
    out = df
    for pf in _default_spec(meta).get("fields") or []:
        transform = pf.get("transform", "identity")
        if transform == "identity":
            if pf["name"] not in df.columns:
                return None
            continue
        src = by_id.get(pf.get("source-id"))
        if src is None or src not in types:
            return None
        try:
            out = out.withColumn(pf["name"], transform_expr(
                transform, F.col(f"`{src}`"), types[src]))
        except UnsupportedTransform:
            return None
    return out


def _data_file_bounds(
    df: DataFrame, tmp: str, ice_schema: dict,
) -> dict[str, dict]:
    """Per-file stats of the freshly staged directory, keyed by
    canonical path: row count (required data_file stat in v2 — foreign
    engines trust it for metadata-only count(*)) plus value bounds for
    the boundable columns (spec data_file.lower_bounds/upper_bounds,
    keyed by field id, single-value binary serialization) —
    :func:`footer_stats.staged_stats` encoded. ``_encode_bound`` keeps
    its NaN guard, so a NaN max omits the bound pair."""
    cols = [(f["name"], str(f["id"]), f["type"])
            for f in ice_schema.get("fields", [])
            if isinstance(f.get("type"), str)
            and f["type"] in _BOUND_TYPES and f["name"] in df.columns]
    out: dict[str, dict] = {}
    names = [c for c, _, _ in cols]
    for key, st in staged_stats(df, tmp, names, null_counts=False).items():
        lo, hi = {}, {}
        for name, fid, t in cols if st["num_rows"] else ():
            ent = st["cols"].get(name) or {}
            try:
                lb = _encode_bound(t, ent.get("mn"))
                ub = _encode_bound(t, ent.get("mx"))
            except Exception:
                continue  # a value the type cannot encode: no bound
            if lb is not None and ub is not None:
                lo[fid], hi[fid] = lb, ub
        out[key] = {"n": int(st["num_rows"]),
                    "lower": lo or None, "upper": hi or None}
    return out


_DECIMAL = re.compile(r"decimal\((\d+),\s*(\d+)\)")


def _promotes(old, new) -> bool:
    """Is ``old`` -> ``new`` a legal primitive type promotion (spec
    §Schema Evolution: int -> long, float -> double, decimal(P, S) ->
    decimal(P', S) with P' > P)?"""
    if not (isinstance(old, str) and isinstance(new, str)):
        return False
    if (old, new) in (("int", "long"), ("float", "double")):
        return True
    a, b = _DECIMAL.fullmatch(old), _DECIMAL.fullmatch(new)
    return bool(a and b) and a[2] == b[2] and int(b[1]) > int(a[1])


def _retyped(path: str, cur: dict, ice: dict, keeps_files: bool) -> bool:
    """Compare the frame's schema ``ice`` with the table's ``cur`` field
    by field id: True when a column's type changes (the commit must
    record the new type, or reads of the new files fail). When the
    snapshot keeps existing data files, only a legal promotion may
    change a type — any other change would leave those files unreadable
    and is refused; a full overwrite may retype freely."""
    old_types = {f["id"]: f["type"] for f in cur.get("fields", [])}
    retyped = False
    for f in ice["fields"]:
        old = old_types.get(f["id"])
        if old is None or old == f["type"]:
            continue
        if keeps_files and not _promotes(old, f["type"]):
            raise UnsupportedTableFeature(
                f"iceberg table at {path}: column {f['name']!r} is "
                f"{old} in the table but {f['type']} in the written "
                "frame — only int->long, float->double and decimal "
                "precision widening are legal type changes; cast the "
                "frame to the table's type")
        retyped = True
    return retyped


def _branch_head(meta: dict, branch: str) -> int | None:
    """Snapshot id a write targeting ``branch`` reads its actives from
    — None means the current snapshot (main, or a branch forking at
    current on its first write)."""
    if branch == "main":
        return None
    return ((meta.get("refs") or {}).get(branch) or {}).get("snapshot-id")


def _commit_snapshot(
    df: DataFrame | None, path: str, meta: dict, carried: list[dict],
    operation: str = "append", carried_deletes: list[dict] | None = None,
    new_deletes: list[dict] | None = None,
    snapshot_id: int | None = None, branch: str = "main",
    staged_files: list[dict] | None = None,
    summary_extra: dict | None = None,
    apply_sort: bool = True,
    reuse_manifests: list[dict] | None = None,
    small_rows: int | None = None,
) -> int:
    """Stage ``df`` as new data files, write manifest(s) +
    manifest-list, bump the metadata version; ``carried`` files join the
    snapshot with status 0 (existing). On a format-version-2 table the
    snapshot takes the next data sequence number: added entries inherit
    it from the manifest list, carried entries keep their original
    sequence number explicitly (spec §Sequence Number Inheritance), and
    ``carried_deletes`` (positional/equality delete files of the prior
    snapshot) ride along in a content=1 delete manifest. The new
    ``v{N}.metadata.json`` is claimed with an exclusive create — a
    concurrent committer of the same version raises FileExistsError
    instead of silently winning. Returns the new snapshot id.

    ``df=None`` commits a metadata-only change (e.g. a delete-only DV
    snapshot: no data files staged). ``new_deletes`` are freshly ADDED
    delete files (v3 deletion-vector entries) — status 1 in their own
    content=1 manifest, sequence number inherited from the list.
    ``snapshot_id`` lets DV producers pre-compute the id the Puffin
    blob metadata must name (:func:`_next_ids` yields a matching
    (snapshot_id, seq) pair).

    ``staged_files`` are data_file dicts for parquet the caller already
    placed under ``data/`` (the streaming sink: executors write final
    names, the driver only commits) — they join the snapshot as ADDED
    entries without a staging job. ``summary_extra`` merges extra keys
    into the snapshot summary (the sink's idempotence markers).

    ``reuse_manifests`` (spec: a manifest list MAY reference manifests
    added by earlier snapshots — Iceberg's FastAppend) carries prior
    manifest-LIST entries VERBATIM into the new list: their manifests
    are never re-read or rewritten, so an append costs O(new files)
    driver work instead of O(table files) — the difference between a
    constant-time commit and rewriting a million-entry manifest on
    every micro-batch of a 100 TB table. Mutually sensible with
    ``carried=[]``; rewrite ops (merge/compact/overwrite) keep the
    rewrite path so tombstoned entries actually disappear."""
    fs = fsio.get_fs(path)
    data_dir = fsio.join(path, "data")
    fs.mkdirs(data_dir)
    fs.mkdirs(_meta_dir(path))
    version = 0
    if is_iceberg_table(path):
        version, _ = _current_metadata(path)
        base = meta.get("__base_version")
        if base is not None and int(base) != version:
            # r10: the caller planned against v{base} but the table has
            # advanced — committing from the stale meta would silently
            # DROP every interleaved snapshot (this claim would succeed:
            # v{version+1} is still free). Same exception shape as the
            # claim race so caller retry loops treat both alike.
            raise FileExistsError(
                f"iceberg: table at {path} advanced from v{base} to "
                f"v{version} since this write planned its snapshot "
                "(concurrent writer won the race) — re-read and re-run")

    fv = meta.get("format-version", 1)
    carried_deletes = carried_deletes or []
    # next data sequence number: past last-sequence-number, but also past
    # every carried entry's seq (foreign tables may lack the metadata
    # field — a new snapshot at seq <= an existing equality delete's
    # would wrongly re-expose its rows)
    new_seq = 1 + max(
        [int(meta.get("last-sequence-number") or 0)]
        + [int(f.get("__seq") or 0) for f in carried + carried_deletes]
        + [int(m.get("sequence_number") or 0)
           for m in reuse_manifests or []]) \
        if fv >= 2 else None

    part_cols = _part_cols(meta)
    transform_fields = [
        f for f in (_default_spec(meta).get("fields") or [])
        if f.get("transform", "identity") != "identity"]
    cur_schema0 = _current_schema(meta) or {}
    data_files: list[dict] = []
    if df is not None:
        from pyspark.sql import functions as F

        from sling_cli_spark.sources.iceberg_transforms import (
            UnsupportedTransform, transform_expr)

        tmp = fsio.join(data_dir, f".stage_{uuid.uuid4().hex[:8]}")
        # rewrites materialize row-lineage ids as EXTRA parquet columns
        # (spec v3 §Row Lineage Writer Requirements: rewritten rows
        # keep their ids) — they ride the staged parquet write but
        # never the table schema, stats, or schema-evolution check
        lineage = [c for c in _LINEAGE_COLS if c in df.columns]
        if lineage and fv < 3:
            raise UnsupportedTableFeature(
                f"iceberg table at {path} is format-version {fv}; "
                f"staged columns {lineage} are v3 row-lineage "
                "metadata and cannot be written to a v1/v2 table")
        # transform fields (spec §Partition Transforms) partition by a
        # DERIVED column (bucket hash / truncated prefix / temporal
        # ordinal) computed JVM-side; the source column stays inside
        # the data files (transformed fields never replace their
        # source), so only the derived value rides the Hive dir name
        stage_df = df
        if lineage:
            df = df.drop(*lineage)
        # the schema this commit will record (stable field ids by name,
        # fresh ids for new columns) — shared by the bounds stats below
        # and the schema-evolution branch at the end; a refused type
        # change raises here, before anything is staged. A snapshot
        # that keeps data files (append, merge, rewrite, or a branch
        # write beside main's files) must stay readable over them; a
        # full overwrite of main replaces them all.
        keeps_files = bool(carried or carried_deletes or reuse_manifests
                           or branch != "main")
        ice_for_df = _ice_schema_for(
            df, base=cur_schema0,
            last_column_id=meta.get("last-column-id", 0),
            keep_wider=keeps_files)
        retyped = _retyped(path, cur_schema0, ice_for_df, keeps_files)
        if transform_fields:
            from sling_cli_spark.sources.iceberg_transforms import (
                spark_type_name)

            by_id = {f["id"]: f["name"]
                     for f in cur_schema0.get("fields") or []}
            types = {f.name: spark_type_name(f.dataType)
                     for f in df.schema.fields}
            for pf in transform_fields:
                src = by_id.get(pf.get("source-id"))
                if src is None or src not in types:
                    raise UnsupportedTableFeature(
                        f"iceberg table at {path}: partition field "
                        f"{pf['name']!r} transforms source-id "
                        f"{pf.get('source-id')} which is absent from "
                        "the staged frame")
                try:
                    stage_df = stage_df.withColumn(
                        pf["name"], transform_expr(
                            pf["transform"], F.col(f"`{src}`"),
                            types[src]))
                except UnsupportedTransform as e:
                    raise UnsupportedTableFeature(
                        f"iceberg table at {path}: {e}") from e
        # default sort order (spec §Sort Orders): order rows WITHIN
        # each task by (partition cols, sort fields) — partition cols
        # lead so FileFormatWriter's required per-task ordering is
        # already satisfied and Spark does not re-sort (which would
        # keep only the partition-col prefix); every emitted file is
        # then internally ordered and its bounds tight
        sort_oid = None
        sfields = _default_sort_fields(meta) if apply_sort else []
        sort_exprs = _sort_exprs(stage_df, meta, sfields) \
            if sfields else None
        # write.distribution-mode (table property, Iceberg's Spark
        # write conventions): 'hash' clusters rows by partition key
        # before the write — each partition value lands in ONE task
        # instead of fragmenting into (input-partitions x values)
        # small files; 'range' range-distributes by (partition key,
        # sort order) so file spans are disjoint table-wide. 'none'
        # (default) keeps the incoming distribution.
        dist = str((meta.get("properties") or {})
                   .get("write.distribution-mode", "none")).lower()
        if dist in ("hash", "range"):
            from pyspark.sql import functions as F2
            keys = [F2.col(f"`{c}`") for c in part_cols]
            if dist == "range" and sort_exprs is not None:
                keys += sort_exprs
            if keys:
                stage_df = stage_df.repartition(*keys) \
                    if dist == "hash" \
                    else stage_df.repartitionByRange(*keys)
        if sort_exprs is not None:
            from pyspark.sql import functions as F2
            stage_df = stage_df.sortWithinPartitions(
                *[F2.col(f"`{c}`") for c in part_cols], *sort_exprs)
            sort_oid = int(meta.get("default-sort-order-id") or 0)
        # zstd staged data files (guide §6; same rationale and pinned
        # byte-cut test as delta_py._stage_data_files)
        staged_fast = False
        if small_rows is not None and not part_cols \
                and sort_exprs is None and dist not in ("hash", "range"):
            # caller proved the frame small (a counted micro-batch):
            # one driver-side Arrow write instead of a distributed
            # write job (r15, guide §1.2/§5; delta twin in
            # _stage_data_files)
            from sling_cli_spark.sources.driver_stage import (
                DRIVER_STAGE_ROWS, driver_stage_parquet)
            if small_rows <= DRIVER_STAGE_ROWS:
                staged_fast = driver_stage_parquet(stage_df, tmp)
        if not staged_fast:
            writer = stage_df.write.option("compression", "zstd")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(tmp)
        staged_stats = _data_file_bounds(df, tmp, ice_for_df)
        for rel in sorted(_walk_data_files(fs, tmp)):
            # rel like "c=v/.../part-....parquet" for partitioned
            # stages; dir segments are URL-escaped by Spark (space,
            # ':', '%') — store the UNQUOTED value so the merge prune
            # compares like with like
            part_dirs, fname = os.path.split(rel)
            partition = hive_partition_values(part_dirs)
            new_name = f"{uuid.uuid4().hex}.parquet"
            dest_dir = fsio.join(data_dir, part_dirs) \
                if part_dirs else data_dir
            fs.mkdirs(dest_dir)
            dest = fsio.join(dest_dir, new_name)
            if not fs.rename(fsio.join(tmp, rel), dest):
                raise IOError(f"iceberg stage: could not place {new_name}")
            st = staged_stats.get(_canon(fsio.join(tmp, rel))) or {}
            data_files.append({
                "file_path": _absolute(dest),
                "file_format": "PARQUET",
                "record_count": st.get("n", 0),
                "file_size_in_bytes": fs.getsize(dest),
                "partition": partition or None,
                "lower_bounds": st.get("lower"),
                "upper_bounds": st.get("upper"),
                "sort_order_id": sort_oid,
            })
        fs.delete(tmp, True)
    if staged_files is not None:
        data_files += [dict(f) for f in staged_files]

    if snapshot_id is None:
        snapshot_id = int(time.time() * 1000) * 1000 + (version + 1)
    mlist_entries: list[dict] = []

    if fv >= 2:
        first_row_base = None
        if fv >= 3:
            # spec v3 §Row Lineage: added files take contiguous
            # first_row_id ranges starting at the table's next-row-id;
            # carried files keep theirs (None on pre-upgrade entries —
            # readers then derive ids positionally, per spec)
            first_row_base = int(meta.get("next-row-id") or 0)
            rid = first_row_base
            for f in data_files:
                f["first_row_id"] = rid
                rid += int(f.get("record_count") or 0)
            meta["next-row-id"] = rid
        # partition evolution (spec §Partition Evolution): a manifest's
        # header names ONE spec id, so new files and carried files that
        # share the default spec pack together, while carried files
        # written under an older spec keep their own manifest per spec
        did = int(_default_spec(meta).get("spec-id") or 0)

        def _fspec(f: dict) -> int:
            v = f.get("__spec_id")  # 0 is a valid spec id — no `or`
            return did if v is None else int(v)

        same_spec = [f for f in carried if _fspec(f) == did]
        older: dict[int, list[dict]] = {}
        for f in carried:
            if _fspec(f) != did:
                older.setdefault(_fspec(f), []).append(f)
        entries = [{"status": 1, "snapshot_id": snapshot_id,
                    "sequence_number": None,  # inherit new_seq from list
                    "data_file": _v2_data_file(f)} for f in data_files]
        entries += [{"status": 0, "snapshot_id": snapshot_id,
                     "sequence_number": int(f.get("__seq") or 0),
                     "data_file": _v2_data_file(f)} for f in same_spec]
        if entries or not reuse_manifests:
            # a reuse-append with zero new files must not mint an empty
            # manifest; an overwrite-to-empty still needs one
            manifest_path = fsio.join(
                _meta_dir(path), f"{uuid.uuid4().hex}-m0.avro")
            write_avro(manifest_path, entries, _MANIFEST_ENTRY_SCHEMA_V2)
            mlist_entries.append({
                "manifest_path": manifest_path,
                "manifest_length": fs.getsize(manifest_path),
                "partition_spec_id": did,
                "added_snapshot_id": snapshot_id,
                "sequence_number": new_seq,
                "min_sequence_number": min(
                    [new_seq]
                    + [int(f.get("__seq") or 0) for f in same_spec]),
                "content": 0,
            })
        for sid_, grp in sorted(older.items()):
            grp_entries = [{"status": 0, "snapshot_id": snapshot_id,
                            "sequence_number": int(f.get("__seq") or 0),
                            "data_file": _v2_data_file(f)} for f in grp]
            grp_path = fsio.join(
                _meta_dir(path), f"{uuid.uuid4().hex}-m{sid_}.avro")
            write_avro(grp_path, grp_entries, _MANIFEST_ENTRY_SCHEMA_V2)
            mlist_entries.append({
                "manifest_path": grp_path,
                "manifest_length": fs.getsize(grp_path),
                "partition_spec_id": sid_,
                "added_snapshot_id": snapshot_id,
                "sequence_number": new_seq,
                "min_sequence_number": min(
                    int(f.get("__seq") or 0) for f in grp),
                "content": 0,
            })
        if carried_deletes:
            del_entries = [{"status": 0, "snapshot_id": snapshot_id,
                            "sequence_number": int(f.get("__seq") or 0),
                            "data_file": _v2_data_file(f)}
                           for f in carried_deletes]
            del_manifest = fsio.join(
                _meta_dir(path), f"{uuid.uuid4().hex}-d0.avro")
            write_avro(del_manifest, del_entries, _MANIFEST_ENTRY_SCHEMA_V2)
            mlist_entries.append({
                "manifest_path": del_manifest,
                "manifest_length": fs.getsize(del_manifest),
                "partition_spec_id": 0,
                "added_snapshot_id": snapshot_id,
                "sequence_number": new_seq,
                "min_sequence_number": min(
                    int(f.get("__seq") or 0) for f in carried_deletes),
                "content": 1,
            })
        if new_deletes:
            # freshly produced delete files (v3 deletion vectors):
            # status 1, sequence number inherited from the list entry
            nd_entries = [{"status": 1, "snapshot_id": snapshot_id,
                           "sequence_number": None,
                           "data_file": _v2_data_file(f)}
                          for f in new_deletes]
            nd_manifest = fsio.join(
                _meta_dir(path), f"{uuid.uuid4().hex}-dv0.avro")
            write_avro(nd_manifest, nd_entries, _MANIFEST_ENTRY_SCHEMA_V3)
            mlist_entries.append({
                "manifest_path": nd_manifest,
                "manifest_length": fs.getsize(nd_manifest),
                "partition_spec_id": 0,
                "added_snapshot_id": snapshot_id,
                "sequence_number": new_seq,
                "min_sequence_number": new_seq,
                "content": 1,
            })
    else:
        entries = [{"status": 1, "snapshot_id": snapshot_id, "data_file": f}
                   for f in data_files]
        entries += [{"status": 0, "snapshot_id": snapshot_id, "data_file": f}
                    for f in carried]
        manifest_path = fsio.join(
            _meta_dir(path), f"{uuid.uuid4().hex}-m0.avro")
        write_avro(manifest_path, entries, _MANIFEST_ENTRY_SCHEMA)
        mlist_entries.append({
            "manifest_path": manifest_path,
            "manifest_length": fs.getsize(manifest_path),
            "partition_spec_id": 0,
            "added_snapshot_id": snapshot_id,
        })

    if reuse_manifests:
        # FastAppend: the prior snapshot's list entries ride verbatim —
        # original added_snapshot_id / sequence bounds / spec id intact,
        # their .avro files untouched on disk
        mlist_entries += [dict(m) for m in reuse_manifests]
    mlist_path = fsio.join(_meta_dir(path), f"snap-{snapshot_id}.avro")
    write_avro(mlist_path, mlist_entries,
               _MANIFEST_FILE_SCHEMA_V2 if fv >= 2 else _MANIFEST_FILE_SCHEMA)

    recorded = [f["name"] for f in cur_schema0.get("fields", [])]
    if df is not None and (
            retyped or [f.name for f in df.schema.fields] != recorded):
        # schema evolution rides the commit. v2: a NEW schema-id appended
        # to schemas (field ids stable by name, new columns take fresh
        # ids, retyped columns their new type — spec §Schema
        # Evolution); v1 single-schema just replaces.
        ice = ice_for_df
        if fv >= 2:
            new_sid = 1 + max(
                (s.get("schema-id", 0) for s in meta.get("schemas") or []),
                default=-1)
            ice["schema-id"] = new_sid
            meta["schemas"] = (meta.get("schemas") or []) + [ice]
            meta["current-schema-id"] = new_sid
        else:
            meta["schema"] = ice
            meta["schemas"] = [ice]
        meta["last-column-id"] = max(
            meta.get("last-column-id", 0), _max_field_id(ice))
    # spec Appendix F summary counters (what `t.snapshots` consumers
    # and engines' fast COUNT(*) estimates read). Added-* from this
    # commit's files; total-* exact on BOTH paths without O(table)
    # work: the rewrite path holds the full carried list, the
    # FastAppend path extends the parent's totals incrementally —
    # omitted (never guessed) when the parent predates the feature.
    added_recs = sum(int(f.get("record_count") or 0) for f in data_files)
    added_size = sum(int(f.get("file_size_in_bytes") or 0)
                     for f in data_files)
    summary = {"operation": operation,
               "added-data-files": str(len(data_files)),
               "added-records": str(added_recs),
               "added-files-size": str(added_size)}
    if reuse_manifests is None:
        summary["total-data-files"] = str(len(data_files) + len(carried))
        summary["total-records"] = str(
            added_recs + sum(int(f.get("record_count") or 0)
                             for f in carried))
        summary["total-files-size"] = str(
            added_size + sum(int(f.get("file_size_in_bytes") or 0)
                             for f in carried))
        summary["total-delete-files"] = str(
            len(carried_deletes) + len(new_deletes or []))
    snapshot = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": mlist_path,
        "summary": summary,
    }
    if summary_extra:
        summary.update(summary_extra)
    # spec §Refs: every branch is a named ref; ``main`` mirrors
    # current-snapshot-id. A non-main branch advances its own head
    # (parent = the branch head; forks from current on first write)
    # and leaves the main line untouched.
    refs = dict(meta.get("refs") or {})
    parent = meta.get("current-snapshot-id")
    if branch != "main" and (refs.get(branch) or {}).get("snapshot-id") \
            is not None:
        parent = refs[branch]["snapshot-id"]
    if parent is not None and int(parent) != -1:
        # -1 is this module's pre-first-snapshot sentinel, not a real
        # snapshot — the spec omits parent-snapshot-id entirely there
        snapshot["parent-snapshot-id"] = int(parent)
    if reuse_manifests is not None and "total-records" not in summary:
        psum = next(((s.get("summary") or {})
                     for s in meta.get("snapshots") or []
                     if s["snapshot-id"] == parent), {})
        if psum.get("total-records") is not None:
            summary["total-data-files"] = str(
                int(psum.get("total-data-files") or 0) + len(data_files))
            summary["total-records"] = str(
                int(psum["total-records"]) + added_recs)
            summary["total-files-size"] = str(
                int(psum.get("total-files-size") or 0) + added_size)
            summary["total-delete-files"] = str(
                int(psum.get("total-delete-files") or 0)
                + len(new_deletes or []))
    if fv >= 2:
        snapshot["sequence-number"] = new_seq
        meta["last-sequence-number"] = new_seq
    if fv >= 3 and first_row_base is not None:
        snapshot["first-row-id"] = first_row_base
    meta["snapshots"] = (meta.get("snapshots") or []) + [snapshot]
    ref = dict(refs.get(branch) or {})
    ref.update({"snapshot-id": snapshot_id, "type": "branch"})
    refs[branch] = ref
    meta["refs"] = refs
    if branch == "main":
        meta["current-snapshot-id"] = snapshot_id
    prev_updated = int(meta.get("last-updated-ms") or 0)
    meta["last-updated-ms"] = int(time.time() * 1000)

    props = meta.get("properties") or {}
    keep_meta = int(props.get(
        "write.metadata.previous-versions-max") or 100)
    if version > 0:
        # spec §Table Metadata metadata-log: every commit records the
        # file it supersedes (timestamped with when THAT file was
        # current), capped at previous-versions-max — the lineage
        # metadata-level rollback and foreign catalogs walk
        mlog = list(meta.get("metadata-log") or [])
        mlog.append({"timestamp-ms": prev_updated,
                     "metadata-file": _absolute(fsio.join(
                         _meta_dir(path), f"v{version}.metadata.json"))})
        meta["metadata-log"] = mlog[-keep_meta:]

    new_version = version + 1
    try:
        fs.create_exclusive(
            fsio.join(_meta_dir(path), f"v{new_version}.metadata.json"),
            _dump_meta(meta))
    except FileExistsError:
        raise FileExistsError(
            f"iceberg: metadata version {new_version} already committed "
            f"at {path} (concurrent writer won the race)")
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(new_version).encode())
    if str(props.get("write.metadata.delete-after-commit.enabled",
                     "")).lower() == "true":
        # the catalog-property twin of `lake cleanup-logs`: metadata
        # files outside the retained metadata-log window die with the
        # commit — a 10k-commit streaming table stops accreting 10k
        # JSON copies of its whole snapshot history. Best-effort: a
        # cleanup failure never fails the committed write.
        retained = {e["metadata-file"].rsplit("/", 1)[-1]
                    for e in meta.get("metadata-log") or []}
        retained.add(f"v{new_version}.metadata.json")
        try:
            for name in fs.listdir(_meta_dir(path)):
                if re.match(r"^v\d+\.metadata\.json$", name) \
                        and name not in retained:
                    fs.delete(fsio.join(_meta_dir(path), name))
        except Exception:
            pass
    return snapshot_id


def write_iceberg(
    df: DataFrame, path: str, mode: str = "append",
    partition_by: list[str] | None = None, format_version: int = 2,
    branch: str = "main",
    txn_app_id: str | None = None, txn_version: int | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Append/overwrite as a new snapshot + metadata version; returns the
    snapshot id. On an existing table the recorded identity partition
    spec and format version win (append must not change layout);
    ``partition_by``/``format_version`` take effect on table creation.
    An append to a v2 table with delete files carries them forward so
    kept data files stay merge-on-read; an overwrite drops them with the
    replaced data. ``branch`` (spec §Refs) targets a named branch: the
    snapshot parents at the branch head (forking from current on the
    first write) and only that ref advances — the main line reads
    unchanged.

    ``sort_by`` (table creation only, like ``partition_by``) declares
    a default sort order — see :func:`set_sort_order` for the syntax
    and write-path semantics on an existing table.

    ``txn_app_id`` + ``txn_version`` make the write IDEMPOTENT via
    snapshot summary keys — the mechanism Iceberg's own Spark sink
    uses for exactly-once (the streaming sink here shares it): a
    retried batch whose (app, version) a retained snapshot already
    records is silently skipped."""
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError(
            "txn_app_id and txn_version must be passed together")
    if is_iceberg_table(path):
        _, meta = _current_metadata(path, for_write=True)
        if txn_app_id is not None:
            seen = max((int((s.get("summary") or {})
                            .get("txn-version", -1))
                        for s in meta.get("snapshots") or []
                        if (s.get("summary") or {})
                        .get("txn-app-id") == txn_app_id),
                       default=None)
            if seen is not None and seen >= txn_version:
                return int(meta.get("current-snapshot-id") or -1)
    else:
        meta = _init_meta(df, path, partition_by, format_version,
                          sort_by=sort_by)
    reuse = None
    if mode != "overwrite" and meta.get("snapshots"):
        # FastAppend (Iceberg's MergeAppend-less default): reuse the
        # head snapshot's manifest-list entries verbatim instead of
        # re-reading every manifest and rewriting all carried entries —
        # O(new files) commit cost, and prior delete files ride along
        # untouched (they retire on the next rewrite op, as in Iceberg)
        head_id = None  # None -> current snapshot (also the fork point)
        if branch != "main":
            head_id = ((meta.get("refs") or {}).get(branch)
                       or {}).get("snapshot-id")
        if head_id is None:
            head_id = meta.get("current-snapshot-id")
        snap = next((s for s in meta.get("snapshots") or []
                     if s["snapshot-id"] == head_id), None)
        if snap is not None:
            reuse = read_avro(snap["manifest-list"])[1]
    extra = None
    if txn_app_id is not None:
        extra = {"txn-app-id": txn_app_id,
                 "txn-version": str(int(txn_version))}
    return _commit_snapshot(
        df, path, meta, [],
        operation="overwrite" if mode == "overwrite" else "append",
        branch=branch, summary_extra=extra, reuse_manifests=reuse)


def migrate_to_iceberg(
    spark: SparkSession, path: str,
    partition_by: list[str] | None = None,
) -> int:
    """Spark-Iceberg's ``migrate`` procedure twin: an existing
    (Hive-layout) parquet directory becomes an Iceberg table IN PLACE
    — snapshot 0 references the files already there by absolute path
    (zero rewrite), partition dirs map to an identity spec + manifest
    partition values, and per-file record counts + value bounds ride
    the entries from ONE Spark aggregate so bounds pruning works from
    the first snapshot. Refuses directories that are already Iceberg
    or Delta tables. Returns the snapshot id."""
    fs = fsio.get_fs(path)
    if is_iceberg_table(path):
        raise ValueError(f"{path} is already an iceberg table")
    if fs.exists(fsio.join(path, "_delta_log")):
        raise ValueError(
            f"{path} is a delta table — use sync_uniform for a "
            "shared-copy iceberg metadata layer")
    rels = _walk_data_files(fs, path)
    if not rels:
        raise FileNotFoundError(f"no parquet files under {path}")
    inferred = sorted({k for rel in rels
                       for k in hive_partition_values(
                           os.path.dirname(rel))})
    part_cols = partition_by if partition_by is not None else inferred
    if set(part_cols) != set(inferred):
        raise ValueError(
            f"partition_by {part_cols} != the directory layout's "
            f"partition keys {inferred}")
    reader = spark.read.option("basePath", path) if part_cols \
        else spark.read
    df = reader.parquet(path)
    meta = _init_meta(df, path, part_cols)
    ice_schema = _current_schema(meta) or {"fields": []}
    data_cols = df.drop(*part_cols) if part_cols else df
    stats = _data_file_bounds(data_cols, path, ice_schema)
    staged = []
    for rel in sorted(rels):
        full = fsio.join(path, rel)
        st = stats.get(_canon(full)) or {}
        staged.append({
            "file_path": _absolute(full),
            "file_format": "PARQUET",
            "record_count": st.get("n", 0),
            "file_size_in_bytes": fs.getsize(full),
            "partition": hive_partition_values(os.path.dirname(rel))
            or None,
            "lower_bounds": st.get("lower"),
            "upper_bounds": st.get("upper"),
        })
    return _commit_snapshot(None, path, meta, carried=[],
                            staged_files=staged)


def evolve_partition_spec(path: str, partition_by: list[str]) -> int:
    """ALTER TABLE ... [ADD/REPLACE] PARTITION FIELD (spec §Partition
    Evolution): append a new partition spec and make it the default —
    a METADATA-ONLY commit. Entries accept the same transform syntax
    as write_iceberg's partition_by (``col``, ``bucket(N, col)``,
    ``truncate(W, col)``, ``year/month/day/hour(col)``). Existing
    files keep their old spec (their manifests keep its id;
    :func:`_commit_snapshot` groups carried entries per spec), new
    writes stage under the new layout, and reads union the layouts per
    partition shape (:func:`_mor_read`). ``partition_by=[]`` evolves
    back to unpartitioned. Returns the new default spec id."""
    from sling_cli_spark.sources.iceberg_transforms import (
        parse_partition_field)

    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    if meta.get("format-version", 1) < 2:
        raise UnsupportedTableFeature(
            f"iceberg table at {path} is format-version 1; partition "
            "evolution needs the v2 manifest-list spec-id field")
    schema = _current_schema(meta) or {}
    ids = {f["name"]: f["id"] for f in schema.get("fields", [])}
    parsed = [parse_partition_field(e) for e in partition_by]
    missing = [src for _, src, _ in parsed if src not in ids]
    if missing:
        raise ValueError(f"partition columns not in schema: {missing}")
    specs = meta.get("partition-specs") or [{"spec-id": 0, "fields": []}]
    want = [(fname, transform, ids[src])
            for transform, src, fname in parsed]
    for s in specs:  # identical spec already recorded -> just re-default
        have = [(f["name"], f.get("transform", "identity"),
                 f.get("source-id"))
                for f in (s.get("fields") or [])]
        if have == want:
            new_id = s.get("spec-id", 0)
            break
    else:
        new_id = 1 + max(s.get("spec-id", 0) for s in specs)
        last_pid = max(
            [int(meta.get("last-partition-id") or 999)]
            + [int(f.get("field-id") or 999)
               for s in specs for f in (s.get("fields") or [])])
        fields = [{"name": fname, "transform": transform,
                   "source-id": sid, "field-id": last_pid + 1 + i}
                  for i, (fname, transform, sid) in enumerate(want)]
        specs = specs + [{"spec-id": new_id, "fields": fields}]
        meta["partition-specs"] = specs
        meta["last-partition-id"] = last_pid + len(fields)
    meta["default-spec-id"] = new_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return int(new_id)


def set_iceberg_properties(path: str, props: dict) -> dict:
    """ALTER TABLE ... SET/UNSET TBLPROPERTIES twin (metadata-only
    commit; delta_py.set_table_properties is the format sibling). A
    None value unsets the key. Returns the table's resulting property
    map. Properties this engine HONORS: ``write.distribution-mode``
    (none/hash/range — staged-write clustering), the
    ``write.delete.mode``/``write.update.mode``/``write.merge.mode``
    family (copy-on-write vs merge-on-read), and
    ``commit.retry.num-retries``-style knobs pass through for foreign
    engines."""
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    cur = dict(meta.get("properties") or {})
    for k, v in props.items():
        if v is None:
            cur.pop(k, None)
        else:
            cur[k] = str(v)
    meta["properties"] = cur
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return cur


def set_sort_order(path: str, order_by: list[str]) -> int:
    """ALTER TABLE ... WRITE ORDERED BY (spec §Sort Orders): append a
    sort order and make it the default — a METADATA-ONLY commit.
    Entries are ``"col"``, ``"col desc"``, ``"col asc nulls-last"``,
    or a transform over a column (``"truncate(4, col) desc"``).
    Subsequent :func:`write_iceberg` appends sort rows WITHIN each
    staged task by (partition columns, sort fields) — so every data
    file is internally ordered, its manifest bounds are tight in the
    leading sort dimension, and bounds pruning skips files on sorted
    predicates — and record the order's id on their manifest entries
    (``data_file.sort_order_id``, spec field 140).
    ``order_by=[]`` resets the default to the reserved unsorted order
    0. Returns the new default sort-order id.

    The reference delegates table maintenance to warehouse engines
    (core/dbio/iop/iceberg.go reads via DuckDB); sort orders are part
    of the public spec surface those warehouses produce."""
    from sling_cli_spark.sources.iceberg_transforms import (
        parse_sort_field)

    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    schema = _current_schema(meta) or {}
    ids = {f["name"]: f["id"] for f in schema.get("fields", [])}
    want = []
    for e in order_by:
        sf = parse_sort_field(e)
        src = sf.pop("source")
        if src not in ids:
            raise ValueError(f"sort column {src!r} not in schema")
        want.append({**sf, "source-id": ids[src]})
    orders = meta.get("sort-orders") or [{"order-id": 0, "fields": []}]
    key = [(f["transform"], f["source-id"], f["direction"],
            f["null-order"]) for f in want]
    for o in orders:  # identical order already recorded -> re-default
        have = [(f.get("transform", "identity"), f.get("source-id"),
                 f.get("direction", "asc"),
                 f.get("null-order", "nulls-first"))
                for f in (o.get("fields") or [])]
        if have == key:
            new_id = o.get("order-id", 0)
            break
    else:
        new_id = 1 + max(o.get("order-id", 0) for o in orders)
        meta["sort-orders"] = orders + [
            {"order-id": new_id, "fields": want}]
    meta["default-sort-order-id"] = new_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return int(new_id)


def sync_uniform(delta_path: str) -> int:
    """Universal-format twin (Databricks UniForm's public behavior):
    generate — or refresh — Iceberg metadata BESIDE the Delta log so
    ONE copy of parquet serves both protocols. The Iceberg snapshot's
    entries reference the Delta table's ACTIVE files by absolute path;
    re-running after more Delta commits appends a fresh snapshot (a
    reader holding an old snapshot keeps working until Delta vacuum
    passes the retention it saw). Refuses DV-bearing or column-mapped
    sources — an Iceberg reader would resurrect deleted rows or
    mis-read physical names; the icebergCompat enforcement
    (delta_py._dv_writes_enabled) keeps compat-enabled tables inside
    this safe envelope. Returns the Iceberg snapshot id."""
    from pyspark.sql import types as T

    from . import delta_py

    dmeta, dfiles = delta_py.replay_log(delta_path)
    if dmeta is None:
        raise FileNotFoundError(f"not a delta table: {delta_path}")
    if any(a.get("deletionVector") for a in dfiles.values()):
        raise UnsupportedTableFeature(
            f"uniform sync of {delta_path}: table carries deletion "
            "vectors — purge them first (optimize purge_dvs) or keep "
            "icebergCompat enabled so deletes stay copy-on-write")
    if ((dmeta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none")) != "none":
        raise UnsupportedTableFeature(
            f"uniform sync of {delta_path}: column-mapped tables store "
            "physical names Iceberg readers would mis-read")

    class _Shim:  # _ice_schema_for/_init_meta only touch .schema
        schema = T.StructType.fromJson(json.loads(dmeta["schemaString"]))

    part_cols = dmeta.get("partitionColumns") or []
    if is_iceberg_table(delta_path):
        _, imeta = _current_metadata(delta_path, for_write=True)
        base = _current_schema(imeta) or {}
        ice = _ice_schema_for(_Shim, base=base,
                              last_column_id=imeta.get("last-column-id", 0))
        if [f["name"] for f in ice["fields"]] != \
                [f["name"] for f in base.get("fields", [])]:
            new_sid = 1 + max((s.get("schema-id", 0)
                               for s in imeta.get("schemas") or []),
                              default=-1)
            ice["schema-id"] = new_sid
            imeta["schemas"] = (imeta.get("schemas") or []) + [ice]
            imeta["current-schema-id"] = new_sid
            imeta["last-column-id"] = max(
                imeta.get("last-column-id", 0), _max_field_id(ice))
    else:
        # a variant column obliges the v3 metadata spec on the iceberg
        # side, exactly like the delta table's variantType feature
        fv = 3 if any(f.dataType.typeName() == "variant"
                      for f in _Shim.schema.fields) else 2
        imeta = _init_meta(_Shim, delta_path, part_cols, fv)

    entries = []
    for rel in sorted(dfiles):
        add = dfiles[rel]
        try:
            n = int(json.loads(add.get("stats") or "{}")["numRecords"])
        except (ValueError, KeyError, TypeError):
            n = delta_py._add_num_records(delta_path, add)
        pv = add.get("partitionValues") or {}
        entries.append({
            "file_path": delta_py._abs_of_add(delta_path, rel),
            "file_format": "PARQUET",
            "record_count": n,
            "file_size_in_bytes": int(add.get("size") or 0),
            "partition": dict(pv) or None,
            "__seq": 0,
        })
    return _commit_snapshot(None, delta_path, imeta, carried=entries,
                            operation="replace")


def sync_delta(iceberg_path: str) -> int:
    """Reverse universal-format sync (the XTable direction —
    :func:`sync_uniform` mirrored): generate — or refresh — a DELTA
    LOG beside the Iceberg metadata so ONE copy of parquet serves both
    protocols. The Delta commit references the Iceberg snapshot's
    ACTIVE data files by ABSOLUTE path (PROTOCOL.md: ``add.path`` may
    be absolute — the shallow-clone machinery), with partition values
    carried in ``add.partitionValues`` (identity layouts keep them out
    of the files; the log, not dir inference, is authoritative — the
    same log-attached read path partitioned clones use). Re-running
    after more Iceberg snapshots commits a diff: vanished files get
    ``remove`` actions, new ones ``add``, schema evolution rides a
    fresh ``metaData``. Refuses MoR debt (positional/equality deletes
    incl. DVs — a Delta reader would resurrect deleted rows; compact
    first), transform partition layouts (Delta has no transform
    partitioning), and v3 initial defaults (Delta would null-fill
    pre-evolution files instead). Returns the Delta version
    committed."""
    from . import delta_py

    _, meta = _current_metadata(iceberg_path)
    files, pos_d, eq_d = _active_entries(iceberg_path, meta, None)
    if pos_d or eq_d:
        raise UnsupportedTableFeature(
            f"delta sync of {iceberg_path}: snapshot carries "
            f"{len(pos_d)} positional / {len(eq_d)} equality delete "
            "files a Delta reader cannot apply — compact_iceberg first")
    if _initial_defaults(meta):
        raise UnsupportedTableFeature(
            f"delta sync of {iceberg_path}: v3 initial-defaults would "
            "read as NULL under Delta for pre-evolution files")
    # Delta has no transform partitioning, but it does not need one:
    # transform fields keep their SOURCE columns inside the data files
    # (spec: transformed fields never replace their source), so they
    # simply drop out of the Delta partitioning — a pure-transform
    # layout syncs as an unpartitioned Delta table (round 9; r8
    # refused here). IDENTITY fields are the opposite: their values
    # live only in dirs/manifests, so every live file's spec identity
    # fields must be covered by the Delta partitioning or a Delta
    # reader would null-fill them.
    default_fields = _default_spec(meta).get("fields") or []
    part_cols = [f["name"] for f in default_fields
                 if f.get("transform", "identity") == "identity"]
    spec_by_id = {s.get("spec-id", 0): s
                  for s in meta.get("partition-specs") or []}
    for f in files:
        sid = int(f.get("__spec_id") or 0)
        for pf in (spec_by_id.get(sid) or {}).get("fields") or []:
            if pf.get("transform", "identity") == "identity" \
                    and pf["name"] not in part_cols:
                raise UnsupportedTableFeature(
                    f"delta sync of {iceberg_path}: live file under "
                    f"spec {sid} holds identity partition field "
                    f"{pf['name']!r} outside the default spec — its "
                    "values live only in the manifests and the synced "
                    "Delta partitioning would null-fill them")

    class _Shim:  # _first_commit_actions only touches .schema
        schema = _spark_schema(meta)

    schema_string = _Shim.schema.json()
    now = int(time.time() * 1000)
    adds: dict[str, dict] = {}
    for f in files:
        abs_p = _canon(f["file_path"])
        pv = f.get("partition") or {}
        adds[abs_p] = {
            "path": abs_p,
            "partitionValues": {c: pv.get(c) for c in part_cols},
            "size": int(f.get("file_size_in_bytes") or 0),
            "modificationTime": now,
            "dataChange": True,
            "stats": json.dumps(
                {"numRecords": int(f.get("record_count") or 0)}),
        }

    try:
        dmeta, dfiles = delta_py.replay_log(iceberg_path)
    except FileNotFoundError:
        dmeta, dfiles = None, {}
    actions: list[dict] = []
    if dmeta is None:
        actions += delta_py._first_commit_actions(_Shim, part_cols)
        version = 0
        prior: dict[str, dict] = {}
    else:
        version = delta_py.latest_version(iceberg_path) + 1
        prior = {delta_py._abs_of_add(iceberg_path, rel): rel
                 for rel in dfiles}
        if dmeta.get("schemaString") != schema_string or \
                list(dmeta.get("partitionColumns") or []) != part_cols:
            new_meta = dict(dmeta)
            new_meta["schemaString"] = schema_string
            new_meta["partitionColumns"] = part_cols
            actions.append({"metaData": new_meta})
    for abs_p, rel in sorted(prior.items()):
        if abs_p not in adds:
            actions.append({"remove": {
                "path": rel, "deletionTimestamp": now,
                "dataChange": True}})
    for abs_p in sorted(adds):
        if abs_p not in prior:
            actions.append({"add": adds[abs_p]})
    if version > 0 and not any("add" in a or "remove" in a
                               or "metaData" in a for a in actions):
        return version - 1  # already in sync: no empty commit
    return delta_py._commit_with_retry(iceberg_path, version, actions)


def cherry_pick_snapshot(path: str, snapshot_id: int) -> int:
    """WAP publish (Spark-Iceberg's ``cherrypick_snapshot`` procedure;
    the write-audit-publish pattern): apply an APPEND-ONLY snapshot
    staged off the main line — on an audit branch
    (``write_iceberg(branch=...)``) or orphaned by a rollback — onto
    the CURRENT main head as a new snapshot. Metadata-only: the staged
    data files join a fresh manifest at the NEW sequence number
    (matching Iceberg, which reassigns sequencing on publish so later
    equality deletes scope correctly) while the head's manifests ride
    verbatim (FastAppend reuse). Refuses non-append snapshots (a
    staged overwrite/delete may conflict with main-line commits — the
    same restriction the reference procedure enforces), snapshots
    already on the main chain, and staged files already active.
    Returns the new snapshot id."""
    _, meta = _current_metadata(path, for_write=True)
    snaps = meta.get("snapshots") or []
    snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id),
                None)
    if snap is None:
        raise ValueError(
            f"iceberg table at {path}: snapshot {snapshot_id} is not "
            "retained — cannot cherry-pick it")
    if (snap.get("summary") or {}).get("operation") != "append":
        raise ValueError(
            f"cherry_pick_snapshot: snapshot {snapshot_id} is a "
            f"{(snap.get('summary') or {}).get('operation')!r} — only "
            "append snapshots publish safely onto a moved head")
    # already on the main chain? walk parent links from current
    cur = meta.get("current-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in snaps}
    walk = cur
    while walk is not None and walk in by_id:
        if walk == snapshot_id:
            raise ValueError(
                f"cherry_pick_snapshot: snapshot {snapshot_id} is "
                "already on the main chain")
        walk = by_id[walk].get("parent-snapshot-id")
    staged: list[dict] = []
    for m in read_avro(snap["manifest-list"])[1]:
        if int(m.get("added_snapshot_id") or -1) != snapshot_id:
            continue
        for e in read_avro(m["manifest_path"])[1]:
            if e.get("status") != 1 or e.get("snapshot_id") != snapshot_id:
                continue
            f = dict(e["data_file"])
            if (f.get("content") or 0) != 0:
                raise UnsupportedTableFeature(
                    f"cherry_pick_snapshot: snapshot {snapshot_id} "
                    "added delete files — their sequence scoping does "
                    "not survive a publish")
            staged.append(f)
    head = next((s for s in snaps if s["snapshot-id"] == cur), None)
    reuse = read_avro(head["manifest-list"])[1] if head else None
    # double-publish guard, O(metadata): a prior cherry-pick of this
    # snapshot stamped source-snapshot-id on a main-chain summary (the
    # fast-forward case is the main-chain walk above). Scanning every
    # head manifest's file paths instead would make each publish
    # O(table manifests) — the cost curve FastAppend exists to avoid.
    walk = cur
    while walk is not None and walk in by_id:
        s = by_id[walk]
        if (s.get("summary") or {}).get("source-snapshot-id") \
                == str(int(snapshot_id)):
            raise ValueError(
                f"cherry_pick_snapshot: snapshot {snapshot_id} was "
                f"already published onto main as {walk}")
        walk = s.get("parent-snapshot-id")
    return _commit_snapshot(
        None, path, meta, carried=[], staged_files=staged,
        reuse_manifests=reuse, operation="append",
        summary_extra={"source-snapshot-id": str(int(snapshot_id))})


def fast_forward(path: str, branch: str, to: str = "main") -> int:
    """``fast_forward`` procedure twin (Spark-Iceberg): advance ref
    ``to`` to ``branch``'s head — METADATA-ONLY and allowed only when
    ``to``'s current head is an ANCESTOR of the branch head (the git
    fast-forward rule: nothing on the target line is abandoned).
    Handles any staged operation kind (overwrite/delete included),
    which cherry-pick cannot; diverged lines refuse — merge the work
    instead (cherry-pick per append, or rewrite). Returns the new head
    snapshot id."""
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    refs = dict(meta.get("refs") or {})
    head = (refs.get(branch) or {}).get("snapshot-id")
    if head is None:
        raise ValueError(f"fast_forward: no branch {branch!r} at {path}")
    to_head = (refs.get(to) or {}).get("snapshot-id")
    if to == "main" and to_head is None:
        to_head = meta.get("current-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    walk = head
    ancestor = to_head is None or int(to_head) == -1
    while walk is not None and walk in by_id and not ancestor:
        if walk == to_head:
            ancestor = True
            break
        walk = by_id[walk].get("parent-snapshot-id")
    if not ancestor:
        raise ValueError(
            f"fast_forward: {to!r} (head {to_head}) is not an ancestor "
            f"of {branch!r} (head {head}) — the lines diverged; "
            "cherry-pick or merge instead")
    ref = dict(refs.get(to) or {})
    ref.update({"snapshot-id": int(head), "type": "branch"})
    refs[to] = ref
    meta["refs"] = refs
    if to == "main":
        meta["current-snapshot-id"] = int(head)
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return int(head)


def rollback_to_snapshot(path: str, snapshot_id: int) -> int:
    """rollback_to_snapshot maintenance action (spec/Spark procedure):
    point ``current-snapshot-id`` — and the ``main`` ref — back at an
    earlier retained snapshot, METADATA-ONLY; later snapshots stay in
    history (and expirable). The next write parents at the rolled-back
    head, exactly like a write after time travel."""
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    known = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    if snapshot_id not in known:
        raise ValueError(
            f"iceberg table at {path}: snapshot {snapshot_id} is not "
            "retained — cannot roll back to it")
    meta["current-snapshot-id"] = int(snapshot_id)
    refs = dict(meta.get("refs") or {})
    main = dict(refs.get("main") or {"type": "branch"})
    main["snapshot-id"] = int(snapshot_id)
    refs["main"] = main
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return int(snapshot_id)


def _set_ref(path: str, name: str, ref_type: str,
             snapshot_id: int | None) -> int:
    """Record a named snapshot reference (spec §Refs) in a new
    metadata version; returns the referenced snapshot id."""
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    sid = snapshot_id if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    known = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    if sid not in known:
        raise ValueError(
            f"iceberg table at {path}: snapshot {sid} does not exist")
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": int(sid), "type": ref_type}
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return int(sid)


def create_tag(path: str, name: str,
               snapshot_id: int | None = None) -> int:
    """ALTER TABLE ... CREATE TAG: an immutable named pointer to a
    snapshot (default: current). Tagged snapshots survive
    expire_snapshots; reads resolve it via read_iceberg(ref=...)."""
    if name == "main":
        raise ValueError("'main' is the reserved branch ref")
    return _set_ref(path, name, "tag", snapshot_id)


def create_branch(path: str, name: str,
                  snapshot_id: int | None = None) -> int:
    """ALTER TABLE ... CREATE BRANCH: a movable named head (default:
    forked at the current snapshot). write_iceberg(branch=...)
    advances it independently of main."""
    if name == "main":
        raise ValueError("'main' is the reserved branch ref")
    return _set_ref(path, name, "branch", snapshot_id)


def drop_ref(path: str, name: str) -> None:
    """Remove a tag or branch ref; its snapshots become expirable."""
    if name == "main":
        raise ValueError("cannot drop the 'main' branch ref")
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise KeyError(f"no ref {name!r} at {path}")
    del refs[name]
    meta["refs"] = refs
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())


def iceberg_files(spark: SparkSession, path: str,
                  snapshot_id: int | None = None) -> DataFrame:
    """``files`` metadata-table twin: one row per live content file of
    the (current or named) snapshot — data files and delete files with
    their spec id, sequence number, partition tuple, and size facts.
    Metadata-sized: the manifests the snapshot already lists."""
    _, meta = _current_metadata(path)
    data, pos_d, eq_d = _active_entries(path, meta, snapshot_id)
    rows = []
    for kind, group in (("data", data), ("position-deletes", pos_d),
                        ("equality-deletes", eq_d)):
        for f in group:
            rows.append((
                kind, f["file_path"],
                (f.get("file_format") or "PARQUET"),
                int(f.get("record_count") or 0),
                int(f.get("file_size_in_bytes") or 0),
                json.dumps(f.get("partition") or {}, sort_keys=True),
                int(f.get("__spec_id") or 0),
                int(f.get("__seq") or 0),
            ))
    return local_df(spark, rows, (
        "content string, file_path string, file_format string, "
        "record_count long, file_size_in_bytes long, partition string, "
        "spec_id int, sequence_number long"))


def iceberg_position_deletes(
    spark: SparkSession, path: str, snapshot_id: int | None = None,
) -> DataFrame:
    """``position_deletes`` metadata-table twin (Spark-Iceberg's
    ``SELECT * FROM t.position_deletes``): one row per live deleted
    position of the (current or named) snapshot — the data file it
    targets, the position, and which delete file (parquet position
    deletes and v3 Puffin deletion vectors both) carries it. DV blobs
    expand executor-side (mapInPandas over compressed roaring bytes),
    parquet delete files read natively — the result is delete-sized,
    never data-sized."""
    from functools import reduce

    from pyspark.sql import functions as F

    _, meta = _current_metadata(path)
    _, pos_dels, _ = _active_entries(path, meta, snapshot_id)
    schema = ("file_path string, pos long, delete_file_path string, "
              "file_format string")
    branches = []
    for f in pos_dels:
        fmt = (f.get("file_format") or "PARQUET").upper()
        if fmt == "PUFFIN":
            rows = _dv_deleted_df(spark, [f]).select(
                F.col("__fp").alias("file_path"),
                F.col("__pos").cast("long").alias("pos"))
        else:
            rows = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                f["file_path"]).select(
                _norm_path_col(F.col("file_path")).alias("file_path"),
                F.col("pos").cast("long").alias("pos"))
        branches.append(
            rows.withColumn("delete_file_path",
                            F.lit(f["file_path"]))
            .withColumn("file_format", F.lit(fmt.lower())))
    if not branches:
        return local_df(spark, [], schema)
    return reduce(lambda a, b: a.unionByName(b), branches)


def iceberg_partitions(spark: SparkSession, path: str,
                       snapshot_id: int | None = None) -> DataFrame:
    """``partitions`` metadata-table twin (Spark-Iceberg's
    ``SELECT * FROM t.partitions``): one row per live partition tuple
    with record / file counts, total bytes, and MoR delete-file debt.
    METADATA-ONLY — aggregated from the manifests the snapshot already
    lists, zero data files opened: the count(*) GROUP BY partition a
    100 TB scan would cost answers from manifest arithmetic (the
    record_count every v2 writer is required to stamp). Delete-file
    rows count against the partition their entries target, so a
    partition's ``position_delete_record_count`` > 0 flags compaction
    debt."""
    _, meta = _current_metadata(path)
    data, pos_d, eq_d = _active_entries(path, meta, snapshot_id)
    agg: dict[str, dict] = {}

    def _bucket(f: dict) -> dict:
        key = json.dumps(f.get("partition") or {}, sort_keys=True)
        return agg.setdefault(key, {
            "partition": key, "record_count": 0, "file_count": 0,
            "total_size_bytes": 0, "position_delete_record_count": 0,
            "equality_delete_record_count": 0, "spec_ids": set()})

    for f in data:
        b = _bucket(f)
        b["record_count"] += int(f.get("record_count") or 0)
        b["file_count"] += 1
        b["total_size_bytes"] += int(f.get("file_size_in_bytes") or 0)
        b["spec_ids"].add(int(f.get("__spec_id") or 0))
    for f in pos_d:
        _bucket(f)["position_delete_record_count"] += \
            int(f.get("record_count") or 0)
    for f in eq_d:
        _bucket(f)["equality_delete_record_count"] += \
            int(f.get("record_count") or 0)
    rows = [(b["partition"], b["record_count"], b["file_count"],
             b["total_size_bytes"], b["position_delete_record_count"],
             b["equality_delete_record_count"],
             sorted(b["spec_ids"]))
            for b in agg.values()]
    return local_df(spark, rows, (
        "partition string, record_count long, file_count long, "
        "total_size_bytes long, position_delete_record_count long, "
        "equality_delete_record_count long, spec_ids array<int>"))


def iceberg_history(spark: SparkSession, path: str) -> DataFrame:
    """history metadata-table twin: one row per snapshot — id,
    timestamp, sequence number, operation, whether it is an ancestor
    of the current snapshot (linear history here, so every retained
    snapshot is)."""
    _, meta = _current_metadata(path)
    cur = meta.get("current-snapshot-id")
    rows = [(int(s["snapshot-id"]), int(s.get("timestamp-ms") or 0),
             int(s.get("sequence-number") or 0),
             (s.get("summary") or {}).get("operation"),
             s["snapshot-id"] == cur)
            for s in meta.get("snapshots") or []]
    return local_df(spark, 
        rows, "snapshot_id long, timestamp_ms long, "
              "sequence_number long, operation string, is_current boolean")


def iceberg_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL twin for Iceberg (delta_py.describe_detail's
    format sibling): one row of table facts from metadata + manifest
    arithmetic — zero data files opened."""
    _, meta = _current_metadata(path)
    files, pos_d, eq_d = _active_entries(path, meta, None)
    spec = _default_spec(meta).get("fields") or []
    row = (
        "iceberg",
        meta.get("table-uuid"),
        _absolute(path),
        int(meta.get("format-version", 1)),
        ",".join(f"{f['name']}:{f.get('transform', 'identity')}"
                 for f in spec),
        len(files),
        sum(int(f.get("file_size_in_bytes") or 0) for f in files),
        sum(int(f.get("record_count") or 0) for f in files),
        len(pos_d) + len(eq_d),
        len(meta.get("snapshots") or []),
        int(meta.get("current-snapshot-id") or -1),
        len(meta.get("partition-specs") or []),
        len(meta.get("refs") or {}),
        ",".join(
            f"{sf.get('source-id')}:{sf.get('transform', 'identity')} "
            f"{sf.get('direction', 'asc')} "
            f"{sf.get('null-order', 'nulls-first')}"
            for sf in _default_sort_fields(meta)),
    )
    return local_df(spark, [row], (
        "format string, id string, location string, format_version int, "
        "partition_spec string, num_files long, size_in_bytes long, "
        "num_records long, num_delete_files long, num_snapshots long, "
        "current_snapshot_id long, num_partition_specs int, "
        "num_refs int, sort_order string"))


def iceberg_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """``snapshots`` metadata-table twin (Spark-Iceberg's ``SELECT *
    FROM t.snapshots``): one row per retained snapshot — commit
    instant, ids, operation, manifest-list path, and the summary map
    as a sorted-key JSON string. Pure metadata (the table metadata
    file already holds every row)."""
    _, meta = _current_metadata(path)
    rows = [(int(s.get("timestamp-ms") or 0),
             int(s["snapshot-id"]),
             int(s["parent-snapshot-id"])
             if s.get("parent-snapshot-id") is not None
             and int(s["parent-snapshot-id"]) != -1 else None,
             (s.get("summary") or {}).get("operation"),
             s.get("manifest-list"),
             json.dumps(s.get("summary") or {}, sort_keys=True))
            for s in meta.get("snapshots") or []]
    return local_df(spark, rows, (
        "committed_at_ms long, snapshot_id long, parent_id long, "
        "operation string, manifest_list string, summary string"))


def iceberg_refs_meta(spark: SparkSession, path: str) -> DataFrame:
    """``refs`` metadata-table twin: one row per named ref — ``main``
    mirrors the current snapshot (spec §Refs), tags and branches carry
    their retention knobs when set."""
    _, meta = _current_metadata(path)
    refs = dict(meta.get("refs") or {})
    if "main" not in refs and meta.get("current-snapshot-id", -1) != -1:
        refs["main"] = {"snapshot-id": meta["current-snapshot-id"],
                        "type": "branch"}
    rows = [(name,
             (r.get("type") or "branch").upper(),
             int(r.get("snapshot-id")),
             r.get("max-ref-age-ms"),
             r.get("min-snapshots-to-keep"),
             r.get("max-snapshot-age-ms"))
            for name, r in sorted(refs.items())]
    return local_df(spark, rows, (
        "name string, type string, snapshot_id long, "
        "max_reference_age_in_ms long, min_snapshots_to_keep int, "
        "max_snapshot_age_in_ms long"))


def iceberg_manifests(spark: SparkSession, path: str,
                      snapshot_id: int | None = None) -> DataFrame:
    """``manifests`` metadata-table twin: one row per manifest the
    (current or named) snapshot lists, with per-status entry counts
    split by content kind — added/existing/deleted data and delete
    files. Counts come from one avro read per manifest (the foreign
    *_files_count header fields are optional and this writer's
    stdlib encoder omits them), still metadata-scale: manifests, not
    data files."""
    _, meta = _current_metadata(path)
    snaps = meta.get("snapshots") or []
    sid = snapshot_id if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
    rows = []
    if snap is not None:
        _, manifests = read_avro(snap["manifest-list"])
        for m in manifests:
            counts = {(st, kind): 0 for st in (0, 1, 2)
                      for kind in ("data", "delete")}
            _, entries = read_avro(m["manifest_path"])
            for e in entries:
                kind = "data" if not (e["data_file"].get("content")
                                      or 0) else "delete"
                counts[(int(e.get("status") or 0), kind)] += 1
            rows.append((
                int(m.get("content") or 0), m["manifest_path"],
                int(m.get("manifest_length") or 0),
                int(m.get("partition_spec_id") or 0),
                int(m.get("added_snapshot_id") or 0),
                counts[(1, "data")], counts[(0, "data")],
                counts[(2, "data")],
                counts[(1, "delete")], counts[(0, "delete")],
                counts[(2, "delete")]))
    return local_df(spark, rows, (
        "content int, path string, length long, partition_spec_id int, "
        "added_snapshot_id long, added_data_files_count int, "
        "existing_data_files_count int, deleted_data_files_count int, "
        "added_delete_files_count int, existing_delete_files_count int, "
        "deleted_delete_files_count int"))


def iceberg_entries(spark: SparkSession, path: str,
                    snapshot_id: int | None = None) -> DataFrame:
    """``entries`` metadata-table twin: one row per manifest ENTRY of
    the snapshot — status (0 existing / 1 added / 2 deleted), the
    entry's snapshot id, its (inherited) sequence number, and the
    file facts. The raw form ``files``/``manifests`` aggregate."""
    _, meta = _current_metadata(path)
    snaps = meta.get("snapshots") or []
    sid = snapshot_id if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == sid), None)
    rows = []
    if snap is not None:
        _, manifests = read_avro(snap["manifest-list"])
        for m in manifests:
            mseq = m.get("sequence_number")
            _, entries = read_avro(m["manifest_path"])
            for e in entries:
                df_ = e["data_file"]
                seq = e.get("sequence_number")
                rows.append((
                    int(e.get("status") or 0),
                    int(e.get("snapshot_id")
                        or m.get("added_snapshot_id") or 0),
                    int((mseq if seq is None else seq) or 0),
                    int(df_.get("content") or 0),
                    df_["file_path"],
                    int(df_.get("record_count") or 0),
                    int(df_.get("file_size_in_bytes") or 0),
                    json.dumps(df_.get("partition") or {},
                               sort_keys=True)))
    return local_df(spark, rows, (
        "status int, snapshot_id long, sequence_number long, "
        "content int, file_path string, record_count long, "
        "file_size_in_bytes long, partition string"))


def iceberg_all_manifests(spark: SparkSession, path: str) -> DataFrame:
    """``all_manifests`` metadata-table twin: the manifests of EVERY
    retained snapshot, one row per (manifest, referencing snapshot) —
    ``reference_snapshot_id`` tells which snapshot's list carries it
    (a FastAppend-reused manifest appears once per referencing
    snapshot, exactly like Spark-Iceberg's table). One manifest-list
    read per snapshot; manifest bodies are NOT opened — this stays
    metadata-scale on a 10k-snapshot table."""
    _, meta = _current_metadata(path)
    rows = []
    for s in meta.get("snapshots") or []:
        for m in read_avro(s["manifest-list"])[1]:
            rows.append((
                int(m.get("content") or 0), m["manifest_path"],
                int(m.get("manifest_length") or 0),
                int(m.get("partition_spec_id") or 0),
                int(m.get("added_snapshot_id") or 0),
                int(s["snapshot-id"])))
    return local_df(spark, rows, (
        "content int, path string, length long, partition_spec_id int, "
        "added_snapshot_id long, reference_snapshot_id long"))


def iceberg_all_files(spark: SparkSession, path: str) -> DataFrame:
    """``all_files`` metadata-table twin: live (status != DELETED)
    data AND delete files across EVERY retained snapshot, deduplicated
    by file path (a file carried through ten snapshots appears once,
    like Spark-Iceberg's table). Each shared manifest is opened once
    even when many snapshots reference it."""
    _, meta = _current_metadata(path)
    man_paths: dict[str, dict] = {}
    for s in meta.get("snapshots") or []:
        for m in read_avro(s["manifest-list"])[1]:
            man_paths.setdefault(m["manifest_path"], m)
    rows, seen = [], set()
    for mp, m in sorted(man_paths.items()):
        mseq = m.get("sequence_number")
        for e in read_avro(mp)[1]:
            df_ = e["data_file"]
            if int(e.get("status") or 0) == 2 or df_["file_path"] in seen:
                continue
            seen.add(df_["file_path"])
            seq = e.get("sequence_number")
            rows.append((
                int(df_.get("content") or 0),
                df_["file_path"],
                (df_.get("file_format") or "PARQUET").upper(),
                int(df_.get("record_count") or 0),
                int(df_.get("file_size_in_bytes") or 0),
                int((mseq if seq is None else seq) or 0),
                json.dumps(df_.get("partition") or {}, sort_keys=True)))
    return local_df(spark, rows, (
        "content int, file_path string, file_format string, "
        "record_count long, file_size_in_bytes long, "
        "sequence_number long, partition string"))


def analyze_iceberg(
    spark: SparkSession, path: str, columns: list[str] | None = None,
    k: int = 4096, max_exact_distinct: int = 50_000,
    ref: str | None = None,
) -> dict:
    """ANALYZE TABLE twin (spec §Table Statistics + Puffin spec): write
    per-column NDV statistics as a Puffin file and register it in
    table metadata (``statistics``), exactly the artifact Spark's
    ANALYZE / Trino's ANALYZE exchange. Returns {column: ndv}.

    Two per-column strategies, chosen by a ONE-PASS
    ``approx_count_distinct`` probe:

    - ndv <= ``max_exact_distinct``: ONE shared ``collect_set`` pass
      over every such column; the driver hashes only the DISTINCT
      values through the DataSketches update pipeline
      (murmur3_x64_128, seed 9001, over the spec's Appendix-D
      single-value bytes) and serializes a spec-format compact theta
      sketch (``apache-datasketches-theta-v1``) — EXACT in this range,
      and byte-compatible for foreign readers that merge sketches.
      Bounded: the probe proves each set fits before anything
      collects.
    - larger: a KMV top-k over JVM-side ``xxhash64`` — per column one
      distinct + ``TakeOrderedAndProject`` job (map-side partial
      top-k, k+1-row shuffle), no Python on the data path and no
      unbounded collect at ANY cardinality. Serialized under the
      honest custom blob type ``ndv-kmv-xxhash64-v1`` (a DataSketches
      reader must not merge non-murmur hashes); the ``ndv``
      blob-metadata property — what Iceberg planners actually read —
      carries the estimate either way.

    Scale shape: 2 + n_large_columns scans (probe, shared exact pass,
    one top-k per large column); no scan collects more than
    max_exact_distinct values per column.
    """
    from pyspark.sql import functions as F

    from sling_cli_spark.sources import puffin
    from sling_cli_spark.sources.theta_sketch import (
        THETA_BLOB_TYPE, sketch_from_hashes, update_hash)

    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    if ref is not None:
        # WAP: stats computed against a staged audit branch register
        # keyed to the BRANCH head — fast_forward publishes that very
        # snapshot id, so they resolve at the published head for free
        r = (meta.get("refs") or {}).get(ref)
        if not r:
            raise ValueError(f"analyze: unknown ref {ref!r} at {path}")
        sid = int(r["snapshot-id"])
    else:
        sid = int(meta.get("current-snapshot-id") or -1)
    if sid == -1:
        raise ValueError(f"iceberg table at {path} has no snapshot")
    snap = next((s for s in meta.get("snapshots") or []
                 if s.get("snapshot-id") == sid), {})
    seq = int(snap.get("sequence-number") or 0)
    schema = _current_schema(meta) or {"fields": []}
    fields = [(f["name"], int(f["id"]), f["type"])
              for f in schema.get("fields", [])
              if isinstance(f.get("type"), str)
              and f["type"] in _BOUND_TYPES]
    if columns is not None:
        have = {n for n, _, _ in fields}
        missing = [c for c in columns if c not in have]
        if missing:
            raise ValueError(
                f"analyze: columns not in schema (or of a type "
                f"without single-value serialization): {missing}")
        fields = [f for f in fields if f[0] in columns]
    if not fields:
        raise ValueError(f"analyze: no eligible columns at {path}")

    df = read_iceberg(spark, path, ref=ref) if ref is not None \
        else read_iceberg(spark, path)
    probe = df.agg(*[
        F.approx_count_distinct(f"`{n}`").alias(n)
        for n, _, _ in fields]).collect()[0]
    exact = [f for f in fields if probe[f[0]] <= max_exact_distinct]
    large = [f for f in fields if probe[f[0]] > max_exact_distinct]

    ndvs: dict[str, int] = {}
    hashes_by_col: dict[str, list[int]] = {}
    if exact:
        row = df.agg(*[
            F.collect_set(f"`{n}`").alias(n)
            for n, _, _ in exact]).collect()[0]
        for n, _, t in exact:
            vals = row[n] or []
            ndvs[n] = len(vals)
            hs = []
            for v in vals:
                b = _encode_bound(t, v)
                if b is None:
                    continue
                h = update_hash(b)
                if h:
                    hs.append(h)
            hashes_by_col[n] = hs

    blobs: list[tuple[dict, bytes]] = []
    for n, fid, _t in exact:
        blobs.append((
            {"type": THETA_BLOB_TYPE, "fields": [fid],
             "snapshot-id": sid, "sequence-number": seq,
             "properties": {"ndv": str(ndvs[n])}},
            sketch_from_hashes(hashes_by_col[n], k=k)))
    for n, fid, _t in large:
        c = F.col(f"`{n}`")
        rows = (df.select(F.xxhash64(c).alias("h"))
                .where(c.isNotNull()).distinct()
                .orderBy("h").limit(k + 1).collect())
        hs = [r["h"] for r in rows]
        if len(hs) <= k:
            ndv = len(hs)
        else:
            # KMV estimator over the uniform (0,1) mapping of the
            # (k+1)-th smallest signed-int64 hash
            u = (hs[k] + (1 << 63)) / float(1 << 64)
            ndv = max(k, round(k / u) - 1)
        ndvs[n] = int(ndv)
        import struct as _s
        payload = b"KMV1" + _s.pack("<ii", k, len(hs)) + b"".join(
            _s.pack("<q", h) for h in hs)
        blobs.append((
            {"type": "ndv-kmv-xxhash64-v1", "fields": [fid],
             "snapshot-id": sid, "sequence-number": seq,
             "properties": {"ndv": str(ndvs[n])}},
            payload))

    stats_path = fsio.join(
        _meta_dir(path), f"{sid}-{uuid.uuid4().hex}.stats")
    metas = puffin.write_puffin(stats_path, blobs)
    file_size = fs.getsize(stats_path)
    footer_size = file_size - len(puffin.MAGIC) \
        - sum(m["length"] for m in metas)
    entry = {
        "snapshot-id": sid,
        "statistics-path": _absolute(stats_path),
        "file-size-in-bytes": int(file_size),
        "file-footer-size-in-bytes": int(footer_size),
        "blob-metadata": metas,
    }
    meta["statistics"] = [
        s for s in meta.get("statistics") or []
        if s.get("snapshot-id") != sid] + [entry]
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return ndvs


def iceberg_ndv(path: str, snapshot_id: int | None = None) -> dict:
    """Read per-column NDV from the table's registered statistics
    files (spec §Table Statistics): {column: ndv}. Resolution order
    per blob: the ``ndv`` blob-metadata property (what planners read),
    else — for ``apache-datasketches-theta-v1`` blobs, including ones
    a FOREIGN engine's ANALYZE wrote — the decoded sketch's estimate.
    Empty when the (current) snapshot has no statistics entry."""
    from sling_cli_spark.sources import puffin
    from sling_cli_spark.sources.theta_sketch import (
        THETA_BLOB_TYPE, parse_sketch)

    _, meta = _current_metadata(path)
    sid = snapshot_id if snapshot_id is not None \
        else int(meta.get("current-snapshot-id") or -1)
    entry = next((s for s in meta.get("statistics") or []
                  if s.get("snapshot-id") == sid), None)
    if entry is None:
        return {}
    by_id = {f["id"]: f["name"]
             for f in (_current_schema(meta) or {}).get("fields", [])}
    spath = entry["statistics-path"]
    footer = puffin.read_footer(spath)
    out: dict[str, int] = {}
    for b in footer.get("blobs", []):
        fids = b.get("fields") or []
        if len(fids) != 1 or fids[0] not in by_id:
            continue
        name = by_id[fids[0]]
        ndv = (b.get("properties") or {}).get("ndv")
        if ndv is not None:
            out[name] = int(float(ndv))
        elif b.get("type") == THETA_BLOB_TYPE:
            blob = puffin.read_blob(spath, int(b["offset"]),
                                    int(b["length"]))
            out[name] = round(parse_sketch(blob)["estimate"])
    return out


def compute_partition_stats(path: str, ref: str | None = None) -> dict:
    """Partition statistics file (spec §Partition Statistics): one
    parquet row per live (spec_id, partition) with data/delete record
    and file counts, byte totals, and last-updated lineage, registered
    under table metadata ``partition-statistics`` keyed to the current
    snapshot. METADATA-SCALE: pure manifest arithmetic on the driver —
    the count(*) GROUP BY partition a 100 TB scan would cost — and a
    one-file pyarrow write; zero data files opened, zero Spark jobs.

    The ``partition`` struct carries the values as written in the
    manifests (this writer's simplified string encoding — the same
    representation :func:`iceberg_partitions` serves); field order is
    the union of partition field names across specs. Returns
    ``{"rows": n, "statistics-path": p}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    if ref is not None:
        # same WAP contract as analyze_iceberg(ref=...): keyed to the
        # branch head, valid at the published head after fast_forward
        r = (meta.get("refs") or {}).get(ref)
        if not r:
            raise ValueError(
                f"partition stats: unknown ref {ref!r} at {path}")
        sid = int(r["snapshot-id"])
    else:
        sid = int(meta.get("current-snapshot-id") or -1)
    if sid == -1:
        raise ValueError(f"iceberg table at {path} has no snapshot")
    part_names: list[str] = []
    for s in meta.get("partition-specs") or []:
        for f in s.get("fields") or []:
            if f["name"] not in part_names:
                part_names.append(f["name"])
    if not part_names:
        raise ValueError(
            f"iceberg table at {path} is unpartitioned — partition "
            "statistics would be a single all-table row; use "
            "analyze_iceberg / iceberg_detail instead")
    data, pos_d, eq_d = _active_entries(path, meta, sid)
    snap_ts = {s["snapshot-id"]: int(s.get("timestamp-ms") or 0)
               for s in meta.get("snapshots") or []}

    agg: dict[tuple, dict] = {}

    def _bucket(f: dict) -> dict:
        key = (int(f.get("__spec_id") or 0),
               json.dumps(f.get("partition") or {}, sort_keys=True))
        b = agg.setdefault(key, {
            "spec_id": key[0], "partition": f.get("partition") or {},
            "data_record_count": 0, "data_file_count": 0,
            "total_data_file_size_in_bytes": 0,
            "position_delete_record_count": 0,
            "position_delete_file_count": 0,
            "equality_delete_record_count": 0,
            "equality_delete_file_count": 0,
            "__seq": -1, "last_updated_snapshot_id": None})
        seq = int(f.get("__seq") or 0)
        if seq > b["__seq"] and f.get("__snap_id") is not None:
            b["__seq"] = seq
            b["last_updated_snapshot_id"] = int(f["__snap_id"])
        return b

    for f in data:
        b = _bucket(f)
        b["data_record_count"] += int(f.get("record_count") or 0)
        b["data_file_count"] += 1
        b["total_data_file_size_in_bytes"] += \
            int(f.get("file_size_in_bytes") or 0)
    for f in pos_d:
        b = _bucket(f)
        b["position_delete_record_count"] += \
            int(f.get("record_count") or 0)
        b["position_delete_file_count"] += 1
    for f in eq_d:
        b = _bucket(f)
        b["equality_delete_record_count"] += \
            int(f.get("record_count") or 0)
        b["equality_delete_file_count"] += 1

    rows = sorted(agg.values(),
                  key=lambda b: (b["spec_id"],
                                 json.dumps(b["partition"],
                                            sort_keys=True)))
    cols = {
        "partition": pa.array(
            [{n: (b["partition"].get(n)) for n in part_names}
             for b in rows],
            type=pa.struct([(n, pa.string()) for n in part_names])),
        "spec_id": pa.array([b["spec_id"] for b in rows],
                            pa.int32()),
        "data_record_count": pa.array(
            [b["data_record_count"] for b in rows], pa.int64()),
        "data_file_count": pa.array(
            [b["data_file_count"] for b in rows], pa.int32()),
        "total_data_file_size_in_bytes": pa.array(
            [b["total_data_file_size_in_bytes"] for b in rows],
            pa.int64()),
        "position_delete_record_count": pa.array(
            [b["position_delete_record_count"] for b in rows],
            pa.int64()),
        "position_delete_file_count": pa.array(
            [b["position_delete_file_count"] for b in rows],
            pa.int32()),
        "equality_delete_record_count": pa.array(
            [b["equality_delete_record_count"] for b in rows],
            pa.int64()),
        "equality_delete_file_count": pa.array(
            [b["equality_delete_file_count"] for b in rows],
            pa.int32()),
        "last_updated_at": pa.array(
            [snap_ts.get(b["last_updated_snapshot_id"])
             for b in rows], pa.int64()),
        "last_updated_snapshot_id": pa.array(
            [b["last_updated_snapshot_id"] for b in rows],
            pa.int64()),
    }
    stats_path = fsio.join(
        _meta_dir(path),
        f"partition-stats-{sid}-{uuid.uuid4().hex}.parquet")
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), buf)
    payload = buf.getvalue().to_pybytes()
    fs.write_bytes(stats_path, payload)
    entry = {"snapshot-id": sid,
             "statistics-path": _absolute(stats_path),
             "file-size-in-bytes": len(payload)}
    meta["partition-statistics"] = [
        s for s in meta.get("partition-statistics") or []
        if s.get("snapshot-id") != sid] + [entry]
    meta["last-updated-ms"] = int(time.time() * 1000)
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{version + 1}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(version + 1).encode())
    return {"rows": len(rows), "statistics-path": entry["statistics-path"]}


def read_partition_stats(spark: SparkSession, path: str,
                         snapshot_id: int | None = None) -> DataFrame:
    """The registered partition-statistics file (current snapshot by
    default) as a DataFrame — what a planner joins against to route
    partition-level decisions without scanning manifests."""
    _, meta = _current_metadata(path)
    sid = snapshot_id if snapshot_id is not None \
        else int(meta.get("current-snapshot-id") or -1)
    entry = next((s for s in meta.get("partition-statistics") or []
                  if s.get("snapshot-id") == sid), None)
    if entry is None:
        raise FileNotFoundError(
            f"no partition statistics registered for snapshot {sid} "
            f"at {path} (run compute_partition_stats)")
    return spark.read.parquet(entry["statistics-path"])


def iceberg_statistics(spark: SparkSession, path: str) -> DataFrame:
    """``statistics`` metadata twin: one row per registered blob —
    snapshot, column, blob type, ndv, file coordinates. Pure
    metadata + Puffin footers; zero data files opened."""
    from sling_cli_spark.sources import puffin

    _, meta = _current_metadata(path)
    by_id = {f["id"]: f["name"]
             for f in (_current_schema(meta) or {}).get("fields", [])}
    rows = []
    for s in meta.get("statistics") or []:
        spath = s.get("statistics-path")
        for b in (s.get("blob-metadata")
                  or puffin.read_footer(spath).get("blobs", [])):
            fids = b.get("fields") or []
            ndv = (b.get("properties") or {}).get("ndv")
            rows.append((
                int(s.get("snapshot-id") or -1),
                by_id.get(fids[0]) if len(fids) == 1 else None,
                b.get("type"),
                int(float(ndv)) if ndv is not None else None,
                spath,
                int(s.get("file-size-in-bytes") or 0),
            ))
    return local_df(spark, rows, (
        "snapshot_id long, column string, blob_type string, ndv long, "
        "statistics_path string, file_size_in_bytes long")) \
        if rows else local_df(spark, [], (
            "snapshot_id long, column string, blob_type string, "
            "ndv long, statistics_path string, file_size_in_bytes long"))


def remove_orphan_files(path: str,
                        older_than_ms: int | None = None) -> list[str]:
    """Delete files under ``data/`` that NO snapshot references (the
    spec's remove_orphan_files maintenance action; failed-stage
    leftovers and unreferenced Puffin files accumulate otherwise).
    References are gathered across EVERY retained snapshot — data,
    positional-delete, equality-delete, and Puffin DV files all appear
    as manifest ``file_path`` entries, so one walk covers them.

    ``older_than_ms`` (Iceberg's ``older_than`` procedure arg, which
    defaults to 3 days there): only files whose mtime predates the
    instant are candidates — the guard that keeps a CONCURRENT
    writer's staged-but-uncommitted parquet from being reaped between
    its stage and its commit. None keeps this module's historical
    reap-everything behavior (single-writer EL shape)."""
    fs = fsio.get_fs(path)
    _, meta = _current_metadata(path)
    referenced: set[str] = set()
    for s in meta.get("snapshots") or []:
        _, manifests = read_avro(s["manifest-list"])
        for m in manifests:
            _, entries = read_avro(m["manifest_path"])
            for e in entries:
                referenced.add(_canon(e["data_file"]["file_path"]))
    data_dir = fsio.join(path, "data")
    deleted: list[str] = []

    def walk(rel: str) -> None:
        base = fsio.join(data_dir, rel) if rel else data_dir
        for name in fs.listdir(base):
            full = fsio.join(base, name)
            r = f"{rel}/{name}" if rel else name
            if fs.isdir(full):
                walk(r)
            elif not name.startswith((".", "_")) \
                    and _canon(full) not in referenced:
                if older_than_ms is not None:
                    try:
                        if fs.getmtime_ms(full) > older_than_ms:
                            continue  # possibly an in-flight stage
                    except Exception:
                        continue
                fs.delete(full)
                deleted.append(r)

    if fs.exists(data_dir):
        walk("")
    return deleted


def cleanup_metadata(path: str, keep: int = 10) -> list[str]:
    """Metadata-file retention (the catalog property
    ``write.metadata.previous-versions-max``, spec §Table Metadata):
    delete ``v{N}.metadata.json`` files older than the newest ``keep``
    versions. Snapshot history is UNAFFECTED — every retained snapshot
    lives inside the current metadata file; old metadata versions only
    serve metadata-level rollback, which delta-spark-style engines cap
    exactly like this. Returns the deleted file names."""
    fs = fsio.get_fs(path)
    version, _ = _current_metadata(path)
    deleted = []
    md = _meta_dir(path)
    for name in fs.listdir(md):
        m = re.match(r"^v(\d+)\.metadata\.json$", name)
        if m and int(m.group(1)) <= version - keep:
            fs.delete(fsio.join(md, name))
            deleted.append(name)
    return deleted


def expire_snapshots(path: str, keep: int = 1,
                     older_than_ms: int | None = None) -> dict:
    """Expire all but the last ``keep`` snapshots and delete data files
    / manifests no retained snapshot references (the spec's
    expire-snapshots maintenance action; delta_py.vacuum is the
    format twin). Commits a new metadata version whose snapshot list
    holds only the survivors.

    ``older_than_ms`` (the procedure's ``older_than`` arg): only
    snapshots whose ``timestamp-ms`` predates the instant expire —
    composing with ``keep`` as retain-last (Iceberg's
    ``retain_last``): a snapshot survives if it is in the newest
    ``keep`` OR younger than the cutoff OR ref-protected.

    Returns {"expired": n_snapshots, "deleted_files": [...]}.
    """
    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path, for_write=True)
    snaps = meta.get("snapshots") or []
    if len(snaps) <= keep:
        return {"expired": 0, "deleted_files": []}
    # spec §Refs: snapshots a tag or branch head names are PROTECTED —
    # expiring them would break every read through the ref
    protected = {int(r["snapshot-id"])
                 for r in (meta.get("refs") or {}).values()
                 if r.get("snapshot-id") is not None}
    tail = {s["snapshot-id"] for s in snaps[-keep:]}
    kept = [s for s in snaps
            if s["snapshot-id"] in tail or s["snapshot-id"] in protected
            or (older_than_ms is not None
                and int(s.get("timestamp-ms") or 0) > older_than_ms)]
    expired = [s for s in snaps if s not in kept]
    if not expired:
        return {"expired": 0, "deleted_files": []}

    def _files_of(snap_list):
        # canon key -> original manifest URI (deletion must use the
        # URI as written; canon is only the comparison form)
        out: dict[str, str] = {}
        for s in snap_list:
            _, manifests = read_avro(s["manifest-list"])
            for m in manifests:
                _, entries = read_avro(m["manifest_path"])
                for e in entries:
                    if e["status"] != 2:
                        fp = e["data_file"]["file_path"]
                        out[_canon(fp)] = fp
        return out

    referenced = set(_files_of(kept))
    expired_files = _files_of(expired)
    deletable = {k: v for k, v in expired_files.items()
                 if k not in referenced}

    new_meta = dict(meta)
    new_meta["snapshots"] = kept
    # statistics files (spec §Table Statistics) are keyed to ONE
    # snapshot — entries for expired snapshots dangle, so drop them
    # and reclaim their Puffin files
    kept_ids = {s["snapshot-id"] for s in kept}
    stale_stats = [s for s in new_meta.get("statistics") or []
                   if s.get("snapshot-id") not in kept_ids]
    if stale_stats:
        new_meta["statistics"] = [
            s for s in new_meta["statistics"] if s not in stale_stats]
    stale_pstats = [s for s in new_meta.get("partition-statistics") or []
                    if s.get("snapshot-id") not in kept_ids]
    if stale_pstats:
        new_meta["partition-statistics"] = [
            s for s in new_meta["partition-statistics"]
            if s not in stale_pstats]
    stale_stats += stale_pstats
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = version + 1
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{new_version}.metadata.json"),
        json.dumps(new_meta).encode())
    hint = fsio.join(_meta_dir(path), "version-hint.text")
    fs.write_bytes(hint, str(new_version).encode())

    deleted = []
    for fp in sorted(deletable.values()):
        if fs.exists(fp):
            fs.delete(fp)
            deleted.append(fp)
    kept_manifests = {
        m["manifest_path"] for k in kept
        for m in read_avro(k["manifest-list"])[1]}
    for s in expired:
        _, manifests = read_avro(s["manifest-list"])
        for m in manifests:
            if m["manifest_path"] not in kept_manifests and \
                    fs.exists(m["manifest_path"]):
                fs.delete(m["manifest_path"])
        if fs.exists(s["manifest-list"]):
            fs.delete(s["manifest-list"])
    for s in stale_stats:
        sp = s.get("statistics-path")
        if sp and fs.exists(sp):
            fs.delete(sp)
            deleted.append(sp)
    return {"expired": len(expired), "deleted_files": deleted}


def rewrite_manifests(path: str) -> dict:
    """Consolidate the current snapshot's manifests into one data
    manifest per spec id (+ one delete manifest while delete files are
    live) — the spec's rewrite-manifests maintenance action and the
    cleanup pass for FastAppend's manifest-per-commit growth: scan
    planning opens every manifest in the list, so a 10k-trigger
    streaming table pays 10k object-store GETs per query until
    consolidated. Metadata-only (zero data-file movement); commits
    ``operation=replace``; dead equality deletes retire
    (:func:`_live_delete_files`). Returns {"replaced": n_before,
    "created": n_after, "snapshot_id": id}."""
    _, meta = _current_metadata(path, for_write=True)
    snap = next((s for s in meta.get("snapshots") or []
                 if s["snapshot-id"] == meta.get("current-snapshot-id")),
                None)
    if snap is None:
        return {"replaced": 0, "created": 0, "snapshot_id": None}
    n_before = len(read_avro(snap["manifest-list"])[1])
    files, pos_d, eq_d = _active_entries(path, meta, None)
    sid = _commit_snapshot(
        None, path, meta, carried=files,
        carried_deletes=_live_delete_files(files, pos_d, eq_d),
        operation="replace",
        summary_extra={"manifests-replaced": str(n_before)})
    _, meta2 = _current_metadata(path)
    snap2 = next(s for s in meta2["snapshots"]
                 if s["snapshot-id"] == sid)
    return {"replaced": n_before,
            "created": len(read_avro(snap2["manifest-list"])[1]),
            "snapshot_id": sid}


def compact_iceberg(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    purge_dvs: bool = False,
    dv_purge_ratio: float = 0.3,
    zorder_by: list[str] | None = None,
    sort: bool = False,
) -> dict:
    """Bin-pack small data files as a new snapshot (the spec's
    rewrite-data-files maintenance action; delta_py.optimize_delta is
    the format twin): active files under ``target_file_bytes`` are read
    MERGE-ON-READ (their delete-file rows never resurrect into the
    rewrite), rewritten as ~target-sized files, and committed with the
    untouched files carried forward — fixing the small-file pile-up a
    per-batch commit cadence creates.

    ``purge_dvs=True`` (the rewrite-position-delete-files twin of
    delta_py's REORG/PURGE) also rewrites any data file whose deletion
    vector covers at least ``dv_purge_ratio`` of its rows, regardless
    of size — these qualify alone, reclaiming the scan cost DV
    deletes defer.

    ``zorder_by=[cols...]`` re-clusters EVERY active file along the
    Morton curve of the listed columns (delta_py._zorder_value is the
    shared kernel) — each rewritten file then owns a disjoint z-span,
    its manifest lower/upper bounds become tight in all listed
    dimensions, and bounds-based scan pruning skips on any of them.

    ``sort=True`` (rewrite_data_files strategy => 'sort' twin)
    rewrites EVERY active file RANGE-partitioned by the table's
    default sort order (:func:`set_sort_order`), so rewritten files
    own disjoint key ranges table-wide — the within-file ordering
    itself comes from the commit path, which honors the default order
    on any staged write. Requires a non-empty default sort order.

    Partitioned tables compact within each partition (files never merge
    across partition values — the staged write re-partitions by the
    identity columns). Delete files carry forward for the KEPT files;
    the rewritten rows land at a higher sequence number so old equality
    deletes no longer bind them. Returns
    {"compacted": n_in, "new_files": n_out, "snapshot_id": id}
    ({"compacted": 0} when nothing qualifies).
    """
    _, meta = _current_metadata(path, for_write=True)
    active, pos_dels, eq_dels = _active_entries(path, meta, None)
    if sort and not _default_sort_fields(meta):
        raise ValueError(
            f"compact(sort=True) on {path}: the table has no default "
            "sort order — set one with set_sort_order() first")

    dv_card: dict[str, int] = {}
    if purge_dvs:
        for d in pos_dels:
            if (d.get("file_format") or "").upper() == "PUFFIN" \
                    and d.get("referenced_data_file"):
                dv_card[_canon(d["referenced_data_file"])] = \
                    int(d.get("record_count") or 0)
    groups: dict[tuple, list[dict]] = {}
    purge: list[dict] = []
    for f in active:
        n = int(f.get("record_count") or 0)
        card = dv_card.get(_canon(f["file_path"]), 0)
        if zorder_by or sort:
            purge.append(f)  # re-clustering rewrites every file
        elif purge_dvs and card and (not n or card / n >= dv_purge_ratio):
            purge.append(f)
        elif int(f.get("file_size_in_bytes") or 0) < target_file_bytes:
            key = tuple(sorted((f.get("partition") or {}).items()))
            groups.setdefault(key, []).append(f)
    todo = [f for fs_ in groups.values() if len(fs_) >= min_files
            for f in fs_] + purge
    if not todo:
        return {"compacted": 0, "new_files": 0,
                "snapshot_id": meta.get("current-snapshot-id")}

    # v3 rewrite: a pure rearrangement materializes BOTH lineage ids
    # into the rewritten files (spec v3 §Row Lineage) — no row was
    # logically updated, so _last_updated_sequence_number survives too
    rows = _mor_read(spark, path, meta, todo, pos_dels, eq_dels,
                     with_row_ids=int(meta.get("format-version", 1)) >= 3)
    total = sum(int(f.get("file_size_in_bytes") or 0) for f in todo)
    n_out = max(1, round(total / target_file_bytes))
    # see delta_py.optimize_delta: hash by the partition columns so the
    # partitionBy write emits one file per partition per task, not
    # n_out fragments per partition
    pcols = _part_cols(meta)
    if zorder_by:
        from sling_cli_spark.sources.delta_py import _zorder_value

        rows = rows.withColumn("__z", _zorder_value(rows, zorder_by)) \
            .repartitionByRange(n_out, *pcols, "__z") \
            .sortWithinPartitions(*pcols, "__z").drop("__z")
    elif sort:
        exprs = _sort_exprs(rows, meta, _default_sort_fields(meta))
        if exprs is None:
            raise ValueError(
                f"compact(sort=True) on {path}: a sort-order source "
                "column is absent from the table's current schema")
        from pyspark.sql import functions as Fc
        rows = rows.repartitionByRange(
            n_out, *[Fc.col(f"`{c}`") for c in pcols], *exprs)
    elif pcols:
        rows = rows.repartition(n_out, *pcols)
    else:
        rows = rows.repartition(n_out)
    compacted_paths = {_canon(f["file_path"]) for f in todo}
    keep = [f for f in active
            if _canon(f["file_path"]) not in compacted_paths]
    # a DV whose referenced data file was just rewritten retires with
    # it (the rewrite materialized the live rows) — carrying it would
    # be inert but grow the delete manifests forever
    live_pos = [d for d in pos_dels
                if not (d.get("referenced_data_file")
                        and _canon(d["referenced_data_file"])
                        in compacted_paths)]
    snapshot_id = _commit_snapshot(
        rows, path, meta, carried=keep, operation="replace",
        carried_deletes=_live_delete_files(keep, live_pos, eq_dels),
        # a z-order rewrite owns its clustering — the default sort
        # order must not re-order the staged rows out of z-span
        apply_sort=not zorder_by)
    return {"compacted": len(todo),
            "new_files": _added_files_of(meta, snapshot_id),
            "snapshot_id": snapshot_id}


# ----------------------------------------------- deletion-vector production

def _dv_writes_enabled_ice(meta: dict, use_dvs: bool | None,
                           op: str = "delete") -> bool:
    """Should this write produce v3 deletion vectors instead of CoW
    rewrites? Explicit ``use_dvs`` wins; default follows the public
    per-operation table properties ``write.delete.mode`` /
    ``write.merge.mode`` = merge-on-read (Iceberg's documented
    row-level-operation switches; default copy-on-write)."""
    if use_dvs is not None:
        return bool(use_dvs)
    return meta.get("format-version", 1) >= 3 and \
        (meta.get("properties") or {}).get(
            f"write.{op}.mode") == "merge-on-read"


def _next_ids(path: str, meta: dict, carried: list[dict],
              carried_deletes: list[dict]) -> tuple[int, int]:
    """The (snapshot_id, sequence_number) the next
    :func:`_commit_snapshot` over the SAME carried lists will assign —
    precomputed so a Puffin DV blob's metadata can name them."""
    version, _ = _current_metadata(path, for_write=True)
    snapshot_id = int(time.time() * 1000) * 1000 + (version + 1)
    new_seq = 1 + max(
        [int(meta.get("last-sequence-number") or 0)]
        + [int(f.get("__seq") or 0) for f in carried + carried_deletes])
    return snapshot_id, new_seq


def _raw_position_scan_ice(spark, path: str, meta: dict,
                           entries: list[dict]) -> DataFrame:
    """Raw (NOT delete-applied) scan of data-file entries with each
    row's physical coordinates ``__fp`` (canonical path) / ``__pos``
    (``_metadata.row_index``) — the coordinate space deletion vectors
    address. Reads with the table schema and ``basePath`` like
    :func:`_mor_read`, so defining it runs no Spark job."""
    from pyspark.sql import functions as F

    epaths = sorted(f["file_path"] for f in entries)
    reader = spark.read.schema(_spark_schema(meta))
    part = _part_cols(meta)
    if part and set(part) <= _identity_part_cols(meta):
        reader = reader.option(
            "basePath", _absolute(fsio.join(path, "data")))
    df = reader.parquet(*epaths)
    return df.withColumn(
        "__fp", _norm_path_col(F.col("_metadata.file_path"))) \
        .withColumn("__pos", F.col("_metadata.row_index"))


def _produce_dvs_ice(
    spark, path: str, meta: dict, touched_entries: list[dict],
    pos_dels: list[dict], pk: list[str], keys: DataFrame,
    doom_matched: bool, max_dv_rows: int = 4_000_000,
) -> tuple[dict[str, list[int]], set, set] | None:
    """Produce v3 deletion vectors for a sparse delete over
    ``touched_entries`` (spec v3 §Deletion Vectors: one DV per data
    file, superseding the old one by merging its positions —
    :func:`lake_core.doomed_positions` + :func:`lake_core.fold_dv_rows`;
    physical row counts from the manifest's ``record_count``). Returns
    ``(dv_rows, superseded, dead)``: merged positions per surviving
    file, the ``(file_path, content_offset)`` keys of replaced DV
    entries and the canonical paths of fully-dead files — or None when
    the delete is dense (> ``max_dv_rows`` doomed positions) and CoW is
    the better plan. :func:`_commit_dvs` commits the result."""
    from sling_cli_spark.sources import puffin

    doom, positions = doomed_positions(
        _raw_position_scan_ice(spark, path, meta, touched_entries),
        keys, pk, doom_matched, max_dv_rows)
    if not doom:
        return {}, set(), set()
    if positions is None:
        return None
    by_fp = {_canon(f["file_path"]): f for f in touched_entries}
    old_dv = {_canon(d["referenced_data_file"]): d for d in pos_dels
              if (d.get("file_format") or "PARQUET").upper() == "PUFFIN"
              and d.get("referenced_data_file")}

    def old_positions(fp):
        old = old_dv.get(fp)
        if old is None:
            return ()
        return puffin.dv_blob_indices(puffin.read_blob(
            old["file_path"], int(old["content_offset"]),
            int(old["content_size_in_bytes"])))

    def phys_rows(fp):
        # the manifest's record_count is the file's physical row count
        # (spec: "Number of records in this file"); footer fallback
        # when a foreign writer omitted it
        n = int(by_fp[fp].get("record_count") or 0)
        return n if n > 0 else footer_num_rows(fp)

    dv_rows, dead = fold_dv_rows(doom, positions, old_positions, phys_rows)
    # the new vectors supersede the old ones, which must not carry
    superseded = {(old_dv[fp]["file_path"], old_dv[fp]["content_offset"])
                  for fp in doom if fp in old_dv}
    return dv_rows, superseded, set(dead)


def _commit_dvs(
    df: DataFrame | None, path: str, meta: dict, active: list[dict],
    pos_dels: list[dict], eq_dels: list[dict], dv: tuple,
    operation: str, branch: str,
) -> tuple[int, list[dict]]:
    """Commit :func:`_produce_dvs_ice`'s result (plus ``df``'s rows as
    new files): fully-dead files and the DVs of dead or superseded
    vectors drop out, the new vectors land as one Puffin file. Returns
    ``(snapshot id, carried data files)``."""
    dv_rows, superseded, dead = dv
    carried = [f for f in active if _canon(f["file_path"]) not in dead]
    live_pos = [
        d for d in pos_dels
        if (d["file_path"], d.get("content_offset")) not in superseded
        and not (d.get("referenced_data_file")
                 and _canon(d["referenced_data_file"]) in dead)]
    cd = _live_delete_files(carried, live_pos, eq_dels)
    snapshot_id, new_seq = _next_ids(path, meta, carried, cd)
    by_fp = {_canon(f["file_path"]): f for f in active}
    nd = _dv_delete_entries(path, dv_rows, by_fp, snapshot_id, new_seq) \
        if dv_rows else []
    return _commit_snapshot(
        df, path, meta, carried=carried, operation=operation,
        carried_deletes=cd, new_deletes=nd, snapshot_id=snapshot_id,
        branch=branch), carried


def _dv_delete_entries(
    path: str, dv_rows: dict[str, list[int]], entries_by_fp: dict,
    snapshot_id: int, new_seq: int,
) -> list[dict]:
    """Write ONE Puffin file holding a ``deletion-vector-v1`` blob per
    file in ``dv_rows`` and return the content=1 data_file dicts for
    the delete manifest (spec v3: ``referenced_data_file`` + blob byte
    range; partition copied from the referenced data entry so partition
    pruning binds the DV to its file's partition)."""
    from sling_cli_spark.sources import puffin

    fs = fsio.get_fs(path)
    puffin_path = fsio.join(fsio.join(path, "data"),
                            f"{uuid.uuid4().hex}-deletes.puffin")
    ordered = sorted(dv_rows)
    blobs = [({"type": puffin.DV_BLOB_TYPE, "fields": [],
               "snapshot-id": snapshot_id, "sequence-number": new_seq,
               "properties": {
                   "referenced-data-file": entries_by_fp[fp]["file_path"],
                   "cardinality": str(len(dv_rows[fp]))}},
              puffin.dv_blob(dv_rows[fp]))
             for fp in ordered]
    metas = puffin.write_puffin(puffin_path, blobs)
    psize = fs.getsize(puffin_path)
    out = []
    for m, fp in zip(metas, ordered):
        f = entries_by_fp[fp]
        out.append({
            "content": 1,
            "file_path": _absolute(puffin_path),
            "file_format": "PUFFIN",
            "record_count": len(dv_rows[fp]),
            "file_size_in_bytes": psize,
            "partition": f.get("partition"),
            "referenced_data_file": f["file_path"],
            "content_offset": int(m["offset"]),
            "content_size_in_bytes": int(m["length"]),
        })
    return out


def add_deletion_vectors(path: str, dv_rows: dict[str, list[int]]) -> int:
    """Upgrade a v2 table to format-version 3 with deletion vectors
    attached to existing data files (test/fixture path — synthesizes a
    FOREIGN v3 table with explicit row ordinals; the production write
    paths produce DVs themselves via :func:`_produce_dvs_ice` when
    ``use_dvs`` / ``write.delete.mode=merge-on-read`` is on).
    ``dv_rows`` maps data-file basenames (or full
    paths) to deleted row ordinals.

    Writes ONE Puffin file holding a ``deletion-vector-v1`` blob per
    referenced data file, appends a content=1 delete manifest whose
    entries pin ``referenced_data_file`` + the blob byte range, reuses
    the prior snapshot's manifests as-is in the new manifest list
    (manifests are immutable), and commits metadata with
    ``format-version`` 3 + the v3 row-lineage bookkeeping fields
    (``next-row-id``; snapshot ``first-row-id``). Returns the new
    snapshot id.
    """
    from sling_cli_spark.sources import puffin

    fs = fsio.get_fs(path)
    version, meta = _current_metadata(path)
    if meta.get("format-version", 1) < 2:
        raise UnsupportedTableFeature(
            "deletion vectors need a v2+ table (sequence numbers)")
    files, pos_dels, _ = _active_entries(path, meta, None)
    if pos_dels:
        raise UnsupportedTableFeature(
            "v3 forbids position delete files — rewrite them as "
            "deletion vectors before upgrading (spec v3)")
    by_name = {os.path.basename(f["file_path"]): f for f in files}
    by_path = {_canon(f["file_path"]): f for f in files}
    targets: dict[str, tuple[dict, list[int]]] = {}
    for key, rows in dv_rows.items():
        f = by_name.get(os.path.basename(key)) or by_path.get(_canon(key))
        if f is None:
            raise ValueError(f"no such data file in table: {key}")
        targets[f["file_path"]] = (f, sorted(set(int(r) for r in rows)))

    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, mlist = read_avro(snap["manifest-list"])
    new_seq = 1 + max(
        [int(meta.get("last-sequence-number") or 0)]
        + [int(m.get("sequence_number") or 0) for m in mlist])
    snapshot_id = int(time.time() * 1000) * 1000 + version + 1

    puffin_path = fsio.join(fsio.join(path, "data"),
                            f"{uuid.uuid4().hex}-deletes.puffin")
    blobs = [({"type": puffin.DV_BLOB_TYPE, "fields": [],
               "snapshot-id": snapshot_id, "sequence-number": new_seq,
               "properties": {"referenced-data-file": fp,
                              "cardinality": str(len(rows))}},
              puffin.dv_blob(rows))
             for fp, (_, rows) in sorted(targets.items())]
    metas = puffin.write_puffin(puffin_path, blobs)
    psize = fs.getsize(puffin_path)

    del_entries = []
    for m, (fp, (f, rows)) in zip(metas, sorted(targets.items())):
        del_entries.append({
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": None,  # inherit new_seq from the list
            "data_file": _v2_data_file({
                "content": 1,
                "file_path": _absolute(puffin_path),
                "file_format": "PUFFIN",
                "record_count": len(rows),
                "file_size_in_bytes": psize,
                "partition": f.get("partition"),
                "referenced_data_file": f["file_path"],
                "content_offset": int(m["offset"]),
                "content_size_in_bytes": int(m["length"]),
            })})
    del_manifest = fsio.join(_meta_dir(path), f"{uuid.uuid4().hex}-dv0.avro")
    write_avro(del_manifest, del_entries, _MANIFEST_ENTRY_SCHEMA_V3)

    mlist_entries = list(mlist) + [{
        "manifest_path": del_manifest,
        "manifest_length": fs.getsize(del_manifest),
        "partition_spec_id": 0,
        "added_snapshot_id": snapshot_id,
        "sequence_number": new_seq,
        "min_sequence_number": new_seq,
        "content": 1,
    }]
    mlist_path = fsio.join(_meta_dir(path), f"snap-{snapshot_id}.avro")
    write_avro(mlist_path, mlist_entries, _MANIFEST_FILE_SCHEMA_V2)

    next_row_id = sum(int(f.get("record_count") or 0) for f in files)
    meta["format-version"] = 3
    meta["next-row-id"] = next_row_id
    meta["last-sequence-number"] = new_seq
    meta["snapshots"] = (meta.get("snapshots") or []) + [{
        "snapshot-id": snapshot_id,
        "timestamp-ms": int(time.time() * 1000),
        "sequence-number": new_seq,
        "first-row-id": next_row_id,
        "manifest-list": mlist_path,
        "summary": {"operation": "delete"},
    }]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    new_version = version + 1
    fs.create_exclusive(
        fsio.join(_meta_dir(path), f"v{new_version}.metadata.json"),
        _dump_meta(meta))
    fs.write_bytes(fsio.join(_meta_dir(path), "version-hint.text"),
                   str(new_version).encode())
    return snapshot_id


def iceberg_changelog(
    spark: SparkSession, path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changes AFTER ``from_snapshot_id`` (exclusive) up to
    ``to_snapshot_id`` (inclusive, default current) — the file-diff
    changelog Spark's create_changelog_view / incremental scans derive
    (there are no change files in Iceberg; CoW commits express changes
    as file turnover):

    - data files ADDED by a snapshot -> ``insert`` rows,
    - data files REMOVED -> ``delete`` rows (a rewrite therefore emits
      delete+insert pairs for carried rows, the documented derived
      semantics),
    - position-delete/DV entries ADDED -> ``delete`` rows for exactly
      the newly-deleted positions of their referenced files,
    - equality-delete entries ADDED refuse loudly (their row set
      depends on sequence-number scoping — underivable per snapshot
      without replaying history).

    Output: data columns + ``_change_type`` / ``_snapshot_id`` /
    ``_commit_timestamp_ms``. Driver work is manifest-sized; all row
    data moves executor-side."""
    from functools import reduce

    from pyspark.sql import functions as F

    _, meta = _current_metadata(path)
    snaps = meta.get("snapshots") or []  # metadata lists in commit order
    order = [s["snapshot-id"] for s in snaps]
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    lo = order.index(from_snapshot_id) if from_snapshot_id is not None \
        else -1
    hi = order.index(to_snapshot_id)
    ts_of = {s["snapshot-id"]: s["timestamp-ms"] for s in snaps}

    branches = []

    def tag(df, ct, sid):
        branches.append(
            df.withColumn("_change_type", F.lit(ct))
            .withColumn("_snapshot_id", F.lit(sid))
            .withColumn("_commit_timestamp_ms",
                        F.lit(int(ts_of[sid])).cast("long")))

    def _del_positions(dels):
        """Position-delete/DV entries -> (__fp, __pos) rows, or None."""
        sides = []
        parq = [d for d in dels
                if (d.get("file_format") or "PARQUET").upper() != "PUFFIN"]
        dvs = [d for d in dels if d not in parq]
        if parq:
            dd = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[d["file_path"] for d in parq])
            sides.append(dd.select(
                _norm_path_col(F.col("file_path")).alias("__fp"),
                F.col("pos").alias("__pos")))
        if dvs:
            sides.append(_dv_deleted_df(spark, dvs))
        if not sides:
            return None
        return reduce(lambda a, b: a.unionByName(b), sides)

    if lo >= 0:
        prev, prev_pos, prev_eq = _active_entries(path, meta, order[lo])
    else:
        prev, prev_pos, prev_eq = [], [], []
    prev_paths = {_canon(f["file_path"]) for f in prev}
    for i in range(lo + 1, hi + 1):
        sid = order[i]
        files, pos_dels, eq_dels = _active_entries(path, meta, sid)
        paths = {_canon(f["file_path"]) for f in files}
        added = [f for f in files if _canon(f["file_path"])
                 not in prev_paths]
        removed_paths = prev_paths - paths
        removed = [f for f in prev if _canon(f["file_path"])
                   in removed_paths]
        if added:
            # the snapshot's own deletes may already bind a file it
            # adds (v3 DV in the same commit) — apply them
            tag(_mor_read(spark, path, meta, added, pos_dels, eq_dels),
                "insert", sid)
        if removed:
            # only rows LIVE at the previous snapshot were deleted —
            # the prior deletes must not resurrect as delete events
            tag(_mor_read(spark, path, meta, removed, prev_pos, prev_eq),
                "delete", sid)
        new_eq = [d for d in eq_dels if int(d.get("__seq") or 0) >
                  max([int(f.get("__seq") or 0) for f in prev] or [0])] \
            if lo >= 0 else eq_dels
        if new_eq:
            raise UnsupportedTableFeature(
                "iceberg changelog: the range adds equality-delete "
                "files — underivable per snapshot")
        cur_rows = _del_positions(pos_dels)
        if cur_rows is not None:
            # POSITION diff, not file diff: a v3 DV REPLACES its
            # predecessor with the union, so only positions absent
            # from the previous snapshot's delete set are new events —
            # and only for files still referenced (removed files
            # already emitted their live rows as deletes above)
            prev_rows = _del_positions(prev_pos)
            fresh = cur_rows if prev_rows is None else \
                cur_rows.join(prev_rows, ["__fp", "__pos"], "left_anti")
            scan = _mor_read(spark, path, meta, files, [], [],
                             keep_file_col=True)
            scan = scan.withColumnRenamed("__file", "__fp") \
                .withColumn("__pos", F.col("_metadata.row_index"))
            tag(scan.join(fresh, ["__fp", "__pos"], "inner")
                .drop("__fp", "__pos"), "delete", sid)
        prev, prev_pos, prev_eq, prev_paths = \
            files, pos_dels, eq_dels, paths
    if not branches:
        schema = _spark_schema(meta) \
            .add("_change_type", "string") \
            .add("_snapshot_id", "long") \
            .add("_commit_timestamp_ms", "long")
        return local_df(spark, [], schema)
    # allowMissingColumns: branches over a schema-evolved range carry
    # different column sets; older branches fill the new columns null
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches)
