"""The row-level write core shared by the Delta and Iceberg writers.

A merge, delete_missing or selective overwrite runs the same steps in
both formats: prune candidate files from their metadata
(:func:`prune_files`), probe which files a batch touches
(:func:`touched_files`), find the doomed row positions of a
deletion-vector write in one scan (:func:`doomed_positions`) and fold
them with each file's old vector (:func:`fold_dv_rows`), and carry row
ids into a rewrite (:func:`attach_preserved`). The format modules keep
thin adapters for what their metadata encodes differently.
"""

from __future__ import annotations

import datetime
import math
from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sling_cli_spark.sources.footer_stats import HIVE_NULL


def _nan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)


# ------------------------------------------------------------ file pruning

def bounds_disprove(mn, mx, op, v) -> bool:
    """True iff the closed range [mn, mx] PROVES no value satisfies
    ``(op, v)``. Conservative on every edge: NaN bounds or values
    (floating max=NaN would otherwise disprove everything),
    incomparable types, tz-aware vs naive timestamps, and comparison
    errors all return False (keep the file). Timestamp STRINGS from
    different writers render differently (' ' vs 'T' separators,
    trailing 'Z', millis vs micros) — when both sides parse as ISO
    timestamps they compare as instants, so lexicographic quirks can't
    wrongly disprove."""
    if _nan(mn) or _nan(mx) or _nan(v):
        return False
    if isinstance(mn, str) and isinstance(mx, str) and isinstance(v, str):
        def _ts(x):
            try:
                return datetime.datetime.fromisoformat(
                    x.replace("Z", "+00:00"))
            except Exception:
                return None
        pmn, pmx, pv = _ts(mn), _ts(mx), _ts(v)
        if pmn is not None and pmx is not None and pv is not None:
            if (pmn.tzinfo is None) != (pv.tzinfo is None):
                return False
            mn, mx, v = pmn, pmx, pv
    num = (int, float)
    comparable = type(mn) is type(v) or (
        isinstance(mn, num) and not isinstance(mn, bool)
        and isinstance(v, num) and not isinstance(v, bool))
    if not comparable:
        return False
    try:
        return ((op == ">" and not mx > v)
                or (op == ">=" and not mx >= v)
                or (op == "<" and not mn < v)
                or (op == "<=" and not mn <= v)
                or (op == "=" and not mn <= v <= mx))
    except TypeError:
        return False


def partition_value_disprove(
    raw: str | None, op: str, v, hive_null: str = HIVE_NULL,
) -> bool:
    """True iff a file's literal partition value PROVES no row matches
    ``(op, v)``. The stringly Hive value parses into the literal's
    domain (a partition value is both min and max, so the shared
    kernel applies pointwise); the NULL sentinel satisfies no
    comparison; unparseable values keep the file."""
    if raw is None:
        return False
    if raw == hive_null:
        return True
    try:
        if isinstance(v, bool):
            pv = raw.lower() == "true"
        elif isinstance(v, int):
            pv = int(raw)
        elif isinstance(v, float):
            pv = float(raw)
        elif isinstance(v, datetime.datetime):
            pv = datetime.datetime.fromisoformat(raw)
        elif isinstance(v, datetime.date):
            pv = datetime.date.fromisoformat(raw)
        else:
            pv = raw
    except Exception:
        return False
    return bounds_disprove(pv, pv, op, v)


def _stats_disprove(st: tuple | None, op: str, v) -> bool:
    if st is None:
        return False
    mn, mx, nulls, n = st
    if mn is None or mx is None:
        # no bounds: an all-null column (no comparison matches) prunes
        # only when the null count proves it
        return bool(n) and nulls == n
    return v is not None and bounds_disprove(mn, mx, op, v)


def prune_files(
    files: Iterable, skip_filters, partition_disproves: Callable,
    bounds: Callable, literal: Callable = lambda col, val: val,
) -> list:
    """Data skipping over file metadata: drop every file whose
    partition values or recorded bounds PROVE no row satisfies the
    conjunction of ``(col, op, value)`` filters, op in > >= < <= =.
    Conservative by construction: missing or undecodable stats,
    unknown columns and type mismatches keep the file, so pruning can
    only skip I/O, never change results. The format adapter supplies
    ``partition_disproves(f, col, op, val)``, ``bounds(f, cols)`` ->
    ``{col: (mn, mx, nulls, n)}`` decoded from the file's stats (None
    where unknown) and ``literal(col, val)``, the filter value in the
    decoded domain. Partition columns fall through to the stats too,
    which may prune where the partition check could not."""
    cols = {c for c, _, _ in skip_filters}
    out = []
    for f in files:
        if any(partition_disproves(f, c, op, v)
               for c, op, v in skip_filters):
            continue
        st = bounds(f, cols)
        if not any(c in st and _stats_disprove(st[c], op, literal(c, v))
                   for c, op, v in skip_filters):
            out.append(f)
    return out


# --------------------------------------------------------- touched files

def touched_files(
    probe: DataFrame, file_col: str, keys: DataFrame | None = None,
    pk: list[str] = (), matched: bool = True,
) -> list:
    """The distinct ``file_col`` values of the ``probe`` rows whose
    ``pk`` is in ``keys`` (a merge's matched rows) or, with
    ``matched=False``, absent from it (delete_missing's doomed rows);
    ``keys=None`` takes every row of an already filtered probe."""
    if keys is not None:
        probe = probe.select(file_col, *pk).join(
            keys.select(*pk).distinct(), on=pk,
            how="left_semi" if matched else "left_anti")
    return [r[0] for r in probe.select(file_col).distinct().collect()]


# ------------------------------------------------------ DV production

def doomed_positions(
    scan: DataFrame, keys: DataFrame, pk: list[str], doom_matched: bool,
    max_dv_rows: int, key: Callable[[str], str] = str,
) -> tuple[dict[str, int], dict[str, list[int]] | None]:
    """ONE scan+join pass over a raw (not delete-applied) ``scan`` with
    ``__fp`` / ``__pos`` coordinates -> ``(doomed count per file,
    sorted doomed positions per file)``, keyed by ``key(__fp)``. Rows
    whose PK is in ``keys`` are doomed (merge), or with
    ``doom_matched=False`` rows whose PK is absent (delete_missing).

    The doomed coordinates are persisted (~16 B/row, disk-spillable)
    so the count and positions actions share the one join. Positions
    reach the driver only after the counts pass the density gate: a
    dense delete (> ``max_dv_rows``) returns ``(counts, None)``, the
    CoW fallback, without pulling any; an unbounded positions collect
    is the 100 TB failure mode."""
    from pyspark.storagelevel import StorageLevel

    coords = scan.join(
        keys.select(*pk).distinct(), on=pk,
        how="left_semi" if doom_matched else "left_anti",
    ).select("__fp", "__pos")
    coords.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        doom = {key(r["__fp"]): r["count"]
                for r in coords.groupBy("__fp").count().collect()}
        if not doom or sum(doom.values()) > max_dv_rows:
            return doom, None
        rows = coords.groupBy("__fp") \
            .agg(F.sort_array(F.collect_list("__pos")).alias("__ps")) \
            .collect()
        return doom, {key(r["__fp"]): list(r["__ps"]) for r in rows}
    finally:
        coords.unpersist()


def fold_dv_rows(
    doom: dict, positions: dict, old_positions: Callable[[str], Iterable],
    phys_rows: Callable[[str], int],
) -> tuple[dict[str, list[int]], list[str]]:
    """One deletion vector per file: each doomed file's new positions
    unioned with its old vector's (which the new one supersedes) ->
    ``(dv_rows, dead)``, the sorted positions per surviving file and
    the files whose every physical row (``phys_rows``) is now deleted:
    they drop from the table instead of taking a vector."""
    dv_rows: dict[str, list[int]] = {}
    dead: list[str] = []
    for k in sorted(doom):
        merged = set(positions.get(k) or ())
        merged |= {int(i) for i in old_positions(k)}
        if len(merged) >= phys_rows(k):
            dead.append(k)
        else:
            dv_rows[k] = sorted(merged)
    return dv_rows, dead


# ------------------------------------------------- row-id carry-over

#: a row-id mapping frame's columns next to the pk: the stable row id
#: and the last-updated commit version / sequence number
RID, SEQ = "__pr_rid", "__pr_seq"


def attach_preserved(
    replacement: DataFrame, mapping: DataFrame,
    updated_keys: DataFrame | None, pk: list[str], rid_col: str,
    seq_col: str | None,
) -> DataFrame:
    """Materialize row ids into a rewrite's output from the touched
    files' ``(*pk, RID, SEQ)`` ``mapping`` (merge semantics assume pk
    uniqueness in the target): rows keep their id (``rid_col``), and
    their ``seq_col`` unless their pk is in ``updated_keys`` (None: a
    pure rearrangement), where it reads null so readers derive the new
    commit's. Inserts miss the mapping and take fresh ids. The updated
    keys mark the touched-rows-sized mapping, so the replacement pays
    ONE join."""
    drop = [RID, SEQ]
    seq = F.col(SEQ)
    if updated_keys is not None and seq_col:
        mapping = mapping.join(
            updated_keys.select(*pk).distinct()
            .withColumn("__pr_hit", F.lit(1)), on=pk, how="left")
        seq = F.when(F.col("__pr_hit").isNull(), F.col(SEQ))
        drop.append("__pr_hit")
    out = replacement.join(mapping, on=pk, how="left") \
        .withColumn(rid_col, F.col(RID))
    if seq_col:
        out = out.withColumn(seq_col, seq)
    return out.drop(*drop)
