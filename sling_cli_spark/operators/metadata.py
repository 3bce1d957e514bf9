"""Injected ``_sling_*`` metadata columns.

Reference: ``core/dbio/iop/datastream.go:121-129``, ``core/sling/task.go:335``.

| column              | reference source            | Spark expression              |
|---------------------|-----------------------------|-------------------------------|
| _sling_stream_url   | source file url             | input_file_name()             |
| _sling_loaded_at    | load unix ts                | lit(run ts) (driver-stamped)  |
| _sling_row_num      | 1-based row counter         | row_number window (ordered)   |
| _sling_row_id       | stable surrogate id         | monotonically_increasing_id   |
| _sling_exec_id      | execution uuid              | lit(exec id)                  |

``_sling_row_num`` in the reference is a single-stream counter; a faithful
global counter on Spark requires a total order — we take an explicit order
spec, so it stays deterministic and distributed (zipWithIndex-style tricks
would break pushdown and repeatability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sling_cli_spark.localframe import local_df
from pyspark.sql import functions as F


def with_stream_url(df: DataFrame, col: str = "_sling_stream_url") -> DataFrame:
    return df.withColumn(col, F.input_file_name())


def with_loaded_at(df: DataFrame, run_ts, col: str = "_sling_loaded_at") -> DataFrame:
    """Stamp the load timestamp; pass an explicit value for determinism."""
    return df.withColumn(col, F.lit(run_ts))


def with_row_num(
    df: DataFrame, order_by: list[str] | None = None,
    col: str = "_sling_row_num",
) -> DataFrame:
    """1-based global row number WITHOUT a global single-partition window.

    ``Window.orderBy`` with no partition funnels the whole dataset through
    one task — a scale-killer. Instead: (1) optionally establish a global
    order with one range shuffle + local sort; (2) take
    ``monotonically_increasing_id`` = ``(partition_id << 33) | local_index``;
    (3) aggregate per-partition counts (tiny map-side-combined agg),
    cumulative-sum them on the driver, and broadcast-join the offsets back.
    The big side never funnels; cost = at most one range shuffle.
    """
    if order_by:
        df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    df = df.withColumn("__mid", F.monotonically_increasing_id())
    pid = F.shiftrightunsigned(F.col("__mid"), 33)
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in df.groupBy(pid.alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for p, c in counts:
        offsets.append((p, acc))
        acc += c
    spark = df.sparkSession
    off_df = local_df(spark, offsets, "pid bigint, __off bigint")
    out = (
        df.withColumn("__pid", pid)
        .join(F.broadcast(off_df), F.col("__pid") == F.col("pid"), "left")
        .withColumn(col, (F.col("__off") + local + 1).cast("bigint"))
        .drop("__mid", "__pid", "pid", "__off")
    )
    return out
