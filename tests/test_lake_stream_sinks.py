"""The delta_stream and iceberg_stream sinks over every column type they
accept: values round-trip, and the parquet files they stage carry the
same Arrow schema whether or not the table is partitioned (timestamps
as ``timestamp[us, tz=UTC]``, partition columns absent from the file)."""

import datetime
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

UTC = datetime.timezone.utc

# spark DDL type -> (two values + a null, Arrow type in the file)
CASES = {
    "tinyint": ([-128, 127], pa.int8()),
    "smallint": ([-32768, 32767], pa.int16()),
    "int": ([-(2 ** 31), 2 ** 31 - 1], pa.int32()),
    "bigint": ([-(2 ** 63), 2 ** 63 - 1], pa.int64()),
    "float": ([1.5, -0.25], pa.float32()),
    "double": ([1e300, -2.5], pa.float64()),
    "boolean": ([True, False], pa.bool_()),
    "date": ([datetime.date(1969, 12, 31), datetime.date(2024, 2, 29)],
             pa.date32()),
    "timestamp": ([datetime.datetime(1969, 12, 31, 23, 59, 59, 1),
                   datetime.datetime(2024, 2, 29, 12, 30, 0, 123456)],
                  pa.timestamp("us", tz="UTC")),
    "timestamp_ntz": ([datetime.datetime(1970, 1, 1),
                       datetime.datetime(2024, 2, 29, 12, 30, 0, 654321)],
                      pa.timestamp("us")),
    "string": (["", "héllo, wörld"], pa.string()),
    "binary": ([b"\x00\xff", b"abc"], pa.binary()),
}


def _data_files(fmt: str, path: str) -> list[str]:
    root = path if fmt == "delta" else os.path.join(path, "data")
    return [f for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                                 recursive=True)
            if "_delta_log" not in f]


@pytest.mark.parametrize("typ", sorted(CASES))
def test_sink_type_roundtrip(spark, tmp_path, typ):
    from sling_cli_spark.sources.delta_py import read_delta
    from sling_cli_spark.sources.iceberg_py import read_iceberg
    from sling_cli_spark.streaming.delta_source import register_delta_stream
    from sling_cli_spark.streaming.iceberg_source import (
        register_iceberg_stream)

    register_delta_stream(spark)
    register_iceberg_stream(spark)
    values, arrow_type = CASES[typ]
    rows = [(i, v, i % 2) for i, v in enumerate(values + [None])]
    df = spark.createDataFrame(rows, f"id bigint, v {typ}, p int")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    want = sorted((r["id"], r["v"], r["p"]) for r in df.collect())

    for fmt, sink, read in (("delta", "delta_stream", read_delta),
                            ("iceberg", "iceberg_stream", read_iceberg)):
        for partitioned in (False, True):
            name = f"{fmt}_{'part' if partitioned else 'flat'}"
            dst = str(tmp_path / name)
            w = (spark.readStream.schema(df.schema).parquet(src)
                 .writeStream.format(sink).option("path", dst)
                 .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                 .trigger(availableNow=True))
            if partitioned:
                w = w.option("partitionBy", "p")
            # Spark hands the sink timestamps in the session time zone
            # (the JVM default, e.g. Etc/UTC, when the session sets
            # none); the files carry tz=UTC whatever it is
            tz = spark.conf.get("spark.sql.session.timeZone")
            spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
            try:
                w.start().awaitTermination()
            finally:
                spark.conf.set("spark.sql.session.timeZone", tz)

            got = sorted((r["id"], r["v"], r["p"])
                         for r in read(spark, dst).collect())
            assert got == want, (name, got)

            files = _data_files(fmt, dst)
            assert len(files) == (2 if partitioned else 1), (name, files)
            cols = [("id", pa.int64()), ("v", arrow_type)]
            if not partitioned:
                cols.append(("p", pa.int32()))
            for f in files:
                schema = pq.read_schema(f)
                assert [(x.name, x.type) for x in schema] == cols, \
                    (name, schema)
                assert pq.ParquetFile(f).metadata.row_group(0) \
                    .column(0).compression == "ZSTD"
