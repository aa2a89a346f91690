"""Structured Streaming operators (SURVEY §2.9)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def console_sink(stream: DataFrame, truncate: bool = False, num_rows: int = 20):
    """Debug console sink (S7; reference stream.print(),
    aml_stream_processor.py:373-374). Returns the started query."""
    return (
        stream.writeStream.format("console")
        .option("truncate", str(truncate).lower())
        .option("numRows", str(num_rows))
        .start()
    )


import contextlib
import glob as _glob
import os as _os

# One shuffle partition (= one state store per stateful operator) per
# ~128 MB of bounded input, clamped to [4, cores]. Stateful streaming
# pays a fixed per-partition cost EVERY micro-batch (state store open/
# commit/snapshot); at 100 TB you want partitions sized to the data
# (AQE cannot help — stateful operators pin partitioning at the first
# batch), and a 100 kB bounded replay should not pay 32 state stores,
# let alone 2 sides x 32 for a stream-stream join. Floor 4: measured at
# sf0.1, n=4 beats n=2 (parallel state commit) and n=32 by ~4x.
_BYTES_PER_PARTITION = 128 * 1024 * 1024


@contextlib.contextmanager
def bounded_shuffle_partitions(spark, source_dir: str):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the bounded
    stream's input volume; restore the session default afterwards."""
    size = sum(
        _os.path.getsize(p)
        for p in _glob.glob(_os.path.join(source_dir, "**", "*.parquet"), recursive=True)
    )
    cores = spark.sparkContext.defaultParallelism
    n = max(4, min(cores, -(-size // _BYTES_PER_PARTITION)))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
