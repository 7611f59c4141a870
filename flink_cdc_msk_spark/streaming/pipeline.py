"""Streaming CDC pipeline (SURVEY.md A1-A12, P3).

The batch route operator (operators/route.py) is pure column expressions, so
the SAME function runs unchanged on a streaming DataFrame — this module only
provides stream *sources* and lifecycle plumbing.

Source mapping (SURVEY.md A1-A6):
  * production: ``spark.readStream.format("kafka")`` over a Debezium topic,
    startup position via config.parse_kafka_startup_position
  * tests/local: file-based line stream (each file = a micro-batch of
    envelope JSON lines) — same envelope format, same pipeline.

Snapshot-then-stream (``position=initial``, scala:225): Spark cannot union
a batch DataFrame into a stream, so the idiomatic equivalent is (1) land
the JDBC/parquet snapshot as files in the stream source directory before
starting the query — the file source replays them as the first batches —
or (2) run the batch pipeline once to the sink, then start the stream at
``latest``. ``snapshot_then_stream_paths`` implements (1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..config import TableRouting
from ..operators.route import route_mysql_cdc


def stream_lines_from_directory(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Text-file stream → DataFrame[value: string] (one JSON line per
    record), mirroring the reference's DataStreamSource[String].
    ``max_files_per_trigger=1`` (default) makes each file a micro-batch
    (good for tests that need watermark/state progression); ``None``
    ingests everything available per trigger (bulk replay)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def route_stream_from_directory(
    spark: SparkSession,
    path: str,
    routing: TableRouting,
    max_files_per_trigger: int | None = 1,
    **route_kwargs,
) -> DataFrame:
    """File-stream of Debezium JSON lines → routed CDC records (streaming
    DataFrame, ready for writeStream to kafka/memory/parquet)."""
    lines = stream_lines_from_directory(spark, path, max_files_per_trigger)
    return route_mysql_cdc(lines, routing, **route_kwargs)


def snapshot_then_stream_paths(snapshot_df: DataFrame, source_dir: str) -> str:
    """Land a batch snapshot (DataFrame[value: string]) into the stream
    source directory so the file source replays it before live files —
    the ``StartupOptions.initial()`` equivalent (scala:225).

    Distributed write (no driver collect): executors write text part-files
    directly; must run before the stream starts so the first trigger sees a
    complete snapshot."""
    os.makedirs(source_dir, exist_ok=True)
    snapshot_df.select("value").write.mode("append").text(source_dir)
    return source_dir
