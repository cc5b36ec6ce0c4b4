"""Structured Streaming ingest of the Common-Crawl-style pages table.

The reference is a batch system (SURVEY §2.9 — no streaming
operators), but a 10¹²-document crawl table GROWS: new WARC drops land
continuously. This module is the incremental-ingest path the batch
pipeline composes with:

  file-source stream of pages parquet
    → extract_text / geocode (the SAME Arrow-batched kernels the
      batch path uses — one implementation, two execution modes)
    → event-time (warc_ts) windowed per-tile rollup with a watermark
      bounding late-arrival state
    → exactly-once parquet sink via checkpointLocation

Late data: warc_ts is the event time; the watermark drops pages later
than the configured bound and caps the state store size — without it
a 10¹²-row stream accumulates unbounded window state.

Exactly-once: the file sink + checkpoint directory give end-to-end
exactly-once for file sources (Spark's own guarantee), the streaming
analogue of io/manifest.py's per-key overwrite resume.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo.tiling import DEFAULT_CELL_DEG, _cell_expr
from ..io.synth import PAGES_SCHEMA
from ..kernels.extract import extract_text_udf, with_geocode


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental scan of a growing pages directory (the Iceberg
    append-stream analogue: each micro-batch reads only new files)."""
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def stream_tile_rollup(
    pages: DataFrame,
    cell_deg: float = DEFAULT_CELL_DEG,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """pages stream → (window, cell, n_pages, n_langs) with bounded
    late-data state. Uses the batch kernels (extract/geocode/cell)
    unchanged — pandas UDFs and Catalyst expressions are
    mode-agnostic."""
    ex = pages.withColumn("text2", extract_text_udf(F.col("html")))
    pts = with_geocode(ex, "text2").where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    pts = pts.withColumn("cell", _cell_expr(F.col("lon"), F.col("lat"), cell_deg))
    return (
        pts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "cell")
        .agg(
            F.count("*").alias("n_pages"),
            F.size(F.collect_set("lang")).alias("n_langs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cell",
            "n_pages",
            "n_langs",
        )
    )


@contextmanager
def pinned_state_partitions(spark: SparkSession, n: int = 8):
    """Pin the state-partition count for a streaming query's
    lifetime. Structured Streaming bakes spark.sql.shuffle.partitions
    into the checkpoint at the first batch — it is a PER-STREAM
    property, not a session one — and every stateful operator pays
    per-partition-per-store fixed costs (store open/commit/snapshot)
    each micro-batch: a stream-stream join holds 4 stores per
    partition, so the session's batch-tuned 32 means 128 store
    commits per batch against a few thousand keys (measured 10-17 s
    vs 3.5 s at 8 for s07). A cluster run against a 10^9 keyspace
    sets a large count the same way — per stream, sized to keyed
    state, then immutable for the checkpoint's life. Restores the
    session conf on exit, so the stream must finish (or be stopped)
    inside the scope."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(
    stream: DataFrame,
    sink,
    checkpoint: str,
    output_mode: str = "append",
    state_partitions: int = 8,
) -> list:
    """Run ``stream`` over everything currently in its source and
    stop (the availableNow batch-catchup trigger), exactly-once via
    ``checkpoint``. ``sink`` is a parquet output path, or a
    ``foreachBatch`` function ``(batch_df, batch_id)``. State
    partitions are pinned per stream (see
    :func:`pinned_state_partitions`). A failing batch re-raises here.
    Returns the query's ``recentProgress``: one entry per
    micro-batch (Spark keeps the last
    ``spark.sql.streaming.numRecentProgressUpdates``, 100 by
    default)."""
    w = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if isinstance(sink, str):
        w = w.format("parquet").option("path", sink)
    else:
        w = w.foreachBatch(sink)
    with pinned_state_partitions(stream.sparkSession, state_partitions):
        q = w.start()
        q.awaitTermination()
    return q.recentProgress


def idempotent_parquet_sink(out_path: str):
    """foreachBatch sink that is safe under micro-batch RETRY.

    A plain ``mode("append")`` foreachBatch sink duplicates rows when
    Spark re-runs a batch after a failure (foreachBatch is
    at-least-once; the checkpoint only guarantees the batch ids
    replay, not that side effects ran once). Writing each batch into
    its own ``__batch_id=<n>`` partition with DYNAMIC partition
    overwrite makes the retry overwrite exactly its own partition and
    nothing else — per-batch idempotence, the streaming analogue of
    io/manifest.py's per-key overwrite resume.

    Readers: ``spark.read.parquet(out_path)`` (partition discovery
    surfaces ``__batch_id``; drop or ignore it).
    """

    def sink(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_path)
        )

    return sink
