"""Structured Streaming ingest: every window the stream FINALIZES
(append mode emits a window once its end passes the watermark) must
match the batch computation of that window exactly, and a resumed
stream must process only new files without re-emitting old windows."""

import numpy as np
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kblock_spark.geo.tiling import cell_of
from kblock_spark.io.synth import _make_pages_pdf
from kblock_spark.kernels.extract import with_geocode
from kblock_spark.streaming import drain, read_pages_stream, stream_tile_rollup

WINDOW = "1 minute"
WATERMARK = "2 minutes"


def _batch_rollup(spark, pages_df):
    """The expected rollup. Its cells come from the numpy tiling
    (``cell_of``), joined back on the exact coordinates, so the
    stream's Catalyst cell expression is checked against an
    independent implementation."""
    pts = with_geocode(pages_df).where(F.col("lat").isNotNull())
    xy = pts.select("lon", "lat").distinct().toPandas()
    xy["cell"] = cell_of(xy["lon"].to_numpy(), xy["lat"].to_numpy(), 0.003)
    pts = pts.join(spark.createDataFrame(xy), ["lon", "lat"])
    return (
        pts.groupBy(F.window("warc_ts", WINDOW).alias("w"), "cell")
        .agg(
            F.count("*").alias("n_pages"),
            F.size(F.collect_set("lang")).alias("n_langs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cell", "n_pages", "n_langs",
        )
    )


def _drain(spark, src, out, ck):
    rollup = stream_tile_rollup(
        read_pages_stream(spark, src), cell_deg=0.003,
        window=WINDOW, watermark=WATERMARK,
    )
    drain(rollup, out, ck)
    return spark.read.parquet(out)


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # drop 1: ids 0..1199 → warc_ts spread over 20 minutes
    spark.createDataFrame(_make_pages_pdf(np.arange(0, 1200))).write.mode(
        "overwrite"
    ).parquet(src)
    got1 = _drain(spark, src, out, ck)
    emitted1 = {r["window_start"] for r in got1.select("window_start").distinct().collect()}
    assert len(emitted1) >= 10  # most 1-min windows finalized
    batch = _batch_rollup(spark, spark.read.parquet(src))
    want = {
        tuple(r)
        for r in batch.where(F.col("window_start").isin(list(emitted1))).collect()
    }
    assert {tuple(r) for r in got1.collect()} == want

    # drop 2: strictly newer pages; resume from checkpoint
    spark.createDataFrame(_make_pages_pdf(np.arange(1200, 2400))).write.mode(
        "append"
    ).parquet(src)
    got2 = _drain(spark, src, out, ck)
    # append mode: each (window, cell) finalized exactly once — a
    # resume that reprocessed old files would duplicate them
    dup = (
        got2.groupBy("window_start", "cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0
    # all newly-finalized windows also match batch
    emitted2 = {r["window_start"] for r in got2.select("window_start").distinct().collect()}
    assert emitted2 > emitted1
    batch2 = _batch_rollup(spark, spark.read.parquet(src))
    want2 = {
        tuple(r)
        for r in batch2.where(F.col("window_start").isin(list(emitted2))).collect()
    }
    assert {tuple(r) for r in got2.collect()} == want2


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """Rows older than the watermark must be excluded from new window
    state (the bounded-state guarantee; without it a 10^12-row stream
    accumulates windows forever)."""
    src = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # drop 1: ids spanning 20 minutes of event time
    spark.createDataFrame(_make_pages_pdf(np.arange(0, 1200))).write.mode(
        "overwrite"
    ).parquet(src)
    got1 = _drain(spark, src, out, ck)
    n1 = got1.agg(F.sum("n_pages")).collect()[0][0]
    # drop 2: ONLY very old rows (ids 0..59 again → ts far behind the
    # advanced watermark). They are duplicates of already-finalized
    # windows; the watermark must drop them, emitting nothing new.
    spark.createDataFrame(_make_pages_pdf(np.arange(0, 60))).write.mode(
        "append"
    ).parquet(src)
    got2 = _drain(spark, src, out, ck)
    n2 = got2.agg(F.sum("n_pages")).collect()[0][0]
    assert n2 == n1  # nothing re-emitted, nothing double-counted
    dup = (
        got2.groupBy("window_start", "cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0


def test_session_windows_resume_across_drops(spark, tmp_path):
    """Streaming session windows across TWO drops with a checkpoint
    restart: the union of emitted sessions must equal batch
    sessionization of all events (drop-2 events lie past drop-1's
    watermark, so no session is retro-merged after emission)."""
    import pandas as pd
    from pyspark.sql import Window

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def events(day, n, seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        ts = pd.to_datetime(f"2024-01-{day:02d}") + pd.to_timedelta(
            np.sort(rng.integers(0, 6 * 3600, n)), unit="s"
        )
        return pd.DataFrame({"user_id": rng.integers(0, 5, n), "ts": ts})

    def drain():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
        sess = (
            stream.withWatermark("ts", "1 minute")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count("*").alias("n_events"))
            .where(F.col("sw.start") < F.lit("2029-01-01").cast("timestamp"))
            .select(
                "user_id",
                F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("start"),
                "n_events",
            )
        )
        q = (
            sess.writeStream.outputMode("append")
            .foreachBatch(lambda b, i: b.write.mode("append").parquet(out))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    d1, d2 = events(1, 300, 1), events(2, 200, 2)
    spark.createDataFrame(d1).coalesce(1).write.mode("append").parquet(src)
    drain()
    # second drop + per-user flush sentinels (the key-local eviction
    # finding: a watermark advance alone leaves untouched keys' final
    # sessions in state)
    spark.createDataFrame(d2).coalesce(1).write.mode("append").parquet(src)
    sent = pd.DataFrame(
        {"user_id": range(5), "ts": pd.to_datetime(["2030-01-01"] * 5)}
    )
    spark.createDataFrame(sent).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        (r["user_id"], r["start"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    allev = spark.createDataFrame(pd.concat([d1, d2]))
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP'2000-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gap = F.col("us") - F.lag("us").over(w)
    flag = F.when(gap.isNull() | (gap >= 1800_000_000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        (r["user_id"], r["start"], r["n_events"])
        for r in (
            allev.withColumn("us", micros)
            .withColumn("f", flag)
            .withColumn("sid", F.sum("f").over(wc))
            .groupBy("user_id", "sid")
            .agg(F.min("ts").alias("s"), F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.date_format("s", "yyyy-MM-dd HH:mm:ss").alias("start"),
                "n_events",
            )
        ).collect()
    }
    assert got == want and len(want) > 10


SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_partitions(spark):
    """Session shuffle partitions set to 3 (drain pins 8) for the
    test, then put back."""
    old = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "3")
    yield "3"
    spark.conf.set(SHUFFLE, old)


def _three_batch_stream(spark, src):
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)


def test_drain_pins_state_partitions_and_reports_each_batch(
    spark, tmp_path, session_partitions
):
    stream = _three_batch_stream(spark, str(tmp_path / "src"))
    seen = []

    def sink(bdf, batch_id):
        seen.append((batch_id, bdf.sparkSession.conf.get(SHUFFLE), bdf.count()))

    progress = drain(stream, sink, str(tmp_path / "ck"))
    assert spark.conf.get(SHUFFLE) == session_partitions
    assert [(b, p) for b, p, _ in seen] == [(0, "8"), (1, "8"), (2, "8")]
    assert sum(n for _, _, n in seen) == 30
    assert len(progress) == len(seen)
    assert [p.batchId for p in progress] == [b for b, _, _ in seen]


def test_drain_failure_propagates_and_restores_session(
    spark, tmp_path, session_partitions
):
    stream = _three_batch_stream(spark, str(tmp_path / "src"))

    def sink(bdf, batch_id):
        raise RuntimeError("sink exploded")

    with pytest.raises(StreamingQueryException, match="sink exploded"):
        drain(stream, sink, str(tmp_path / "ck"))
    assert spark.conf.get(SHUFFLE) == session_partitions
