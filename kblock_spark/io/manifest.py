"""Checkpoint manifest: resumable partitioned runs with per-partition
lineage + metrics.

The reference resumes with progress CSVs and appendable dask parquet
(kblock/batch_2_prepare_buildings.py:115-131,265-274;
batch_4_compute_k.py:480-497,581-582; dir-diff listings everywhere).
Spark-native equivalent: a small parquet **manifest table**

  (partition_key, status, rows, wall_ms, attempt,
   input_fingerprint, ts)

plus append-mode partitioned output. Pending work = partition keys
anti-joined against completed manifest entries; a restarted run skips
finished partitions and appends only the missing ones. A first run
(no manifest yet) skips the anti-join: every key is pending. Only
partition KEYS ever touch the driver (metadata, not data) — same cost
model as the reference's directory listings. The manifest lives
wherever Spark can write (local path, ``file://`` URI, HDFS, object
store): every existence check and delete goes through the Hadoop
FileSystem API.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "partition_key string, status string, rows long, wall_ms long, "
    "attempt int, input_fingerprint string, ts string"
)

# directory-partition column written next to (not instead of) key_col
PART_DIR_COL = "__pk"

# Characters Spark/Hive percent-escape in partition directory names
# (ExternalCatalogUtils.escapePathName): control chars plus this set.
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(0x20)}


def escape_partition_value(v: str) -> str:
    """Escape a partition VALUE the way Spark writes it into the
    directory name (%XX uppercase hex), so cleanup paths match the
    actual on-disk layout for keys containing ':', '/', '%', etc.
    An empty value becomes __HIVE_DEFAULT_PARTITION__ — Spark writes
    null/empty partition values under that directory, so a raw
    '__pk=' path would never match and stale data would survive."""
    if v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v
    )


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API —
    resolves through the same filesystem Spark writes to (local, HDFS,
    object store, ``file://`` URIs), unlike os.path/shutil, which
    treat a URI as a relative path and silently miss."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _delete_dir_any_fs(spark: SparkSession, path: str):
    """Recursive delete through the Hadoop FileSystem API."""
    fs, p = _fs_path(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


class CheckpointManifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        fs, p = _fs_path(self.spark, self.path)
        return fs.exists(p) and any(
            st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(p)
        )

    def entries(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.path)

    def completed(self) -> DataFrame:
        """Latest-attempt 'done' keys."""
        e = self.entries()
        return (
            e.where(F.col("status") == "done")
            .select("partition_key")
            .distinct()
        )

    def pending(self, keys: DataFrame, key_col: str) -> DataFrame:
        """Anti-join of the work universe against completed keys
        (the reference's ``~isin(completed)``, batch_4:491,509).
        With no manifest on disk nothing is completed, so the keys are
        returned as they are — no empty scan, no join."""
        if not self._exists():
            return keys
        done = self.completed().withColumnRenamed("partition_key", key_col)
        return keys.join(done, key_col, "left_anti")

    def record(self, rows: list[dict]):
        """Append one manifest row per dict. The rows go to Spark as
        one Arrow (pandas) frame with the column dtypes of
        MANIFEST_SCHEMA, not as Python rows."""
        if not rows:
            return
        pdf = pd.DataFrame(
            {
                "partition_key": [str(r["partition_key"]) for r in rows],
                "status": [r.get("status", "done") for r in rows],
                "rows": np.array([r.get("rows", 0) for r in rows], np.int64),
                "wall_ms": np.array([r.get("wall_ms", 0) for r in rows], np.int64),
                "attempt": np.array([r.get("attempt", 1) for r in rows], np.int32),
                "input_fingerprint": [
                    str(r.get("input_fingerprint", "")) for r in rows
                ],
                "ts": [str(r.get("ts", "")) for r in rows],
            }
        )
        df = self.spark.createDataFrame(pdf, MANIFEST_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)


def checkpointed_run(
    spark: SparkSession,
    universe: DataFrame,
    key_col: str,
    build_fn,
    out_path: str,
    manifest: CheckpointManifest,
    max_keys: int | None = None,
    fingerprint: str = "",
) -> int:
    """Process pending partitions: ``build_fn(keys_df) -> DataFrame``
    (must carry ``key_col``), append results + manifest entries.

    ``max_keys`` bounds a single invocation (used by tests to simulate
    a crash between checkpoints). Returns #keys processed.
    """
    pending = manifest.pending(universe.select(key_col).distinct(), key_col)
    if max_keys is not None:
        pending = pending.orderBy(key_col).limit(max_keys)
    keys = [r[key_col] for r in pending.collect()]  # metadata only
    if not keys:
        return 0
    t0 = time.time()
    result = build_fn(universe.where(F.col(key_col).isin(keys))).cache()
    per_key = {
        r[key_col]: r["n"]
        for r in result.groupBy(key_col).agg(F.count("*").alias("n")).collect()
    }
    # idempotent resume: the output is PARTITIONED BY the checkpoint
    # key and written with dynamic partition overwrite, so a crash
    # between this write and the manifest record just overwrites the
    # same key-partitions on retry — a blind append would duplicate
    # every row of the interrupted batch. Dynamic overwrite only
    # replaces partitions PRESENT in the new result, so a retried key
    # whose rebuild now yields zero rows would keep stale partial data
    # from the interrupted attempt: explicitly drop every pending
    # key's partition directory first.
    # Partition values are escaped exactly as Spark writes them
    # (':' → %3A etc.) and deleted through the Hadoop FS API, so the
    # cleanup works for special-character keys and on non-local
    # filesystems alike.
    for k in keys:
        part_dir = os.path.join(
            out_path, f"{PART_DIR_COL}={escape_partition_value(str(k))}"
        )
        _delete_dir_any_fs(spark, part_dir)
    # Partition by a STRING COPY of the key and keep key_col as a
    # normal data column: directory names carry no dtype, so reading
    # the key back from them would re-type "0" → 0 (or force a
    # session-global inference conf — which leaked in round 2).
    # Keeping the key in the data files preserves its exact dtype
    # without touching any session conf.
    to_write = result.withColumn(PART_DIR_COL, F.col(key_col).cast("string"))
    # session confs are global — save/restore so the write mode does
    # not leak into every later write in the session
    _conf = "spark.sql.sources.partitionOverwriteMode"
    _saved = spark.conf.get(_conf, None)
    spark.conf.set(_conf, "dynamic")
    try:
        to_write.write.mode("overwrite").partitionBy(PART_DIR_COL).parquet(out_path)
    finally:
        if _saved is None:
            spark.conf.unset(_conf)
        else:
            spark.conf.set(_conf, _saved)
    wall = int((time.time() - t0) * 1000)
    manifest.record(
        [
            {
                "partition_key": k,
                "status": "done",
                "rows": per_key.get(k, 0),
                "wall_ms": wall // max(len(keys), 1),
                "attempt": 1,
                "input_fingerprint": fingerprint,
            }
            for k in keys
        ]
    )
    result.unpersist()
    return len(keys)
