"""Resume-from-checkpoint (FIXTURES.md §8) + kNN ring-expansion join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kblock_spark.geo.tiling import cell_of
from kblock_spark.io.manifest import (
    MANIFEST_SCHEMA,
    CheckpointManifest,
    checkpointed_run,
)
from kblock_spark.ops.knn import knn_join


def _manifest_schema(spark):
    return spark.createDataFrame([], MANIFEST_SCHEMA).schema.simpleString()


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_checkpoint_resume(spark, tmp_path, as_uri):
    """Crash, resume, re-run — on a plain path and on a ``file://``
    URI (the manifest check goes through the Hadoop FS API; an
    os.path check never saw a URI manifest, so every run redid every
    key). The output holds one row per key whatever state the
    manifest was in when a run started: absent, partial, complete."""
    base = tmp_path.as_uri() if as_uri else str(tmp_path)
    out = f"{base}/out"
    man = CheckpointManifest(spark, f"{base}/manifest")
    universe = spark.range(0, 100).select(
        (F.col("id") % 10).cast("string").alias("part_key"), F.col("id")
    )

    def build(df):
        return df.groupBy("part_key").agg(F.sum("id").alias("total"))

    def no_duplicates(n_keys):
        result = spark.read.parquet(out)
        assert result.count() == result.distinct().count() == n_keys
        m = man.entries()
        assert m.count() == m.select("partition_key").distinct().count() == n_keys

    # simulate crash: first run (absent manifest) processes 4 partitions
    n1 = checkpointed_run(spark, universe, "part_key", build, out, man, max_keys=4)
    assert n1 == 4
    no_duplicates(4)
    # restart (partial manifest): processes the remaining 6
    n2 = checkpointed_run(spark, universe, "part_key", build, out, man)
    assert n2 == 6
    no_duplicates(10)
    assert spark.read.parquet(f"{base}/manifest").schema.simpleString() == (
        _manifest_schema(spark)
    )
    # idempotent third run (complete manifest): nothing pending
    n3 = checkpointed_run(spark, universe, "part_key", build, out, man)
    assert n3 == 0
    no_duplicates(10)
    result = spark.read.parquet(out)
    clean = {
        (r["part_key"], r["total"])
        for r in universe.groupBy("part_key").agg(F.sum("id").alias("total")).collect()
    }
    got = {(r["part_key"], r["total"]) for r in result.collect()}
    assert got == clean
    # lineage/metrics recorded per partition
    assert man.entries().where(F.col("rows") != 1).count() == 0


def test_manifest_record_keeps_schema_dtypes(spark, tmp_path):
    """``record`` builds its frame from pandas: ``rows`` and
    ``wall_ms`` stay long (a value past 2^31 survives) and ``attempt``
    stays int, exactly MANIFEST_SCHEMA."""
    path = str(tmp_path / "manifest")
    man = CheckpointManifest(spark, path)
    assert not man._exists()
    man.record([
        {"partition_key": 7, "rows": 2**40, "wall_ms": 5, "attempt": 3},
        {"partition_key": "b", "status": "failed", "input_fingerprint": "f"},
    ])
    m = spark.read.parquet(path)
    assert m.schema.simpleString() == _manifest_schema(spark)
    got = sorted(tuple(r) for r in m.collect())
    assert got == [
        ("7", "done", 2**40, 5, 3, "", ""),
        ("b", "failed", 0, 0, 1, "f", ""),
    ]
    # only 'done' keys are completed
    assert [r[0] for r in man.completed().collect()] == ["7"]


def test_resume_idempotent_after_lost_manifest(spark, tmp_path):
    """Crash BETWEEN output write and manifest record: the output holds
    rows whose keys are still pending. Because output partitions are
    overwritten per-key (dynamic partition overwrite), the retry must
    NOT duplicate them — the round-1 blind append did."""
    out = str(tmp_path / "out")
    universe = spark.range(0, 100).select(
        (F.col("id") % 10).cast("string").alias("part_key"), F.col("id")
    )

    def build(df):
        return df.groupBy("part_key").agg(F.sum("id").alias("total"))

    # run 1 writes output for 4 keys, but its manifest is lost (fresh
    # manifest dir below = the crash happened before record())
    man_lost = CheckpointManifest(spark, str(tmp_path / "manifest_lost"))
    checkpointed_run(spark, universe, "part_key", build, out, man_lost, max_keys=4)
    man = CheckpointManifest(spark, str(tmp_path / "manifest"))
    n = checkpointed_run(spark, universe, "part_key", build, out, man)
    assert n == 10  # all keys reprocessed (manifest was lost)
    result = spark.read.parquet(out)
    assert result.count() == 10  # per-key overwrite → no duplicates


def _pts_df(spark, n, seed, key):
    rng = np.random.default_rng(seed)
    lon = 10.0 + rng.uniform(0, 0.05, n)
    lat = rng.uniform(0, 0.05, n)
    pdf = pd.DataFrame(
        {key: np.arange(n), "lon": lon, "lat": lat, "cell": cell_of(lon, lat)}
    )
    return spark.createDataFrame(pdf), pdf


def test_knn_matches_bruteforce(spark):
    left, lpdf = _pts_df(spark, 60, 1, "lid")
    right, rpdf = _pts_df(spark, 80, 2, "rid")
    got = {
        r["lid"]: (r["nn_key"], r["dist_deg"])
        for r in knn_join(left, right, "lid", "rid", k=1).collect()
    }
    assert len(got) == 60
    lx = lpdf[["lon", "lat"]].to_numpy()
    rx = rpdf[["lon", "lat"]].to_numpy()
    d = np.sqrt(((lx[:, None, :] - rx[None, :, :]) ** 2).sum(axis=2))
    for i in range(60):
        j = int(np.argmin(d[i]))
        assert got[i][0] == j, f"left {i}: got {got[i][0]} want {j}"
        assert got[i][1] == pytest.approx(float(d[i, j]), rel=1e-9)


def test_knn_k3(spark):
    left, lpdf = _pts_df(spark, 25, 5, "lid")
    right, rpdf = _pts_df(spark, 50, 6, "rid")
    rows = knn_join(left, right, "lid", "rid", k=3).collect()
    assert len(rows) == 75
    lx = lpdf[["lon", "lat"]].to_numpy()
    rx = rpdf[["lon", "lat"]].to_numpy()
    d = np.sqrt(((lx[:, None, :] - rx[None, :, :]) ** 2).sum(axis=2))
    by_left = {}
    for r in rows:
        by_left.setdefault(r["lid"], []).append((r["rank"], r["nn_key"]))
    for i in range(25):
        want = list(np.argsort(d[i])[:3])
        gotl = [nk for _, nk in sorted(by_left[i])]
        assert gotl == want


def test_checkpointed_run_restores_session_confs(spark, tmp_path):
    """checkpointed_run must not leak its write-mode confs into the
    session (they change the semantics of every later write/read)."""
    before = {
        c: spark.conf.get(c, None)
        for c in (
            "spark.sql.sources.partitionOverwriteMode",
            "spark.sql.sources.partitionColumnTypeInference.enabled",
        )
    }
    out = str(tmp_path / "out")
    man = CheckpointManifest(spark, str(tmp_path / "manifest"))
    universe = spark.range(0, 20).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id")
    )
    checkpointed_run(
        spark, universe, "part_key",
        lambda df: df.groupBy("part_key").agg(F.sum("id").alias("total")),
        out, man,
    )
    after = {c: spark.conf.get(c, None) for c in before}
    assert after == before


def test_retry_clears_stale_partition_when_rebuild_is_empty(spark, tmp_path):
    """Dynamic overwrite only replaces partitions PRESENT in the new
    result; a retried key whose rebuild now yields zero rows must not
    keep stale rows from the interrupted attempt."""
    out = str(tmp_path / "out")
    man = CheckpointManifest(spark, str(tmp_path / "manifest"))
    universe = spark.range(0, 20).select(
        (F.col("id") % 2).cast("string").alias("part_key"), F.col("id")
    )

    def build_v1(df):
        return df.groupBy("part_key").agg(F.sum("id").alias("total"))

    # interrupted attempt: output written for both keys, manifest lost
    checkpointed_run(spark, universe, "part_key", build_v1,
                     out, man.__class__(spark, str(tmp_path / "lost")))

    # retry builds key "1" empty (e.g. upstream rows were retracted)
    def build_v2(df):
        return build_v1(df).where(F.col("part_key") != "1")

    checkpointed_run(spark, universe, "part_key", build_v2, out, man)
    got = {r["part_key"] for r in spark.read.parquet(out).collect()}
    assert got == {"0"}  # stale key-1 partition removed


def test_retry_clears_stale_partition_for_special_char_keys(spark, tmp_path):
    """Keys containing characters Spark percent-escapes in partition
    directory names (':', '%', '/') must still get their stale
    partitions dropped on retry — the cleanup path is built with the
    same escaping Spark writes (a raw f\"__pk={k}\" never matches, so
    the stale data would silently survive)."""
    from kblock_spark.io.manifest import escape_partition_value

    assert escape_partition_value("a:b/c%d") == "a%3Ab%2Fc%25d"

    out = str(tmp_path / "out")
    man = CheckpointManifest(spark, str(tmp_path / "manifest"))
    universe = spark.range(0, 20).select(
        F.concat(F.lit("k:"), (F.col("id") % 2).cast("string")).alias("part_key"),
        F.col("id"),
    )

    def build_v1(df):
        return df.groupBy("part_key").agg(F.sum("id").alias("total"))

    # interrupted attempt: output written for both keys, manifest lost
    checkpointed_run(spark, universe, "part_key", build_v1,
                     out, man.__class__(spark, str(tmp_path / "lost")))

    # retry builds key "k:1" empty — its stale partition must go
    def build_v2(df):
        return build_v1(df).where(F.col("part_key") != "k:1")

    checkpointed_run(spark, universe, "part_key", build_v2, out, man)
    got = {r["part_key"] for r in spark.read.parquet(out).collect()}
    assert got == {"k:0"}


def test_escape_empty_key_maps_to_hive_default_partition():
    """Spark writes null/empty partition values under
    __HIVE_DEFAULT_PARTITION__ — the cleanup path must match that
    directory, not a bare '__pk='."""
    from kblock_spark.io.manifest import escape_partition_value

    assert escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"
    assert escape_partition_value("x") == "x"
