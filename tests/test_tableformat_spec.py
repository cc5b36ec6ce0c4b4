"""Partition-spec evolution (Iceberg v2): set_partition_spec is a
metadata-only commit; old files keep the layout they were written
under; new appends partition by the live spec; plan_files prunes each
file by ITS OWN spec (identity values prune, bucket is conservative)."""

import os

import pytest
from pyspark.sql import functions as F

from kblock_spark.io.tableformat import (
    append_snapshot,
    compact_data_files,
    delete_where_mor,
    plan_files,
    read_manifest,
    read_snapshot,
    set_partition_spec,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("de")
        .alias("lang"),
    )


def test_spec_evolution_is_metadata_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 90), t)
    files_before = sorted(e["path"] for e in read_manifest(t)["files"])
    set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
    m = read_manifest(t)
    assert sorted(e["path"] for e in m["files"]) == files_before
    assert m["spec_id"] == 1 and m["operation"] == "set-spec"
    # pre-spec files carry no partition tuple
    assert all("partition" not in e for e in m["files"])


def test_appends_follow_live_spec_and_prune_by_own_spec(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 90), t)          # spec 0: unpartitioned
    set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
    append_snapshot(_df(spark, 90, 180), t)        # spec 1: by lang
    m = read_manifest(t)
    spec1 = [e for e in m["files"] if e.get("spec_id") == 1]
    assert spec1 and all(
        e["partition"]["identity_lang"] in ("en", "fr", "de") for e in spec1
    )
    assert read_snapshot(spark, t).count() == 180
    # identity pruning: only the en partition of spec-1 files survives,
    # every pre-spec file is kept conservatively
    pruned = plan_files(t, prune=("lang", "en", "en"))
    pre_spec = [
        os.path.join(t, e["path"]) for e in m["files"] if "partition" not in e
    ]
    spec1_en = [
        os.path.join(t, e["path"])
        for e in spec1
        if e["partition"]["identity_lang"] == "en"
    ]
    spec1_other = [
        os.path.join(t, e["path"])
        for e in spec1
        if e["partition"]["identity_lang"] != "en"
    ]
    assert set(pre_spec) <= set(pruned)
    assert set(spec1_en) <= set(pruned)
    assert not set(spec1_other) & set(pruned)
    # the pruned read is still row-correct after a residual filter
    got = read_snapshot(spark, t, prune=("lang", "en", "en")).where(
        "lang = 'en'"
    )
    assert got.count() == 60


def test_bucket_spec_is_conservative_for_ranges(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 4}])
    append_snapshot(_df(spark, 10, 90), t)
    m = read_manifest(t)
    assert any("bucket_doc_id" in (e.get("partition") or {}) for e in m["files"])
    # a range predicate cannot prune bucket partitions — all kept
    assert len(plan_files(t, prune=("doc_id", 0, 1))) == len(m["files"])
    assert read_snapshot(spark, t).count() == 90


def test_spec_revert_and_validation(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 30), t)
    set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
    set_partition_spec(t, [])  # revert to unpartitioned
    append_snapshot(_df(spark, 30, 60), t)
    m = read_manifest(t)
    assert m["spec_id"] == 2  # counter keeps advancing
    assert all("partition" not in e for e in m["files"] if e["path"] in m["added"])
    with pytest.raises(ValueError, match="bucket"):
        set_partition_spec(t, [{"col": "doc_id", "transform": "bucket"}])
    with pytest.raises(ValueError, match="transform"):
        set_partition_spec(t, [{"col": "x", "transform": "year"}])


def test_spec_survives_mor_and_compaction(spark, tmp_path):
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 60), t)
    set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
    append_snapshot(_df(spark, 60, 120), t)
    delete_where_mor(spark, t, "doc_id < 5")
    assert read_manifest(t)["spec_id"] == 1
    compact_data_files(spark, t, target_files=2)
    assert read_manifest(t)["spec_id"] == 1  # spec carried forward
    append_snapshot(_df(spark, 120, 150), t)  # still partitioned
    m = read_manifest(t)
    added = {e["path"] for e in m["files"]} & set(m["added"])
    assert all(
        "identity_lang" in (e.get("partition") or {})
        for e in m["files"] if e["path"] in added
    )
    assert read_snapshot(spark, t).count() == 145


def test_bucket_point_lookup_prunes_files(spark, tmp_path):
    """A point predicate on a bucket(col, n) table plans ~1/n of the
    bucketed files, metadata-only — the 100 TB point-lookup path."""
    from kblock_spark.io.tableformat import _xxh64_long

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 300), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 8}])
    append_snapshot(_df(spark, 300, 900), t)
    m = read_manifest(t)
    bucketed = [e for e in m["files"] if "bucket_doc_id" in (e.get("partition") or {})]
    plain = len(m["files"]) - len(bucketed)
    assert len(bucketed) >= 2
    for probe in (300, 451, 899):
        # planner-side hash must agree with Spark's pmod(xxhash64(v), n)
        want_b = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(probe).cast("bigint")), F.lit(8)).alias("b")
        ).collect()[0]["b"]
        assert _xxh64_long(probe) % 8 == want_b
        planned = plan_files(t, prune=("doc_id", probe, probe))
        keep_b = [
            e for e in bucketed if int(e["partition"]["bucket_doc_id"]) == want_b
        ]
        # all pre-spec files kept (conservative) + only the matching bucket
        assert len(planned) == plain + len(keep_b)
        assert len(planned) < len(m["files"])
        got = read_snapshot(spark, t, prune=("doc_id", probe, probe)).where(
            F.col("doc_id") == probe
        )
        assert got.count() == 1


def test_bucket_pruning_skips_stale_spec_files(spark, tmp_path):
    """Files written under an OLDER bucket spec (different n) must stay
    conservative — their bucket number means something else."""
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 4}])
    append_snapshot(_df(spark, 10, 200), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 8}])
    append_snapshot(_df(spark, 200, 400), t)
    m = read_manifest(t)
    old = [e for e in m["files"]
           if "bucket_doc_id" in (e.get("partition") or {}) and e["spec_id"] == 1]
    assert old, "fixture must have old-spec bucketed files"
    for probe in range(10, 200, 37):
        planned = set(plan_files(t, prune=("doc_id", probe, probe)))
        # every old-spec file survives the plan (no n recorded for it)
        for e in old:
            assert os.path.join(t, e["path"]) in planned
        assert read_snapshot(spark, t, prune=("doc_id", probe, probe)).where(
            F.col("doc_id") == probe
        ).count() == 1


def test_truncate_range_pruning(spark, tmp_path):
    """truncate(col, w) partitions answer RANGE predicates: value t
    covers [t, t+w-1]."""
    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "truncate", "w": 100}])
    append_snapshot(_df(spark, 10, 810), t)
    m = read_manifest(t)
    trunc = [e for e in m["files"] if "truncate_doc_id" in (e.get("partition") or {})]
    plain = len(m["files"]) - len(trunc)
    assert len({e["partition"]["truncate_doc_id"] for e in trunc}) >= 4
    planned = plan_files(t, prune=("doc_id", 230, 260))
    keep = [e for e in trunc if e["partition"]["truncate_doc_id"] == "200"]
    assert len(planned) == plain + len(keep)
    got = read_snapshot(spark, t, prune=("doc_id", 230, 260)).where(
        (F.col("doc_id") >= 230) & (F.col("doc_id") <= 260)
    )
    assert got.count() == 31
    # boundary-straddling range touches both covering partitions
    planned2 = plan_files(t, prune=("doc_id", 195, 205))
    keep2 = [e for e in trunc
             if e["partition"]["truncate_doc_id"] in ("100", "200")]
    assert len(planned2) == plain + len(keep2)


def test_split_append_after_spec_revert_keeps_spec_ids_unique(spark, tmp_path):
    """A split append onto a table whose spec was reverted must carry
    the spec-id counter like any other commit. Dropping it made the
    next spec re-issue the id the old bucket(4) files carry, and point
    lookups then pruned those files by the new modulus and lost rows."""
    import pyarrow.parquet as pq

    from kblock_spark.io.tableformat import append_snapshots_split

    t = str(tmp_path / "tbl")
    append_snapshot(_df(spark, 0, 10), t)
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 4}])
    append_snapshot(_df(spark, 10, 60), t)
    set_partition_spec(t, [])
    append_snapshots_split(
        _df(spark, 60, 80).withColumn("__b", F.col("doc_id") % 2),
        t, "__b", [0, 1],
    )
    set_partition_spec(t, [{"col": "doc_id", "transform": "bucket", "n": 8}])
    append_snapshot(_df(spark, 80, 100), t)
    m = read_manifest(t)
    # every key's file survives the plan of its own point lookup
    file_of = {}
    for e in m["files"]:
        f = os.path.join(t, e["path"])
        ids = pq.read_table(f, columns=["doc_id"]).column("doc_id")
        file_of.update((k, f) for k in ids.to_pylist())
    assert sorted(file_of) == list(range(100))
    lost = [
        k for k, f in file_of.items()
        if f not in plan_files(t, prune=("doc_id", k, k))
    ]
    assert not lost, f"point lookups plan away their row: {lost}"
    for k in range(10, 100, 9):
        assert read_snapshot(spark, t, prune=("doc_id", k, k)).where(
            F.col("doc_id") == k
        ).count() == 1
    assert m["spec_id"] == 3
    assert {e.get("spec_id") for e in m["files"]} == {None, 1, 3}
