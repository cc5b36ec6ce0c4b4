"""Skew-adversarial scale probe (VERDICT r6 task 5): the r6 10x/20x
probes proved UNIFORM-data scaling; 100 TB reality is skewed. This
probe runs the flagship PIP-join + k-complexity DAG twice in ONE
session (same host regime) — uniform vs a deliberately hot geography
(~20% of all points teleported into ONE street block, which is also
one hot tile cell) — and records:

- wall-time and phase split, skew vs uniform (the honest cost of a
  giant block: the kernel is per-block, so the hot block is one long
  task bounded by the kernel's measured ~linear tail — see
  test_giant_block_kernel_bounded — while balanced placement keeps
  every other core busy on the remaining blocks);
- salt_plan engagement: the measured-load salt plan assigns the hot
  cell ceil(n/target) buckets and salted_by_plan spreads its rows,
  recorded as max-rows-per-key before vs after salting;
- AQE skew-join: a sort-merge join keyed by the hot cell, with the
  skew thresholds scaled to the probe's data volume (at 100 TB the
  DEFAULT 256 MB threshold trips; locally the same partitions are
  ~70 MB, so the threshold is set proportionally — the mechanism
  under test is identical), recorded from the executed plan's
  skew-split AQEShuffleRead.

Usage:
  python scripts/skew_probe.py                     # 7.2M pages (10x)
  python scripts/skew_probe.py --pages 2000000     # smaller

Writes one JSON record to bench_runs/r7_skew_probe.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=7_200_000)
    ap.add_argument("--hot-frac", type=int, default=5,
                    help="1/N of points teleported to the hot block")
    ap.add_argument("--nx", type=int, default=12)
    ap.add_argument("--ny", type=int, default=12)
    ap.add_argument("--grid", type=int, default=7)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--memory", default="6g")
    ap.add_argument("--out", default=os.path.join(
        REPO, "bench_runs", "r7_skew_probe.json"))
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("kblock-skew-probe")
        .master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", args.memory)
        .config("spark.memory.fraction", "0.3")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import pandas as _pd

    from kblock_spark.geo.tiling import _cell_expr
    from kblock_spark.io.synth import (
        ADMIN_SIZE_DEG,
        ORIGIN_LAT,
        ORIGIN_LON,
        synth_admin,
        synth_pages_spark,
        synth_streets,
    )
    from kblock_spark.kernels.blocks import delineate_blocks
    from kblock_spark.kernels.extract import with_geocode
    from kblock_spark.ops.hierarchy import (
        multires_rollup,
        salt_plan,
        salted_by_plan,
        with_quad_cell,
    )
    from kblock_spark.ops.spatial_join import (
        assign_points_to_polygons,
        suggest_pip_cell_deg,
    )
    from kblock_spark.pipeline import compute_k

    def _warm(it):
        import kblock_spark.geo.delaunay  # noqa: F401
        import kblock_spark.geo.geom  # noqa: F401
        import kblock_spark.kernels.complexity  # noqa: F401

        for _ in it:
            yield _pd.DataFrame({"x": [1]})

    spark.range(0, args.cpus * 4, 1, args.cpus * 4).mapInPandas(
        _warm, "x long"
    ).count()

    admin = spark.createDataFrame(synth_admin(args.nx, args.ny))
    streets = spark.createDataFrame(synth_streets(args.nx, args.ny, args.grid))
    blocks = delineate_blocks(admin, streets).cache()
    blocks.count()
    cd = suggest_pip_cell_deg(blocks)

    # hot target: the interior of one street block (grid pitch =
    # ADMIN_SIZE_DEG / (grid+1)); jitter keeps every teleported point
    # strictly inside that block AND inside one level-6 quad cell
    # (cell span nx*ADMIN/64 = 1.5*pitch for the default geometry, so
    # centering at 2.5*pitch keeps the ±0.4*pitch box inside the cell
    # [1.5*pitch, 3*pitch) as well as the block [2*pitch, 3*pitch))
    pitch = ADMIN_SIZE_DEG / (args.grid + 1)
    hc_lon = ORIGIN_LON + 2.5 * pitch
    hc_lat = ORIGIN_LAT + 2.5 * pitch
    jit = 0.40 * pitch

    raw = (
        with_geocode(synth_pages_spark(spark, args.pages))
        .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .select("url", "lat", "lon")
    )

    def build_points(skewed: bool):
        d = raw
        if skewed:
            is_hot = F.pmod(F.xxhash64("url"), F.lit(args.hot_frac)) == 0
            jx = (F.pmod(F.xxhash64("url", F.lit(1)), F.lit(100000))
                  / 1e5 - 0.5) * (2 * jit)
            jy = (F.pmod(F.xxhash64("url", F.lit(2)), F.lit(100000))
                  / 1e5 - 0.5) * (2 * jit)
            d = d.withColumn(
                "lon", F.when(is_hot, F.lit(hc_lon) + jx).otherwise(F.col("lon"))
            ).withColumn(
                "lat", F.when(is_hot, F.lit(hc_lat) + jy).otherwise(F.col("lat"))
            )
        return d.withColumn("cell", _cell_expr(F.col("lon"), F.col("lat"), cd))

    def run_variant(skewed: bool) -> dict:
        points = build_points(skewed).cache()
        n_points = points.count()
        phases = {}
        t0 = time.time()
        assigned = assign_points_to_polygons(
            points, blocks, point_cols=["url", "lon", "lat"],
            poly_key="block_id", poly_cols=["gadm_code"], cell_deg=cd,
            broadcast_polys=True,
        ).cache()
        assigned.count()
        phases["pip_s"] = round(time.time() - t0, 2)
        t = time.time()
        k = compute_k(blocks, assigned, streets, cd)
        n_blocks = k.count()
        phases["compute_k_s"] = round(time.time() - t, 2)
        measured = round(time.time() - t0, 2)
        top = (
            assigned.groupBy("block_id").count()
            .orderBy(F.desc("count")).limit(1).collect()[0]
        )
        rec = {
            "points": n_points,
            "blocks": n_blocks,
            "measured_sec": measured,
            "points_per_sec": round(n_points / measured, 1),
            "phases": phases,
            "hottest_block_points": top["count"],
            "hottest_block_share": round(top["count"] / n_points, 3),
        }
        assigned.unpersist()
        points.unpersist()
        return rec

    out = {
        "probe": "r7_skew_adversarial",
        "pages": args.pages,
        "cores": args.cpus,
        "heap": args.memory,
        "hot_fraction": f"1/{args.hot_frac}",
        "uniform": run_variant(skewed=False),
        "skewed": run_variant(skewed=True),
    }

    # ---- salt_plan engagement on the hot tile cell
    pts = build_points(skewed=True).cache()
    n_points = pts.count()
    extent = (args.nx * ADMIN_SIZE_DEG, args.ny * ADMIN_SIZE_DEG)
    origin = (ORIGIN_LON, ORIGIN_LAT)
    level = 6
    rollup = multires_rollup(
        pts, [level], origin=origin, extent=extent
    ).where(F.col("level") == level).cache()
    hot_cell = rollup.orderBy(F.desc("n_points")).limit(1).collect()[0]
    target = 50_000
    plan = salt_plan(rollup.select("ix", "iy", "n_points"), target)
    hot_salt = plan.where(
        (F.col("ix") == hot_cell["ix"]) & (F.col("iy") == hot_cell["iy"])
    ).collect()[0]["salt"]
    salted = salted_by_plan(
        with_quad_cell(pts, level, origin=origin, extent=extent),
        plan, F.xxhash64("url"),
    )
    spread = (
        salted.groupBy("ix", "iy", "salt_bucket").count()
        .where((F.col("ix") == hot_cell["ix"]) & (F.col("iy") == hot_cell["iy"]))
        .agg(F.max("count").alias("mx"), F.count("*").alias("nb"))
        .collect()[0]
    )
    out["salt_plan"] = {
        "level": level,
        "hot_cell_points": hot_cell["n_points"],
        "hot_cell_share": round(hot_cell["n_points"] / n_points, 3),
        "target_per_salt": target,
        "hot_cell_salt_buckets": int(hot_salt),
        "buckets_materialized": int(spread["nb"]),
        "max_rows_per_key_before": int(hot_cell["n_points"]),
        "max_rows_per_key_after": int(spread["mx"]),
    }

    # ---- AQE skew-join split on the hot key (thresholds scaled to
    # the probe's shuffle volume — the hot partition here is a few MB
    # COMPRESSED, where the default 256 MB threshold is sized for
    # cluster-scale partitions; at 100 TB the defaults trip on their
    # own). Keyed by the level-6 quad cell, where the teleported blob
    # is exactly ONE key. Two traps this setup dodges, both of which
    # silently suppress the split: (a) AQE converting the tiny dim
    # side to a broadcast join (no shuffle left to split) — disabled
    # via the adaptive broadcast threshold; (b) Catalyst pruning the
    # payload column, which compresses the hot partition below any
    # threshold — the aggregate consumes url so rows stay wide.
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    keyed = with_quad_cell(pts, level, origin=origin, extent=extent).select(
        (F.col("ix") * 100000 + F.col("iy")).alias("qkey"), "url"
    )
    # dim from the (tiny, already-computed) rollup — an INDEPENDENT
    # plan subtree, so the probe side's exchange is not reused and
    # the skew rule sees a splittable shuffle read
    dim = rollup.select(
        (F.col("ix") * 100000 + F.col("iy")).alias("qkey"),
        F.col("n_points").alias("cell_n"),
    )
    t = time.time()
    j = keyed.join(dim, "qkey").groupBy().agg(
        F.sum("cell_n").alias("s"), F.sum(F.length("url")).alias("n")
    )
    j.collect()
    skew_join_s = round(time.time() - t, 2)
    plan_str = j._jdf.queryExecution().executedPlan().toString()
    out["aqe_skew_join"] = {
        "join_sec": skew_join_s,
        "smj_skew_true": plan_str.count("skew=true"),
        "skewed_shuffle_reads": plan_str.lower().count("skewed"),
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print("SKEWPROBE " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
