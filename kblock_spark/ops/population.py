"""Dasymetric population allocation (raster → buildings → blocks).

Reimplements the reference's ``allocate_population`` waterfall
(kblock/batch_3_model_population.py:186-355) as pure DataFrame ops —
the reference itself flattens rasters to pixel tables (batch_3:126-172),
so the engine's raster source IS a table of pixel boxes:

  pixels(pixel_id, xmin, ymin, xmax, ymax, population)

Stage 1 (batch_3:247-266): pixels with buildings → split the pixel's
  population across its buildings proportional to building_area
  (windowed sum over pixel).
Stage 2 (batch_3:278-309): pixels with no buildings → split across
  overlapping blocks proportional to pixel∩block overlap area
  (exact Sutherland–Hodgman box clip in a vectorized UDF).
Stage 3 (batch_3:312-341): pixels touching nothing → allocate at the
  admin level proportional to each block's total building area
  (fallback: uniform over blocks of the admin unit).

Conservation invariant: Σ allocated == Σ pixel population
(batch_3:239-341 logs this at every stage; here it is a test).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..geo.geom import box_polygon_overlap_area, unpack_rings
from ..geo.tiling import DEFAULT_CELL_DEG, _box_cells_expr, _cell_expr
from .spatial_join import polygon_side_fits_broadcast, polygons_with_cells


def _overlap_area_udf():
    @pandas_udf(DoubleType())
    def overlap(
        ring_sizes: pd.Series, coords: pd.Series,
        xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series,
    ) -> pd.Series:
        out = np.empty(len(ring_sizes))
        for i, (sizes, cs, x0, y0, x1, y1) in enumerate(
            zip(ring_sizes, coords, xmin, ymin, xmax, ymax)
        ):
            shell, holes = unpack_rings(sizes, cs)
            out[i] = box_polygon_overlap_area(shell, holes, x0, y0, x1, y1)
        return pd.Series(out)

    return overlap


def allocate_population(
    pixels: DataFrame,
    buildings: DataFrame,
    blocks: DataFrame,
    cell_deg: float = DEFAULT_CELL_DEG,
    pop_col: str = "population",
    quantize_e6: bool = False,
) -> DataFrame:
    """→ (block_id, gadm_code, allocated_population).

    buildings: (block_id, gadm_code, lon, lat, building_area).
    blocks: (block_id, gadm_code, ring_sizes, coords).

    ``quantize_e6=True`` rounds every per-row contribution to BIGINT
    micro-person units before the sums (allocated_population becomes
    e6-scaled BIGINT): double sums are association-order sensitive, so
    the default float output can wobble in the last ulps as the
    partitioning changes, while the quantized mode is bit-stable under
    ANY plan — the property the hard DuckDB oracle (geo_zonal_oracle)
    and any cross-run diffing need, at a bounded 1e-6/contribution
    rounding cost (same recipe as the d13/s04 oracle queries).
    """

    def _q(col):
        return (
            F.round(col * F.lit(1e6)).cast("bigint") if quantize_e6 else col
        )
    # a raster carrying a per-pixel admin assignment drives the
    # per-admin stage-3 residual; rename it so it never collides with
    # the buildings'/blocks' gadm_code through stages 1-2
    if "gadm_code" in pixels.columns:
        pixels = pixels.withColumnRenamed("gadm_code", "__px_gadm")
    # cell ids as pure Catalyst expressions (bit-identical to the
    # numpy tiling, see _cell_expr): stages 1-2's candidate
    # generation runs entirely in the JVM — the former pandas UDFs
    # made the hot join stage hostage to python-worker churn
    # (measured: a 3× slow mode when the worker pool was cold/evicted
    # mid-bench)
    px = pixels.withColumn(
        "cell",
        F.explode(
            _box_cells_expr(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
                cell_deg,
            )
        ),
    )

    # ---- stage 1: pixel ⋈ buildings (point-in-box via cell equi-join)
    b = buildings.select("block_id", "gadm_code", "lon", "lat", "building_area")
    b = b.withColumn("cell", _cell_expr(F.col("lon"), F.col("lat"), cell_deg))
    pb = px.join(b, "cell", "inner").where(
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax"))
    )
    w_pix = Window.partitionBy("pixel_id")
    s1 = pb.withColumn(
        "bldg_pop",
        _q(
            F.col(pop_col)
            * F.col("building_area")
            / F.sum("building_area").over(w_pix)
        ),
    )
    # each stage output feeds TWO consumers (the allocation aggregate
    # and the next stage's done-set anti-join); a lazy localCheckpoint
    # materializes the stage once instead of replaying its join+window
    # subtree per consumer (the full plan carried 60 Exchanges).
    # Safe under quantize_e6 (sums are partition-invariant by
    # construction); in float mode the plan was already
    # association-order sensitive, so this changes nothing it promised.
    s1 = s1.localCheckpoint(eager=False)
    alloc1 = s1.groupBy("block_id", "gadm_code").agg(
        F.sum("bldg_pop").alias("pop_s1")
    )
    done1 = s1.select("pixel_id").distinct()

    # ---- stage 2: residual pixels → blocks by overlap area
    resid = pixels.join(done1, "pixel_id", "left_anti").localCheckpoint(
        eager=False
    )
    rpx = resid.withColumn(
        "cell",
        F.explode(
            _box_cells_expr(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
                cell_deg,
            )
        ),
    )
    bc = polygons_with_cells(
        blocks.select("block_id", "gadm_code", "ring_sizes", "coords"), cell_deg
    ).withColumnRenamed("gadm_code", "b_gadm")
    # broadcast only when the block side (geometry inlined) actually
    # fits — at a planetary block count the hint would OOM the driver;
    # the shuffled cell equi-join is the automatic fallback
    if polygon_side_fits_broadcast(blocks):
        bc = F.broadcast(bc)
    cand = rpx.join(bc, "cell", "inner").dropDuplicates(
        ["pixel_id", "block_id"]
    )
    ov = _overlap_area_udf()
    cand = cand.withColumn(
        "ov_area", ov("ring_sizes", "coords", "xmin", "ymin", "xmax", "ymax")
    ).where(F.col("ov_area") > 0)
    w_pix2 = Window.partitionBy("pixel_id")
    s2 = cand.withColumn(
        "blk_pop",
        _q(F.col(pop_col) * F.col("ov_area") / F.sum("ov_area").over(w_pix2)),
    ).localCheckpoint(eager=False)
    alloc2 = s2.groupBy("block_id", F.col("b_gadm").alias("gadm_code")).agg(
        F.sum("blk_pop").alias("pop_s2")
    )
    done2 = s2.select("pixel_id").distinct()

    # ---- stage 3: pixels touching nothing → building-area shares.
    # The reference allocates residuals INSIDE the admin unit
    # (batch_3:312-318): when the pixel carries a gadm_code, each
    # unit's residual pool is shared over that unit's building area.
    # Pools that cannot be absorbed per-admin (NULL gadm_code — the
    # synthetic raster's out-of-extent pixels — or an admin unit with
    # zero building area) roll into a GLOBAL pool so conservation
    # holds exactly. All scalars stay IN THE PLAN as broadcast one-row
    # aggregates — no global single-partition window, no driver
    # collect: the round-1 version exchanged the full block table into
    # one task at this step.
    resid3 = resid.join(done2, "pixel_id", "left_anti")
    ba = buildings.groupBy("block_id", "gadm_code").agg(
        F.sum("building_area").alias("ba")
    )
    ba_tot = ba.agg(F.sum("ba").alias("__ba_total"))
    if "__px_gadm" in resid3.columns:
        r3 = resid3.select(
            F.col(pop_col).alias("__p"), F.col("__px_gadm").alias("px_gadm")
        )
        tot_admin = (
            r3.where(F.col("px_gadm").isNotNull())
            .groupBy("px_gadm")
            .agg(F.sum("__p").alias("__resid_pop_admin"))
        )
        ba_admin = ba.groupBy("gadm_code").agg(F.sum("ba").alias("__ba_admin"))
        absorb = tot_admin.join(
            ba_admin.where(F.col("__ba_admin") > 0),
            tot_admin["px_gadm"] == ba_admin["gadm_code"],
        ).select("gadm_code", "__resid_pop_admin", "__ba_admin")
        alloc3a = (
            ba.join(absorb, "gadm_code")
            .withColumn(
                "pop_s3",
                _q(
                    F.col("__resid_pop_admin")
                    * F.col("ba")
                    / F.col("__ba_admin")
                ),
            )
            .select("block_id", "gadm_code", "pop_s3")
        )
        orphan = (
            tot_admin.join(
                absorb.select(F.col("gadm_code").alias("px_gadm")),
                "px_gadm",
                "left_anti",
            )
            .agg(F.coalesce(F.sum("__resid_pop_admin"), F.lit(0.0)).alias("__o"))
        )
        null_pool = (
            r3.where(F.col("px_gadm").isNull())
            .agg(F.coalesce(F.sum("__p"), F.lit(0.0)).alias("__n"))
        )
        total3 = null_pool.crossJoin(orphan).select(
            (F.col("__n") + F.col("__o")).alias("__resid_pop")
        )
    else:
        alloc3a = None
        total3 = resid3.agg(
            F.coalesce(F.sum(pop_col), F.lit(0.0)).alias("__resid_pop")
        )
    alloc3 = (
        ba.crossJoin(F.broadcast(ba_tot))
        .crossJoin(F.broadcast(total3))
        .withColumn(
            "pop_s3",
            _q(F.col("__resid_pop") * F.col("ba") / F.col("__ba_total")),
        )
        .select("block_id", "gadm_code", "pop_s3")
    )
    if alloc3a is not None:
        alloc3 = (
            alloc3.unionByName(alloc3a)
            .groupBy("block_id", "gadm_code")
            .agg(F.sum("pop_s3").alias("pop_s3"))
        )

    out = (
        blocks.select("block_id", "gadm_code")
        .join(alloc1, ["block_id", "gadm_code"], "left")
        .join(alloc2, ["block_id", "gadm_code"], "left")
        .join(alloc3, ["block_id", "gadm_code"], "left")
        .select(
            "block_id",
            "gadm_code",
            (
                F.coalesce(F.col("pop_s1"), _zero(quantize_e6))
                + F.coalesce(F.col("pop_s2"), _zero(quantize_e6))
                + F.coalesce(F.col("pop_s3"), _zero(quantize_e6))
            ).alias("allocated_population"),
        )
    )
    return out


def _zero(quantized: bool) -> F.Column:
    return F.lit(0).cast("bigint") if quantized else F.lit(0.0)


def rescale_to_target(
    pop: DataFrame,
    target_total: float,
    pop_col: str = "allocated_population",
    group_col: str | None = None,
) -> DataFrame:
    """UN-adjustment style linear rescale (batch_3:526-532): per-group
    (country) sum → multiply by target/model ratio.

    The denominator is a grouped aggregate broadcast back onto the
    rows — NOT a ``Window.partitionBy()`` (which would exchange the
    whole table into one task at 10⁸-block scale). With no group_col
    the sum is a one-row scalar aggregate (tree-reduced), same plan
    shape."""
    if group_col is None:
        tot = pop.agg(F.sum(pop_col).alias("__model_total"))
        return (
            pop.crossJoin(F.broadcast(tot))
            .withColumn(
                pop_col + "_adj",
                F.col(pop_col) * F.lit(target_total) / F.col("__model_total"),
            )
            .drop("__model_total")
        )
    tot = pop.groupBy(group_col).agg(F.sum(pop_col).alias("__model_total"))
    return (
        pop.join(F.broadcast(tot), group_col)
        .withColumn(
            pop_col + "_adj",
            F.col(pop_col) * F.lit(target_total) / F.col("__model_total"),
        )
        .drop("__model_total")
    )
