"""Block delineation: street network + admin polygon → block polygons.

Spark-first reimplementation of the reference's ``build_blocks``
(kblock/batch_1b_generate_blocks.py:164-242): per admin unit, clip
streets to the admin polygon, union with the polygon's exterior ring,
polygonize the arrangement, keep interior faces, drop slivers, then
mint deterministic block ids by geohash sort (batch_1b:234-239).

Runs as ``cogroup(admin, streets).applyInPandas`` keyed by
``gadm_code`` — one shuffle, then embarrassingly parallel per unit
(the reference fans out with ``map`` over gadm codes, batch_1b:340).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geo.geom import (
    clip_polyline_to_polygon,
    pack_rings,
    polygon_area,
    ring_perimeter,
    unpack_rings,
)
from ..geo.mercator import lonlat_to_mercator
from ..geo.polygonize import polygonize, representative_point
from ..geo.tiling import _box_cells_expr, geohash_encode

# footpath classes excluded from block delineation
# (kblock/batch_1b_generate_blocks.py:319)
FOOTPATH_HIGHWAYS = ["footway", "bridleway", "steps", "corridor", "path", "cycleway"]

BLOCKS_SCHEMA = (
    "block_id string, block_geohash string, gadm_code string, "
    "country_code string, block_area double, block_perimeter double, "
    "ring_sizes array<int>, coords array<double>"
)

MIN_BLOCK_AREA_M2 = 1.0  # reference drops round(area,0)==0 faces (1b:206)


def _merc_ring(ring: np.ndarray) -> np.ndarray:
    x, y = lonlat_to_mercator(ring[:, 0], ring[:, 1])
    return np.stack([x, y], axis=1)


def build_blocks_kernel(key, admin_pdf: pd.DataFrame, streets_pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: one admin unit → its block polygons."""
    if len(admin_pdf) == 0:
        return pd.DataFrame(
            columns=[
                "block_id", "block_geohash", "gadm_code", "country_code",
                "block_area", "block_perimeter", "ring_sizes", "coords",
            ]
        )
    arow = admin_pdf.iloc[0]
    shell, holes = unpack_rings(arow["ring_sizes"], arow["coords"])
    segments: list[np.ndarray] = []
    # admin exterior ring edges (batch_1b:193-195 unions the gadm
    # exterior ring into the line set before polygonize)
    closed = np.vstack([shell, shell[:1]])
    for i in range(len(closed) - 1):
        segments.append(closed[i : i + 2])
    # streets clipped to the admin polygon (batch_1b:192)
    for coords in streets_pdf.get("coords", pd.Series(dtype=object)):
        line = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
        for i in range(len(line) - 1):
            for piece in clip_polyline_to_polygon(line[i : i + 2], shell, holes):
                segments.append(piece)
    faces = polygonize(segments)
    rows = []
    for fshell, fholes in faces:
        rx, ry = representative_point(fshell)
        # keep only faces inside the admin polygon (batch_1b:202-205
        # clips faces back to the admin and keeps Polygon parts)
        from ..geo.geom import points_in_polygon

        if not points_in_polygon(np.array([rx]), np.array([ry]), shell, holes)[0]:
            continue
        mshell = _merc_ring(fshell)
        mholes = [_merc_ring(h) for h in fholes]
        area = polygon_area(mshell, mholes)
        if area < MIN_BLOCK_AREA_M2:
            continue  # sliver (batch_1b:206)
        sizes, coords = pack_rings(fshell, fholes)
        gh = geohash_encode(np.array([rx]), np.array([ry]), 12)[0]
        rows.append(
            {
                "block_geohash": gh,
                "gadm_code": arow["gadm_code"],
                "country_code": arow["country_code"],
                "block_area": area,
                "block_perimeter": ring_perimeter(mshell),
                "ring_sizes": sizes,
                "coords": coords,
            }
        )
    out = pd.DataFrame(rows)
    if len(out) == 0:
        return pd.DataFrame(
            columns=[
                "block_id", "block_geohash", "gadm_code", "country_code",
                "block_area", "block_perimeter", "ring_sizes", "coords",
            ]
        )
    # deterministic id mint: sort by geohash desc, index → id
    # (batch_1b:238-239); ids are stable under any Spark partitioning
    # because minting happens entirely inside the per-gadm group
    out = out.sort_values("block_geohash", ascending=False, kind="mergesort")
    out.insert(
        0,
        "block_id",
        [f"{arow['gadm_code']}_{i+1}" for i in range(len(out))],
    )
    return out.reset_index(drop=True)


def street_bboxes(streets: DataFrame) -> DataFrame:
    """Add bbox columns to a streets DataFrame — pure Catalyst array
    ops over the flat coords (no Python)."""
    xs = F.filter(
        F.transform(F.col("coords"), lambda v, i: F.when(i % 2 == 0, v)),
        lambda v: v.isNotNull(),
    )
    ys = F.filter(
        F.transform(F.col("coords"), lambda v, i: F.when(i % 2 == 1, v)),
        lambda v: v.isNotNull(),
    )
    return (
        streets.withColumn("_xs", xs)
        .withColumn("_ys", ys)
        .withColumn("xmin", F.array_min("_xs"))
        .withColumn("xmax", F.array_max("_xs"))
        .withColumn("ymin", F.array_min("_ys"))
        .withColumn("ymax", F.array_max("_ys"))
        .drop("_xs", "_ys")
    )


def admin_bboxes(admin: DataFrame) -> DataFrame:
    return street_bboxes(admin)


def delineate_blocks(
    admin: DataFrame, streets: DataFrame, pair_cell_deg: float = 0.01
) -> DataFrame:
    """Full plan: streets ⨝ admin as a tile EQUI-join on bbox covering
    cells (two overlapping bboxes always share a covering cell, so the
    cell join is a strict superset prefilter; the polygonize kernel
    clips, so extra pairs only cost work, never change output). A
    bbox-predicate broadcast NLJ would be memory-fine — admin is a
    small dim — but it EVALUATES streets×admin predicate pairs, which
    is the scale-killer at planetary street counts. Then cogroup by
    gadm_code and run the kernel."""
    blocking = streets.where(~F.col("highway").isin(FOOTPATH_HIGHWAYS))
    s = street_bboxes(blocking).select(
        "street_id", "coords", "xmin", "xmax", "ymin", "ymax"
    )
    a0 = admin_bboxes(admin).select("gadm_code", "xmin", "xmax", "ymin", "ymax")
    # data-derived cell size: a fixed 0.01° grid makes a large sparse
    # admin unit (several degrees across) emit 10^5-10^6 covering
    # cells into the broadcast side. Coarsen the grid so the LARGEST
    # admin bbox emits at most ~(MAX_CELLS_PER_AXIS+1)² cells; admin
    # is the small dim, so the stat is one cheap collect. A coarser
    # grid only weakens pruning (the cell join stays a strict superset
    # prefilter and the polygonize kernel clips), never correctness.
    MAX_CELLS_PER_AXIS = 64
    ext = a0.agg(
        F.max(F.col("xmax") - F.col("xmin")).alias("dx"),
        F.max(F.col("ymax") - F.col("ymin")).alias("dy"),
    ).collect()[0]
    max_dim = max(float(ext["dx"] or 0.0), float(ext["dy"] or 0.0))
    cell_deg = max(pair_cell_deg, max_dim / MAX_CELLS_PER_AXIS)
    cells = F.explode(_box_cells_expr(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), cell_deg
    ))
    s_cells = s.withColumn("cell", cells).select("street_id", "coords", "cell")
    a_cells = a0.withColumn("cell", cells).select("gadm_code", "cell")
    pairs = (
        s_cells.join(F.broadcast(a_cells), "cell", "inner")
        .select(F.col("gadm_code").alias("g_code"), "street_id", "coords")
        .dropDuplicates(["g_code", "street_id"])
    )
    # explicit kernel-stage parallelism (AQE byte-based coalescing
    # would serialize the Python polygonize kernels; see compute_k)
    spark = admin.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    admin = admin.repartition(nparts, "gadm_code")
    pairs = pairs.repartition(nparts, "g_code")
    admin_g = admin.groupBy("gadm_code")
    streets_g = pairs.groupBy("g_code")
    return admin_g.cogroup(streets_g).applyInPandas(build_blocks_kernel, BLOCKS_SCHEMA)
