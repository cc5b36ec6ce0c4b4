"""Tile-indexed spatial joins (the engine's core join strategy).

The reference accelerates point-in-polygon joins with an in-process
STRtree (kblock/batch_2_prepare_buildings.py:66-86). Distributed
equivalent: polygons are exploded onto the grid cells they cover,
points carry their cell id, and the join is a plain Catalyst equi-join
on ``cell`` followed by exact ray-casting refinement inside an
Arrow-batched ``mapInPandas`` — geometry travels WITH the rows, so the
refine stage is shuffle-free and scales to any polygon count. Salting
hooks handle hotspot cells (the weighted_qcut analogue,
batch_4_compute_k.py:508-516).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..geo.geom import points_in_polygon, unpack_rings
from ..geo.tiling import DEFAULT_CELL_DEG, cells_covering_polygon


def make_covering_cells_udf(cell_deg: float = DEFAULT_CELL_DEG):
    @pandas_udf("array<long>")
    def covering(ring_sizes: pd.Series, coords: pd.Series) -> pd.Series:
        out = []
        for sizes, cs in zip(ring_sizes, coords):
            shell, holes = unpack_rings(sizes, cs)
            out.append(cells_covering_polygon(shell, holes, cell_deg).tolist())
        return pd.Series(out)

    return covering


def polygons_with_cells(
    polys: DataFrame, cell_deg: float = DEFAULT_CELL_DEG
) -> DataFrame:
    """Explode each polygon onto its covering cells → one row per
    (polygon, cell). The h3 polygon_to_cells analogue."""
    cov = make_covering_cells_udf(cell_deg)
    return polys.withColumn("cell", F.explode(cov("ring_sizes", "coords")))


def _pip_refine_factory(poly_key: str, geom_bc=None):
    """Arrow-batched exact ray-cast refinement.

    geom_bc: optional sc.broadcast({key: (ring_sizes, coords)}). When
    set (broadcast-polygon mode), candidate rows carry NO geometry —
    a 1.9M-candidate join would otherwise push every block's full ring
    arrays through the Arrow channel once PER CANDIDATE (~GBs); the
    broadcast ships each polygon once per worker instead. The
    non-broadcast (planetary polygon count) path still inlines
    geometry in the rows."""

    def refine(batches):
        geo = geom_bc.value if geom_bc is not None else None
        # per-partition memo of unpacked rings: a polygon's candidates
        # arrive across many Arrow batches, and the list→ndarray
        # conversion inside unpack_rings was being paid once per
        # (polygon, batch) — a measurable share of the refine wall at
        # ~11 candidates per polygon per batch
        ring_cache: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            lons = pdf["lon"].to_numpy()
            lats = pdf["lat"].to_numpy()
            # vectorize per candidate polygon within the Arrow batch
            for key, idx in pdf.groupby(poly_key, sort=False).indices.items():
                hit = ring_cache.get(key)
                if hit is None:
                    if geo is not None:
                        sizes, coords = geo[key]
                    else:
                        sizes = pdf["__ring_sizes"].iloc[idx[0]]
                        coords = pdf["__coords"].iloc[idx[0]]
                    hit = unpack_rings(sizes, coords)
                    ring_cache[key] = hit
                shell, holes = hit
                keep[idx] = points_in_polygon(lons[idx], lats[idx], shell, holes)
            out = pdf.loc[keep]
            if geo is None:
                out = out.drop(columns=["__ring_sizes", "__coords"])
            if len(out):
                yield out

    return refine


# auto mode-switch limits: above either, the broadcast path (which
# collects every polygon's ring arrays to the driver) is unreachable
BROADCAST_MAX_POLYS = 100_000
BROADCAST_MAX_COORD_BYTES = 256 << 20


def polygon_side_fits_broadcast(polys: DataFrame) -> bool:
    """Cheap one-aggregate decision: polygon count + total coord bytes
    against the broadcast limits."""
    st = polys.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size("coords")), F.lit(0)).alias("c"),
    ).collect()[0]
    return (
        int(st["n"]) <= BROADCAST_MAX_POLYS
        and int(st["c"]) * 8 <= BROADCAST_MAX_COORD_BYTES
    )


def suggest_pip_cell_deg(polys: DataFrame) -> float:
    """Data-derived tile size for the PIP cell join: a fixed grid
    mis-sizes one way or the other (cells ≫ polygon → every point
    carries several candidate polygons through the refine kernel;
    cells ≪ polygon → the broadcast cell map explodes). A cell of
    ~1/5 the MEDIAN polygon bbox dimension keeps the candidate ratio
    near 1 while the cell map stays broadcast-small — r3 measured
    0.25 vs a fixed grid (candidates 2.85M → 1.63M, PIP 3.4 → 2.1 s);
    the r8 interleaved A/B moved the default 0.25 → 0.18 (f18 won 4/5
    pairs at 720k pages/32c, 428-483 vs 381-450 blocks/s,
    bench_runs/r8_geo_ab_frac.json — fewer refine candidates still
    outweigh the ~2× larger cell map). One cheap aggregate over the
    polygon dim table; results are exact at ANY cell size."""
    xs = F.filter(
        F.transform(F.col("coords"), lambda v, i: F.when(i % 2 == 0, v)),
        lambda v: v.isNotNull(),
    )
    ys = F.filter(
        F.transform(F.col("coords"), lambda v, i: F.when(i % 2 == 1, v)),
        lambda v: v.isNotNull(),
    )
    dim = F.greatest(
        F.array_max(xs) - F.array_min(xs), F.array_max(ys) - F.array_min(ys)
    )
    med = polys.select(dim.alias("d")).agg(
        F.expr("percentile(d, 0.5)").alias("m")
    ).collect()[0]["m"]
    if med is None or med <= 0:
        return DEFAULT_CELL_DEG
    return float(min(max(med * 0.18, 1e-5), 1.0))


def assign_points_to_polygons(
    points: DataFrame,
    polys: DataFrame,
    point_cols: list[str],
    poly_key: str = "block_id",
    poly_cols: list[str] | None = None,
    cell_deg: float = DEFAULT_CELL_DEG,
    broadcast_polys: bool | str = "auto",
    salt_buckets: int = 0,
    dedupe: bool = True,
) -> DataFrame:
    """Point-in-polygon join (the reference's hot join, batch_2:66-86).

    points: must carry ``lon``, ``lat``, ``cell`` columns.
    Returns points columns + poly_key (+ poly_cols).

    broadcast_polys: the polygon side (with exploded cells) is usually
    the small dimension (blocks ≪ points, cf. batch_4:535 reading all
    blocks of a chunk at once) → broadcast hash join, zero shuffle of
    the fact side. False at planetary polygon counts → shuffled
    equi-join on ``cell``, with AQE skew-join splitting or
    ``salt_buckets > 0`` to shard hotspot cells explicitly. The
    default "auto" measures the polygon side (one count/size
    aggregate) and picks: the broadcast path's driver-side geometry
    collect must not be reachable when a caller feeds a planetary
    polygon table (callers that KNOW their side is small can pass
    True and skip the stats job).
    """
    poly_cols = poly_cols or []
    if broadcast_polys == "auto":
        broadcast_polys = polygon_side_fits_broadcast(polys)
    out_cols = point_cols + ["cell", poly_key] + poly_cols
    pts = points
    if broadcast_polys:
        # broadcast mode (blocks ≪ points): the cell→polygon map that
        # drives the equi-join is SLIM (no geometry), and the refine
        # UDF resolves geometry from one python broadcast per worker —
        # candidate rows never carry ring arrays through Arrow.
        spark = points.sparkSession
        geom_rows = polys.select(poly_key, "ring_sizes", "coords").collect()
        # ship ndarrays, not lists: the refine kernel converts to
        # numpy anyway, and a list would be re-converted on every use
        geom_bc = spark.sparkContext.broadcast(
            {
                r[poly_key]: (
                    np.asarray(r["ring_sizes"], dtype=np.int64),
                    np.asarray(r["coords"], dtype=np.float64),
                )
                for r in geom_rows
            }
        )
        pc = polygons_with_cells(
            polys.select(poly_key, *poly_cols, "ring_sizes", "coords"), cell_deg
        ).drop("ring_sizes", "coords")
        cand = pts.join(F.broadcast(pc), on=["cell"], how="inner")
        schema_df = cand.select(*out_cols)
        refined = schema_df.mapInPandas(
            _pip_refine_factory(poly_key, geom_bc), schema=schema_df.schema
        )
    else:
        pc = polygons_with_cells(
            polys.select(poly_key, *poly_cols, "ring_sizes", "coords"), cell_deg
        ).withColumnRenamed("ring_sizes", "__ring_sizes").withColumnRenamed(
            "coords", "__coords"
        )
        if salt_buckets:
            # salt: points pick a random shard, polygons replicate to all
            pts = pts.withColumn(
                "__salt",
                (F.pmod(F.xxhash64(*point_cols), F.lit(salt_buckets))).cast("int"),
            )
            pc = pc.withColumn(
                "__salt", F.explode(F.array([F.lit(i) for i in range(salt_buckets)]))
            )
            on = ["cell", "__salt"]
        else:
            on = ["cell"]
        cand = pts.join(pc, on=on, how="inner")
        schema_df = cand.select(*out_cols, "__ring_sizes", "__coords")
        refined = schema_df.mapInPandas(
            _pip_refine_factory(poly_key),
            schema=schema_df.drop("__ring_sizes", "__coords").schema,
        )
    if dedupe:
        # a point on a shared block edge can pass PIP for 2 polygons →
        # deterministic keep-first by poly key (reference dedups via
        # geohash rank then drop_duplicates, batch_2:216-231).
        # min_by-groupBy, not a row_number window: the aggregate gets a
        # map-side partial combine and skips the window's per-partition
        # SORT of the whole fact table. (Round 3 measured a pipelined
        # pandas dedupe against this narrow-row JVM shuffle — the
        # shuffle wins by ~20%: interleaved A/B 2.4-3.4 s vs 2.8-3.7 s
        # — so the codegen'd exchange stays. Order-stability of the
        # output no longer matters downstream: the kernel packing layer
        # canonicalizes point order itself.)
        others = [c for c in out_cols if c not in point_cols]
        packed_min = F.min_by(F.struct(*others), F.col(poly_key)).alias("__s")
        refined = (
            refined.groupBy(*point_cols)
            .agg(packed_min)
            .select(*point_cols, *[F.col(f"__s.{c}").alias(c) for c in others])
            .select(*out_cols)
        )
    return refined
