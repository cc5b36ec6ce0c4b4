"""Spatial tiling: geohash encoding + fixed-resolution grid cells.

The reference uses geohash (precision 18) for deterministic spatial
sort order and chunking (kblock/batch_1b_generate_blocks.py:235-236,
batch_2_prepare_buildings.py:216-220) and STRtree spatial indexes for
join acceleration (batch_2:68-69). In this engine the join index is a
**fixed-resolution grid cell id** (an H3-level-9-like equal-angle
tiling; the h3 library is not available in this container, so the
tiling is a deterministic lat/lon grid with similar cell area) carried
as an int64 column — spatial joins become plain Catalyst equi-joins on
the cell id, and kNN expands rings of neighboring cells (k_ring).

The functions are numpy-vectorized for use inside pandas UDFs, except
``_cell_expr`` and ``_box_cells_expr``, the Catalyst twins of
``cell_of`` and ``cells_covering_bbox``: they compute the same ids
inside the JVM, for stages that need cell ids but no geometry.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# Cell edge in degrees. 0.003° ≈ 334 m at the equator ≈ 0.11 km² cells,
# matching H3 resolution-9 average cell area (~0.105 km²) per the north
# rule's "H3 level-9 tile" requirement.
DEFAULT_CELL_DEG = 0.003


# ------------------------------------------------------------- geohash

def geohash_encode(lon, lat, precision: int = 12) -> np.ndarray:
    """Vectorized geohash (standard public base32 algorithm).

    Returns an object array of strings. Matches pygeohash.encode used
    at kblock/batch_1b_generate_blocks.py:235-236 (the reference calls
    it with precision 18; any precision is supported here).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = lon.shape[0]
    lo_min = np.full(n, -180.0)
    lo_max = np.full(n, 180.0)
    la_min = np.full(n, -90.0)
    la_max = np.full(n, 90.0)
    nbits = precision * 5
    bits = np.zeros((n, nbits), dtype=np.int8)
    for b in range(nbits):
        if b % 2 == 0:  # even bit → longitude
            mid = (lo_min + lo_max) / 2.0
            hi = lon >= mid
            bits[:, b] = hi
            lo_min = np.where(hi, mid, lo_min)
            lo_max = np.where(hi, lo_max, mid)
        else:
            mid = (la_min + la_max) / 2.0
            hi = lat >= mid
            bits[:, b] = hi
            la_min = np.where(hi, mid, la_min)
            la_max = np.where(hi, la_max, mid)
    # group bits into base32 chars
    vals = np.zeros((n, precision), dtype=np.int32)
    for c in range(precision):
        chunk = bits[:, c * 5 : c * 5 + 5]
        vals[:, c] = (
            chunk[:, 0] * 16 + chunk[:, 1] * 8 + chunk[:, 2] * 4
            + chunk[:, 3] * 2 + chunk[:, 4]
        )
    lut = np.array(list(_BASE32))
    chars = lut[vals]
    return np.array(["".join(row) for row in chars], dtype=object)


# ------------------------------------------------------------ grid cells

def cell_of(lon, lat, cell_deg: float = DEFAULT_CELL_DEG) -> np.ndarray:
    """lon/lat → int64 grid cell id (packed 32+32 bit ix/iy).

    The engine's analogue of h3.latlng_to_cell(lat, lon, 9).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.floor((lon + 180.0) / cell_deg).astype(np.int64)
    iy = np.floor((lat + 90.0) / cell_deg).astype(np.int64)
    return (ix << np.int64(32)) | iy


def cell_ixy(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    return cell >> np.int64(32), cell & np.int64(0xFFFFFFFF)


def cell_bounds(cell, cell_deg: float = DEFAULT_CELL_DEG):
    """cell id → (lon_min, lat_min, lon_max, lat_max) arrays."""
    ix, iy = cell_ixy(cell)
    lon0 = ix.astype(np.float64) * cell_deg - 180.0
    lat0 = iy.astype(np.float64) * cell_deg - 90.0
    return lon0, lat0, lon0 + cell_deg, lat0 + cell_deg


def cells_covering_bbox(
    lon_min, lat_min, lon_max, lat_max, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    """All cell ids whose tile intersects the bbox (polygon covering;
    the analogue of h3.polygon_to_cells over the envelope)."""
    ix0 = int(np.floor((lon_min + 180.0) / cell_deg))
    ix1 = int(np.floor((lon_max + 180.0) / cell_deg))
    iy0 = int(np.floor((lat_min + 90.0) / cell_deg))
    iy1 = int(np.floor((lat_max + 90.0) / cell_deg))
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return ((gx.reshape(-1) << np.int64(32)) | gy.reshape(-1))


def _cell_expr(lon, lat, cell_deg: float) -> Column:
    """Catalyst twin of cell_of: floor-index the grid and pack
    (ix<<32)|iy. Bit-identical to the numpy path (same double
    division, same IEEE floor, iy ≥ 0 for valid latitudes so OR ==
    add), but pure JVM, so a stage that only needs cell ids never
    starts a Python runner."""
    ix = F.floor((lon + F.lit(180.0)) / F.lit(float(cell_deg)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(float(cell_deg)))
    return F.shiftleft(ix, 32).bitwiseOR(iy)


def _box_cells_expr(xmin, ymin, xmax, ymax, cell_deg: float) -> Column:
    """Catalyst twin of cells_covering_bbox: all cell ids whose tile
    intersects the box, as nested sequence/transform — same SET of
    cells as the numpy meshgrid (order differs; every consumer is an
    order-insensitive join/aggregate)."""
    c = F.lit(float(cell_deg))
    ix0 = F.floor((xmin + F.lit(180.0)) / c)
    ix1 = F.floor((xmax + F.lit(180.0)) / c)
    iy0 = F.floor((ymin + F.lit(90.0)) / c)
    iy1 = F.floor((ymax + F.lit(90.0)) / c)
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(
                F.sequence(iy0, iy1),
                lambda iy: F.shiftleft(ix, 32).bitwiseOR(iy),
            ),
        )
    )


def cells_covering_polygon(
    shell: np.ndarray, holes=None, cell_deg: float = DEFAULT_CELL_DEG
) -> np.ndarray:
    """Cell ids intersecting the polygon: bbox cover refined by a
    corner/center containment test OR bbox-edge overlap (conservative —
    may keep a few extra boundary cells, never drops one that overlaps,
    which is what a join prefilter needs)."""
    from .geom import points_in_polygon, bbox as _bbox

    lon_min, lat_min, lon_max, lat_max = _bbox(shell)
    cand = cells_covering_bbox(lon_min, lat_min, lon_max, lat_max, cell_deg)
    if len(cand) <= 4:
        return cand
    lo0, la0, lo1, la1 = cell_bounds(cand, cell_deg)
    # keep cell if any of its corners/center is in the polygon, or any
    # polygon vertex falls in the cell (conservative two-way test)
    keep = np.zeros(len(cand), dtype=bool)
    for px, py in (
        (lo0, la0), (lo1, la0), (lo0, la1), (lo1, la1),
        ((lo0 + lo1) / 2, (la0 + la1) / 2),
    ):
        keep |= points_in_polygon(px, py, shell, holes)
    vx, vy = shell[:, 0], shell[:, 1]
    vc = cell_of(vx, vy, cell_deg)
    keep |= np.isin(cand, vc)
    # plus cells crossed by boundary edges: sample edges at sub-cell step
    from .geom import sample_polyline

    closed = np.vstack([shell, shell[:1]])
    samp = sample_polyline(closed, cell_deg / 2.0)
    keep |= np.isin(cand, cell_of(samp[:, 0], samp[:, 1], cell_deg))
    return cand[keep]


def expand_cells(cells: np.ndarray, k: int = 1) -> np.ndarray:
    """Union of k_ring(c, k) over an array of cells (vectorized)."""
    cells = np.asarray(cells, dtype=np.int64)
    ix = cells >> np.int64(32)
    iy = cells & np.int64(0xFFFFFFFF)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    ox, oy = np.meshgrid(offs, offs)
    gx = ix[:, None] + ox.reshape(-1)[None, :]
    gy = iy[:, None] + oy.reshape(-1)[None, :]
    return np.unique((gx.reshape(-1) << np.int64(32)) | gy.reshape(-1))


def k_ring(cell: int, k: int = 1) -> np.ndarray:
    """Cells within Chebyshev distance k (incl. center) — the grid
    analogue of h3.grid_disk, used for kNN ring expansion (reference's
    sjoin_nearest, kblock/batch_1a_prepare_gadm.py:244-245)."""
    ix, iy = int(cell) >> 32, int(cell) & 0xFFFFFFFF
    dxs = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ix + dxs, iy + dxs)
    return (gx.reshape(-1) << np.int64(32)) | gy.reshape(-1)


def ring_only(cell: int, k: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance k (hollow ring)."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    full = k_ring(cell, k)
    inner = k_ring(cell, k - 1)
    return np.setdiff1d(full, inner, assume_unique=False)
