"""Vectorized 2D geometry primitives on raw numpy coordinate arrays.

Conventions
-----------
- A **ring** is an (n, 2) float64 array of vertices, NOT explicitly
  closed (the closing edge last→first is implicit).
- A **polygon** is ``(shell, [hole, ...])``; shell CCW, holes CW by
  convention but all functions use signed areas so orientation-safe.
- A **polyline** is an (n, 2) float64 array.
- Serialized form for DataFrame transport: ``(ring_sizes, coords)``
  where coords is the flat ``[x0, y0, x1, y1, ...]`` concatenation of
  shell then holes and ring_sizes the vertex count of each ring.

These replace the pygeos columnar kernels the reference relies on
(kblock/batch_1b_generate_blocks.py:31-76, batch_4_compute_k.py:58-82)
— same vectorized-columnar execution style, zero per-row Python in the
hot paths.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-9


# ---------------------------------------------------------------- basics

def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive)."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_area(shell: np.ndarray, holes: list[np.ndarray] | None = None) -> float:
    a = abs(ring_area(shell))
    for h in holes or []:
        a -= abs(ring_area(h))
    return a


def ring_perimeter(ring: np.ndarray) -> float:
    d = np.diff(np.vstack([ring, ring[:1]]), axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def polyline_length(line: np.ndarray) -> float:
    if len(line) < 2:
        return 0.0
    d = np.diff(line, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid of a ring (falls back to vertex mean)."""
    x = ring[:, 0]
    y = ring[:, 1]
    xn = np.roll(x, -1)
    yn = np.roll(y, -1)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if abs(a) < EPS:
        return float(x.mean()), float(y.mean())
    cx = ((x + xn) * cross).sum() / (6.0 * a)
    cy = ((y + yn) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def bbox(coords: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(coords[:, 0].min()),
        float(coords[:, 1].min()),
        float(coords[:, 0].max()),
        float(coords[:, 1].max()),
    )


# ------------------------------------------------- point-in-polygon (PIP)

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: bool mask of points inside ring.

    Points exactly on an edge may land either way (consistent with the
    reference's GEOS ``intersects`` semantics being applied to interior
    points; tests avoid on-edge ambiguity by construction).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    inside = np.zeros(px.shape, dtype=bool)
    # (n_points, n_edges) crossing test, chunked to bound memory
    chunk = max(1, int(4_000_000 / max(len(x1), 1)))
    for s in range(0, len(px), chunk):
        e = min(s + chunk, len(px))
        X = px[s:e, None]
        Y = py[s:e, None]
        cond = (y1[None, :] > Y) != (y2[None, :] > Y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (Y - y1[None, :]) * (x2 - x1)[None, :] / (
                (y2 - y1)[None, :]
            )
        crossed = cond & (X < xint)
        inside[s:e] = crossed.sum(axis=1) % 2 == 1
    return inside


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, shell: np.ndarray,
    holes: list[np.ndarray] | None = None,
) -> np.ndarray:
    mask = points_in_ring(px, py, shell)
    for h in holes or []:
        mask &= ~points_in_ring(px, py, h)
    return mask


# ----------------------------------------------------------- distances

def points_to_segments_mindist(
    px: np.ndarray, py: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Min distance from each point to the segment set. Vectorized
    (n_points × n_segments), chunked."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ab = b - a  # (m,2)
    denom = np.maximum((ab * ab).sum(axis=1), EPS)  # (m,)
    out = np.empty(len(px))
    chunk = max(1, int(2_000_000 / max(len(a), 1)))
    for s in range(0, len(px), chunk):
        e = min(s + chunk, len(px))
        P = np.stack([px[s:e], py[s:e]], axis=1)  # (c,2)
        ap = P[:, None, :] - a[None, :, :]  # (c,m,2)
        t = np.clip((ap * ab[None, :, :]).sum(axis=2) / denom[None, :], 0.0, 1.0)
        proj = a[None, :, :] + t[:, :, None] * ab[None, :, :]
        d2 = ((proj - P[:, None, :]) ** 2).sum(axis=2)
        out[s:e] = np.sqrt(d2.min(axis=1))
    return out


def points_segments_dist_matrix(
    pts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Full (n_points, n_segments) distance matrix point→segment
    (vectorized; callers reduce whichever axis they need)."""
    pts = np.asarray(pts, dtype=np.float64)
    ab = b - a  # (m,2)
    denom = np.maximum((ab * ab).sum(axis=1), EPS)
    ap = pts[:, None, :] - a[None, :, :]  # (n,m,2)
    t = np.clip((ap * ab[None, :, :]).sum(axis=2) / denom[None, :], 0.0, 1.0)
    proj = a[None, :, :] + t[:, :, None] * ab[None, :, :]
    d2 = ((proj - pts[:, None, :]) ** 2).sum(axis=2)
    return np.sqrt(d2)


def segments_pairwise_mindist(
    a1: np.ndarray, b1: np.ndarray, a2: np.ndarray, b2: np.ndarray
) -> np.ndarray:
    """EXACT (n, m) min-distance matrix between segment sets
    (a1[i]→b1[i]) and (a2[j]→b2[j]): 0 where segments properly
    intersect, else the min of the four endpoint→segment distances.
    Fully vectorized — replaces sampled-point approximations whose
    error (~sample step) can misclassify near-threshold pairs."""
    n, m = len(a1), len(a2)
    if n == 0 or m == 0:
        return np.zeros((n, m))
    d = np.minimum(
        np.minimum(
            points_segments_dist_matrix(a1, a2, b2),
            points_segments_dist_matrix(b1, a2, b2),
        ),
        np.minimum(
            points_segments_dist_matrix(a2, a1, b1).T,
            points_segments_dist_matrix(b2, a1, b1).T,
        ),
    )
    # proper-crossing test (strict straddle both ways), broadcast (n,m)
    def cross(o, pa, pb):
        return (pa[..., 0] - o[..., 0]) * (pb[..., 1] - o[..., 1]) - (
            pa[..., 1] - o[..., 1]
        ) * (pb[..., 0] - o[..., 0])

    A1 = a1[:, None, :]
    B1 = b1[:, None, :]
    A2 = a2[None, :, :]
    B2 = b2[None, :, :]
    d1 = cross(A2, B2, A1)
    d2_ = cross(A2, B2, B1)
    d3 = cross(A1, B1, A2)
    d4 = cross(A1, B1, B2)
    crossing = ((d1 > 0) != (d2_ > 0)) & ((d3 > 0) != (d4 > 0))
    return np.where(crossing, 0.0, d)


# memory budget for one (tile, m) pairwise block: keeps the (t,m,2)
# float64 temporaries inside points_segments_dist_matrix ≤ ~50 MB per
# task even when both segment sets are 10k+ (a street-dense block) —
# unbounded n·m would allocate GB-scale intermediates per Python worker
_PAIR_TILE_ELEMS = 2_000_000


def segments_mindist_rowmin(
    a1: np.ndarray, b1: np.ndarray, a2: np.ndarray, b2: np.ndarray
) -> np.ndarray:
    """Per-row min of the exact pairwise segment min-distance matrix
    (``segments_pairwise_mindist(...).min(axis=1)``) computed in fixed
    row tiles so peak memory is O(tile·m), not O(n·m)."""
    n, m = len(a1), len(a2)
    if n == 0:
        return np.zeros(0)
    if m == 0:
        return np.full(n, np.inf)
    tile = max(1, _PAIR_TILE_ELEMS // m)
    out = np.empty(n)
    for s in range(0, n, tile):
        e = min(s + tile, n)
        out[s:e] = segments_pairwise_mindist(a1[s:e], b1[s:e], a2, b2).min(axis=1)
    return out


def segments_pairs_within(
    a1: np.ndarray,
    b1: np.ndarray,
    a2: np.ndarray,
    b2: np.ndarray,
    radius: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (i, j) with exact segment min-distance ≤ radius,
    computed tile-by-tile — the full (n, m) matrix is never
    materialized (bounded memory for street-dense blocks)."""
    n, m = len(a1), len(a2)
    if n == 0 or m == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    tile = max(1, _PAIR_TILE_ELEMS // m)
    iis, jjs = [], []
    for s in range(0, n, tile):
        e = min(s + tile, n)
        d = segments_pairwise_mindist(a1[s:e], b1[s:e], a2, b2)
        ii, jj = np.nonzero(d <= radius)
        iis.append(ii.astype(np.int64) + s)
        jjs.append(jj.astype(np.int64))
    return np.concatenate(iis), np.concatenate(jjs)


# --------------------------------------------------- segment intersection

def _cross(o, a, b):
    return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
        a[..., 1] - o[..., 1]
    ) * (b[..., 0] - o[..., 0])


def segment_intersection_params(a1, b1, a2, b2):
    """Proper-intersection parameters (t, u) of a1+t(b1-a1) = a2+u(b2-a2),
    or None if parallel."""
    r = b1 - a1
    s = b2 - a2
    denom = r[0] * s[1] - r[1] * s[0]
    if abs(denom) < EPS:
        return None
    qp = a2 - a1
    t = (qp[0] * s[1] - qp[1] * s[0]) / denom
    u = (qp[0] * r[1] - qp[1] * r[0]) / denom
    return t, u


# -------------------------------------------- polygon/box clipping (S-H)

def clip_ring_to_box(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Sutherland–Hodgman clip of a ring by an axis-aligned box.

    Box is convex so S-H is exact. Returns clipped ring (possibly
    empty). Used for pixel↔polygon overlap areas (the reference's
    pixel boxes, kblock/batch_3_model_population.py:174-183)."""
    out = ring
    for axis, lim, keep_ge in (
        (0, xmin, True), (0, xmax, False), (1, ymin, True), (1, ymax, False),
    ):
        if len(out) == 0:
            return out
        pts = out
        nxt = np.roll(pts, -1, axis=0)
        v = pts[:, axis]
        vn = nxt[:, axis]
        ins = v >= lim if keep_ge else v <= lim
        ins_n = vn >= lim if keep_ge else vn <= lim
        res = []
        for i in range(len(pts)):
            p, q = pts[i], nxt[i]
            if ins[i]:
                res.append(p)
            if ins[i] != ins_n[i]:
                t = (lim - v[i]) / (vn[i] - v[i])
                res.append(p + t * (q - p))
        out = np.asarray(res, dtype=np.float64).reshape(-1, 2)
    return out


def box_polygon_overlap_area(
    shell: np.ndarray, holes: list[np.ndarray] | None,
    xmin, ymin, xmax, ymax,
) -> float:
    a = abs(ring_area(clip_ring_to_box(shell, xmin, ymin, xmax, ymax))) \
        if len(shell) >= 3 else 0.0
    for h in holes or []:
        c = clip_ring_to_box(h, xmin, ymin, xmax, ymax)
        if len(c) >= 3:
            a -= abs(ring_area(c))
    return max(a, 0.0)


# -------------------------------------------- polyline ∩ polygon clipping

def clip_polyline_to_polygon(
    line: np.ndarray, shell: np.ndarray,
    holes: list[np.ndarray] | None = None,
) -> list[np.ndarray]:
    """Clip a polyline to a polygon: split every segment at boundary
    crossings, keep pieces whose midpoint is inside. Returns a list of
    2-point segments (adequate for length/buffer/peel logic; the
    reference's ``pygeos.intersection(streets, block)``,
    batch_4_compute_k.py:86).

    Crossing parameters are computed VECTORIZED against all ring edges
    at once, and all piece midpoints PIP-tested in one batch — this
    runs per street segment per block, the kernel's per-block fixed
    cost."""
    rings = [shell] + list(holes or [])
    edges_a = np.vstack([r for r in rings])
    edges_b = np.vstack([np.roll(r, -1, axis=0) for r in rings])
    es = edges_b - edges_a  # (m,2)
    pieces_bounds: list[tuple[np.ndarray, np.ndarray, float, float]] = []
    mids: list[np.ndarray] = []
    for i in range(len(line) - 1):
        p, q = line[i], line[i + 1]
        r = q - p
        denom = r[0] * es[:, 1] - r[1] * es[:, 0]  # (m,)
        ok = np.abs(denom) >= EPS
        qp = edges_a - p  # (m,2)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qp[:, 0] * es[:, 1] - qp[:, 1] * es[:, 0]) / denom
            u = (qp[:, 0] * r[1] - qp[:, 1] * r[0]) / denom
        hit = ok & (t >= -EPS) & (t <= 1 + EPS) & (u >= -EPS) & (u <= 1 + EPS)
        ts = np.concatenate([[0.0, 1.0], np.clip(t[hit], 0.0, 1.0)])
        ts = np.unique(ts)
        if len(ts) < 2:
            continue
        t0s = ts[:-1]
        t1s = ts[1:]
        keep = (t1s - t0s) >= EPS
        for t0, t1 in zip(t0s[keep], t1s[keep]):
            pieces_bounds.append((p, r, float(t0), float(t1)))
            mids.append(p + ((t0 + t1) / 2.0) * r)
    if not pieces_bounds:
        return []
    M = np.asarray(mids)
    inside = points_in_polygon(M[:, 0], M[:, 1], shell, holes)
    out: list[np.ndarray] = []
    for keep_i, (p, r, t0, t1) in zip(inside, pieces_bounds):
        if keep_i:
            out.append(np.vstack([p + t0 * r, p + t1 * r]))
    return out


# ----------------------------------------------------- polyline sampling

def sample_polyline(line: np.ndarray, step: float) -> np.ndarray:
    """Points along a polyline every ``step`` units (incl. endpoints)."""
    if len(line) < 2:
        return line.copy()
    out = [line[0]]
    for i in range(len(line) - 1):
        p, q = line[i], line[i + 1]
        seg = np.sqrt(((q - p) ** 2).sum())
        n = int(seg // step)
        for k in range(1, n + 1):
            out.append(p + (k * step / seg) * (q - p))
        out.append(q)
    return np.unique(np.asarray(out), axis=0)


# ------------------------------------------------------------ hulls

def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns hull vertices CCW."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(iterable):
        h: list[np.ndarray] = []
        for p in iterable:
            while len(h) >= 2 and _cross(h[-2], h[-1], p) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def convex_hull_indices(points: np.ndarray) -> np.ndarray:
    """Indices (into points) of the convex hull vertices."""
    hull = convex_hull(points)
    pts = np.asarray(points, dtype=np.float64)
    idx = []
    for h in hull:
        d = ((pts - h) ** 2).sum(axis=1)
        idx.append(int(np.argmin(d)))
    return np.unique(np.asarray(idx, dtype=np.int64))


# ------------------------------------------------------- serialization

def pack_rings(shell: np.ndarray, holes: list[np.ndarray] | None = None):
    """→ (ring_sizes:list[int], flat_coords:list[float]) for DataFrame
    transport as (array<int>, array<double>) columns."""
    rings = [shell] + list(holes or [])
    sizes = [len(r) for r in rings]
    coords = np.concatenate([r.reshape(-1) for r in rings]) if rings else np.array([])
    return sizes, coords.tolist()


def unpack_rings(sizes, coords):
    """Inverse of :func:`pack_rings`."""
    flat = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    rings = []
    off = 0
    for s in sizes:
        rings.append(flat[off : off + int(s)])
        off += int(s)
    return (rings[0], rings[1:]) if rings else (np.zeros((0, 2)), [])
