"""Delaunay triangulation (vectorized Bowyer–Watson) → Voronoi adjacency.

The reference peels concentric layers of **Voronoi parcels** with
pygeos.voronoi_polygons + pairwise ``touches`` tests
(kblock/batch_4_compute_k.py:130-176). Two Voronoi cells share a
boundary edge iff their sites are connected by a Delaunay edge, so the
peel is exactly a BFS over the Delaunay graph — that is what
:mod:`kblock_spark.kernels.complexity` runs.

No scipy/GEOS in this container, so this is classic Bowyer–Watson
with the per-insertion circumcircle test **vectorized over the whole
triangle set** (numpy): O(n) numpy work per insertion, ~O(n²) flops
total — dense urban blocks with 10⁴ buildings triangulate in seconds
inside a single applyInPandas group, no Python-loop-over-triangles.
"""

from __future__ import annotations

from math import sqrt as _sqrt

import numpy as np

_EPS = 1e-12

# sweep-retirement cadence: every N insertions the scan set drops
# triangles whose circumcircle lies left of the front (cheap filter,
# conservative — margin below). Tuned by measurement in round 3.
_COMPACT_EVERY = 8


def _circumcircles(pts: np.ndarray, tris: np.ndarray):
    """Vectorized circumcenter + squared radius for triangle index
    rows tris (m,3). Degenerate (collinear) triangles get r2=inf so
    any point invalidates them. (Hand-expanded column arithmetic —
    this runs once per Bowyer–Watson insertion, so per-call numpy
    overhead is the kernel's hot constant.)"""
    a = pts[tris[:, 0]]
    b = pts[tris[:, 1]]
    c = pts[tris[:, 2]]
    abx = b[:, 0] - a[:, 0]
    aby = b[:, 1] - a[:, 1]
    acx = c[:, 0] - a[:, 0]
    acy = c[:, 1] - a[:, 1]
    d = 2.0 * (abx * acy - aby * acx)
    bad = np.abs(d) < 1e-300
    if bad.any():
        d = np.where(bad, 1.0, d)
    ab2 = abx * abx + aby * aby
    ac2 = acx * acx + acy * acy
    ux = (acy * ab2 - aby * ac2) / d
    uy = (abx * ac2 - acx * ab2) / d
    r2 = ux * ux + uy * uy
    cc = np.empty((len(r2), 2))
    cc[:, 0] = a[:, 0] + ux
    cc[:, 1] = a[:, 1] + uy
    if bad.any():
        r2 = np.where(bad, np.inf, r2)
        cc[bad] = 0.0
    else:
        nf = ~np.isfinite(r2)
        if nf.any():
            r2 = np.where(nf, np.inf, r2)
            cc[nf] = 0.0
    return cc, r2


def _circum_small_into(
    px, py, pairs, ip, ntri, ccx, ccy, r2, r2e, reach
) -> None:
    """Scalar circumcircle fill for small cavities (triangles
    (u, v, ip) for boundary pairs), writing straight into the
    preallocated arrays. Typical cavities are 3-6 triangles, where
    ~25 numpy dispatches per _circumcircles call cost more than the
    flops; native-float IEEE arithmetic in the same operand order is
    bit-identical to the vectorized path on finite inputs (the
    engine's Mercator-meter coordinates can never reach the 1e150+
    magnitudes where the two paths' degenerate-row bookkeeping could
    diverge; verified bit-identical on the geo goldens and an
    old-vs-new fixture A/B)."""
    inf = float("inf")
    eps1 = 1.0 + _EPS
    cx3 = px[ip]
    cy3 = py[ip]
    for i, (ia, ib) in enumerate(pairs):
        t = ntri + i
        ax = px[ia]
        ay = py[ia]
        abx = px[ib] - ax
        aby = py[ib] - ay
        acx = cx3 - ax
        acy = cy3 - ay
        d = 2.0 * (abx * acy - aby * acx)
        if abs(d) < 1e-300:
            ccx[t] = 0.0
            ccy[t] = 0.0
            r2[t] = inf
            r2e[t] = inf
            reach[t] = inf
            continue
        ab2 = abx * abx + aby * aby
        ac2 = acx * acx + acy * acy
        ux = (acy * ab2 - aby * ac2) / d
        uy = (abx * ac2 - acx * ab2) / d
        rv = ux * ux + uy * uy
        if rv != rv or rv == inf:  # NaN or overflow → degenerate
            ccx[t] = 0.0
            ccy[t] = 0.0
            r2[t] = inf
            r2e[t] = inf
            reach[t] = inf
            continue
        cx = ax + ux
        ccx[t] = cx
        ccy[t] = ay + uy
        r2[t] = rv
        r2e[t] = rv * eps1
        # math.sqrt is correctly-rounded IEEE sqrt, identical to
        # np.sqrt on doubles (x**0.5 would route through pow, which
        # is not guaranteed correctly rounded)
        reach[t] = cx + _sqrt(rv)
    return None


# below this many unique points the pure-scalar insertion loop beats
# the numpy one: scan sets are ~20-60 triangles, where one python
# float op (~60 ns) times the set size undercuts ~10 numpy dispatches
# (~2 us each). Crossover measured by interleaved A/B.
_SMALL_N = 700


def _triangulate_small(uniq: np.ndarray) -> np.ndarray:
    """Pure-scalar Bowyer–Watson for small inputs — the same
    algorithm, operand order and tie-breaking as :func:`_triangulate`
    (verified bit-identical across fixture families), with python
    lists instead of numpy arrays so the per-insertion cost is flops,
    not dispatch. Median urban blocks are a few hundred buildings, so
    this path carries most of the k-stage's total CPU."""
    m = len(uniq)
    cmin = uniq.min(axis=0)
    cmax = uniq.max(axis=0)
    c0 = (float(cmin[0]) + float(cmax[0])) / 2.0
    c1 = (float(cmin[1]) + float(cmax[1])) / 2.0
    span = max(cmax[0] - cmin[0], cmax[1] - cmin[1], 1e-12)
    d = span * 64.0
    px = uniq[:, 0].tolist() + [c0 - d, c0 + d, c0]
    py = uniq[:, 1].tolist() + [c1 - d, c1 - d, c1 + d]
    inf = float("inf")
    eps1 = 1.0 + _EPS

    def circum(ia, ib, ic):
        ax = px[ia]
        ay = py[ia]
        abx = px[ib] - ax
        aby = py[ib] - ay
        acx = px[ic] - ax
        acy = py[ic] - ay
        dd = 2.0 * (abx * acy - aby * acx)
        if abs(dd) < 1e-300:
            return 0.0, 0.0, inf, inf, inf
        ab2 = abx * abx + aby * aby
        ac2 = acx * acx + acy * acy
        ux = (acy * ab2 - aby * ac2) / dd
        uy = (abx * ac2 - acx * ab2) / dd
        rv = ux * ux + uy * uy
        if rv != rv or rv == inf:
            return 0.0, 0.0, inf, inf, inf
        cx = ax + ux
        return cx, ay + uy, rv, rv * eps1, cx + _sqrt(rv)

    tris: list[tuple[int, int, int]] = [(m, m + 1, m + 2)]
    x0, y0, rv0, re0, rc0 = circum(m, m + 1, m + 2)
    ccx = [x0]
    ccy = [y0]
    r2 = [rv0]
    r2e = [re0]
    reach = [rc0]
    alive = [True]
    active = [0]

    order = np.lexsort((uniq[:, 1], uniq[:, 0])).tolist()
    since_compact = 0
    margin = max(abs(cmin).max(), abs(cmax).max(), span) * 1e-9 + _EPS
    margin = float(margin)
    for ip in order:
        p0 = px[ip]
        p1 = py[ip]
        live = active
        since_compact += 1
        if since_compact >= _COMPACT_EVERY:
            lim = p0 - margin
            live = [t for t in live if reach[t] >= lim]
            since_compact = 0
        bad: list[int] = []
        surv: list[int] = []
        for t in live:
            dx = ccx[t] - p0
            dy = ccy[t] - p1
            if dx * dx + dy * dy <= r2e[t]:
                bad.append(t)
            else:
                surv.append(t)
        if not bad:
            # same fallback and first-minimum tie-break as np.argmin
            best = None
            bv = inf
            for t in live:
                dx = ccx[t] - p0
                dy = ccy[t] - p1
                v = dx * dx + dy * dy - r2[t]
                if v < bv:
                    bv = v
                    best = t
            bad = [best]
            surv = [t for t in live if t is not best and t != best]
        # cavity boundary: edges used exactly once (same dict count
        # as the numpy path's small-cavity branch)
        counts: dict[tuple[int, int], int] = {}
        for t in bad:
            ta, tb, tc = tris[t]
            for u, v in ((ta, tb), (tb, tc), (tc, ta)):
                k2 = (u, v) if u < v else (v, u)
                counts[k2] = counts.get(k2, 0) + 1
            alive[t] = False
        onces = [k2 for k2, n2 in counts.items() if n2 == 1]
        if len(bad) > 16:
            # the numpy path's large-cavity branch emits boundary
            # edges in sorted-key order, not dict-insertion order —
            # replicate it so triangle indices (hence any later
            # tie-break) stay identical
            onces.sort(key=lambda k2: k2[0] * (m + 3) + k2[1])
        new_idx = []
        for u, v in onces:
            t = len(tris)
            tris.append((u, v, ip))
            cx, cy, rv, re_, rc = circum(u, v, ip)
            ccx.append(cx)
            ccy.append(cy)
            r2.append(rv)
            r2e.append(re_)
            reach.append(rc)
            alive.append(True)
            new_idx.append(t)
        active = surv + new_idx
    out = [
        tris[t]
        for t in range(len(tris))
        if alive[t] and tris[t][0] < m and tris[t][1] < m and tris[t][2] < m
    ]
    return np.array(out, dtype=np.int64).reshape(-1, 3)


def _triangulate(uniq: np.ndarray) -> np.ndarray:
    """Bowyer–Watson over unique points; returns (T,3) index array of
    final triangles (super-triangle faces removed).

    Points are inserted in x-sweep order; a triangle whose circumcircle
    lies entirely left of the sweep front can never be invalidated by a
    later point, so it is retired from the per-insertion scan set
    (classic sweep finalization → near-linear scans on uniform data).
    """
    if len(uniq) <= _SMALL_N:
        return _triangulate_small(uniq)
    m = len(uniq)
    cmin = uniq.min(axis=0)
    cmax = uniq.max(axis=0)
    c = (cmin + cmax) / 2.0
    span = max(cmax[0] - cmin[0], cmax[1] - cmin[1], 1e-12)
    d = span * 64.0
    allp = np.vstack(
        [uniq, [[c[0] - d, c[1] - d], [c[0] + d, c[1] - d], [c[0], c[1] + d]]]
    )
    # native-float coordinate lists for the scalar small-cavity path
    # (list indexing hands back unboxed floats, ~3x cheaper than
    # np.float64 element access in the per-triangle loop)
    px = allp[:, 0].tolist()
    py = allp[:, 1].tolist()
    cap = max(16, 4 * m + 16)
    tris = np.empty((cap, 3), dtype=np.int64)
    # separate 1-D center arrays: 1-D fancy gathers are measurably
    # cheaper than 2-D column gathers in the per-insertion hot loop
    ccx = np.empty(cap)
    ccy = np.empty(cap)
    r2 = np.empty(cap)
    r2e = np.empty(cap)  # r2 * (1 + eps), precomputed at creation
    reach = np.empty(cap)  # cc_x + r (scan-retirement key)
    alive = np.zeros(cap, dtype=bool)
    tris[0] = (m, m + 1, m + 2)
    cc0, r20 = _circumcircles(allp, tris[0:1])
    ccx[0], ccy[0] = cc0[0, 0], cc0[0, 1]
    r2[0] = r20[0]
    r2e[0] = r20[0] * (1.0 + _EPS)
    reach[0] = cc0[0, 0] + (np.sqrt(r20[0]) if np.isfinite(r20[0]) else np.inf)
    alive[0] = True
    ntri = 1
    active = np.array([0], dtype=np.int64)

    order = np.lexsort((uniq[:, 1], uniq[:, 0]))
    since_compact = 0
    # retirement margin relative to coordinate scale (coords can be
    # ~1e6 m in Mercator; an absolute 1e-12 eps would retire too eagerly)
    margin = max(abs(cmin).max(), abs(cmax).max(), span) * 1e-9 + _EPS
    for ip in order:
        p = allp[ip]
        # `active` holds only alive triangles: cavity members are
        # pruned from it immediately on removal (below), so no
        # alive[active] re-filter gather is needed per insertion
        live = active
        since_compact += 1
        if since_compact >= _COMPACT_EVERY:
            live = live[reach[live] >= p[0] - margin]
            since_compact = 0
        dx = ccx[live] - p[0]
        dy = ccy[live] - p[1]
        d2 = dx * dx + dy * dy
        inside = d2 <= r2e[live]
        if not inside.any():
            inside = np.zeros(len(live), dtype=bool)
            inside[int(np.argmin(d2 - r2[live]))] = True
        bad = live[inside]
        # cavity boundary: edges used exactly once among bad triangles.
        # Typical cavities are 4-8 triangles, where numpy dispatch
        # overhead dominates — count them in plain python dicts; large
        # cavities (degenerate inputs) fall back to the vectorized
        # sorted-key counting.
        bt = tris[bad]
        if len(bt) <= 16:
            counts: dict[tuple[int, int], int] = {}
            for ta, tb, tc in bt.tolist():
                for u, v in ((ta, tb), (tb, tc), (tc, ta)):
                    k2 = (u, v) if u < v else (v, u)
                    counts[k2] = counts.get(k2, 0) + 1
            boundary = np.array(
                [k2 for k2, n2 in counts.items() if n2 == 1], dtype=np.int64
            ).reshape(-1, 2)
        else:
            e = np.concatenate([bt[:, [0, 1]], bt[:, [1, 2]], bt[:, [2, 0]]])
            lo = np.minimum(e[:, 0], e[:, 1])
            hi = np.maximum(e[:, 0], e[:, 1])
            key = lo * np.int64(m + 3) + hi
            order_k = np.argsort(key, kind="stable")
            ks = key[order_k]
            first = np.ones(len(ks), dtype=bool)
            first[1:] = ks[1:] != ks[:-1]
            last = np.ones(len(ks), dtype=bool)
            last[:-1] = ks[1:] != ks[:-1]
            once = order_k[first & last]
            boundary = np.stack([lo[once], hi[once]], axis=1)
        alive[bad] = False
        survivors = live[~inside]
        nb = len(boundary)
        if ntri + nb > cap:
            keep = np.flatnonzero(alive[:ntri])
            newcap = max(cap * 2, ntri + nb + 16)
            tris2 = np.empty((newcap, 3), dtype=np.int64)
            ccx2 = np.empty(newcap)
            ccy2 = np.empty(newcap)
            r22 = np.empty(newcap)
            r2e2 = np.empty(newcap)
            reach2 = np.empty(newcap)
            alive2 = np.zeros(newcap, dtype=bool)
            k = len(keep)
            tris2[:k] = tris[keep]
            ccx2[:k] = ccx[keep]
            ccy2[:k] = ccy[keep]
            r22[:k] = r2[keep]
            r2e2[:k] = r2e[keep]
            reach2[:k] = reach[keep]
            alive2[:k] = True
            tris, ccx, ccy, r2, r2e, reach, alive, cap, ntri = (
                tris2, ccx2, ccy2, r22, r2e2, reach2, alive2, newcap, k,
            )
            # indices remapped → rebuild scan set from scratch
            allidx = np.arange(k, dtype=np.int64)
            survivors = allidx[reach[allidx] >= p[0] - margin]
        newt = np.empty((nb, 3), dtype=np.int64)
        newt[:, 0] = boundary[:, 0]
        newt[:, 1] = boundary[:, 1]
        newt[:, 2] = ip
        tris[ntri : ntri + nb] = newt
        if nb <= 24:
            _circum_small_into(
                px, py, boundary.tolist(), int(ip), ntri,
                ccx, ccy, r2, r2e, reach,
            )
        else:
            new_cc, new_r2 = _circumcircles(allp, newt)
            ccx[ntri : ntri + nb] = new_cc[:, 0]
            ccy[ntri : ntri + nb] = new_cc[:, 1]
            r2[ntri : ntri + nb] = new_r2
            r2e[ntri : ntri + nb] = new_r2 * (1.0 + _EPS)
            fin = np.isfinite(new_r2)
            reach[ntri : ntri + nb] = new_cc[:, 0] + np.sqrt(
                np.where(fin, new_r2, 0.0)
            )
            if not fin.all():
                reach[ntri : ntri + nb][~fin] = np.inf
        alive[ntri : ntri + nb] = True
        active = np.concatenate(
            [survivors, np.arange(ntri, ntri + nb, dtype=np.int64)]
        )
        ntri += nb

    final = tris[np.flatnonzero(alive[:ntri])]
    return final[(final < m).all(axis=1)]


def delaunay_edges(points: np.ndarray) -> set[tuple[int, int]]:
    """Delaunay edge set (i<j index pairs into ``points``).

    Duplicate points are merged and co-located indices linked to each
    other (a duplicate site's Voronoi cell is degenerate — the
    reference dedups via geohash rank,
    kblock/batch_2_prepare_buildings.py:216-220; keeping them adjacent
    makes the BFS peel treat them as one site). Collinear inputs fall
    back to a sorted chain."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 2:
        return set()
    uniq, inv = np.unique(pts.round(9), axis=0, return_inverse=True)
    m = len(uniq)
    if m == 1:
        return _expand_edges(set(), inv)
    if m == 2:
        return _expand_edges({(0, 1)}, inv)
    v = uniq - uniq[0]
    cross = v[:, 0] * v[1, 1] - v[:, 1] * v[1, 0]
    if np.all(np.abs(cross) < 1e-12):
        order = np.argsort(v[:, 0] ** 2 + v[:, 1] ** 2)
        chain = {
            (min(int(order[i]), int(order[i + 1])), max(int(order[i]), int(order[i + 1])))
            for i in range(m - 1)
        }
        return _expand_edges(chain, inv)
    tris = _triangulate(uniq)
    e = np.concatenate([tris[:, [0, 1]], tris[:, [1, 2]], tris[:, [2, 0]]])
    lo = np.minimum(e[:, 0], e[:, 1])
    hi = np.maximum(e[:, 0], e[:, 1])
    key = np.unique(lo * np.int64(m) + hi)
    edges = {(int(k // m), int(k % m)) for k in key}
    return _expand_edges(edges, inv)


def _expand_edges(uedges: set[tuple[int, int]], inv: np.ndarray) -> set[tuple[int, int]]:
    """Map unique-point edges back to original indices; link
    co-located originals into chains."""
    groups: dict[int, list[int]] = {}
    for orig, g in enumerate(inv):
        groups.setdefault(int(g), []).append(orig)
    simple = all(len(v) == 1 for v in groups.values())
    if simple:
        return {
            (min(groups[a][0], groups[b][0]), max(groups[a][0], groups[b][0]))
            for a, b in uedges
        }
    out: set[tuple[int, int]] = set()
    for a, b in uedges:
        for i in groups[int(a)]:
            for j in groups[int(b)]:
                out.add((min(i, j), max(i, j)))
    for members in groups.values():
        for x in range(len(members) - 1):
            out.add((members[x], members[x + 1]))
    return out

