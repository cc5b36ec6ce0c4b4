"""Correctness gate. Every check returns a list of problems; an
operation with any problem counts as failed.

- City outputs: each page is assigned to exactly one block, there is
  one k row per block, the building counts add up to the assigned
  rows, the written block table has one row per block, and a seeded
  sample of blocks (always with the densest one) re-run serially
  through ``compute_k_block`` gives the same rows as the distributed
  path.
- Query outputs: the rows equal the DuckDB oracle's, compared
  order-insensitively with a type-sensitive value form.
"""

from __future__ import annotations

import decimal
import math
import time

import numpy as np

K_FIELDS = [
    "on_network_street_length", "off_network_street_length",
    "nearest_external_street", "building_count", "building_layers",
    "k_complexity",
]


# ------------------------------------------------------------------ city

def block_inputs(streets_near, blocks, assigned) -> dict:
    """Collect, per block of ``blocks``, what the distributed kernel
    receives: block_id -> (ring_sizes, coords, points, street lines).
    Points are put in the canonical (lon, lat) order the pipeline
    uses."""
    geo = {
        r["block_id"]: (r["ring_sizes"], r["coords"])
        for r in blocks.select("block_id", "ring_sizes", "coords").collect()
    }
    pts: dict[str, list] = {b: [] for b in geo}
    mine = assigned.join(blocks.select("block_id"), "block_id", "left_semi")
    for r in mine.select("block_id", "lon", "lat").collect():
        pts[r["block_id"]].append((r["lon"], r["lat"]))
    lines: dict[str, list] = {b: [] for b in geo}
    for r in streets_near.collect():
        lines[r["b_code"]].append(np.asarray(r["s_coords"], dtype=np.float64).reshape(-1, 2))
    out = {}
    for b, (sizes, coords) in geo.items():
        p = np.asarray(pts[b], dtype=np.float64).reshape(-1, 2)
        out[b] = (sizes, coords, p[np.lexsort((p[:, 1], p[:, 0]))], lines[b])
    return out


def serial_k(inputs: dict) -> tuple[dict, dict]:
    """Run ``compute_k_block`` on the driver, one block at a time.
    Returns (block_id -> k row, block_id -> thread CPU seconds)."""
    from kblock_spark.geo.geom import unpack_rings
    from kblock_spark.kernels.complexity import compute_k_block

    rows, cpu = {}, {}
    for b, (sizes, coords, pts, lines) in inputs.items():
        t0 = time.thread_time()
        shell, holes = unpack_rings(sizes, coords)
        row = compute_k_block(shell, holes, pts, lines)
        cpu[b] = time.thread_time() - t0
        rows[b] = {f: row[f] for f in K_FIELDS}
    return rows, cpu


def _same(a, b) -> bool:
    # a NaN from the kernel reaches Spark as null
    a, b = (float("nan") if v is None else v for v in (a, b))
    if isinstance(a, float) and isinstance(b, float):
        # street lengths are float sums over street pieces, and the
        # distributed path gathers a block's streets in shuffle order
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9
        )
    return a == b


def k_rows_problems(k_rows: dict, expected: dict) -> list[str]:
    """Compare distributed k rows with serially computed ones."""
    out = []
    for b, exp in expected.items():
        got = k_rows.get(b)
        if got is None:
            out.append(f"block {b}: no k row")
            continue
        bad = [f for f in K_FIELDS if not _same(got[f], exp[f])]
        if bad:
            out.append(f"block {b}: {bad} differ: {[(got[f], exp[f]) for f in bad]}")
    return out


def sample_blocks(k_rows: dict, seed: int, n: int = 8) -> list[str]:
    """A seeded sample of blocks with buildings, two empty blocks and
    the densest block."""
    full = sorted(b for b, r in k_rows.items() if r["building_count"] > 0)
    empty = sorted(b for b, r in k_rows.items() if r["building_count"] == 0)
    rng = np.random.default_rng([seed, 5])
    pick = list(rng.choice(full, min(n, len(full)), replace=False)) if full else []
    pick += list(rng.choice(empty, min(2, len(empty)), replace=False)) if empty else []
    if full:
        pick.append(max(full, key=lambda b: (k_rows[b]["building_count"], b)))
    return sorted(set(pick))


def city_problems(n_pages: int, n_blocks: int, assigned_stats: dict,
                  k_rows: dict, written_blocks: int | None) -> list[str]:
    """The invariants of one pipeline run."""
    out = []
    if assigned_stats["rows"] != n_pages or assigned_stats["urls"] != n_pages:
        out.append(f"assigned {assigned_stats} for {n_pages} pages")
    if len(k_rows) != n_blocks:
        out.append(f"{len(k_rows)} k rows for {n_blocks} blocks")
    total = sum(r["building_count"] for r in k_rows.values())
    if total != assigned_stats["rows"]:
        out.append(f"sum(building_count) {total} != {assigned_stats['rows']} assigned")
    if written_blocks is not None and written_blocks != n_blocks:
        out.append(f"{written_blocks} written rows for {n_blocks} blocks")
    return out


# --------------------------------------------------------------- queries

def _norm(v) -> str:
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "float:NaN" if math.isnan(v) else f"float:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, int):
        return f"int:{v}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as sorted tuples of typed value strings, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Run oracle SQL through DuckDB's pandas path: that path widens
    HUGEINT/DECIMAL aggregates to float64, as the oracle SQL in the
    registry is written for (see tests/test_oracle_parity.py)."""
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [
        tuple(v.item() if hasattr(v, "item") else v for v in row)
        for row in res.df().itertuples(index=False, name=None)
    ]
    return cols, rows


def query_problems(name: str, cols: list[str], rows: list[tuple],
                   oracle: tuple[list[str], list[tuple]]) -> list[str]:
    o_cols, o_rows = oracle
    if sorted(cols) != sorted(o_cols):
        return [f"{name}: columns {sorted(cols)} != {sorted(o_cols)}"]
    if len(rows) != len(o_rows):
        return [f"{name}: {len(rows)} rows, oracle has {len(o_rows)}"]
    a, b = canonical(cols, rows), canonical(o_cols, o_rows)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    return [f"{name}: row {bad[0]} {a[bad[0]]} != {b[bad[0]]}"] if bad else []
