"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports ``io/synth.py``,
so a change to the program's own synthetic data cannot move a
workload. The same seed always gives the same inputs.

- ``admin_units`` / ``streets``: a grid city of ``nx`` x ``ny`` admin
  units, ``grid`` interior streets per direction per unit. The last
  unit has no interior streets, so it is one large block.
- ``pages``: web pages carrying a ``geo:lat,lon`` token rounded to
  1e-6 degrees, so coincident sites occur as in real geocodes. The
  ``hotspot`` mix puts 60% of pages in 3 clusters and 40% uniform over
  the 3x3 corner of the city (shrunk in a smaller city, so that one row
  and one column of units stay empty); the ``uniform`` mix spreads
  pages over the whole city.
- ``query_tables``: the star schema plus ``events``, ``documents``
  and ``embeddings`` read by the registry queries, at about sf0.001,
  with near-duplicate documents and vectors so the dedup queries
  find pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORIGIN_LON = 10.0
ORIGIN_LAT = 0.0
UNIT_DEG = 0.02  # one admin unit is about 2.2 km square
COUNTRY = "AAA"


# ------------------------------------------------------------------ city

def admin_units(nx: int, ny: int) -> pd.DataFrame:
    """One row per admin rectangle, in the packed-ring layout
    (``ring_sizes`` + flat ``coords``) the program reads."""
    rows = []
    for i in range(nx):
        for j in range(ny):
            x0 = ORIGIN_LON + i * UNIT_DEG
            y0 = ORIGIN_LAT + j * UNIT_DEG
            x1, y1 = x0 + UNIT_DEG, y0 + UNIT_DEG
            rows.append({
                "gadm_code": f"{COUNTRY}.{i + 1}.{j + 1}_1",
                "country_code": COUNTRY,
                "ring_sizes": [4],
                "coords": [x0, y0, x1, y0, x1, y1, x0, y1],
            })
    return pd.DataFrame(rows)


def block_count(nx: int, ny: int, grid: int, **_) -> int:
    """Blocks the city delineates into: (grid + 1)^2 per unit with
    streets, one for the last unit."""
    return (nx * ny - 1) * (grid + 1) ** 2 + 1


def streets(nx: int, ny: int, grid: int, seed: int) -> pd.DataFrame:
    """Street linestrings as flat ``[x0, y0, x1, y1]`` coords: interior
    grids that span each unit edge to edge, one dangling segment per
    unit at a seeded offset, ring roads, admin-boundary roads and one
    footway that delineation must ignore."""
    rng = np.random.default_rng([seed, 1])
    segs: list[tuple[str, list[float]]] = []
    x_end = ORIGIN_LON + nx * UNIT_DEG
    y_end = ORIGIN_LAT + ny * UNIT_DEG
    for i in range(nx):
        for j in range(ny):
            if (i, j) == (nx - 1, ny - 1):
                continue
            x0 = ORIGIN_LON + i * UNIT_DEG
            y0 = ORIGIN_LAT + j * UNIT_DEG
            for k in range(1, grid + 1):
                t = k / (grid + 1) * UNIT_DEG
                segs.append(("residential", [x0 + t, y0, x0 + t, y0 + UNIT_DEG]))
                segs.append(("residential", [x0, y0 + t, x0 + UNIT_DEG, y0 + t]))
            dx = float(rng.uniform(0.2, 0.4)) * UNIT_DEG
            segs.append((
                "residential",
                [x0 + dx, y0 + 0.55 * UNIT_DEG, x0 + dx, y0 + 0.62 * UNIT_DEG],
            ))
    for a, b in [
        ((ORIGIN_LON, ORIGIN_LAT), (x_end, ORIGIN_LAT)),
        ((x_end, ORIGIN_LAT), (x_end, y_end)),
        ((x_end, y_end), (ORIGIN_LON, y_end)),
        ((ORIGIN_LON, y_end), (ORIGIN_LON, ORIGIN_LAT)),
    ]:
        segs.append(("primary", [*a, *b]))
    for i in range(1, nx):
        x = ORIGIN_LON + i * UNIT_DEG
        segs.append(("secondary", [x, ORIGIN_LAT, x, y_end]))
    for j in range(1, ny):
        y = ORIGIN_LAT + j * UNIT_DEG
        segs.append(("secondary", [ORIGIN_LON, y, x_end, y]))
    segs.append((
        "footway",
        [ORIGIN_LON + 0.1 * UNIT_DEG, ORIGIN_LAT + 0.1 * UNIT_DEG,
         ORIGIN_LON + 0.3 * UNIT_DEG, ORIGIN_LAT + 0.3 * UNIT_DEG],
    ))
    return pd.DataFrame({
        "street_id": np.arange(len(segs), dtype=np.int64),
        "highway": [h for h, _ in segs],
        "coords": [c for _, c in segs],
        "country_code": COUNTRY,
    })


def pixels(nx: int, ny: int, seed: int, pix_deg: float = 0.004) -> pd.DataFrame:
    """Population raster as a table of pixel boxes over the city plus a
    one-pixel margin (the margin exercises the residual stage of the
    population allocation)."""
    rng = np.random.default_rng([seed, 4])
    ncx = int(np.ceil(nx * UNIT_DEG / pix_deg)) + 2
    ncy = int(np.ceil(ny * UNIT_DEG / pix_deg)) + 2
    i, j = np.meshgrid(np.arange(ncx), np.arange(ncy), indexing="ij")
    xmin = ORIGIN_LON - pix_deg + i.reshape(-1) * pix_deg
    ymin = ORIGIN_LAT - pix_deg + j.reshape(-1) * pix_deg
    return pd.DataFrame({
        "pixel_id": np.arange(ncx * ncy, dtype=np.int64),
        "xmin": xmin,
        "ymin": ymin,
        "xmax": xmin + pix_deg,
        "ymax": ymin + pix_deg,
        "population": np.round(rng.uniform(0.0, 120.0, ncx * ncy), 2),
    })


# 3 cluster centres in admin units, fixed so that every seed loads the
# same blocks about equally; the seed moves only the pages themselves
HOTSPOTS = np.array([[0.35, 0.35], [1.5, 1.5], [2.4, 0.6]])
HOTSPOT_SHARE = 0.6
HOTSPOT_SPREAD = 0.8  # cluster side, in admin units
WORDS = ["the", "house", "street", "market", "city", "water", "with", "and"]
LANGS = ["en", "fr", "sw", "pt"]


def pages(n: int, mix: str, seed: int, nx: int, ny: int) -> pd.DataFrame:
    """``n`` pages (url, text, lang). ``mix`` is ``hotspot`` or
    ``uniform``; see the module docstring."""
    rng = np.random.default_rng([seed, 2])
    if mix == "uniform":
        unit = rng.uniform(0.0, 1.0, (n, 2)) * [nx, ny]
    elif mix == "hotspot":
        # laid out on the 3x3 corner of the city, shrunk so that at least
        # one row and one column of units stays empty
        corner = min(3, nx - 1, ny - 1)
        unit = rng.uniform(0.0, corner, (n, 2))
        hot = rng.random(n) < HOTSPOT_SHARE
        which = rng.integers(0, len(HOTSPOTS), n)
        jitter = rng.uniform(-0.5, 0.5, (n, 2)) * HOTSPOT_SPREAD
        unit[hot] = (HOTSPOTS[which[hot]] + jitter[hot]) * (corner / 3)
    else:
        raise ValueError(f"unknown page mix {mix!r}")
    lon = ORIGIN_LON + unit[:, 0] * UNIT_DEG
    lat = ORIGIN_LAT + unit[:, 1] * UNIT_DEG
    eps = 1e-6
    lon = np.clip(lon, ORIGIN_LON + eps, ORIGIN_LON + nx * UNIT_DEG - eps)
    lat = np.clip(lat, ORIGIN_LAT + eps, ORIGIN_LAT + ny * UNIT_DEG - eps)
    idx = np.arange(n)
    body = np.array([" ".join(WORDS[k:] + WORDS[:k]) for k in range(len(WORDS))])
    text = [
        f"{b} geo:{la:.6f},{lo:.6f} id:{i}"
        for b, la, lo, i in zip(body[idx % len(body)], lat, lon, idx)
    ]
    return pd.DataFrame({
        "url": [f"https://site-{i % 997}.example/s{seed}/page/{i}" for i in idx],
        "text": text,
        "lang": np.array(LANGS)[idx % len(LANGS)],
    })


# --------------------------------------------------------------- queries

VOCAB = (
    "the a data row column table key value join group order sort filter "
    "merge hash scan window stream batch spark query line part customer "
    "agg vector fast slow big small"
).split()
DOC_LANGS = ["en", "fr", "es", "zh", "de"]
DOC_LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; about 15% are near copies of an earlier
    document (a few words changed, ``dup`` appended)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for p in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(DOC_LANGS, n, p=DOC_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors; about 10% are a noisy copy of an earlier one."""
    v = rng.normal(size=(n, dim))
    for i in range(10, n):
        if rng.random() < 0.10:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(scale=0.3, size=dim)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def query_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the registry queries read, with sf0.001 row counts."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["cold", "small", "large", "blue", "red", "green", "old", "new"]
    noun = ["widget", "bolt", "rod", "gear", "nut", "pipe", "valve", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(
            ["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    start_us = 788_918_400_000_000  # 1995-01-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(start_us + rng.integers(0, 2555, n_ord) * _DAY_US),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(start_us + rng.integers(1, 2556, n_li) * _DAY_US),
    })
    ev_start = 1_704_067_200_000_000  # 2024-01-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_start + np.sort(rng.integers(0, 90 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, 20, n_ev), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": money(0.01, 200.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return t


def write_query_tables(seed: int, out_dir: str) -> None:
    """Write :func:`query_tables` as ``<out_dir>/<name>.parquet``."""
    for name, table in query_tables(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
