"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gate  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


# ------------------------------------------------------------ generators

@pytest.mark.parametrize("make", [
    lambda s: gen.streets(3, 3, 6, s),
    lambda s: gen.pages(5000, "hotspot", s, 4, 4),
    lambda s: gen.pages(5000, "uniform", s, 4, 4),
    lambda s: gen.pixels(3, 3, s),
], ids=["streets", "pages_hotspot", "pages_uniform", "pixels"])
def test_city_generators_are_deterministic(make):
    pd.testing.assert_frame_equal(make(7), make(7))
    assert not make(7).equals(make(8))


def test_query_tables_are_deterministic():
    a, b, c = gen.query_tables(7), gen.query_tables(7), gen.query_tables(8)
    assert list(a) == workloads.QUERY_TABLES
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])


def test_hotspot_pages_have_coincident_sites_inside_the_city():
    p = gen.pages(40_000, "hotspot", 1, 4, 4)
    assert p["url"].is_unique
    ll = p["text"].str.extract(r"geo:(-?\d+\.\d+),(-?\d+\.\d+)").astype(float)
    assert ll.duplicated().sum() > 0  # rounding to 1e-6 makes shared sites
    lon, lat = ll[1], ll[0]
    # the hotspot mix stays in the 3x3 corner of a 4x4 city
    assert lon.between(gen.ORIGIN_LON, gen.ORIGIN_LON + 3 * gen.UNIT_DEG).all()
    assert lat.between(gen.ORIGIN_LAT, gen.ORIGIN_LAT + 3 * gen.UNIT_DEG).all()


# ------------------------------------------------------------------ gate

def _block():
    """A square block with a street across it and 60 seeded sites."""
    rng = np.random.default_rng(0)
    shell = [gen.ORIGIN_LON, 0.0, gen.ORIGIN_LON + 0.002, 0.0,
             gen.ORIGIN_LON + 0.002, 0.002, gen.ORIGIN_LON, 0.002]
    pts = np.round(rng.uniform(0, 0.002, (60, 2)) + [gen.ORIGIN_LON, 0.0], 6)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    street = np.array([[gen.ORIGIN_LON - 0.001, 0.001], [gen.ORIGIN_LON + 0.003, 0.001]])
    return {"b1": ([4], shell, pts, [street])}


def test_gate_catches_a_wrong_k_row():
    expected, cpu = gate.serial_k(_block())
    assert cpu["b1"] >= 0
    good = {b: dict(r) for b, r in expected.items()}
    assert gate.k_rows_problems(good, expected) == []
    bad = {b: dict(r, k_complexity=r["k_complexity"] + 1) for b, r in expected.items()}
    assert gate.k_rows_problems(bad, expected)
    lost = {b: dict(r, building_layers="") for b, r in expected.items()}
    assert gate.k_rows_problems(lost, expected)
    assert gate.k_rows_problems({}, expected)


def test_gate_catches_broken_city_invariants():
    k_rows = {"a": {"building_count": 3}, "b": {"building_count": 0}}
    ok = {"rows": 3, "urls": 3}
    assert gate.city_problems(3, 2, ok, k_rows, 2) == []
    assert gate.city_problems(3, 2, {"rows": 4, "urls": 3}, k_rows, 2)  # a page twice
    assert gate.city_problems(3, 3, ok, k_rows, 3)  # a block without k row
    assert gate.city_problems(3, 2, ok, {"a": {"building_count": 2},
                                         "b": {"building_count": 0}}, 2)
    assert gate.city_problems(3, 2, ok, k_rows, 1)  # a written row lost


def test_sample_always_holds_the_densest_block():
    k_rows = {f"b{i}": {"building_count": i % 7} for i in range(50)}
    k_rows["big"] = {"building_count": 1000}
    for seed in range(5):
        assert "big" in gate.sample_blocks(k_rows, seed)


def test_gate_catches_a_wrong_query_row(tmp_path):
    import duckdb

    from kblock_spark.queries import REGISTRY

    gen.write_query_tables(3, str(tmp_path))
    con = duckdb.connect()
    for t in workloads.QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    oracle = gate.oracle_rows(con, REGISTRY["q01_pricing_summary"][1])
    cols, rows = oracle
    assert rows
    assert gate.query_problems("q01", cols, list(reversed(rows)), oracle) == []
    i = next(j for j, v in enumerate(rows[0]) if isinstance(v, float))
    wrong = [tuple(v + 0.01 if j == i else v for j, v in enumerate(rows[0]))] + rows[1:]
    assert gate.query_problems("q01", cols, wrong, oracle)
    assert gate.query_problems("q01", cols, rows[1:], oracle)
    # the value form is type-sensitive: 1 and 1.0 differ
    assert gate.canonical(["x"], [(1,)]) != gate.canonical(["x"], [(1.0,)])


# ----------------------------------------------------------- declaration

def test_every_printed_metric_is_declared():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert list(layer) == workloads.PER_LAYER
    assert all(workloads._unit(n) == u for n, u in layer.items())

    class Use:
        wall_s, cpu_s, peak_rss = 2.0, 5.0, 2**30

    b = workloads.Bench("city_dense", 1, "")
    b.setup_s, b.attempted = 10.0, 1
    printed = workloads._end_to_end(b, [{"use": Use(), "results": 10}])
    assert {k: u for k, (_, u) in printed.items()} == e2e
    assert [w["name"] for w in SPEC["workloads"]] == workloads.WORKLOADS


def test_without_the_program_the_run_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_smoke_run(tmp_path):
    """One untraced query_mix run, from a copy of the repository so
    the run's scratch files stay out of the tree."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for name in ("kblock_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, name), tmp_path / name,
                        ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "5", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert time.time() - t0 < 150
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    assert last["attempted"] == len(workloads.QUERY_MIX)
    assert set(last["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in last["metrics"].values())
