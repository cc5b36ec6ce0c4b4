"""Golden k-complexity tests (FIXTURES.md §5-6): hand-constructed
blocks with analytically-known k values, layer strings and street
classifications."""

import numpy as np
import pytest

from kblock_spark.kernels.complexity import BUFFER_RADIUS_M, compute_k_block

# ~1 deg = 111.32 km at the equator in the Mercator plane
M = 1.0 / 111_319.49079327358  # metres → degrees


def square_block(half_m: float) -> np.ndarray:
    h = half_m * M
    return np.array([[-h, -h], [h, -h], [h, h], [-h, h]])


def ring_points(radius_m: float, n: int, phase: float = 0.0) -> np.ndarray:
    ang = phase + np.arange(n) * 2 * np.pi / n
    return np.stack(
        [radius_m * M * np.cos(ang), radius_m * M * np.sin(ang)], axis=1
    )


def test_zero_and_one_building():
    blk = square_block(100)
    r0 = compute_k_block(blk, [], np.zeros((0, 2)), [])
    assert r0["k_complexity"] == 1 and r0["building_layers"] == "0"
    assert r0["building_count"] == 0
    r1 = compute_k_block(blk, [], np.array([[0.0, 0.0]]), [])
    assert r1["k_complexity"] == 1 and r1["building_layers"] == "1"
    assert np.isnan(r1["nearest_external_street"])


def test_nested_rings_disconnected_k3():
    blk = square_block(100)
    pts = np.vstack(
        [ring_points(60, 8, 0.1), ring_points(30, 5, 0.4), [[1e-9, 2e-9]]]
    )
    r = compute_k_block(blk, [], pts, [])
    assert r["building_count"] == 14
    assert r["building_layers"] == "8,5,1"
    assert r["k_complexity"] == 3
    assert r["on_network_street_length"] == 0.0
    assert np.isnan(r["nearest_external_street"])


def test_connected_two_rows_k2():
    blk = square_block(100)
    street = np.array([[-300 * M, 1e-7], [300 * M, 1e-7]])  # crosses block
    xs = np.array([-60, -30, 0, 30, 60], dtype=float)
    rows = []
    rng = np.random.default_rng(3)
    for y in (20, -20, 50, -50):
        for x in xs:
            rows.append([x * M + rng.uniform(-1e-7, 1e-7), y * M])
    pts = np.asarray(rows)
    r = compute_k_block(blk, [], pts, [street])
    assert r["building_count"] == 20
    # street crosses the block and reaches the exterior → on-network,
    # length = block width (200 m)
    assert r["on_network_street_length"] == pytest.approx(200.0, rel=1e-2)
    assert r["off_network_street_length"] == pytest.approx(0.0, abs=1e-6)
    assert r["nearest_external_street"] == 0.0
    # rows at ±20 m are the street-adjacent parcels → layer 1;
    # rows at ±50 m → layer 2
    assert r["building_layers"] == "10,10"
    assert r["k_complexity"] == 2


def test_isolated_interior_street_is_off_network():
    blk = square_block(300)  # exterior ring ≥ 150 m from center
    seg = np.array([[-40 * M, 0.0], [40 * M, 0.0]])
    pts = np.vstack([ring_points(200, 8, 0.2), ring_points(100, 5, 0.5)])
    r = compute_k_block(blk, [], pts, [seg])
    assert r["on_network_street_length"] == pytest.approx(0.0)
    assert r["off_network_street_length"] == pytest.approx(80.0, rel=1e-3)
    # streets intersect the block → nearest_external_street = 0
    assert r["nearest_external_street"] == 0.0
    # off-network only → peel seeds from the block boundary
    assert r["building_layers"] == "8,5"
    assert r["k_complexity"] == 2


def test_no_street_in_block_nearest_external():
    blk = square_block(100)
    # street passing 150 m east of the block edge (inside the 2×radius
    # vicinity bbox at ±300 m), vertical, not intersecting the block
    street = np.array([[250 * M, -500 * M], [250 * M, 500 * M]])
    pts = np.array([[0.0, 1e-8]])
    r = compute_k_block(blk, [], pts, [street])
    assert r["on_network_street_length"] == 0.0
    # centroid at origin → nearest street VERTEX is at the bbox-clip
    # boundary (250, ±300) → distance ≈ √(250²+300²) ≈ 390.5
    assert r["nearest_external_street"] == pytest.approx(390.5, rel=0.02)
    assert r["k_complexity"] == 1
    # a street fully outside the vicinity is never passed to the kernel
    # in the reference either (batch_4:545-549) → NaN branch
    far = np.array([[900 * M, -500 * M], [900 * M, 500 * M]])
    r2 = compute_k_block(blk, [], pts, [far])
    assert np.isnan(r2["nearest_external_street"])


def test_all_buildings_on_street_k1():
    blk = square_block(100)
    street = np.array([[0.0, -300 * M], [0.0, 300 * M]])
    rng = np.random.default_rng(11)
    # all buildings within 5 m of the street → every parcel touched
    pts = np.stack(
        [rng.uniform(-5, 5, 12) * M, rng.uniform(-90, 90, 12) * M], axis=1
    )
    r = compute_k_block(blk, [], pts, [street])
    assert r["k_complexity"] == 1
    assert r["building_layers"] == "12"
    # vertical line: ellipsoidal Mercator meridional scale ≈ 0.9933
    assert r["on_network_street_length"] == pytest.approx(200.0, rel=1e-2)


def test_dense_street_grid_shallow():
    blk = square_block(100)
    # streets every 40 m in both directions crossing the whole block
    lines = []
    for v in (-80, -40, 0, 40, 80):
        lines.append(np.array([[v * M, -300 * M], [v * M, 300 * M]]))
        lines.append(np.array([[-300 * M, v * M], [300 * M, v * M]]))
    rng = np.random.default_rng(11)
    pts = np.stack(
        [rng.uniform(-90, 90, 40) * M, rng.uniform(-90, 90, 40) * M], axis=1
    )
    r = compute_k_block(blk, [], pts, lines)
    # a random point can sit in a cell no street touches → k ≤ 2
    assert r["k_complexity"] in (1, 2)
    assert sum(int(c) for c in r["building_layers"].split(",")) == 40
    # 10 crossings × 200 m each
    assert r["on_network_street_length"] == pytest.approx(2000.0, rel=1e-2)


def test_layer_counts_sum_to_building_count():
    blk = square_block(150)
    rng = np.random.default_rng(5)
    pts = np.stack(
        [rng.uniform(-140, 140, 120) * M, rng.uniform(-140, 140, 120) * M], axis=1
    )
    street = np.array([[-400 * M, 0.0], [400 * M, 0.0]])
    r = compute_k_block(blk, [], pts, [street])
    total = sum(int(c) for c in r["building_layers"].split(","))
    assert total == 120 == r["building_count"]
    assert r["k_complexity"] >= 1


@pytest.mark.parametrize("bad", [np.nan, np.inf])
def test_non_finite_building_coordinate_is_named(bad):
    pts = np.vstack([ring_points(40, 3), [[bad, 0.0]]])
    with pytest.raises(ValueError, match=r"non-finite building coordinate at point 3"):
        compute_k_block(square_block(100), [], pts, [])
