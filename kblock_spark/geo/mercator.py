"""World-Mercator style forward/inverse projection (vectorized).

The reference stores layers in EPSG:4326 and reprojects to EPSG:3395
(World Mercator, metres) for any metric computation — areas, lengths,
buffers, distances (kblock/batch_1b_generate_blocks.py:31-76,
batch_4_compute_k.py:41 ``srid=3395``). We reproduce that contract
with an ellipsoidal Mercator implemented directly on coordinate
arrays (public WGS84 / EPSG:3395 formulas); only internal consistency
matters for the engine's metrics, and this matches 3395 to < 1e-6 m.
"""

from __future__ import annotations

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
WGS84_E = np.sqrt(WGS84_E2)


def lonlat_to_mercator(lon, lat):
    """EPSG:4326 → EPSG:3395 (ellipsoidal World Mercator), vectorized.

    Returns (x, y) in metres as float64 arrays.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = WGS84_A * np.radians(lon)
    phi = np.radians(np.clip(lat, -89.9, 89.9))
    esin = WGS84_E * np.sin(phi)
    y = WGS84_A * np.log(
        np.tan(np.pi / 4.0 + phi / 2.0)
        * ((1.0 - esin) / (1.0 + esin)) ** (WGS84_E / 2.0)
    )
    return x, y


def mercator_to_lonlat(x, y):
    """EPSG:3395 → EPSG:4326 inverse (iterative), vectorized."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / WGS84_A)
    t = np.exp(-y / WGS84_A)
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        esin = WGS84_E * np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - esin) / (1.0 + esin)) ** (WGS84_E / 2.0)
        )
    return lon, np.degrees(phi)
