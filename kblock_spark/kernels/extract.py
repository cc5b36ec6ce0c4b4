"""Text extraction, geocoding and grid cells over the pages table.

input_hint contract: ``extract_text(html)`` must be deterministic and
byte-identical per url; geocoding pulls the ``geo:lat,lon`` token out
of ``text``. Extraction (and the opt-in geohash) are Arrow-batched
pandas UDFs; geocoding and the cell id are Catalyst expressions, so
``geocoded_points`` starts no Python runner unless a geohash is asked
for.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..geo.tiling import DEFAULT_CELL_DEG, _cell_expr, geohash_encode

_BODY_OPEN = b"<body>"
_BODY_CLOSE = b"</body>"

_GEO_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"


def extract_text_bytes(html: bytes) -> bytes:
    """Deterministic byte-level extraction: the <body> payload."""
    i = html.find(_BODY_OPEN)
    j = html.rfind(_BODY_CLOSE)
    if i < 0 or j < 0 or j <= i:
        return b""
    return html[i + len(_BODY_OPEN) : j]


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """binary html → extracted text (byte-identical per url)."""
    # bytes.partition is a C-level kernel; map() dispatches it per
    # element but all byte work stays in C (same cost model as the
    # reference's pygeos columnar dispatch)
    return html.map(
        lambda b: extract_text_bytes(b).decode("utf-8", errors="replace")
        if b is not None
        else None
    )


def with_geocode(df, text_col: str = "text"):
    """Add lat/lon parsed from the geo: token — pure Catalyst
    (regexp_extract + cast), no Python at all."""
    return df.withColumn(
        "lat", F.regexp_extract(F.col(text_col), _GEO_RE, 1).cast("double")
    ).withColumn(
        "lon", F.regexp_extract(F.col(text_col), _GEO_RE, 2).cast("double")
    )


@pandas_udf(StringType())
def geohash_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Precision-12 geohash (reference uses pygeohash at precision 18
    for sort keys, kblock/batch_1b_generate_blocks.py:235-236; 12 is
    ~3.7 cm — already far below coordinate noise)."""
    return pd.Series(geohash_encode(lon.to_numpy(), lat.to_numpy(), 12))


def geocoded_points(
    pages_df, cell_deg: float = DEFAULT_CELL_DEG, with_geohash: bool = False
):
    """pages → building-point table (url, lat, lon, cell
    [, point_geohash]). The kblock 'buildings' role (SURVEY.md §1:
    geocoded pages play building points). Geocode and cell id are
    Catalyst expressions (the cell bit-identical to ``cell_of``), so
    the PIP probe stage that consumes this table runs no Python before
    its refine kernel. The geohash sort key is opt-in and a pandas
    UDF — the pipeline's spatial index is the grid cell; geohash is
    only needed for reference-schema parity outputs."""
    df = with_geocode(pages_df).where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    out = df.select("url", "lat", "lon").withColumn(
        "cell", _cell_expr(F.col("lon"), F.col("lat"), cell_deg)
    )
    if with_geohash:
        out = out.withColumn("point_geohash", geohash_udf(F.col("lon"), F.col("lat")))
    return out
