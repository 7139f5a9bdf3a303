"""Geospatial operators: grid cells and radius joins without a
geo extension.

Spark has no native geospatial type; the scale-correct primitives are
(a) an integer lat/lon grid whose cell id is the same Morton
interleave the z-order layout uses (operators/export.py) — so geo
data clusters on disk with the exact machinery already proven there —
and (b) a banded radius join: candidates come from an equi-join on
grid cells (the geo analogue of interval_join's bins), exact haversine
only on candidates. Work is Σ cell-pair density, never |A|·|B|.

Cross-engine discipline: cell ids are pure integer arithmetic after a
floor() quantization of exact-decimal coordinates; haversine is a
fixed IEEE double expression whose asin/sin/cos ULP noise is absorbed
by rounding the distance at 6 dp on BOTH engines before comparing to
the radius.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0
# meridian degree ON THIS SPHERE (pi*R/180 ~ 111.195 km) — derived, not
# the geodetic 111.32, so the angular radius r_deg is never
# underestimated relative to the haversine the filter actually runs
KM_PER_DEG = math.pi * EARTH_RADIUS_KM / 180.0


def quant(col: Column, lo: float, span: float, cells: int) -> Column:
    """floor((v - lo) / span * cells), clamped to [0, cells-1]."""
    q = F.floor((col - F.lit(lo)) / F.lit(span) * F.lit(cells))
    return F.least(F.greatest(q, F.lit(0)), F.lit(cells - 1)).cast("long")


def geo_cell(lat: Column | str, lon: Column | str, bits: int = 8) -> Column:
    """Morton-interleaved grid cell of a (lat, lon) pair.

    2^bits cells per axis over lat [-90, 90] and lon [-180, 180].
    Sorting or range-partitioning on this key gives the z-order
    locality the zone-map file-skipping layout needs (same key
    construction as operators/export.py zorder_key, so the layout
    machinery and its tests carry over unchanged).
    """
    from .export import zorder_key

    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    cells = 1 << bits
    return zorder_key(
        quant(lat, -90.0, 180.0, cells),
        quant(lon, -180.0, 360.0, cells),
        bits=bits,
    )


def quant_sql(expr: str, lo: float, span: float, cells: int) -> str:
    """DuckDB twin of quant — the ONE axis-quantization contract every
    grid consumer (Morton cells, radius join, hotspot clustering) must
    share; private copies drift when the clamp rules change."""
    return (
        f"LEAST(GREATEST(CAST(FLOOR((({expr}) - ({lo!r})) / {span!r}"
        f" * {cells}) AS BIGINT), 0), {cells - 1})"
    )


def geo_cell_sql(lat: str, lon: str, bits: int = 8) -> str:
    """DuckDB twin of geo_cell — identical quantization + interleave."""
    from .export import zorder_key_sql

    cells = 1 << bits
    return zorder_key_sql(
        quant_sql(lat, -90.0, 180.0, cells),
        quant_sql(lon, -180.0, 360.0, cells),
        bits=bits,
    )


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km (unrounded; callers round at 6)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(
        dlon
    ) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius_km: float,
    bits: int = 8,
) -> DataFrame:
    """All (query, point) pairs within radius_km, via grid banding.

    queries needs columns (q_lat, q_lon), points (p_lat, p_lon);
    other columns pass through. Returns the INNER pairs plus
    ``distance_km`` (rounded at 6 — the radius comparison uses the
    ROUNDED value so a SQL replay with the same rounding matches
    bit-for-bit). Inner-only by design: the post-filter on distance
    cannot preserve outer semantics; anti/outer shapes belong to a
    groupBy over these pairs.

    Candidate generation: each query fans out to the grid cells a
    radius_km disc around it can touch — latitude span is constant
    (radius / KM_PER_DEG), longitude span widens with 1/cos(lat),
    clamped at the full ring with wrapped cells deduplicated so each
    (query, point) pair appears EXACTLY once — then equi-joins points
    on exact (ix, iy) cell
    coordinates. Fan-out per query is O((2·span+1)²) cells, work is
    Σ per-cell density; nothing is ever all-pairs. The 1/cos(lat)
    span is what keeps the join CORRECT at high latitude where
    longitude cells shrink; a disc that reaches a polar cap probes
    the FULL longitude ring (cross-pole neighbors sit at antipodal
    longitudes, outside any finite 1/cos(lat) span for small radii).
    """
    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    cells = 1 << bits
    lat_cell_deg = 180.0 / cells
    lon_cell_deg = 360.0 / cells
    r_deg = radius_km / KM_PER_DEG

    p = points.withColumn(
        "__pix", quant(F.col("p_lat"), -90.0, 180.0, cells)
    ).withColumn("__piy", quant(F.col("p_lon"), -180.0, 360.0, cells))

    lat_span = int(math.ceil(r_deg / lat_cell_deg))
    # longitude span depends on each query's latitude — computed
    # per row, exploded as a sequence (the interval_join bin pattern)
    # a disc never needs more than the full longitude ring: clamp the
    # span at cells//2 (2*span+1 >= cells, full coverage) and dedup
    # the pmod-wrapped probe cells BEFORE exploding — without the
    # array_distinct, spans past the ring would alias extra dy offsets
    # onto already-probed cells and every match would duplicate
    # A disc that touches a polar cap (|lat| + r reaches the last cell
    # row) contains longitude-antipodal neighbors across the pole —
    # the 1/cos(lat) formula only reaches the full ring for radii
    # >= ~35 km (r_deg/cos(89.9°) >= 180°), so force the full ring
    # explicitly whenever the disc can cross the pole.
    touches_pole = (
        F.abs(F.col("q_lat")) + F.lit(r_deg) >= F.lit(90.0 - lat_cell_deg)
    )
    # In the non-polar branch |lat| + r_deg < 90 - lat_cell_deg by the
    # guard above, so cos(|lat| + r_deg) >= sin(lat_cell_deg) > 0 — no
    # fixed-degree clamp needed. (An earlier 89.9° clamp UNDERSIZED the
    # span for grids finer than 0.1°/cell, i.e. bits >= 11, where
    # |lat| + r_deg can exceed 89.9 without tripping the polar-cap
    # rule.) greatest(0, ...) only sanitizes the dead branch of rows
    # that take the when() value.
    lon_span = F.when(touches_pole, F.lit(cells // 2)).otherwise(
        F.least(
            F.greatest(
                F.ceil(
                    F.lit(r_deg)
                    / F.cos(
                        F.radians(F.abs(F.col("q_lat")) + F.lit(r_deg))
                    )
                    / F.lit(lon_cell_deg)
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(cells // 2),
        )
    )
    q = (
        queries.withColumn(
            "__qix", quant(F.col("q_lat"), -90.0, 180.0, cells)
        )
        .withColumn("__qiy", quant(F.col("q_lon"), -180.0, 360.0, cells))
        .withColumn(
            "__dx",
            F.explode(F.sequence(F.lit(-lat_span), F.lit(lat_span))),
        )
        .withColumn(
            "__piy",
            # longitude wraps: probe cell iy mod cells so a disc
            # spanning the antimeridian still finds its neighbors
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(-lon_span, lon_span),
                        lambda d: F.pmod(
                            F.col("__qiy") + d, F.lit(cells)
                        ),
                    )
                )
            ),
        )
        .withColumn("__pix", F.col("__qix") + F.col("__dx"))
        .drop("__qix", "__qiy", "__dx")
    )
    dist = F.round(
        haversine_km(
            F.col("q_lat"), F.col("q_lon"), F.col("p_lat"), F.col("p_lon")
        ),
        6,
    )
    return (
        q.join(p, ["__pix", "__piy"])
        .withColumn("distance_km", dist)
        .filter(F.col("distance_km") <= radius_km)
        .drop("__pix", "__piy")
    )
