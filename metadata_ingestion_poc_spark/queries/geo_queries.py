"""Geospatial query family (round 7): grid-cell density and banded
radius joins over synthetic coordinates.

The TPC-H-ish tables carry no geography, so coordinates are derived
deterministically from keys as exact 2-decimal values (integer
multiply-mod, then one division by 100) — both engines compute the
identical doubles, making the quantization floor() and the haversine
operand stream bit-identical. The only libm exposure (sin/cos/asin)
is absorbed by rounding distances at 6 dp on BOTH sides before any
comparison.

Scale notes: q221 is one map-combined groupBy on a pure-codegen
integer key (the same Morton interleave the z-order layout uses, so
the density profile doubles as the layout histogram); q222's
candidate generation fans each query out to the O(span²) grid cells
its disc can touch and equi-joins on exact cell coordinates — the geo
analogue of the interval join's binning, never |A|·|B|. The oracle IS
the brute-force cross join, so every driver sweep differentially
proves the banding loses nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ..operators.geo import geo_cell, geo_cell_sql, haversine_km, radius_join

# exact 2-dp synthetic coordinates: lat in [-60, 60), lon in [-180, 180)
_SUP_LAT = "(s_suppkey * 7919 % 12000) / 100.0 - 60.0"
_SUP_LON = "(s_suppkey * 104729 % 36000) / 100.0 - 180.0"
CUST_LAT = "(c_custkey * 6151 % 12000) / 100.0 - 60.0"
CUST_LON = "(c_custkey * 9973 % 36000) / 100.0 - 180.0"

_CELL_BITS = 4
_RADIUS_KM = 1500.0
_JOIN_BITS = 5


def sup_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_SUP_LAT).alias("p_lat"),
        F.expr(_SUP_LON).alias("p_lon"),
    )


@query(
    "q221_geo_cell_density",
    oracle=f"""
    WITH p AS (SELECT s_suppkey,
                      {_SUP_LAT} AS lat, {_SUP_LON} AS lon
               FROM supplier)
    SELECT {geo_cell_sql("lat", "lon", _CELL_BITS)} AS cell,
           COUNT(*)::BIGINT AS n_points,
           MIN(s_suppkey) AS min_key,
           MAX(s_suppkey) AS max_key
    FROM p
    GROUP BY cell
    ORDER BY cell
    """,
)
def q221_geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = sup_points(spark, sf_dir)
    return (
        p.groupBy(
            geo_cell(F.col("p_lat"), F.col("p_lon"), _CELL_BITS).alias(
                "cell"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("s_suppkey").alias("min_key"),
            F.max("s_suppkey").alias("max_key"),
        )
        .orderBy("cell")
    )


_HAV_SQL = """
ROUND(2.0 * 6371.0 * asin(sqrt(
    sin(radians(p.lat - q.lat) / 2) * sin(radians(p.lat - q.lat) / 2)
    + cos(radians(q.lat)) * cos(radians(p.lat))
      * sin(radians(p.lon - q.lon) / 2)
      * sin(radians(p.lon - q.lon) / 2))), 6)
"""


@query(
    "q222_geo_radius_join",
    oracle=f"""
    WITH q AS (SELECT c_custkey,
                      {CUST_LAT} AS lat, {CUST_LON} AS lon
               FROM customer WHERE c_custkey % 20 = 0),
    p AS (SELECT s_suppkey,
                 {_SUP_LAT} AS lat, {_SUP_LON} AS lon
          FROM supplier),
    d AS (SELECT q.c_custkey, {_HAV_SQL} AS dist
          FROM q, p)
    SELECT c_custkey,
           COUNT(*)::BIGINT AS n_within,
           MIN(dist) AS nearest_km
    FROM d WHERE dist <= {_RADIUS_KM!r}
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q222_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select(
            "c_custkey",
            F.expr(CUST_LAT).alias("q_lat"),
            F.expr(CUST_LON).alias("q_lon"),
        )
    )
    pairs = radius_join(
        qs, sup_points(spark, sf_dir), _RADIUS_KM, bits=_JOIN_BITS
    )
    return (
        pairs.groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_within"),
            F.min("distance_km").alias("nearest_km"),
        )
        .orderBy("c_custkey")
    )
