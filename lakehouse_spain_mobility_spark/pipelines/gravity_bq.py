"""EP2/EP3 pipelines over warehouse tables: gravity model (BQ2) and
long-trip dependency (BQ3), composing the geometry/population/economy/
mitma silvers through the generic operators.

Reference: dags/gravity/gravity_dag.py:45-103 (11-task chain) and
dags/bussiness_layer/transform_gold_long_trip_dependency.py. The five
``temp_*`` tables become DataFrames (SURVEY §3 EP2 note); cleanup (K6)
therefore disappears.

Municipality centroids come from ``geometry.municipality_centroids``, which
runs the geometry kernels on the driver and hands the plans a one-partition
local relation, so the refresh starts no Python worker. BQ2 and BQ3 read
silver through the same ``trips_by_municipality`` rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse
from ..functions.deterministic import davg, dsum
from ..functions.geo import geodesic_km, haversine_km
from ..functions.scalar import zone_to_municipality
from ..operators.gravity import assemble_gravity_data, gravity_analysis, infrastructure_ranking
from ..operators.long_trip import long_trip_dependency
from .geometry import municipality_centroids

GOLD_GRAVITY = "gold_gravity_model_analysis"
GOLD_RANKING = "gold_municipality_infrastructure_ranking"
GOLD_LONG_TRIP = "gold_long_trip_dependency"


def verify_dependencies(wh: Warehouse, tables: list[str]) -> None:
    """Existence gate (dags/gravity/verify_dependencies.py:12-28)."""
    missing = [t for t in tables if not wh.table_exists(t)]
    if missing:
        raise RuntimeError(f"missing dependency tables: {missing}")


def municipality_distances(
    centroids: DataFrame, min_km: float = 0.1, spheroid: bool = False
) -> DataFrame:
    """temp_municipality_distances (dags/gravity/create_distances.py:12-22):
    cross join + spheroid distance + thresholds. ``spheroid=True`` uses the
    WGS84 Vincenty geodesic (exact ST_Distance_Spheroid semantics, pandas
    UDF); default haversine stays the oracle-parity path (~0.1-0.5% apart,
    SURVEY §7.4)."""
    o = centroids.select(
        F.col("code").alias("origin_code"), F.col("lon").alias("o_lon"), F.col("lat").alias("o_lat")
    )
    d = centroids.select(
        F.col("code").alias("dest_code"), F.col("lon").alias("d_lon"), F.col("lat").alias("d_lat")
    )
    dist_fn = geodesic_km if spheroid else haversine_km
    dist = dist_fn(F.col("o_lon"), F.col("o_lat"), F.col("d_lon"), F.col("d_lat"))
    return (
        o.crossJoin(F.broadcast(d))
        .filter(F.col("origin_code") != F.col("dest_code"))
        .withColumn("distance_km", dist)
        .filter(F.col("distance_km") > min_km)
        .select("origin_code", "dest_code", "distance_km")
    )


def trips_by_municipality(wh: Warehouse) -> DataFrame:
    """temp_trips_by_municipality (dags/gravity/aggregate_trips.py:10-19):
    zone→municipality rollup via LEFT(zone,5)."""
    silver = wh.read("silver_mobility_trips")
    return (
        silver.groupBy(
            zone_to_municipality(F.col("origin_zone")).alias("origin_code"),
            zone_to_municipality(F.col("destination_zone")).alias("dest_code"),
        )
        .agg(dsum(F.col("trips")).alias("total_trips"))
    )


def economy_by_municipality(wh: Warehouse, year: int) -> DataFrame:
    """temp_economy_by_municipality (dags/gravity/aggregate_economy.py:10-18)."""
    eco = wh.read("silver_economy_aggregated").filter(F.col("year") == year)
    return eco.groupBy(F.col("municipality_code").alias("code")).agg(
        davg(F.col("avg_income")).alias("avg_income")
    )


def population_dim(wh: Warehouse, year: int) -> DataFrame:
    pop = wh.read("silver_population").filter(F.col("year") == year)
    return pop.select(F.col("municipality_code").alias("code"), "population")


def run_gravity_pipeline(wh: Warehouse, year: int) -> tuple[DataFrame, DataFrame]:
    """EP2 chain: centroids → distances → rollups → assembly → calibrated
    analysis → ranking; gold tables materialized with K3 semantics."""
    verify_dependencies(
        wh,
        ["gold_geometry_wgs84", "silver_population", "silver_economy_aggregated",
         "silver_mobility_trips"],
    )
    centroids = municipality_centroids(wh)
    distances = municipality_distances(centroids)
    data = assemble_gravity_data(
        distances,
        population_dim(wh, year),
        economy_by_municipality(wh, year),
        trips_by_municipality(wh),
    )
    analysis = gravity_analysis(data).withColumn("created_at", F.current_timestamp())
    wh.create_or_replace(GOLD_GRAVITY, analysis)
    ranking = infrastructure_ranking(wh.read(GOLD_GRAVITY))
    wh.create_or_replace(GOLD_RANKING, ranking)
    return wh.read(GOLD_GRAVITY), wh.read(GOLD_RANKING)


def run_long_trip_pipeline(wh: Warehouse, long_km: float = 15.0) -> DataFrame:
    """EP3 (BQ3): polygon semi-filter (here: the municipality set with
    known centroids) → NULL-aware distances → conditional aggregation →
    dependency ratio (…long_trip_dependency.py:85-159), over BQ2's
    municipality-pair rollup. The reference's trip-ID normalization
    (:90-98) is silver's: zone suffixes stripped, NULL trips dropped."""
    centroids = municipality_centroids(wh)
    out = long_trip_dependency(
        trips_by_municipality(wh), centroids, origin_filter=F.lit(True), long_km=long_km
    )
    wh.create_or_replace(GOLD_LONG_TRIP, out)
    return wh.read(GOLD_LONG_TRIP)
