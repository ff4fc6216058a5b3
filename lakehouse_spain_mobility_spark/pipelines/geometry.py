"""Census-section geometry pipeline: shapefile bronze → WGS84 silver →
polygon-scoped gold extraction (dags/geometry/*, dags/gravity/extract_geometry.py).

Silver schema per FIXTURES §7: WKT polygon + id hierarchy + centroid.
The CRS transform (EPSG:25830 → 4326) and the section centroid are
pandas-UDF kernels from operators/spatial.py (ST_Transform / ST_Centroid —
dags/geometry/transform_silver_geometry.py:20,26). The municipality
centroids the gold refresh needs run the same kernels on the driver over
the extracted gold region (``municipality_centroids``).
"""

from __future__ import annotations

import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Warehouse, local_frame
from ..operators import spatial

SILVER_TABLE = "silver_geometry_wgs84"
GOLD_TABLE = "gold_geometry_wgs84"

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("geometry", T.StringType()),
        T.StructField("census_section_id", T.StringType()),
        T.StructField("district_id", T.StringType()),
        T.StructField("municipality_id", T.StringType()),
        T.StructField("province_id", T.StringType()),
        T.StructField("autonomous_community_id", T.StringType()),
        T.StructField("centroid_lon", T.DoubleType()),
        T.StructField("centroid_lat", T.DoubleType()),
        T.StructField("year", T.IntegerType()),
    ]
)


def bronze_table_name(year: int) -> str:
    return f"bronze_geometry_{year}"


def ingest_bronze(wh: Warehouse, shapes: DataFrame, year: int) -> None:
    """Shapefile scan → bronze (dags/geometry/ingestion_bronze_geometry.py:
    13-24): expects CUSEC/CUDIS/CUMUN/CPRO/CCA attribute columns + geom WKT."""
    wh.create_or_replace(bronze_table_name(year), shapes)


def silver_transform(wh: Warehouse, year: int, already_wgs84: bool = False) -> int:
    """CRS transform + centroid + id projection
    (dags/geometry/create_silver_geometry.py:9-20,
    dags/geometry/transform_silver_geometry.py:12-29), skip-if-present per
    year."""
    wh.create_if_not_exists(SILVER_TABLE, SILVER_SCHEMA)
    if wh.skip_if_present(SILVER_TABLE, pads.field("year") == year):
        return 0
    bronze = wh.read(bronze_table_name(year))
    geom = (
        F.col("geom") if already_wgs84 else spatial.st_transform_25830_to_4326(F.col("geom"))
    )
    projected = bronze.select(
        geom.alias("geometry"),
        F.col("CUSEC").cast("string").alias("census_section_id"),
        F.col("CUDIS").cast("string").alias("district_id"),
        F.col("CUMUN").cast("string").alias("municipality_id"),
        F.col("CPRO").cast("string").alias("province_id"),
        F.col("CCA").cast("string").alias("autonomous_community_id"),
        F.lit(year).cast("int").alias("year"),
    )
    with_centroid = projected.withColumn("_c", spatial.st_centroid(F.col("geometry"))).select(
        "geometry",
        "census_section_id",
        "district_id",
        "municipality_id",
        "province_id",
        "autonomous_community_id",
        F.col("_c.lon").alias("centroid_lon"),
        F.col("_c.lat").alias("centroid_lat"),
        "year",
    )
    wh.append(SILVER_TABLE, with_centroid)
    return wh.count_where(SILVER_TABLE, pads.field("year") == year)


def extract_gold_region(
    wh: Warehouse, region_wkt: str, year: int, predicate: str = "intersects"
) -> DataFrame:
    """Polygon-scoped extraction → gold_geometry_wgs84
    (dags/gravity/extract_geometry.py:30-43): spatial predicate against a
    parameterized region WKT (P10), with the empty-silver guard (:15-19)."""
    if wh.count_where(SILVER_TABLE, pads.field("year") == year) == 0:
        raise RuntimeError(f"silver_geometry_wgs84 empty for year={year}")
    silver = wh.read(SILVER_TABLE).filter(F.col("year") == year)
    pred = spatial.make_polygon_predicate_udf(region_wkt, predicate)
    gold = silver.filter(pred(F.col("geometry")))
    wh.create_or_replace(GOLD_TABLE, gold)
    return wh.read(GOLD_TABLE)


def district_section_counts(wh: Warehouse) -> DataFrame:
    """Per-district section counts over the extracted gold region
    (dags/section_extraction/test_section_extraction.py:118-127)."""
    gold = wh.read(GOLD_TABLE)
    return (
        gold.groupBy("district_id")
        .agg(F.count("*").alias("n_sections"))
        .orderBy("district_id")
    )


def extraction_summary(wh: Warehouse, year: int) -> dict:
    """Extraction QA summary (…test_section_extraction.py:80-92,129-143):
    silver vs gold counts, retained percentage, and bbox of the extracted
    region vs the full silver bbox."""
    from ..operators.spatial import st_bounds

    silver = wh.read(SILVER_TABLE).filter(F.col("year") == year)
    gold = wh.read(GOLD_TABLE)
    n_silver, n_gold = silver.count(), gold.count()

    def bbox(df: DataFrame) -> tuple:
        b = df.withColumn("_b", st_bounds(F.col("geometry"))).agg(
            F.min("_b.xmin"), F.min("_b.ymin"), F.max("_b.xmax"), F.max("_b.ymax")
        ).first()
        return tuple(b)

    return {
        "n_silver": n_silver,
        "n_gold": n_gold,
        "retained_pct": (100.0 * n_gold / n_silver) if n_silver else 0.0,
        "silver_bbox": bbox(silver),
        "gold_bbox": bbox(gold),
    }


def municipality_centroids(wh: Warehouse) -> DataFrame:
    """temp_municipality_centroids (dags/gravity/create_centroids.py:12-19):
    ST_Centroid(ST_Union_Agg(geom)) per municipality. For non-overlapping
    census sections the union's centroid is the area-weighted centroid of
    the parts, so no geometry union is needed.

    The gold region is one study area's census sections (thousands at
    most), so the kernels run on the driver over one collect and no Python
    worker starts: per section the centroid is ``geom_centroid`` and the
    weight is |signed area of ring 0| (``st_geom_stats``'s area). The
    weighted sums accumulate in row order, the order a one-partition
    ``sum`` aggregate adds them. A municipality whose sections have zero
    total area gets NULL ``lon``/``lat``; dividing by that zero in Spark
    raises ``DIVIDE_BY_ZERO`` under ANSI. Returns (code, lon, lat)
    as a one-partition local relation."""
    rows = wh.read(GOLD_TABLE).select("municipality_id", "geometry").collect()
    sums: dict[str | None, list[float]] = {}
    for muni, wkt in rows:
        s = sums.setdefault(muni, [0.0, 0.0, 0.0])
        rings = spatial.parse_polygon_rings(wkt)
        if not rings:
            continue  # no polygon, no weight (a SQL sum skips a NULL weight)
        w = abs(spatial.ring_area_centroid(rings[0])[0])
        lon, lat = spatial.geom_centroid(wkt)
        s[0] += lon * w
        s[1] += lat * w
        s[2] += w
    out = [
        (muni, sx / sw, sy / sw) if sw else (muni, None, None)
        for muni, (sx, sy, sw) in sums.items()
    ]
    return local_frame(wh.spark, out, "code string, lon double, lat double")
