"""INE household-income pipeline: bronze (inferred CSV) → silver
aggregated (dags/Economy/*).

Bronze keeps the original Spanish headers (CTAS inference,
dags/Economy/ingestion_bronze_economy.py:13-18, year filter on the messy
``Periodo`` column at :17); silver splits ``"<code> <name>"`` columns,
fixes Spanish-locale decimals, and keys on
(municipality, district, section, year)
(dags/Economy/transform_silver_economy.py:31-65).
"""

from __future__ import annotations

import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Warehouse
from ..functions.scalar import code_before_space, spanish_decimal

SILVER_TABLE = "silver_economy_aggregated"

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("municipality_code", T.StringType()),
        T.StructField("district_code", T.StringType()),
        T.StructField("section_code", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("avg_income", T.DoubleType()),
    ]
)


def bronze_table_name(year: int) -> str:
    return f"bronze_economy_{year}"


def ingest_bronze(wh: Warehouse, raw: DataFrame, year: int) -> None:
    """CTAS with a suffix-year filter on Periodo (P8,
    dags/Economy/ingestion_bronze_economy.py:13-18)."""
    filtered = raw.filter(F.substring(F.col("Periodo").cast("string"), -4, 4) == str(year))
    wh.create_or_replace(bronze_table_name(year), filtered)


def silver_transform(wh: Warehouse, year: int) -> int:
    """Typed silver hop (dags/Economy/transform_silver_economy.py:22-65):
    skip-if-present per year, split codes, locale-fix income, reject
    NULL/invalid keys."""
    wh.create_if_not_exists(SILVER_TABLE, SILVER_SCHEMA)
    if wh.skip_if_present(SILVER_TABLE, pads.field("year") == year):
        return 0
    bronze = wh.read(bronze_table_name(year))
    income = F.when(
        F.col("Total").cast("string").rlike("^[0-9.]+,[0-9]+$"),
        spanish_decimal(F.col("Total").cast("string")),
    ).otherwise(F.col("Total").cast("string").try_cast("double"))
    silver = (
        bronze.select(
            F.trim(code_before_space(F.col("Municipios").cast("string"))).alias(
                "municipality_code"
            ),
            F.trim(code_before_space(F.col("Distritos").cast("string"))).alias("district_code"),
            F.trim(code_before_space(F.col("Secciones").cast("string"))).alias("section_code"),
            F.lit(year).cast("int").alias("year"),
            income.alias("avg_income"),
        )
        .filter(
            F.col("municipality_code").rlike("^[0-9]{5}$")
            & F.col("district_code").rlike("^[0-9]{7}$")
            & F.col("section_code").rlike("^[0-9]{10}$")
            & F.col("avg_income").isNotNull()
            & (F.col("avg_income") >= 0)
        )
        .groupBy("municipality_code", "district_code", "section_code", "year")
        .agg(F.avg("avg_income").alias("avg_income"))
    )
    wh.append(SILVER_TABLE, silver)
    return wh.count_where(SILVER_TABLE, pads.field("year") == year)
