"""INE population pipeline: bronze (inferred CSV) → silver per-municipality
(dags/Population/*).

Silver excludes the ``Sexo='Total'`` / ``Edad='Todas las edades'`` rollup
rows, strips thousands separators with the digit-only regex, and keys on
(municipality_code, year)
(dags/Population/transform_silver_population.py:37-63).
"""

from __future__ import annotations

import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Warehouse
from ..functions.scalar import code_before_space, digits_only

SILVER_TABLE = "silver_population"

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("municipality_code", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("population", T.LongType()),
    ]
)

EDAD_COL = "Edad (grandes grupos)"  # Spanish header with spaces — backticked access


def bronze_table_name(year: int) -> str:
    return f"bronze_population_{year}"


def ingest_bronze(wh: Warehouse, raw: DataFrame, year: int) -> None:
    filtered = raw.filter(F.substring(F.col("Periodo").cast("string"), -4, 4) == str(year))
    wh.create_or_replace(bronze_table_name(year), filtered)


def silver_transform(wh: Warehouse, year: int) -> int:
    wh.create_if_not_exists(SILVER_TABLE, SILVER_SCHEMA)
    if wh.skip_if_present(SILVER_TABLE, pads.field("year") == year):
        return 0
    bronze = wh.read(bronze_table_name(year))
    silver = (
        bronze.filter(
            (F.trim(F.col("Sexo")) != "Total")
            & (F.trim(F.col(f"`{EDAD_COL}`")) != "Todas las edades")
        )
        .select(
            F.trim(code_before_space(F.col("Municipios").cast("string"))).alias(
                "municipality_code"
            ),
            F.lit(year).cast("int").alias("year"),
            digits_only(F.col("Total").cast("string")).try_cast("bigint").alias("population"),
        )
        .filter(
            F.col("municipality_code").rlike("^[0-9]{5}$")
            & F.col("population").isNotNull()
            & (F.col("population") >= 0)
        )
        .groupBy("municipality_code", "year")
        .agg(F.sum("population").alias("population"))
    )
    wh.append(SILVER_TABLE, silver)
    return wh.count_where(SILVER_TABLE, pads.field("year") == year)
