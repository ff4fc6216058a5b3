"""MITMA mobility medallion pipeline: bronze → silver → gold (EP1).

Reference flow (dags/mitma/mitma_task_DAG.py:20-163): fetch daily CSV.gz →
all-VARCHAR bronze with rename → per-date typed/cleaned silver with
day_type → gold typical-day patterns with 3σ outlier rejection.

Spark shape per SURVEY §3 EP1: one driver program; the Airflow
mapped-task-per-file fan-out disappears (Spark parallelizes within the
read); XCom disappears; silver is partitioned by ``date`` so the
idempotent re-run unit is a dynamic partition overwrite.
"""

from __future__ import annotations

import datetime

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Warehouse, local_frame
from ..functions import scalar
from ..functions.holidays_es import holidays_rows
from ..operators.outlier_stats import sigma_filtered_stats_window

BRONZE_TABLE = "bronze_mobility_trips"
SILVER_TABLE = "silver_mobility_trips"
GOLD_TABLE = "gold_typical_day_patterns"
HOLIDAYS_TABLE = "ref_holidays"
LEDGER_TABLE = "bronze_ingest_ledger"

# Bronze: deliberately all-VARCHAR, typing deferred to the silver hop
# (schema-on-read: dags/mitma/bronze_mitma.py:7-26, all_varchar=true at :68).
# Column names are the reference's ES→EN renames (:51-67).
BRONZE_COLUMNS = [
    "date",
    "hour_period",
    "origin_zone",
    "destination_zone",
    "distance_range",
    "origin_activity",
    "destination_activity",
    "is_origin_study_possible",
    "is_destination_study_possible",
    "residence_province_code",
    "income_range",
    "age_group",
    "gender",
    "trips",
    "trips_km_product",
]
BRONZE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in BRONZE_COLUMNS]
    + [T.StructField("ingestion_date", T.TimestampType())]
)

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType()),
        T.StructField("hour_period", T.IntegerType()),
        T.StructField("origin_zone", T.StringType()),
        T.StructField("destination_zone", T.StringType()),
        T.StructField("trips", T.DoubleType()),
        T.StructField("day_type", T.IntegerType()),
    ]
)


def ensure_tables(wh: Warehouse) -> None:
    """K1 idempotent bootstrap (dags/mitma/bronze_mitma.py:7-26 etc.)."""
    wh.create_if_not_exists(BRONZE_TABLE, BRONZE_SCHEMA)
    wh.create_if_not_exists(
        LEDGER_TABLE,
        T.StructType(
            [
                T.StructField("file_date", T.StringType()),
                T.StructField("n_rows", T.LongType()),
                T.StructField("status", T.StringType()),
                T.StructField("ingested_at", T.TimestampType()),
            ]
        ),
    )
    wh.create_if_not_exists(SILVER_TABLE, SILVER_SCHEMA, partition_by=["date"])
    wh.create_if_not_exists(
        HOLIDAYS_TABLE,
        T.StructType(
            [T.StructField("date", T.DateType()), T.StructField("is_holiday", T.BooleanType())]
        ),
    )


def ingest_holidays(wh: Warehouse, years: list[int]) -> None:
    """U2: Spain holidays → ref_holidays dim
    (dags/mitma/silver_mitma.py:7-52), skip-if-present per year."""
    date = pads.field("date")
    new_years = [
        y
        for y in years
        if not wh.skip_if_present(
            HOLIDAYS_TABLE,
            (date >= datetime.date(y, 1, 1)) & (date <= datetime.date(y, 12, 31)),
        )
    ]
    if not new_years:
        return
    rows = holidays_rows(new_years)
    wh.append(HOLIDAYS_TABLE, local_frame(wh.spark, rows, "date date, is_holiday boolean"))


def ingest_bronze(wh: Warehouse, raw: DataFrame, file_date: str) -> bool:
    """Append one daily file to bronze (S1/K2,
    dags/mitma/bronze_mitma.py:29-76). ``raw`` is the all-string frame from
    sources.csv; ``file_date`` is 'yyyyMMdd'. Returns False when skipped.

    Idempotency ledger (dags/mitma/bronze_mitma.py:38-47 count-check-skip,
    upgraded): a re-run probes the tiny ``bronze_ingest_ledger`` table —
    file → row-count → status — and skips WITHOUT evaluating ``raw``. The
    bronze count-check stays as defense-in-depth for pre-ledger tables.
    Both probes and the ledger's row count are ``Warehouse.count_where``
    calls: answered on the driver from Parquet footers and the ``date``
    column, with no Spark job. The day's only jobs are the two appends."""
    ingested = (pads.field("file_date") == file_date) & (pads.field("status") == "ingested")
    if wh.skip_if_present(LEDGER_TABLE, ingested):
        return False
    if wh.skip_if_present(BRONZE_TABLE, pads.field("date") == file_date):
        return False
    out = raw.select(
        *[F.col(c).cast("string").alias(c) for c in BRONZE_COLUMNS],
        F.current_timestamp().alias("ingestion_date"),
    )
    wh.append(BRONZE_TABLE, out)
    n = wh.count_where(BRONZE_TABLE, pads.field("date") == file_date)
    ledger_row = local_frame(
        wh.spark, [(file_date, n, "ingested")], "file_date string, n_rows bigint, status string"
    ).withColumn("ingested_at", F.current_timestamp())
    wh.append(LEDGER_TABLE, ledger_row)
    return True


def silver_transform(wh: Warehouse, file_date: str) -> int:
    """Per-date typed/cleaned silver hop (dags/mitma/silver_mitma.py:95-159):
    DELETE date partition + typed INSERT…SELECT with the cleaning battery.
    day_type is computed natively via the holidays join (U1 — the reference
    computes it once per file in Python, :54-83,106).

    The bronze-count gate (dags/mitma/silver_mitma.py:110-117) and the
    returned silver count are ``Warehouse.count_where`` probes with no
    Spark job; the partition write is the hop's only Spark work."""
    if wh.count_where(BRONZE_TABLE, pads.field("date") == file_date) == 0:
        return 0
    bronze = wh.read(BRONZE_TABLE).filter(F.col("date") == file_date)
    holidays = F.broadcast(wh.read(HOLIDAYS_TABLE))
    typed = bronze.select(
        F.to_date(F.col("date"), "yyyyMMdd").alias("date"),
        F.col("hour_period").try_cast("int").alias("hour_period"),
        scalar.strip_zone_suffix(F.col("origin_zone")).alias("origin_zone"),
        scalar.strip_zone_suffix(F.col("destination_zone")).alias("destination_zone"),
        F.col("trips").try_cast("double").alias("trips"),
    )
    cleaned = typed.filter(
        ~F.col("origin_zone").startswith("PT")
        & ~F.col("origin_zone").startswith("FR")
        & ~F.col("destination_zone").startswith("PT")
        & ~F.col("destination_zone").startswith("FR")
        & (F.col("origin_zone") != "externo")
        & (F.col("destination_zone") != "externo")
        & F.col("date").isNotNull()
        & F.col("hour_period").isNotNull()
        & F.col("trips").isNotNull()
    )
    silver = cleaned.join(holidays, on="date", how="left").select(
        "date",
        "hour_period",
        "origin_zone",
        "destination_zone",
        "trips",
        scalar.day_type(F.col("date"), F.col("is_holiday")).alias("day_type"),
    )
    wh.replace_partition(SILVER_TABLE, silver, "date")
    # hive discovery reads the ``date=2023-08-16`` directory as text
    iso = f"{file_date[:4]}-{file_date[4:6]}-{file_date[6:]}"
    return wh.count_where(SILVER_TABLE, pads.field("date") == iso)


def gold_typical_day(wh: Warehouse, with_outlier_filter: bool = True) -> DataFrame:
    """Full-refresh gold (K3, dags/mitma/new_gold.py:22-86); the degraded
    no-filter path (:151-179) behind a flag."""
    silver = wh.read(SILVER_TABLE)
    keys = ["day_type", "hour_period", "origin_zone", "destination_zone"]
    if with_outlier_filter:
        gold = sigma_filtered_stats_window(silver, keys, "trips", "date", n_sigma=3.0)
    else:
        from ..operators.outlier_stats import unfiltered_stats

        gold = unfiltered_stats(silver, keys, "trips", "date")
    wh.create_or_replace(GOLD_TABLE, gold)
    return wh.read(GOLD_TABLE)


def run_pipeline(
    spark: SparkSession, wh: Warehouse, daily_files: dict[str, DataFrame]
) -> DataFrame:
    """End-to-end EP1 for a batch of daily files {yyyyMMdd: raw_df}."""
    ensure_tables(wh)
    years = sorted({int(d[:4]) for d in daily_files})
    ingest_holidays(wh, years)
    for file_date, raw in sorted(daily_files.items()):
        ingest_bronze(wh, raw, file_date)
        silver_transform(wh, file_date)
    return gold_typical_day(wh)
