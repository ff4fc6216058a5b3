"""Warehouse reads take the schema from one Parquet footer, and probes
are answered from Parquet metadata.

``Warehouse.read`` must give the schema ``spark.read.parquet`` infers,
for every kind of table the daily cycle keeps, while launching no Spark
job of its own. ``Warehouse.count_where`` runs on the driver with
pyarrow: it must give the answer the same filter gives through Spark,
and launch no job.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_spain_mobility_spark.catalog import (
    Warehouse,
    footer_schema,
    snapshot_publish_audited,
    snapshot_read,
    snapshot_replace,
)
from lakehouse_spain_mobility_spark.pipelines import mitma, orchestrate

from conftest import jobs_launched


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh_reads")))
    mitma.ensure_tables(wh)
    return wh


def bronze_day(spark, date: str, n: int = 3):
    rows = [
        tuple([date, str(h), "A", "B"] + ["x"] * 9 + ["1.5", "3.0"]) for h in range(n)
    ]
    return spark.createDataFrame(rows, mitma.BRONZE_COLUMNS).withColumn(
        "ingestion_date", F.current_timestamp()
    )


def utc_micros(table: pa.Table) -> pa.Table:
    """Spark-written rows as the benchmark's pyarrow history files hold
    them: timestamps as UTC micros instead of INT96."""
    return table.cast(pa.schema([
        f.with_type(pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]))


def assert_schema_parity(wh: Warehouse, name: str) -> None:
    expected = wh.spark.read.parquet(wh.path(name)).schema
    assert wh.read(name).schema == expected


def test_flat_spark_table_uses_footer_schema(spark, wh):
    df = spark.createDataFrame(
        [(1, "a", 2.5, datetime.date(2023, 1, 2))], "id bigint, s string, x double, d date"
    )
    wh.create_or_replace("flat", df)
    assert footer_schema(wh.path("flat")) is not None
    assert_schema_parity(wh, "flat")


def test_date_partitioned_table(spark, wh):
    df = spark.createDataFrame(
        [(datetime.date(2023, 1, d), h, "A", "B", 1.0, 1) for d in (2, 3) for h in (0, 1)],
        mitma.SILVER_SCHEMA,
    )
    wh.create_or_replace("by_date", df, partition_by=["date"])
    # the footer holds the data columns only; ``date`` comes from the path
    assert "date" not in footer_schema(wh.path("by_date")).names
    assert wh.read("by_date").columns[-1] == "date"
    assert_schema_parity(wh, "by_date")


@pytest.mark.parametrize("table", [mitma.BRONZE_TABLE, mitma.LEDGER_TABLE, mitma.HOLIDAYS_TABLE])
def test_empty_bootstrap_tables(wh, table):
    assert_schema_parity(wh, table)


def test_empty_partitioned_bootstrap_table_fails_as_inference_does(spark, wh):
    """An empty date-partitioned write leaves only ``_SUCCESS``: no footer
    to read, so the read fails exactly as inference does."""
    assert footer_schema(wh.path(mitma.SILVER_TABLE)) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(wh.path(mitma.SILVER_TABLE))
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        wh.read(mitma.SILVER_TABLE)


def test_pyarrow_table_falls_back_to_inference(spark, wh):
    os.makedirs(wh.path("arrow_dim"))
    pq.write_table(
        pa.table({"code": ["01001"], "year": pa.array([2023], pa.int32()), "v": [1.5]}),
        os.path.join(wh.path("arrow_dim"), "part-preload-00000.snappy.parquet"),
    )
    assert footer_schema(wh.path("arrow_dim")) is None
    assert_schema_parity(wh, "arrow_dim")
    assert wh.read("arrow_dim").collect()[0]["code"] == "01001"


def test_no_footer_schema_for_unreadable_or_missing_files(tmp_path):
    path = tmp_path / "broken"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not parquet")
    assert footer_schema(str(path)) is None
    assert footer_schema(str(tmp_path / "missing")) is None


def test_mixed_spark_and_pyarrow_files(spark, wh):
    """Bronze after history growth: Spark appends plus pyarrow-written
    past days with the same columns."""
    name = "bronze_mixed"
    wh.create_if_not_exists(name, mitma.BRONZE_SCHEMA)
    wh.append(name, bronze_day(spark, "20230102"))
    day = utc_micros(pq.read_table(wh.path(name)))
    pq.write_table(day, os.path.join(wh.path(name), "part-history-00000.snappy.parquet"))
    assert_schema_parity(wh, name)
    assert wh.read(name).count() == 2 * day.num_rows


def test_snapshot_reads_use_footer_schema(spark, wh):
    v0 = snapshot_replace(wh, "snap", spark.range(0, 5))
    inferred = spark.read.parquet(os.path.join(wh.path("snap") + "__snapshots", f"v{v0}")).schema
    audited = []
    v1 = snapshot_publish_audited(
        wh, "snap", spark.range(0, 7), [lambda df: (audited.append(df.schema) or True, "")]
    )
    assert audited == [inferred]
    assert snapshot_read(wh, "snap", version=v0).schema == inferred
    assert snapshot_read(wh, "snap").count() == 7 and v1 == v0 + 1
    assert jobs_launched(spark, lambda: snapshot_read(wh, "snap")) == 0


def test_read_launches_no_job(spark, wh):
    flat = spark.range(0, 10).withColumn("s", F.lit("x"))
    wh.create_or_replace("jobs_flat", flat)
    wh.create_or_replace("jobs_by_s", flat, partition_by=["s"])
    assert jobs_launched(spark, lambda: wh.read("jobs_flat")) == 0
    assert jobs_launched(spark, lambda: wh.read("jobs_by_s")) == 0
    # the job every read used to launch: schema inference
    assert jobs_launched(spark, lambda: spark.read.parquet(wh.path("jobs_flat"))) == 1


def test_count_where_launches_no_job(spark, wh):
    """The probe reads footers and one column on the driver, where the
    same count through Spark launches jobs (two under adaptive execution:
    the partial aggregate's stage, then the result)."""
    wh.append(mitma.BRONZE_TABLE, bronze_day(spark, "20230109"))
    df = wh.read(mitma.BRONZE_TABLE)
    assert jobs_launched(spark, lambda: df.filter(F.col("date") == "20230109").count()) > 0
    counted = []
    probe = jobs_launched(
        spark,
        lambda: counted.append(wh.count_where(mitma.BRONZE_TABLE, pads.field("date") == "20230109")),
    )
    assert counted == [3] and probe == 0


def test_last_status_launches_one_job(spark, wh):
    orchestrate.run_with_retries(wh, "probe", "k1", lambda: None)
    statuses = []
    assert jobs_launched(
        spark, lambda: statuses.append(orchestrate.last_status(wh, "probe", "k1"))
    ) == 1
    assert statuses == ["success"]


# --- count_where gives the answer the same filter gives through Spark -------
@pytest.fixture(scope="module")
def boot(spark, tmp_path_factory):
    """A warehouse holding only the bootstrap tables, never written to."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh_boot")))
    mitma.ensure_tables(wh)
    return wh


def test_count_where_on_bronze_of_two_writers(spark, wh):
    """Spark appends (INT96 ``ingestion_date``) plus pyarrow files, one of
    them first in sorted order, so the dataset takes its schema from a
    pyarrow file and the Spark files' timestamps never match it."""
    name = "bronze_probe_mixed"
    wh.create_if_not_exists(name, mitma.BRONZE_SCHEMA)
    wh.append(name, bronze_day(spark, "20230102"))
    wh.append(name, bronze_day(spark, "20230103", n=2))
    spark_day = pq.read_table(wh.path(name), filters=[("date", "=", "20230102")])
    history = utc_micros(spark_day)
    for file, date in (("history-00000.snappy.parquet", "20221230"),
                       ("part-history-00000.snappy.parquet", "20221231")):
        dated = history.set_column(history.schema.get_field_index("date"), "date",
                                   pa.array([date] * history.num_rows))
        pq.write_table(dated, os.path.join(wh.path(name), file))
    dataset_ts = pads.dataset(wh.path(name)).schema.field("ingestion_date").type
    assert dataset_ts == pa.timestamp("us", tz="UTC") != spark_day.schema.field("ingestion_date").type
    counts = [
        (wh.count_where(name, pads.field("date") == d), wh.read(name).filter(F.col("date") == d).count())
        for d in ("20221230", "20221231", "20230102", "20230103", "20230104")
    ]
    assert counts == [(3, 3), (3, 3), (3, 3), (2, 2), (0, 0)]


def test_count_where_on_date_partitioned_silver(spark, wh):
    """Hive discovery reads ``date=2023-01-02`` as text."""
    rows = [(datetime.date(2023, 1, d), h, "A", "B", 1.0, 1) for d in (2, 3) for h in range(d)]
    wh.create_or_replace("silver_probe", spark.createDataFrame(rows, mitma.SILVER_SCHEMA), partition_by=["date"])
    wh.replace_partition(
        "silver_probe", spark.createDataFrame(rows[:1], mitma.SILVER_SCHEMA).withColumn(
            "date", F.lit(datetime.date(2023, 1, 4))), "date")
    silver = wh.read("silver_probe")
    counts = [
        (wh.count_where("silver_probe", pads.field("date") == d.isoformat()),
         silver.filter(F.col("date") == d).count())
        for d in (datetime.date(2023, 1, day) for day in (1, 2, 3, 4))
    ]
    assert counts == [(0, 0), (2, 2), (3, 3), (1, 1)]


@pytest.mark.parametrize(
    "table, column, value",
    [
        (mitma.BRONZE_TABLE, "date", "20230102"),
        (mitma.LEDGER_TABLE, "file_date", "20230102"),
        (mitma.SILVER_TABLE, "date", "2023-01-02"),
    ],
)
def test_count_where_on_empty_bootstrap_tables(spark, boot, table, column, value):
    """Flat bootstrap tables hold one empty file; the partitioned silver
    holds only ``_SUCCESS``, so Spark needs the schema given to read it."""
    schema = {mitma.SILVER_TABLE: mitma.SILVER_SCHEMA}.get(table)
    df = boot.read(table) if schema is None else spark.read.schema(schema).parquet(boot.path(table))
    assert df.filter(F.col(column) == value).count() == 0
    assert boot.count_where(table, pads.field(column) == value) == 0


def test_count_where_skips_a_crashed_writes_temporary_dir(spark, wh):
    name = "bronze_probe_temporary"
    wh.append(name, bronze_day(spark, "20230105"))
    leftover = os.path.join(wh.path(name), "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(leftover)
    pq.write_table(pq.read_table(wh.path(name)), os.path.join(leftover, "part-00000.snappy.parquet"))
    probe = pads.field("date") == "20230105"
    assert wh.count_where(name, probe) == wh.read(name).filter(F.col("date") == "20230105").count() == 3


def test_count_where_holidays_year_range(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    mitma.ensure_tables(wh)
    mitma.ingest_holidays(wh, [2023, 2024])
    holidays = wh.read(mitma.HOLIDAYS_TABLE)
    date = pads.field("date")
    counts = [
        (wh.count_where(mitma.HOLIDAYS_TABLE,
                        (date >= datetime.date(y, 1, 1)) & (date <= datetime.date(y, 12, 31))),
         holidays.filter(F.year("date") == y).count())
        for y in (2022, 2023, 2024)
    ]
    assert counts[0] == (0, 0) and all(a == b > 0 for a, b in counts[1:])
    mitma.ingest_holidays(wh, [2023])  # present: appends nothing
    assert wh.read(mitma.HOLIDAYS_TABLE).count() == holidays.count()


def test_pyarrow_partitioned_table_survives_create_if_not_exists(spark, tmp_path):
    """A ``year=``-partitioned table with neither ``_SUCCESS`` nor a flat
    file, as pyarrow writes it, is a table: the bootstrap keeps its rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = pa.table({"code": ["01001", "01002", "01003"], "year": pa.array([2023, 2023, 2024], pa.int32())})
    pq.write_to_dataset(rows, wh.path("arrow_by_year"), partition_cols=["year"])
    assert wh.table_exists("arrow_by_year")
    wh.create_if_not_exists("arrow_by_year", T.StructType(
        [T.StructField("code", T.StringType()), T.StructField("year", T.IntegerType())]), ["year"])
    assert wh.count_where("arrow_by_year", pads.field("year") == 2023) == 2
    assert wh.read("arrow_by_year").filter(F.col("year") == 2023).count() == 2
