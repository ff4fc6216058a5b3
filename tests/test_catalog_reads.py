"""Warehouse reads take the schema from one Parquet footer.

``Warehouse.read`` must give the schema ``spark.read.parquet`` infers,
for every kind of table the daily cycle keeps, while launching no Spark
job of its own; the probes built on it launch only the job that computes
their answer.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

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
    day = pq.read_table(wh.path(name))
    day = day.cast(pa.schema([
        f.with_type(pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
        for f in day.schema
    ]))
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


def test_count_where_launches_only_the_count(spark, wh):
    """The probe's jobs are its count's (a count is two jobs under
    adaptive execution: the partial aggregate's stage, then the result),
    one fewer than a count over an inferred read."""
    wh.append(mitma.BRONZE_TABLE, bronze_day(spark, "20230109"))
    pred = F.col("date") == "20230109"
    path = wh.path(mitma.BRONZE_TABLE)
    df = wh.read(mitma.BRONZE_TABLE)
    count_alone = jobs_launched(spark, lambda: df.filter(pred).count())
    counted = []
    probe = jobs_launched(spark, lambda: counted.append(wh.count_where(mitma.BRONZE_TABLE, pred)))
    inferred = jobs_launched(spark, lambda: spark.read.parquet(path).filter(pred).count())
    assert counted == [3]
    assert probe == count_alone and inferred == count_alone + 1


def test_last_status_launches_one_job(spark, wh):
    orchestrate.run_with_retries(wh, "probe", "k1", lambda: None)
    statuses = []
    assert jobs_launched(
        spark, lambda: statuses.append(orchestrate.last_status(wh, "probe", "k1"))
    ) == 1
    assert statuses == ["success"]
