"""End-to-end pipeline tests over deterministic fixtures (FIXTURES.md):
bronze→silver→gold MITMA, economy/population silvers, geometry layer,
gravity (BQ2) and long-trip (BQ3) golds — plus the reference's QA
invariant suite (SURVEY §5)."""

from __future__ import annotations

import shutil

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

import fixtures as fx
from lakehouse_spain_mobility_spark.catalog import Warehouse
from lakehouse_spain_mobility_spark.operators import spatial
from lakehouse_spain_mobility_spark.pipelines import (
    economy,
    geometry,
    gravity_bq,
    mitma,
    orchestrate,
    population,
)
from lakehouse_spain_mobility_spark.sources.csv import read_csv_inferred

from conftest import jobs_launched

JOB_BUDGET_BQ2_BQ3 = 19
# A day's Spark jobs: the bronze and ingest-ledger appends, the silver
# partition write (two jobs), the run-ledger append and the run-ledger
# lookup (``orchestrate.last_status``). The idempotency probes launch none.
JOB_BUDGET_DAY = 6


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """A warehouse with the full fixture lakehouse loaded once."""
    root = str(tmp_path_factory.mktemp("warehouse"))
    wh = Warehouse(spark, root)

    # --- MITMA medallion ---------------------------------------------------
    daily = {
        date: spark.createDataFrame(rows, mitma.BRONZE_COLUMNS)
        for date, rows in fx.mitma_bronze_rows().items()
    }
    mitma.run_pipeline(spark, wh, daily)

    # --- economy / population silvers (via real CSV files) ------------------
    eco_csv = tmp_path_factory.mktemp("csv") / "economy.csv"
    eco_csv.write_text("\n".join(fx.economy_csv_rows()), encoding="utf-8")
    economy.ingest_bronze(wh, read_csv_inferred(spark, str(eco_csv)), fx.YEAR)
    economy.silver_transform(wh, fx.YEAR)

    pop_csv = tmp_path_factory.mktemp("csv2") / "population.csv"
    pop_csv.write_text("\n".join(fx.population_csv_rows()), encoding="utf-8")
    population.ingest_bronze(wh, read_csv_inferred(spark, str(pop_csv)), fx.YEAR)
    population.silver_transform(wh, fx.YEAR)

    # --- geometry (already-WGS84 fixture polygons) ---------------------------
    shapes = spark.createDataFrame(fx.geometry_rows(), fx.GEOMETRY_COLUMNS)
    geometry.ingest_bronze(wh, shapes, fx.YEAR)
    geometry.silver_transform(wh, fx.YEAR, already_wgs84=True)
    region = fx.square_wkt(fx.GRID_ORIGIN[0] - 0.01, fx.GRID_ORIGIN[1] - 0.01, 0.6)
    geometry.extract_gold_region(wh, region, fx.YEAR, predicate="intersects")
    return wh


def test_silver_mitma_schema_and_cleaning(wh):
    silver = wh.read(mitma.SILVER_TABLE)
    assert [f.name for f in silver.schema.fields[:6]] == [
        "hour_period", "origin_zone", "destination_zone", "trips", "day_type", "date",
    ] or "date" in silver.columns
    # QA invariants (SURVEY §5): no NULL keys, no cross-border zones, no
    # _AM/_AD suffixes, day_type domain
    assert silver.filter(F.col("trips").isNull() | F.col("hour_period").isNull()).count() == 0
    assert silver.filter(F.col("origin_zone").rlike("^(PT|FR)") | (F.col("origin_zone") == "externo")).count() == 0
    assert silver.filter(F.col("origin_zone").contains("_AM") | F.col("destination_zone").contains("_AD")).count() == 0
    day_types = {r[0] for r in silver.select("day_type").distinct().collect()}
    assert day_types <= {0, 1, 2, 5, 6, 8}
    # 14 fixture dates all present
    assert silver.select("date").distinct().count() == len(fx.DATES)


def test_silver_mitma_idempotent_rerun(wh):
    before = wh.read(mitma.SILVER_TABLE).count()
    mitma.silver_transform(wh, fx.DATES[0])  # re-run one date
    assert wh.read(mitma.SILVER_TABLE).count() == before


def test_bronze_ingest_ledger_skips_reread(wh, spark):
    """Ledger idempotency (dags/mitma/bronze_mitma.py:38-47): a double-run
    appends nothing AND never evaluates the raw frame — the skip decision
    comes from the ledger probe, not a re-read of the file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ledger = wh.read(mitma.LEDGER_TABLE)
    assert ledger.filter(F.col("status") == "ingested").count() == len(fx.DATES)
    row = ledger.filter(F.col("file_date") == fx.DATES[0]).collect()[0]
    bronze_n = wh.count_where(mitma.BRONZE_TABLE, pads.field("date") == fx.DATES[0])
    assert row["n_rows"] == bronze_n and row["n_rows"] > 0

    @F.udf(T.StringType())
    def explode_on_eval():
        raise RuntimeError("raw frame was evaluated on a skipped re-ingest")

    poisoned = spark.range(1).select(
        *[explode_on_eval().alias(c) for c in mitma.BRONZE_COLUMNS]
    )
    before = wh.read(mitma.BRONZE_TABLE).count()
    assert mitma.ingest_bronze(wh, poisoned, fx.DATES[0]) is False  # skipped
    assert wh.read(mitma.BRONZE_TABLE).count() == before  # zero duplicate appends
    assert wh.read(mitma.LEDGER_TABLE).count() == len(fx.DATES)  # no dup ledger row


def test_gold_typical_day_outlier_rejection(wh):
    gold = wh.read(mitma.GOLD_TABLE)
    # natural key unique (FIXTURES §4)
    keys = ["day_type", "hour_period", "origin_zone", "destination_zone"]
    assert gold.groupBy(*keys).count().filter("count > 1").count() == 0
    assert gold.filter(F.col("std_trips").isNull()).count() == 0  # σ=0 convention
    # the injected 100000.0 outlier must not dominate: every avg stays near
    # the 50-60 fixture band
    assert gold.agg(F.max("avg_trips")).first()[0] < 1000


def test_economy_silver_invariants(wh):
    eco = wh.read(economy.SILVER_TABLE)
    assert eco.count() == 18  # 9 munis × 2 sections
    assert eco.filter(F.col("avg_income") < 0).count() == 0
    assert eco.filter(~F.col("section_code").startswith(F.col("district_code").substr(1, 7))).count() == 0
    dupes = eco.groupBy("municipality_code", "district_code", "section_code", "year").count()
    assert dupes.filter("count > 1").count() == 0
    # Spanish-locale decimal parsed: incomes in the 8.000-41.000 band
    lo, hi = eco.agg(F.min("avg_income"), F.max("avg_income")).first()
    assert 8000 <= lo <= hi <= 41000


def test_population_silver_invariants(wh):
    pop = wh.read(population.SILVER_TABLE)
    assert pop.count() == 9
    assert pop.filter(F.col("population") <= 0).count() == 0
    assert pop.groupBy("municipality_code", "year").count().filter("count > 1").count() == 0


def test_geometry_silver_and_gold(wh):
    silver = wh.read(geometry.SILVER_TABLE)
    assert silver.count() == 18
    # centroid inside its cell (FIXTURES §7 constraint)
    bad = silver.filter(
        (F.col("centroid_lon") < fx.GRID_ORIGIN[0]) | (F.col("centroid_lat") < fx.GRID_ORIGIN[1])
    )
    assert bad.count() == 0
    gold = wh.read(geometry.GOLD_TABLE)
    assert gold.count() == 18  # whole grid intersects the region


def test_gravity_pipeline_bq2(wh):
    analysis, ranking = gravity_bq.run_gravity_pipeline(wh, fx.YEAR)
    assert analysis.count() > 0
    assert ranking.count() > 0
    assert set(ranking.columns) >= {
        "origin_code", "avg_mismatch_ratio", "origin_population", "infrastructure_status",
    }
    statuses = {r[0] for r in ranking.select("infrastructure_status").distinct().collect()}
    assert statuses <= {"INFRASTRUCTURE_DEFICIT", "INFRASTRUCTURE_SURPLUS", "ADEQUATE"}
    # k calibration sanity: predicted trips positive where distance known
    assert analysis.filter(F.col("predicted_trips") <= 0).count() == 0


def test_long_trip_pipeline_bq3(wh):
    out = gravity_bq.run_long_trip_pipeline(wh, long_km=15.0)
    assert out.count() > 0
    # long + short must not exceed known; ratio in [0,1]
    bad = out.filter(
        (F.col("long_trips") > F.col("known_distance_trips"))
        | (F.col("long_trip_ratio") < 0)
        | (F.col("long_trip_ratio") > 1)
    )
    assert bad.count() == 0
    # the 15 km cutoff discriminates (FIXTURES §8): both classes present
    assert out.filter(F.col("long_trips") > 0).count() > 0
    assert out.filter(F.col("long_trips") < F.col("known_distance_trips")).count() > 0


def test_municipality_centroids_are_sequential_kernel_sums(wh):
    """ST_Centroid(ST_Union_Agg) per municipality equals the area-weighted
    mean of ``geom_centroid`` with |ring-0 area| weights, summed in row
    order, to the bit; on the fixture grid it is each cell's analytic
    centroid (two half-cell squares side by side)."""
    sums: dict[str, list[float]] = {}
    for r in wh.read(geometry.GOLD_TABLE).collect():
        w = abs(spatial.ring_area_centroid(spatial.parse_polygon_rings(r["geometry"])[0])[0])
        lon, lat = spatial.geom_centroid(r["geometry"])
        s = sums.setdefault(r["municipality_id"], [0.0, 0.0, 0.0])
        s[0] += lon * w
        s[1] += lat * w
        s[2] += w
    expected = {m: (sx / sw, sy / sw) for m, (sx, sy, sw) in sums.items()}
    got = {r["code"]: (r["lon"], r["lat"]) for r in geometry.municipality_centroids(wh).collect()}
    assert got == expected
    for i, muni in enumerate(fx.MUNI_CODES):
        lon, lat = fx.muni_cell(i)
        assert abs(got[muni][0] - (lon + fx.CELL_DEG / 2)) < 1e-9
        assert abs(got[muni][1] - (lat + fx.CELL_DEG / 4)) < 1e-9


def test_zero_area_municipality_gets_null_centroid(wh, spark, tmp_path):
    """A municipality whose sections have zero total area has no centroid
    (a Spark division by that zero raises DIVIDE_BY_ZERO under ANSI): BQ2
    and BQ3 still complete, and BQ3 reports that origin as UNKNOWN."""
    shutil.copytree(wh.root, tmp_path / "wh")
    degenerate = Warehouse(spark, str(tmp_path / "wh"))
    muni = fx.MUNI_CODES[0]
    rows = [r.asDict() for r in degenerate.read(geometry.GOLD_TABLE).collect()]
    for r in rows:
        if r["municipality_id"] == muni:
            x, y = spatial.parse_polygon_rings(r["geometry"])[0][0]
            r["geometry"] = f"POLYGON (({x} {y}, {x} {y}, {x} {y}, {x} {y}))"
    degenerate.create_or_replace(
        geometry.GOLD_TABLE, spark.createDataFrame(rows, geometry.SILVER_SCHEMA)
    )
    centroids = {r["code"]: r for r in geometry.municipality_centroids(degenerate).collect()}
    assert centroids[muni]["lon"] is None and centroids[muni]["lat"] is None
    assert all(r["lon"] is not None for c, r in centroids.items() if c != muni)

    analysis, _ = gravity_bq.run_gravity_pipeline(degenerate, fx.YEAR)
    assert analysis.filter((F.col("origin_code") == muni) | (F.col("dest_code") == muni)).count() == 0
    levels = {
        r["origin_code"]: r["dependency_level"]
        for r in gravity_bq.run_long_trip_pipeline(degenerate).collect()
    }
    assert levels[muni] == "UNKNOWN"
    assert all(level != "UNKNOWN" for m, level in levels.items() if m != muni)


def test_bq2_bq3_job_budget(wh, spark):
    """The BQ2 + BQ3 refresh at fixture scale stays within its Spark job
    budget: 19, what it launched when the centroids were pandas UDFs. The
    driver-side centroids cost one collect per pipeline and add none."""
    n = jobs_launched(
        spark,
        lambda: (
            gravity_bq.run_gravity_pipeline(wh, fx.YEAR),
            gravity_bq.run_long_trip_pipeline(wh),
        ),
    )
    assert n <= JOB_BUDGET_BQ2_BQ3, n


def test_day_job_budget(spark, tmp_path):
    """One fixture day through ``orchestrate.backfill``, on a warehouse
    that already holds a day of bronze and silver, stays within its Spark
    job budget: the idempotency probes (ledger, both bronze probes, the
    silver gate and count) are answered from Parquet metadata on the
    driver."""
    day_wh = Warehouse(spark, str(tmp_path / "wh"))
    mitma.ensure_tables(day_wh)
    mitma.ingest_holidays(day_wh, [fx.YEAR])
    rows = fx.mitma_bronze_rows()

    def ingest(date):
        mitma.ingest_bronze(day_wh, spark.createDataFrame(rows[date], mitma.BRONZE_COLUMNS), date)
        return mitma.silver_transform(day_wh, date)

    first, second = fx.DATES[:2]
    assert orchestrate.backfill(day_wh, "mitma_daily", [first], ingest) == {first: "success"}
    statuses = []
    n = jobs_launched(
        spark, lambda: statuses.append(orchestrate.backfill(day_wh, "mitma_daily", [second], ingest))
    )
    assert statuses == [{second: "success"}]
    assert n <= JOB_BUDGET_DAY, n
    iso = f"{second[:4]}-{second[4:6]}-{second[6:]}"
    assert day_wh.count_where(mitma.SILVER_TABLE, pads.field("date") == iso) > 0


def test_silver_partition_pruning(wh):
    """silver is partitioned by date (the DELETE+INSERT unit): a date
    filter must prune partitions at the scan, not post-filter."""
    from lakehouse_spain_mobility_spark.plans import inspect as pi

    df = wh.read(mitma.SILVER_TABLE).filter(F.col("date") == fx.DATES[0][:4] + "-02-01")
    plan = pi.executed_plan(df)
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "date" in pf, plan


def test_update_where_null_repair(wh, spark):
    """K5: UPDATE ... SET std_trips = 0 WHERE std_trips IS NULL
    (dags/mitma/gold_mitma.py:103-107)."""
    df = spark.createDataFrame([(1, None), (2, 5.0)], "id int, std_trips double")
    wh.create_or_replace("tmp_update_test", df)
    wh.update_where("tmp_update_test", F.col("std_trips").isNull(), {"std_trips": F.lit(0.0)})
    fixed = wh.read("tmp_update_test")
    assert fixed.filter(F.col("std_trips").isNull()).count() == 0
    wh.drop_if_exists("tmp_update_test")


def test_section_extraction_battery(wh):
    """Port of the reference's Valencia extraction verification
    (dags/section_extraction/test_section_extraction.py): per-district
    counts, retained percentage, bounds containment."""
    counts = geometry.district_section_counts(wh)
    rows = counts.collect()
    assert len(rows) == 9 and all(r["n_sections"] == 2 for r in rows)
    summary = geometry.extraction_summary(wh, fx.YEAR)
    assert summary["n_silver"] == summary["n_gold"] == 18
    assert summary["retained_pct"] == 100.0
    sxmin, symin, sxmax, symax = summary["silver_bbox"]
    gxmin, gymin, gxmax, gymax = summary["gold_bbox"]
    assert sxmin <= gxmin and sxmax >= gxmax and symin <= gymin and symax >= gymax


def test_orchestration_retries_and_backfill(spark, tmp_path):
    """Airflow-analog bookkeeping (dags/mitma/mitma_task_DAG.py:153-157 —
    retries + mapped-task backfill at max_active_tasks=1): a task that
    fails twice succeeds on the third attempt with every attempt in the
    run ledger; a backfill isolates a permanently-failing key, and a
    re-run skips succeeded keys without re-executing them."""
    from lakehouse_spain_mobility_spark.catalog import Warehouse
    from lakehouse_spain_mobility_spark.pipelines.orchestrate import (
        RUN_LEDGER,
        backfill,
        last_status,
        run_with_retries,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError(f"boom {calls['n']}")
        return "done"

    ok, result = run_with_retries(wh, "ingest", "2024-03-01", flaky, max_retries=2)
    assert ok and result == "done" and calls["n"] == 3
    rows = sorted(
        (r["attempt"], r["status"]) for r in wh.read(RUN_LEDGER).collect()
    )
    assert rows == [(1, "retrying"), (2, "retrying"), (3, "success")]
    assert last_status(wh, "ingest", "2024-03-01") == "success"

    ran = []

    def task(key):
        ran.append(key)
        if key == "d2":
            raise ValueError("poison file")
        return key

    statuses = backfill(wh, "daily", ["d1", "d2", "d3"], task, max_retries=1)
    assert statuses == {"d1": "success", "d2": "failed", "d3": "success"}
    assert ran.count("d2") == 2  # 1 + max_retries attempts
    # re-run: succeeded keys skip WITHOUT re-executing; failed key retries
    ran.clear()
    statuses2 = backfill(wh, "daily", ["d1", "d2", "d3"], task, max_retries=0)
    assert statuses2 == {"d1": "skipped", "d2": "failed", "d3": "skipped"}
    assert ran == ["d2"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        backfill(wh, "daily", ["d1"], task, max_active_tasks=4)

    # fail-then-SUCCEED across runs: the key that failed above (ledger holds
    # rows up to attempt 2 'failed') is cured; a later sweep must see the
    # attempt-1 'success' as latest (ts-ordered — attempt numbers reset per
    # run, so attempt-ordering replayed the stale failure) and skip the key
    # on every subsequent sweep instead of re-executing it forever.
    ran.clear()
    statuses3 = backfill(wh, "daily", ["d1", "d2", "d3"], lambda k: k, max_retries=0)
    assert statuses3 == {"d1": "skipped", "d2": "success", "d3": "skipped"}
    assert last_status(wh, "daily", "d2") == "success"
    statuses4 = backfill(wh, "daily", ["d2"], task, max_retries=0)
    assert statuses4 == {"d2": "skipped"}
    assert ran == []  # cured key never re-executed the (poison) task


def test_report_rollup_gold_matches_end_to_end(spark):
    """The read-from-gold report (VERDICT r9 #1) must be bit-identical to
    the end-to-end recompute form — parquet round-trips the gold exactly —
    and the materialization must be built once per (process, sf_dir):
    the second build serves the stored table."""
    import os

    from lakehouse_spain_mobility_spark.queries.core import (
        materialized_gold,
        q_report_rollup,
        q_report_rollup_gold,
    )

    sf = "/root/testdata/sf0.001"
    e2e = q_report_rollup(spark, sf).collect()
    gold = q_report_rollup_gold(spark, sf).collect()
    assert [tuple(r) for r in e2e] == [tuple(r) for r in gold]

    # cache idempotence: the backing files are not rewritten on re-read
    df1 = materialized_gold(spark, sf)
    path = df1.inputFiles()[0]
    local = path.replace("file:", "")
    mtime1 = os.stat(local).st_mtime_ns
    materialized_gold(spark, sf).collect()
    assert os.stat(local).st_mtime_ns == mtime1
