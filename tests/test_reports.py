"""Report/visualization edge tests over the fixture warehouse."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import fixtures as fx
from lakehouse_spain_mobility_spark.catalog import Warehouse
from lakehouse_spain_mobility_spark.pipelines import geometry, gravity_bq, mitma, reports
from lakehouse_spain_mobility_spark.pipelines import economy, population
from lakehouse_spain_mobility_spark.sources.csv import read_csv_inferred


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh_reports"))
    wh = Warehouse(spark, root)
    daily = {
        d: spark.createDataFrame(rows, mitma.BRONZE_COLUMNS)
        for d, rows in fx.mitma_bronze_rows().items()
    }
    mitma.run_pipeline(spark, wh, daily)
    shapes = spark.createDataFrame(fx.geometry_rows(), fx.GEOMETRY_COLUMNS)
    geometry.ingest_bronze(wh, shapes, fx.YEAR)
    geometry.silver_transform(wh, fx.YEAR, already_wgs84=True)
    region = fx.square_wkt(fx.GRID_ORIGIN[0] - 0.01, fx.GRID_ORIGIN[1] - 0.01, 0.6)
    geometry.extract_gold_region(wh, region, fx.YEAR)
    eco_csv = tmp_path_factory.mktemp("csv") / "economy.csv"
    eco_csv.write_text("\n".join(fx.economy_csv_rows()), encoding="utf-8")
    economy.ingest_bronze(wh, read_csv_inferred(spark, str(eco_csv)), fx.YEAR)
    economy.silver_transform(wh, fx.YEAR)
    pop_csv = tmp_path_factory.mktemp("csv2") / "population.csv"
    pop_csv.write_text("\n".join(fx.population_csv_rows()), encoding="utf-8")
    population.ingest_bronze(wh, read_csv_inferred(spark, str(pop_csv)), fx.YEAR)
    population.silver_transform(wh, fx.YEAR)
    gravity_bq.run_gravity_pipeline(wh, fx.YEAR)
    return wh


def test_district_report_artifacts(wh, tmp_path):
    district = fx.MUNI_CODES[0] + "01"
    arts = reports.generate_district_report(wh, district, str(tmp_path))
    assert os.path.exists(arts["csv"]) and os.path.exists(arts["markdown"])
    md = open(arts["markdown"], encoding="utf-8").read()
    assert district in md and "peak hour" in md
    # zone ids are section ids (district prefix) → the OR-join must match
    csv = open(arts["csv"], encoding="utf-8").read().strip().splitlines()
    assert len(csv) > 1, "report frame empty — disjunctive join matched nothing"
    # K9: the PDF artifact is always produced (vendored writer) and is a
    # structurally valid PDF: header, xref, trailer, EOF
    pdf_bytes = open(arts["pdf"], "rb").read()
    assert pdf_bytes.startswith(b"%PDF-1.4")
    assert b"xref" in pdf_bytes and b"%%EOF" in pdf_bytes
    assert district.encode() in pdf_bytes or b"Mobility report" in pdf_bytes


def test_district_report_artifact_store_roundtrip(wh, tmp_path):
    """K9 upload step (dags/mitma/generate_report.py:67-88): artifacts are
    pushed to the injected store under district-scoped keys, and the
    S3-shaped store issues the boto3 calling convention."""
    from lakehouse_spain_mobility_spark.pipelines.artifacts import (
        LocalArtifactStore,
        S3ArtifactStore,
    )

    district = fx.MUNI_CODES[0] + "01"
    store = LocalArtifactStore(str(tmp_path / "bucket"))
    arts = reports.generate_district_report(wh, district, str(tmp_path / "w"), store=store)
    for kind in ("csv", "markdown", "pdf"):
        uri = arts[f"{kind}_uri"]
        assert uri.startswith("file://")
        key = f"{district}/{os.path.basename(arts[kind])}"
        assert store.get_bytes(key) == open(arts[kind], "rb").read()

    calls = []

    class FakeClient:
        def upload_file(self, path, bucket, key):
            calls.append((path, bucket, key))

    s3 = S3ArtifactStore("my-bucket", client_factory=FakeClient)
    uri = s3.put(arts["pdf"], "k/report.pdf")
    assert uri == "s3://my-bucket/reports/k/report.pdf"
    assert calls == [(arts["pdf"], "my-bucket", "reports/k/report.pdf")]


# The reference report query, VERBATIM shape
# (dags/bussiness_layer/generate_report.py:111-129): disjunctive
# census-section-OR-district join, district IN-scope, per-(day_type, hour)
# rollup. Run by DuckDB over the SAME fixture gold tables the pipeline
# reads — the content-parity oracle for K9 (VERDICT r7 #7).
_REF_REPORT_SQL = """
    SELECT
        g.day_type,
        g.hour_period,
        SUM(g.total_trips) AS total_trips,
        AVG(g.total_trips) AS avg_trips,
        STDDEV_SAMP(g.total_trips) AS std_trips,
        AVG(g.num_days_observed) AS num_days_observed
    FROM g_tbl g
    JOIN geo_tbl geo
      ON (geo.census_section_id = g.origin_zone
          OR geo.district_id = g.origin_zone)
    WHERE geo.district_id IN (?)
    GROUP BY g.day_type, g.hour_period
    ORDER BY g.day_type, g.hour_period
"""


def test_report_content_matches_reference_query(wh, tmp_path):
    """Same data → same table values (VERDICT r7 #7): the CSV the pipeline
    writes must equal, value for value, what the reference's own SQL
    (dags/bussiness_layer/generate_report.py:111-129) computes over the
    same gold tables; the PDF/markdown must carry the reference figure's
    per-day_type sections (dags/mitma/generate_report.py:107-160: one
    section per unique day_type, two series — total and average — plus
    peak-hour/total-volume stats) with matching values and day names."""
    import duckdb
    import pandas as pd

    district = fx.MUNI_CODES[0] + "01"
    arts = reports.generate_district_report(wh, district, str(tmp_path))

    con = duckdb.connect()
    con.register("g_tbl", wh.read("gold_typical_day_patterns").toPandas())
    con.register("geo_tbl", wh.read("gold_geometry_wgs84").toPandas())
    want = con.execute(_REF_REPORT_SQL, [district]).fetch_df()
    con.close()
    assert not want.empty, "reference query empty — fixture mismatch"

    got = pd.read_csv(arts["csv"]).sort_values(["day_type", "hour_period"])
    assert len(got) == len(want)
    for ours, ref in (
        ("day_type", "day_type"),
        ("hour_period", "hour_period"),
        ("total_trips", "total_trips"),
        ("avg_trips", "avg_trips"),
        ("std_trips", "std_trips"),
        ("avg_days_observed", "num_days_observed"),
    ):
        assert got[ours].astype(float).values == pytest.approx(
            want[ref].astype(float).values, rel=1e-9, abs=1e-9
        ), ours

    # figure parity: one section per unique day_type, reference day names
    # (get_day_type_name, dags/mitma/generate_report.py:10-15), and the
    # reference's text stats (peak hour via idxmax, daily total via sum)
    ref_names = {0: "Sunday", 1: "Monday", 2: "Tue-Thu", 5: "Friday", 6: "Saturday", 8: "Holiday"}
    md = open(arts["markdown"], encoding="utf-8").read()
    pdf_bytes = open(arts["pdf"], "rb").read()
    day_rows = [l for l in md.splitlines() if l.startswith("|") and "day type" not in l and "---" not in l]
    assert len(day_rows) == want["day_type"].nunique()
    for dt, day_data in want.groupby("day_type"):
        label = ref_names[int(dt)]
        row = [l for l in day_rows if f"| {label} |" in l]
        assert len(row) == 1, (label, day_rows)
        peak = day_data.loc[day_data["total_trips"].idxmax()]
        assert f"{int(peak['hour_period']):02d}:00" in row[0]
        assert f"{peak['total_trips']:.1f}" in row[0]
        assert f"{day_data['total_trips'].sum():.1f}" in row[0]
        assert label.encode() in pdf_bytes  # each section renders in the PDF
    # both series of the reference's two panels are present per hour row
    assert {"total_trips", "avg_trips"} <= set(got.columns)


def test_district_report_optional_year_probe(wh, tmp_path):
    district = fx.MUNI_CODES[0] + "01"
    frame_with_year = reports.district_report_frame(wh, district, year=fx.YEAR)
    frame_wrong_year = reports.district_report_frame(wh, district, year=1999)
    assert frame_with_year.count() > 0
    assert frame_wrong_year.count() == 0


def test_ranking_map_html(wh, tmp_path):
    out = reports.ranking_map_html(wh, str(tmp_path / "map.html"))
    html = open(out, encoding="utf-8").read()
    assert "FeatureCollection" in html and "leaflet" in html.lower()
    payload = html.split("var data = ", 1)[1].split(";\nvar map", 1)[0]
    gj = json.loads(payload)
    assert len(gj["features"]) > 0
    assert all(f["geometry"]["coordinates"][0] for f in gj["features"])


def test_kepler_map_html(wh, tmp_path):
    """K9 Kepler parity: the artifact carries kepler.gl's documented
    export shape — CDN bundle, addDataToMap payload with typed fields +
    rows (geometry as _geojson), and a v1 map config."""
    out = reports.kepler_map_html(wh, str(tmp_path / "infrastructure_map.html"))
    html = open(out, encoding="utf-8").read()
    assert "kepler.gl" in html and "addDataToMap" in html
    payload = json.loads(
        html.split('id="kepler-payload">', 1)[1].split("</script>", 1)[0]
    )
    ds = payload["datasets"][0]
    assert ds["info"]["id"] == "infrastructure"
    names = [f["name"] for f in ds["data"]["fields"]]
    assert names == [
        "_geojson", "municipality_id", "avg_mismatch_ratio",
        "n_destinations", "infrastructure_status",
    ]
    assert len(ds["data"]["rows"]) > 0
    for row in ds["data"]["rows"]:
        assert len(row) == len(names)
        geom = json.loads(row[0])
        assert geom["type"] == "Polygon" and geom["coordinates"][0]
    cfg = payload["config"]
    assert cfg["version"] == "v1"
    layer = cfg["config"]["visState"]["layers"][0]
    assert layer["type"] == "geojson"
    assert layer["config"]["columns"]["geojson"] == "_geojson"


def test_schema_dump(wh, tmp_path):
    out = reports.dump_schemas_csv(wh, str(tmp_path / "schemas.csv"))
    lines = open(out, encoding="utf-8").read().strip().splitlines()
    assert lines[0] == "table,column,type"
    tables = {l.split(",")[0] for l in lines[1:]}
    assert "gold_typical_day_patterns" in tables and "silver_mobility_trips" in tables


def test_schema_dump_skips_snapshot_stores(spark, tmp_path):
    """A snapshot store (``<name>__snapshots``) next to a plain table is not
    a table: ``list_tables`` leaves it out and the dump reads only the
    table (reading the store failed with UNABLE_TO_INFER_SCHEMA)."""
    from lakehouse_spain_mobility_spark.catalog import snapshot_replace

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_or_replace("plain", spark.range(0, 3))
    snapshot_replace(wh, "gold_snap", spark.range(0, 2))
    assert wh.list_tables() == ["plain"]
    out = reports.dump_schemas_csv(wh, str(tmp_path / "schemas.csv"))
    lines = open(out, encoding="utf-8").read().strip().splitlines()
    assert lines == ["table,column,type", "plain,id,bigint"]


def test_bq1_all_districts_enumeration(wh, tmp_path):
    """The EP3/BQ1 loop produces one report per distinct district."""
    arts = reports.run_bq1_all_districts(wh, str(tmp_path / "bq1"))
    assert len(arts) == 9  # one per fixture municipality's district
    assert all(os.path.exists(a["csv"]) and os.path.exists(a["markdown"]) for a in arts.values())


def test_s3_artifact_store_moto_roundtrip(tmp_path):
    """The S3-shaped artifact sink against a REAL (moto-mocked) S3: the
    boto3 calling convention the reference uses
    (dags/mitma/generate_report.py:67-88) must round-trip bytes and return
    the s3:// URI — no injected fakes, the actual client API."""
    import boto3
    from moto import mock_aws

    from lakehouse_spain_mobility_spark.pipelines.artifacts import S3ArtifactStore

    src = tmp_path / "report.pdf"
    src.write_bytes(b"%PDF-1.4 fake-bytes")
    with mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="reports-bucket")
        store = S3ArtifactStore("reports-bucket", prefix="mitma/",
                                client_factory=lambda: client)
        uri = store.put(str(src), "2024/03/report.pdf")
        assert uri == "s3://reports-bucket/mitma/2024/03/report.pdf"
        body = client.get_object(
            Bucket="reports-bucket", Key="mitma/2024/03/report.pdf"
        )["Body"].read()
        assert body == b"%PDF-1.4 fake-bytes"
