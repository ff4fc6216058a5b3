"""Seeded MITMA-style input generator with ground truth.

Scales up the shapes of ``tests/fixtures.py`` (FIXTURES.md §1, §5, §7):
a grid of municipalities with two census sections each, all 24 hours,
twelve demographic splits per (hour, origin, destination), and days taken
from the week of Monday 2023-08-14 in an order that reaches a new
``day_type`` with every day added: the 15 August national holiday first,
every ``day_type`` by the sixth day. Every day carries the FIXTURES §1
dirt: ``_AM``/``_AD`` zone suffixes, PT/FR/``externo`` rows, malformed
date, hour and trips values. Each day type gets injected extreme
outliers, which the 3-sigma gold filter must reject.

Next to the daily CSVs it returns the rows of the dimension tables the
gold refresh joins (INE income per census section, population per
municipality, section polygons in WGS84 with their centroids), which the
benchmark writes straight into the warehouse.

The generator records what a correct pipeline must produce: valid rows
per day, the gold key set, the outlier keys, and the areas each report
request names. Inputs depend only on the arguments, never on the clock.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass, field

YEAR = 2023
FIRST_DAY = datetime.date(2023, 8, 14)  # a Monday; the 15th is a holiday
HOLIDAYS = {datetime.date(2023, 8, 15)}
# day offsets from FIRST_DAY: Tue (holiday), Wed, Fri, Sat, Sun, Mon, Thu
DAY_ORDER = [1, 2, 4, 5, 6, 0, 3]
GRID_ORIGIN = (-0.55, 39.35)
CELL_DEG = 0.15  # ~13 km by ~17 km cells, so OD pairs fall on both sides of 15 km
SECTIONS = 2
# demographic splits per (date, hour, O, D)
SPLITS = [
    (age, sex, income)
    for age in ("0-25", "25-45", "45-65")
    for sex in ("M", "F")
    for income in ("<10", "10-15")
]
OUTLIER_TRIPS = 100000.0
# Spanish MITMA headers; the bronze hop renames them by position.
MITMA_HEADER = (
    "fecha|periodo|origen|destino|distancia|actividad_origen|actividad_destino|"
    "estudio_origen_posible|estudio_destino_posible|residencia|renta|edad|sexo|"
    "viajes|viajes_km"
)


def day_type(day: datetime.date) -> int:
    """The silver ``day_type`` code (functions.scalar.day_type)."""
    if day in HOLIDAYS:
        return 8
    return {0: 1, 4: 5, 5: 6, 6: 0}.get(day.weekday(), 2)


@dataclass
class MobilityInputs:
    """Generated input files plus the ground truth the checks compare to."""

    dates: list[str]
    daily_csv: dict[str, str]
    # rows of the dimension tables, in the column order of GEOMETRY_COLUMNS,
    # ECONOMY_COLUMNS and POPULATION_COLUMNS
    geometry_rows: list[tuple]
    economy_rows: list[tuple]
    population_rows: list[tuple]
    municipalities: list[str]
    districts: list[str]
    input_bytes: int
    valid_rows: dict[str, int] = field(default_factory=dict)
    gold_keys: set[tuple] = field(default_factory=set)
    outlier_keys: set[tuple] = field(default_factory=set)
    # (day_type, hour) pairs each district's BQ1 report must contain
    district_slots: dict[str, set[tuple]] = field(default_factory=dict)


# the silver and gold geometry schema (pipelines.geometry.SILVER_SCHEMA)
GEOMETRY_COLUMNS = [
    "geometry", "census_section_id", "district_id", "municipality_id", "province_id",
    "autonomous_community_id", "centroid_lon", "centroid_lat", "year",
]
ECONOMY_COLUMNS = ["municipality_code", "district_code", "section_code", "year", "avg_income"]
POPULATION_COLUMNS = ["municipality_code", "year", "population"]


def history_dates(n: int) -> list[str]:
    """``n`` 'yyyyMMdd' dates before the generated week, for bronze
    history that no generated day collides with."""
    return [(FIRST_DAY - datetime.timedelta(days=n - i)).strftime("%Y%m%d") for i in range(n)]


def _square_wkt(lon: float, lat: float, size: float) -> str:
    pts = [(lon, lat), (lon + size, lat), (lon + size, lat + size), (lon, lat + size), (lon, lat)]
    return "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts) + "))"


def _row(date: str, hour: str, o: str, d: str, split: tuple, trips: str) -> str:
    age, sex, income = split
    return f"{date}|{hour}|{o}|{d}|005-010|home|work|1|1|46|{income}|{age}|{sex}|{trips}|100.0"


def generate(out_dir: str, seed: int, n_days: int, grid: int = 4) -> MobilityInputs:
    """Write ``n_days`` daily MITMA CSVs under ``out_dir`` and return them
    with the dimension rows and the ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    munis = [f"46{100 + i:03d}" for i in range(grid * grid)]
    districts = [m + "01" for m in munis]
    zones = [d + f"{s + 1:03d}" for d in districts for s in range(SECTIONS)]

    geometry = []
    for i, muni in enumerate(munis):
        row, col = divmod(i, grid)
        lon, lat = GRID_ORIGIN[0] + col * CELL_DEG, GRID_ORIGIN[1] + row * CELL_DEG
        half = CELL_DEG / SECTIONS
        for s in range(SECTIONS):
            section = muni + "01" + f"{s + 1:03d}"
            x = lon + s * half
            geometry.append((_square_wkt(x, lat, half), section, muni + "01", muni, "46", "10",
                             x + half / 2, lat + half / 2, YEAR))

    # Fixed OD structure (the seed moves values, not shapes): each origin
    # reaches the municipality east (~13 km), north (~17 km) and north-east
    # of its own, so pairs fall on both sides of the 15 km long-trip cut.
    steps = [1, grid, grid + 1]
    pairs = [(o, zones[(i + SECTIONS * k) % len(zones)]) for i, o in enumerate(zones) for k in steps]
    base = {p: rng.uniform(20.0, 80.0) for p in pairs}
    profile = [0.3 + (1.0 if h in (8, 18) else 0.5 if h in (7, 9, 17, 19) else 0.0) for h in range(24)]
    offsets = (DAY_ORDER + list(range(7, n_days)))[:n_days]
    days = sorted(FIRST_DAY + datetime.timedelta(days=i) for i in offsets)
    dates = [d.strftime("%Y%m%d") for d in days]

    # Two outliers per day type, on the type's last day. A lone outlier
    # exceeds 3 sigma only in groups of n >= 11, and every day alone gives
    # each group len(SPLITS) = 12 observations.
    last_day = {day_type(day): date for day, date in zip(days, dates)}
    outliers: dict[str, list[tuple]] = {}
    outlier_keys = set()
    for t, date in sorted(last_day.items()):
        for o, d in rng.sample(pairs, 2):
            hour = rng.randrange(24)
            outliers.setdefault(date, []).append((hour, o, d))
            outlier_keys.add((t, hour, o, d))

    truth = MobilityInputs(
        dates=dates, daily_csv={}, geometry_rows=geometry, economy_rows=[],
        population_rows=[], municipalities=munis,
        districts=districts, input_bytes=0, outlier_keys=outlier_keys,
    )
    for day, date in zip(days, dates):
        t = day_type(day)
        lines = [MITMA_HEADER]
        for hour in range(24):
            for o, d in pairs:
                mean = base[(o, d)] * profile[hour]
                for split in SPLITS:
                    trips = round(mean * (0.9 + 0.2 * rng.random()), 2)
                    o_out = o + "_AM" if rng.random() < 0.1 else o
                    d_out = d + "_AD" if rng.random() < 0.1 else d
                    lines.append(_row(date, str(hour), o_out, d_out, split, str(trips)))
                truth.gold_keys.add((t, hour, o, d))
                truth.district_slots.setdefault(o[:7], set()).add((t, hour))
        for hour, o, d in outliers.get(date, []):
            lines.append(_row(date, str(hour), o, d, SPLITS[0], str(OUTLIER_TRIPS)))
        truth.valid_rows[date] = len(lines) - 1
        # dirt the silver hop must drop (FIXTURES §1)
        z0, z1 = zones[0], zones[1]
        lines += [
            _row(date, "8", "PT12345", z0, SPLITS[0], "10.0"),
            _row(date, "8", z0, "FR99999", SPLITS[0], "10.0"),
            _row(date, "8", "externo", z1, SPLITS[0], "10.0"),
            _row(date, "8", z1, "externo", SPLITS[0], "10.0"),
            _row(date[:6] + "31x", "8", z0, z1, SPLITS[0], "5.0"),
            _row(date, "notanhour", z0, z1, SPLITS[0], "5.0"),
            _row(date, "8", z0, z1, SPLITS[0], "notanumber"),
        ]
        path = os.path.join(out_dir, f"mitma_{date}.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        truth.daily_csv[date] = path
        truth.input_bytes += os.path.getsize(path)

    for muni in munis:
        for s in range(SECTIONS):
            income = rng.randint(8000, 40000) + rng.randint(0, 99) / 100
            truth.economy_rows.append((muni, muni + "01", muni + "01" + f"{s + 1:03d}", YEAR, income))
        truth.population_rows.append((muni, YEAR, sum(rng.randint(1000, 9999) for _ in range(6))))
    return truth
