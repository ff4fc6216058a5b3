"""Spatial execution without a native geometry type (SURVEY §4.3, §7.3).

Geometry representation: WKT strings (polygons) + (lon, lat) DoubleType
pairs (centroids). The ~15 ST_* functions the reference uses (§2.8) map
to:
- native column math: ST_Point/ST_X/ST_Y (plain doubles), distances
  (functions/geo.py), bbox predicates;
- this module's pure-Python geometry kernels wrapped as **Arrow-batched
  pandas UDFs**: parsing, centroid, bounds, point-in-polygon, polygon
  validity, and the EPSG:25830 (UTM 30N) → EPSG:4326 transform the
  geometry silver hop needs
  (ST_Transform — dags/geometry/transform_silver_geometry.py:20,26);
- the same kernels called directly on the driver where the input is a
  collected handful of polygons: the municipality dissolve-centroid
  (``pipelines/geometry.py:municipality_centroids``, ST_Centroid of
  ST_Union_Agg — dags/gravity/create_centroids.py:12-19) runs there, so
  the gold refresh starts no Python worker.

shapely/Sedona are optional upgrades; nothing here imports them. The
kernels are numpy-vectorized per ring, so the UDF cost is Arrow transfer +
O(vertices), fine for the reference's workload (thousands of polygons) —
and the pandas-UDF plumbing (schema, batching) is exactly what a Sedona
swap-in would replace.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- WKT parsing (POLYGON / MULTIPOLYGON / POINT, outer rings) -------------
_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_POINT_RE = re.compile(rf"POINT\s*\(\s*({_NUM})\s+({_NUM})\s*\)", re.I)


def parse_point(wkt: str) -> tuple[float, float] | None:
    m = _POINT_RE.match(wkt.strip()) if isinstance(wkt, str) else None
    return (float(m.group(1)), float(m.group(2))) if m else None


def parse_polygon_rings(wkt: str) -> list[np.ndarray]:
    """All rings of a POLYGON/MULTIPOLYGON as (n,2) arrays (outer rings
    first per polygon; holes are parsed but the reference data has none)."""
    if not isinstance(wkt, str):
        return []
    body = wkt.strip()
    if not body.upper().startswith(("POLYGON", "MULTIPOLYGON")):
        return []
    rings = []
    for ring_txt in re.findall(r"\(([^()]+)\)", body):
        pts = []
        for pair in ring_txt.split(","):
            xy = pair.split()
            if len(xy) >= 2:
                pts.append((float(xy[0]), float(xy[1])))
        if len(pts) >= 3:
            rings.append(np.asarray(pts, dtype=np.float64))
    return rings


def polygon_to_wkt(ring: np.ndarray) -> str:
    coords = ", ".join(f"{x:.9f} {y:.9f}" for x, y in ring)
    return f"POLYGON (({coords}))"


# --- geometry kernels -------------------------------------------------------
def ring_area_centroid(ring: np.ndarray) -> tuple[float, float, float]:
    """Shoelace signed area + area-weighted centroid of one ring."""
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return 0.0, float(x.mean()), float(y.mean())
    cx = ((x + x2) * cross).sum() / (6.0 * a)
    cy = ((y + y2) * cross).sum() / (6.0 * a)
    # Degenerate-sliver guard: a simple ring's area centroid always lies in
    # its bbox; when |a| underflows toward denormal scale the division
    # amplifies cancellation noise and can land far outside (hypothesis
    # finds subnormal-coordinate slivers). Outside-bbox is therefore a
    # sufficient and exact garbage detector — no numerically sane input is
    # affected — and the fallback matches the a == 0 degenerate path.
    if not (x.min() <= cx <= x.max() and y.min() <= cy <= y.max()):
        return float(a), float(x.mean()), float(y.mean())
    return float(a), float(cx), float(cy)


def geom_centroid(wkt: str) -> tuple[float, float] | None:
    """ST_Centroid over WKT (area-weighted across rings)."""
    p = parse_point(wkt) if isinstance(wkt, str) else None
    if p:
        return p
    rings = parse_polygon_rings(wkt)
    if not rings:
        return None
    tot_a = cx = cy = 0.0
    for ring in rings:
        a, rx, ry = ring_area_centroid(ring)
        tot_a += a
        cx += rx * a
        cy += ry * a
    if tot_a == 0.0:
        allpts = np.vstack(rings)
        return float(allpts[:, 0].mean()), float(allpts[:, 1].mean())
    return cx / tot_a, cy / tot_a


def point_in_ring(lon: float, lat: float, ring: np.ndarray) -> bool:
    """Ray-casting point-in-polygon."""
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    crosses = ((y > lat) != (y2 > lat)) & (
        lon < (x2 - x) * (lat - y) / np.where(y2 - y == 0, 1e-300, y2 - y) + x
    )
    return bool(crosses.sum() % 2)


def _segments_intersect(p1, p2, p3, p4) -> bool:
    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    return o1 != o2 and o3 != o4


def polygons_intersect(rings_a: list[np.ndarray], rings_b: list[np.ndarray]) -> bool:
    """ST_Intersects: bbox reject → vertex containment → edge crossing."""
    if not rings_a or not rings_b:
        return False
    a_all, b_all = np.vstack(rings_a), np.vstack(rings_b)
    if (
        a_all[:, 0].max() < b_all[:, 0].min()
        or b_all[:, 0].max() < a_all[:, 0].min()
        or a_all[:, 1].max() < b_all[:, 1].min()
        or b_all[:, 1].max() < a_all[:, 1].min()
    ):
        return False
    ra, rb = rings_a[0], rings_b[0]
    if point_in_ring(rb[0, 0], rb[0, 1], ra) or point_in_ring(ra[0, 0], ra[0, 1], rb):
        return True
    for i in range(len(ra)):
        p1, p2 = ra[i], ra[(i + 1) % len(ra)]
        for j in range(len(rb)):
            if _segments_intersect(p1, p2, rb[j], rb[(j + 1) % len(rb)]):
                return True
    return False


def polygon_contains(rings_outer: list[np.ndarray], rings_inner: list[np.ndarray]) -> bool:
    """ST_Contains (outer ⊇ inner): every inner vertex inside and no edge
    crossings."""
    if not rings_outer or not rings_inner:
        return False
    ra, rb = rings_outer[0], rings_inner[0]
    if not all(point_in_ring(x, y, ra) for x, y in rb):
        return False
    for i in range(len(ra)):
        p1, p2 = ra[i], ra[(i + 1) % len(ra)]
        for j in range(len(rb)):
            if _segments_intersect(p1, p2, rb[j], rb[(j + 1) % len(rb)]):
                return False
    return True


def ring_is_valid(ring: np.ndarray) -> bool:
    """ST_IsValid (simple-polygon check): ≥3 distinct points, nonzero
    area, no self-intersections between non-adjacent edges."""
    # WKT rings repeat the first vertex as the closer — drop it, or the
    # degenerate last edge makes adjacent edges look self-intersecting.
    if len(ring) >= 2 and bool(np.all(ring[0] == ring[-1])):
        ring = ring[:-1]
    if len(ring) < 3:
        return False
    a, _, _ = ring_area_centroid(ring)
    if a == 0.0:
        return False
    n = len(ring)
    for i in range(n):
        p1, p2 = ring[i], ring[(i + 1) % n]
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue
            if _segments_intersect(p1, p2, ring[j], ring[(j + 1) % n]):
                return False
    return True


# --- EPSG:25830 (ETRS89 / UTM 30N) -> EPSG:4326 -----------------------------
# Inverse Transverse Mercator (Karney-style series truncated to n^4 — sub-mm
# at Iberian latitudes), GRS80 ellipsoid. Replaces ST_Transform
# (dags/geometry/transform_silver_geometry.py:20).
_A = 6378137.0
_F_INV = 298.257222101  # GRS80
_K0 = 0.9996
_E0 = 500000.0
_LON0 = math.radians(-3.0)  # zone 30


def utm_constants() -> dict[str, float]:
    """The series constants as plain Python doubles — shared verbatim by the
    numpy kernel below and the DuckDB oracle SQL generator
    (queries/spatialx.py), so both engines evaluate the identical literal."""
    f = 1.0 / _F_INV
    n = f / (2 - f)
    A1 = _A / (1 + n) * (1 + n**2 / 4 + n**4 / 64)
    return {
        "ka": _K0 * A1,
        "e0": _E0,
        "lon0": _LON0,
        "b1": n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96,
        "b2": n**2 / 48 + n**3 / 15,
        "b3": 17 * n**3 / 480,
        "d1": 2 * n - 2 * n**2 / 3 - 2 * n**3,
        "d2": 7 * n**2 / 3 - 8 * n**3 / 5,
        "d3": 56 * n**3 / 15,
        "deg": math.degrees(1.0),
    }


def _sinh(x: np.ndarray) -> np.ndarray:
    # Composed from exp (not np.sinh): DuckDB has no sinh/cosh, so the
    # oracle composes them from EXP — using the identical composition here
    # makes the two engines run the same libm calls on the same doubles
    # (bit-exact parity by construction; accuracy cost ~1 ulp, irrelevant
    # against the series' sub-mm truncation error).
    return (np.exp(x) - np.exp(-x)) / 2


def _cosh(x: np.ndarray) -> np.ndarray:
    return (np.exp(x) + np.exp(-x)) / 2


def utm30n_to_wgs84(easting: np.ndarray, northing: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = utm_constants()
    xi = northing / c["ka"]
    eta = (easting - c["e0"]) / c["ka"]
    beta = [c["b1"], c["b2"], c["b3"]]
    xi_p = xi - sum(
        b * np.sin(2 * (j + 1) * xi) * _cosh(2 * (j + 1) * eta) for j, b in enumerate(beta)
    )
    eta_p = eta - sum(
        b * np.cos(2 * (j + 1) * xi) * _sinh(2 * (j + 1) * eta) for j, b in enumerate(beta)
    )
    chi = np.arcsin(np.sin(xi_p) / _cosh(eta_p))
    delta = [c["d1"], c["d2"], c["d3"]]
    phi = chi + sum(d * np.sin(2 * (j + 1) * chi) for j, d in enumerate(delta))
    lam = c["lon0"] + np.arctan2(_sinh(eta_p), np.cos(xi_p))
    return lam * c["deg"], phi * c["deg"]


def transform_polygon_wkt_25830_to_4326(wkt: str) -> str | None:
    rings = parse_polygon_rings(wkt)
    if not rings:
        p = parse_point(wkt)
        if p:
            lon, lat = utm30n_to_wgs84(np.array([p[0]]), np.array([p[1]]))
            return f"POINT ({lon[0]:.9f} {lat[0]:.9f})"
        return None
    ring = rings[0]
    lon, lat = utm30n_to_wgs84(ring[:, 0], ring[:, 1])
    return polygon_to_wkt(np.column_stack([lon, lat]))


# --- pandas UDF surface -----------------------------------------------------
@F.pandas_udf(T.StructType([T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]))
def st_centroid(wkt: pd.Series) -> pd.DataFrame:
    pts = [geom_centroid(w) for w in wkt]
    return pd.DataFrame(
        {"lon": [p[0] if p else None for p in pts], "lat": [p[1] if p else None for p in pts]}
    )


@F.pandas_udf(T.BooleanType())
def st_is_valid(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        rings = parse_polygon_rings(w)
        out.append(bool(rings) and ring_is_valid(rings[0]))
    return pd.Series(out)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )
)
def st_bounds(wkt: pd.Series) -> pd.DataFrame:
    rows = []
    for w in wkt:
        rings = parse_polygon_rings(w)
        if rings:
            allp = np.vstack(rings)
            rows.append(
                (float(allp[:, 0].min()), float(allp[:, 1].min()),
                 float(allp[:, 0].max()), float(allp[:, 1].max()))
            )
        else:
            rows.append((None, None, None, None))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _geom_stats_vectorized(wkt: pd.Series) -> pd.DataFrame | None:
    """Batch-vectorized st_geom_stats for simple single-ring POLYGONs.

    Returns None when any row is not of the 'POLYGON ((x y, …))' shape
    with ≥3 vertices (MULTIPOLYGON, holes, NULLs, degenerate) — the
    caller then takes the per-row loop. One C-level parse of the joined
    batch + reduceat segment reductions; see st_geom_stats's docstring
    for the exactness argument. That argument (reduceat sums
    sequentially, np.sum pairs — identical only when every partial sum
    is exactly representable in any order) is ENFORCED at runtime, not
    assumed: the fast path only runs for quarter-integral coordinates
    with |coord| ≤ 8192 on rings of ≤ 64 vertices (the inline proof at
    the gate), so the output never depends on which other rows share
    the Arrow batch (ADVICE r9 #1)."""
    if len(wkt) == 0:
        return None
    s = wkt.astype("string")
    if s.isna().any():
        return None
    ok = (
        s.str.startswith("POLYGON ((")
        & s.str.endswith("))")
        & ~s.str.slice(10, -2).str.contains("(", regex=False)
    )
    if not bool(ok.all()):
        return None
    body = s.str.slice(10, -2)
    npts = (body.str.count(",") + 1).to_numpy(np.int64)
    if (npts < 3).any():
        return None
    joined = ",".join(body.tolist()).replace(",", " ")
    try:
        # np.array over the split token list: the non-deprecated C-level
        # bulk parse (np.fromstring's text mode is slated for removal)
        flat = np.array(joined.split(), dtype=np.float64)
    except ValueError:
        return None  # non-numeric token somewhere — let the loop diagnose
    if flat.size != 2 * int(npts.sum()) or not np.isfinite(flat).all():
        return None  # malformed pair somewhere — let the loop diagnose
    # Exactness precondition, CHECKED not assumed (ADVICE r9 #1): with
    # coords that are multiples of 1/4 (k = 4·coord integer, |k| ≤ 2^15)
    # and rings of ≤ 64 vertices, every intermediate is an exact integer
    # in 1/64 units — cross terms |k1k2−k1'k2'| ≤ 2^31, centroid terms
    # |(k1+k2)·cross_k| ≤ 2^47, per-ring partial sums ≤ 64·2^47 = 2^53 —
    # so reduceat (sequential) and np.sum (pairwise, the loop path's
    # order) are the SAME exact value in any order, and batch composition
    # can never change a row's answer. Anything outside the bound falls
    # back to the per-row loop (the semantics-defining path).
    q = flat * 4.0
    if not bool(((np.floor(q) == q) & (np.abs(flat) <= 8192.0)).all()):
        return None
    if int(npts.max()) > 64:
        return None
    x, y = flat[0::2], flat[1::2]
    ends = np.cumsum(npts)
    starts = ends - npts
    # next-vertex index with per-ring wraparound (the np.roll twin)
    nxt = np.arange(1, x.size + 1)
    nxt[ends - 1] = starts
    x2, y2 = x[nxt], y[nxt]
    cross = x * y2 - x2 * y
    a = np.add.reduceat(cross, starts) / 2.0
    sx = np.add.reduceat((x + x2) * cross, starts)
    sy = np.add.reduceat((y + y2) * cross, starts)
    xmin = np.minimum.reduceat(x, starts)
    ymin = np.minimum.reduceat(y, starts)
    xmax = np.maximum.reduceat(x, starts)
    ymax = np.maximum.reduceat(y, starts)
    mx = np.add.reduceat(x, starts) / npts
    my = np.add.reduceat(y, starts) / npts
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = sx / (6.0 * a)
        cy = sy / (6.0 * a)
    # a == 0 and outside-bbox sliver guards, exactly as ring_area_centroid
    bad = (a == 0.0) | ~(
        (xmin <= cx) & (cx <= xmax) & (ymin <= cy) & (cy <= ymax)
    )
    cx = np.where(bad, mx, cx)
    cy = np.where(bad, my, cy)
    return pd.DataFrame(
        {
            "area": np.abs(a),
            "lon": cx,
            "lat": cy,
            "xmin": xmin,
            "ymin": ymin,
            "xmax": xmax,
            "ymax": ymax,
        }
    )


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("area", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )
)
def st_geom_stats(wkt: pd.Series) -> pd.DataFrame:
    """Fused per-geometry stats: ONE WKT parse yielding area + centroid +
    bounds. Separate area/centroid/bounds UDFs each re-parse the string,
    so a query needing all three paid 3-4 Arrow passes and 3-4 parses per
    row (spatial_dissolve's measured sf10 cost). Values are bit-identical
    to the single-purpose kernels: area = |signed area of ring 0| (the
    dissolve weight of ``municipality_centroids``), centroid =
    area-weighted across rings (geom_centroid), bounds over all ring
    vertices (st_bounds).

    When every row in the Arrow batch is a simple single-ring POLYGON
    with verifiably exact coordinates, a fully vectorized path runs
    instead of the per-row Python loop: ONE C-level parse of the whole
    batch's coordinates (np.array over a joined-then-split buffer) +
    per-ring shoelace/extent via np.*.reduceat — a measured ~5× on the
    sf10 dissolve pass (PERF.md round 9). Exactness: reduceat sums
    sequentially where np.sum pairs, so the fast path is gated at
    runtime on quarter-integral coordinates with |coord| ≤ 8192 and
    rings of ≤ 64 vertices (every intermediate then an exact integer
    in 1/64 units — all summation orders bit-identical; proof at the
    gate in _geom_stats_vectorized); general floats, MULTIPOLYGON/
    holes/degenerate batches fall back to the loop, making the result
    independent of Arrow batch composition (ADVICE r9 #1), and the
    a==0 / outside-bbox sliver guards are replicated row-wise."""
    fast = _geom_stats_vectorized(wkt)
    if fast is not None:
        return fast
    rows = []
    for w in wkt:
        rings = parse_polygon_rings(w)
        if not rings:
            rows.append((None,) * 7)
            continue
        area = abs(ring_area_centroid(rings[0])[0])
        tot_a = cx = cy = 0.0
        for ring in rings:
            a, rx, ry = ring_area_centroid(ring)
            tot_a += a
            cx += rx * a
            cy += ry * a
        allp = np.vstack(rings)
        if tot_a == 0.0:
            lon, lat = float(allp[:, 0].mean()), float(allp[:, 1].mean())
        else:
            lon, lat = cx / tot_a, cy / tot_a
        rows.append(
            (
                area,
                lon,
                lat,
                float(allp[:, 0].min()),
                float(allp[:, 1].min()),
                float(allp[:, 0].max()),
                float(allp[:, 1].max()),
            )
        )
    return pd.DataFrame(
        rows, columns=["area", "lon", "lat", "xmin", "ymin", "xmax", "ymax"]
    )


@F.pandas_udf(T.StringType())
def st_transform_25830_to_4326(wkt: pd.Series) -> pd.Series:
    return pd.Series([transform_polygon_wkt_25830_to_4326(w) for w in wkt])


@F.pandas_udf(T.StructType([T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]))
def st_point_25830_to_4326(easting: pd.Series, northing: pd.Series) -> pd.DataFrame:
    """Point-wise ST_Transform(EPSG:25830 → EPSG:4326) — the driver-checkable
    coordinate surface of the geometry silver hop
    (dags/geometry/transform_silver_geometry.py:20): Arrow-batched numpy over
    the same inverse-TM kernel the polygon path uses."""
    lon, lat = utm30n_to_wgs84(easting.to_numpy(), northing.to_numpy())
    return pd.DataFrame({"lon": lon, "lat": lat})


def make_polygon_predicate_udf(polygon_wkt: str, predicate: str = "intersects"):
    """Spatial predicate vs a fixed region polygon (parameterized choice,
    P10 — dags/gravity/extract_geometry.py:22-27). The region WKT travels
    in the UDF closure (broadcast semantics)."""
    region = parse_polygon_rings(polygon_wkt)

    @F.pandas_udf(T.BooleanType())
    def pred(wkt: pd.Series) -> pd.Series:
        out = []
        for w in wkt:
            rings = parse_polygon_rings(w)
            if predicate == "intersects":
                out.append(polygons_intersect(region, rings))
            elif predicate == "contains":
                out.append(polygon_contains(region, rings))
            elif predicate == "within":
                out.append(polygon_contains(rings, region))
            elif predicate == "overlaps":
                # ST_Overlaps: interiors intersect but neither contains the
                # other (dags/section_extraction/extract_sections_from_polygon.py:32-39)
                out.append(
                    polygons_intersect(region, rings)
                    and not polygon_contains(region, rings)
                    and not polygon_contains(rings, region)
                )
            else:
                raise ValueError(predicate)
        return pd.Series(out)

    return pred

