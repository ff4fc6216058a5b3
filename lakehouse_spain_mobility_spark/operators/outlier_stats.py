"""The reference's core "typical day" operator: per-group stats, join-back,
n-sigma outlier rejection, re-aggregation.

Reference shape (single-pass CTE v2): ``dags/mitma/new_gold.py:22-86`` —
  stats CTE: GROUP BY keys → AVG, COALESCE(STDDEV_SAMP,0)
  join back on the full key (dags/mitma/new_gold.py:56-61)
  BETWEEN avg±3σ retention band (dags/mitma/new_gold.py:65-66)
  final GROUP BY: SUM/AVG/COALESCE(STDDEV,0)/COUNT(DISTINCT date)
  (dags/mitma/new_gold.py:68-78)

Scale notes:
- Implemented with the explicit self-join (not a window) to preserve the
  reference's oracle-checkable semantics; Catalyst plans both sides of the
  join from the same shuffle-on-keys, and AQE handles skewed OD pairs.
- A window variant (``Window.partitionBy(keys)``) computes the same result
  with ONE shuffle instead of two scans + join; offered as
  ``sigma_filtered_stats_window`` for the fast path. Both return identical
  rows thanks to deterministic decimal aggregation.
- The reference's chunked-by-day_type fallback (dags/mitma/new_gold.py:89-148)
  is intentionally absent: shuffle partitioning + spill already bound memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.deterministic import (
    spark_dsum_over,
    xdavg,
    xdstddev_samp0,
    xdsum,
)


def sigma_filtered_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Two-level aggregation with n-sigma outlier rejection (join form).

    Output columns: keys + total_trips, avg_trips, std_trips,
    num_days_observed — the gold_typical_day_patterns schema
    (dags/mitma/new_gold.py:7-18).
    """
    keys = list(keys)
    v = F.col(value_col)
    stats = df.groupBy(*keys).agg(
        xdavg(value_col).alias("_mu"),
        xdstddev_samp0(value_col).alias("_sigma"),
    )
    joined = df.join(stats, on=keys)
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = joined.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def sigma_filtered_stats_window(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Window-function variant: one shuffle, no self-join — the plan you
    want at scale (SURVEY §2.4 J1 note). Semantics identical to
    :func:`sigma_filtered_stats`."""
    keys = list(keys)
    v = F.col(value_col)
    pb = ", ".join(keys)
    # Aggregate-over-window must be applied per aggregate function; the
    # composite davg/dstd helpers are arithmetic over aggregates, so build
    # the fixed-point moments explicitly (mirroring functions/deterministic)
    # and close the math outside the window — as SQL text, one F.expr per
    # output column (driver-side build cost, PERF.md round 3). The moments
    # are columns of one select: Catalyst does not deduplicate a window
    # aggregate repeated across expressions, so writing s1 and n into both
    # _mu and _sigma would compute them three times per row.
    moments = df.select(
        "*",
        F.expr(spark_dsum_over(value_col, pb)).alias("_s1"),
        F.expr(spark_dsum_over(f"({value_col}) * ({value_col})", pb)).alias("_s2"),
        F.expr(f"COUNT({value_col}) OVER (PARTITION BY {pb})").alias("_n"),
    )
    var = "((_s2 - _s1 * _s1 / _n) / (_n - 1))"
    sigma = (
        f"CASE WHEN _n > 1 THEN SQRT(GREATEST({var}, CAST(0.0 AS DOUBLE))) "
        f"ELSE CAST(NULL AS DOUBLE) END"
    )
    with_stats = moments.withColumn("_mu", F.expr("(_s1 / _n)")).withColumn(
        "_sigma", F.expr(f"COALESCE({sigma}, CAST(0.0 AS DOUBLE))")
    )
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = with_stats.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def sigma_filtered_stats_broadcast(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Broadcast join-back variant — the bounded-exchange plan for scale.

    The window form shuffles the ENTIRE fact on the keys (every row
    crosses the wire so the per-partition sort can run); here nothing
    fact-sized is ever exchanged: the stats aggregation's map-side
    partials collapse each input partition to ≤|groups| rows before its
    (tiny) exchange, the group-level stats table broadcasts back onto an
    unshuffled second scan, and the final aggregation's partials collapse
    again to ≤|groups × dates| rows (a fixed cardinality at any corpus
    size — day_type×hour×zones×dates). Exchange volume is O(|groups|·
    partitions), not O(|fact|): at sf1 this is the difference between
    shuffling 60M rows and shuffling a few hundred thousand partials.
    Semantics identical to the other two forms (deterministic fixed-point
    aggregation; proven by the shared oracle hash)."""
    keys = list(keys)
    v = F.col(value_col)
    stats = df.groupBy(*keys).agg(
        xdavg(value_col).alias("_mu"),
        xdstddev_samp0(value_col).alias("_sigma"),
    )
    joined = df.join(F.broadcast(stats), on=keys)
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = joined.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def sigma_filtered_stats_cube(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Single-fact-pass variant: pre-aggregate to the (keys, date, value)
    CUBE, then run the whole stats/band/re-aggregation battery over cube
    rows with exact weighted fixed-point aggregation.

    Every output the battery computes is a function of the cube alone:
    the per-key moments weight each distinct value by its count (the
    fixed-point hi/lo split is linear, so the weighted totals are the
    *same exact integers* the row-level sums produce — see
    functions/deterministic.py weighted twins), the ±nσ band admits a
    fact row iff it admits its cube row, and COUNT(DISTINCT date) sees a
    date iff some surviving cube row carries it. Bit-identical results,
    proven by the unchanged row-level oracle SQL.

    Why it wins (guide §2.3 aggregate before you shuffle, §6 I/O): the
    broadcast form scans the fact TWICE (stats pass + join-back pass);
    here ONE scan feeds a partial aggregation that collapses each input
    partition to <= |cube| rows before the only exchange, and everything
    after runs at cube size. Domain assumption, stated honestly: the
    metric is count-shaped (trip counts per OD/hour — a bounded integer
    domain), so |cube| = |groups|·|dates|·|values per group| << |fact| at
    any corpus size (sf10: 100k cube rows vs 10M fact rows). On a
    continuous metric the cube degenerates to fact grain and this form
    decays to the window form's full-fact exchange — use ``broadcast``
    there (kept selectable via q_typical_day(form=...))."""
    from ..functions.deterministic import (
        spark_wcount,
        spark_wdavg,
        spark_wdstddev_samp0,
        spark_wdsum,
    )

    keys = list(keys)
    v = F.col(value_col)
    # Eager checkpoint: the cube feeds two consumers (the stats aggregation
    # and the band-filtered re-aggregation); without it Catalyst plans the
    # fact scan + cube aggregation TWICE (verified: executed plan showed 2
    # parquet scans, zero ReusedExchange). Materializing the cube once is
    # what makes this genuinely single-fact-pass; the cube is |groups| ·
    # |dates| · |values per group| rows — bounded by the count-shaped
    # domain, spill-safe storage (MEMORY_AND_DISK).
    cube = (
        df.groupBy(*keys, date_col, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    stats = cube.groupBy(*keys).agg(
        F.expr(spark_wdavg(value_col, "_cnt")).alias("_mu"),
        F.expr(spark_wdstddev_samp0(value_col, "_cnt")).alias("_sigma"),
    )
    joined = cube.join(F.broadcast(stats), on=keys)
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = joined.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        F.expr(spark_wdsum(value_col, "_cnt")).alias("total_trips"),
        F.expr(spark_wdavg(value_col, "_cnt")).alias("avg_trips"),
        F.expr(spark_wdstddev_samp0(value_col, "_cnt")).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def unfiltered_stats(df: DataFrame, keys: Sequence[str], value_col: str, date_col: str) -> DataFrame:
    """The reference's degraded fast path — same battery, no outlier band
    (dags/mitma/new_gold.py:151-179)."""
    return df.groupBy(*list(keys)).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )
