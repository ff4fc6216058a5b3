"""Lakehouse table utilities: a parquet-backed warehouse with the
reference's idempotency patterns (SURVEY §1.5).

The reference stores tables as Parquet-on-S3 under a DuckLake catalog
(dags/ducklake_utils.py:7-9,31-141). Here a ``Warehouse`` maps table name →
``<root>/<name>`` parquet directory (Delta would slot in transparently —
its jars aren't in this image, so writes use parquet + dynamic partition
overwrite, which reproduces the reference's per-date DELETE+INSERT unit,
dags/mitma/silver_mitma.py:108,119-140).

Update patterns implemented:
- ``create_if_not_exists``  → K1 (dags/mitma/bronze_mitma.py:7-26)
- ``append``                → K2 (INSERT INTO ... SELECT)
- ``create_or_replace``     → K3 (CREATE OR REPLACE TABLE ... AS)
- ``replace_partition``     → K4 (DELETE FROM ... WHERE date = X + insert)
- ``drop_if_exists``        → K6 (DROP TABLE IF EXISTS)
- ``skip_if_present``       → the count-check guards
  (dags/mitma/bronze_mitma.py:38-47, dags/mitma/silver_mitma.py:17-24)

Idempotency guards (``count_where``, ``skip_if_present``) run on the
driver with pyarrow and launch no Spark job. The predicate is a
``pyarrow.dataset`` expression (``pads.field("date") == d``). The count
reads the footers, skips every row group whose min/max statistics
exclude the predicate, and decodes only the filter columns of the rest,
so files of other writers (pyarrow history files beside Spark appends,
with other timestamp encodings) never need a cast. Partition columns
come from ``k=v`` directory names: an all-digit value is an integer,
any other is its directory text (``date=2023-08-16`` compares with
``"2023-08-16"``). ``_``/``.`` entries, such as a crashed write's
``_temporary/``, are skipped as Spark skips them.

Reads take a table's schema from its data, where the reference takes it
from its catalog. Spark writes its exact Catalyst schema into every file
footer (``org.apache.spark.sql.parquet.row.metadata``).
``read_parquet_dir`` reads that key from one footer on the driver with
pyarrow and hands it to ``spark.read.schema(...)``, so a read launches no
schema-inference job. The schema is the one inference would find because
tables are single-schema: ``mergeSchema`` stays off, so inference also
reads a single footer. Partition columns still come from the ``k=v``
directory names. A footer without the key (a table written by pyarrow)
or one that cannot be read falls back to inference.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def zorder_expr(x_col: str, y_col: str, bits: int = 16) -> str:
    """Morton (Z-order) interleave of two non-negative integer columns as
    portable SQL text: bit i of x lands at position 2i, bit i of y at
    2i+1. Identical text runs on Spark (``F.expr``) and DuckDB — shifts,
    masks and ORs only, whole-stage codegen on the Spark side. Inputs are
    masked to ``bits`` bits (callers quantize floats/ranges first)."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"(((({x_col}) & {mask}) >> {i}) & 1) << {2 * i}")
        terms.append(f"(((({y_col}) & {mask}) >> {i}) & 1) << {2 * i + 1}")
    return "CAST(" + " | ".join(f"({t})" for t in terms) + " AS BIGINT)"


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """First data file of a parquet directory in sorted order, descending
    into ``k=v`` partition directories; None if there is none. Skips what
    Spark's file listing skips: dot files (``.crc``) and ``_`` entries such
    as ``_SUCCESS``, but not ``_k=v`` directories."""
    try:
        names = sorted(os.listdir(path))
    except OSError:
        return None
    for name in names:
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        full = os.path.join(path, name)
        if not os.path.isdir(full):
            return full
        if "=" in name:
            found = _first_data_file(full)
            if found is not None:
                return found
    return None


def footer_schema(path: str) -> T.StructType | None:
    """The Spark schema stored in the footer of the directory's first data
    file, without launching a job; None when that file is missing, cannot
    be read or was not written by Spark."""
    first = _first_data_file(path)
    if first is None:
        return None
    try:
        meta = pq.read_metadata(first).metadata or {}
    except (OSError, pa.ArrowInvalid):
        return None
    raw = meta.get(_SPARK_SCHEMA_KEY)
    return None if raw is None else T.StructType.fromJson(json.loads(raw))


def read_parquet_dir(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the footer
    (``footer_schema``) instead of inferred by a Spark job."""
    schema = footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side relation (ledger rows, dimension rows) as one
    partition. Built from pandas it plans as a ``LocalTableScan``. Built
    from a Python list it would plan as ``Scan ExistingRDD`` over
    ``defaultParallelism`` partitions, fork a Python worker to write, and
    leave an empty file beside the data. ``coalesce(1)`` keeps a write to
    one file (a ``LocalTableScan`` spreads over min(rows, cores)
    partitions)."""
    struct = T.StructType.fromDDL(schema)
    pdf = pd.DataFrame.from_records(rows, columns=struct.names)
    return spark.createDataFrame(pdf, struct).coalesce(1)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # --- catalog introspection (S6: information_schema / PRAGMA table_info
    # / duckdb_columns — dags/ducklake_utils.py:152-158, get_shema.py:14) ---
    def table_exists(self, name: str) -> bool:
        """A directory with a flat data file, a ``_SUCCESS`` marker or a
        ``k=v`` partition directory (the layout ``_first_data_file``
        descends), whichever engine wrote it."""
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS"
            or ("=" in f and os.path.isdir(os.path.join(p, f)))
            for f in os.listdir(p)
        )

    def list_tables(self) -> list[str]:
        """Readable tables only: snapshot stores (``<name>__snapshots``) and
        other directories without table data are not tables."""
        return sorted(d for d in os.listdir(self.root) if self.table_exists(d))

    def read(self, name: str) -> DataFrame:
        return read_parquet_dir(self.spark, self.path(name))

    # --- sinks -------------------------------------------------------------
    def create_if_not_exists(self, name: str, schema: T.StructType, partition_by: list[str] | None = None) -> None:
        if not self.table_exists(name):
            empty = self.spark.createDataFrame([], schema)
            w = empty.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(name))

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def create_or_replace(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def replace_partition(self, name: str, df: DataFrame, partition_col: str) -> None:
        """Delete-then-insert per partition key: dynamic partition overwrite
        only rewrites the partitions present in ``df`` — the Delta
        ``replaceWhere`` / reference DELETE+INSERT unit of atomicity."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(self.path(name))
        )

    def create_or_replace_clustered(
        self, name: str, df: DataFrame, cluster_by: list[str], n_files: int | None = None
    ) -> None:
        """K3 with clustered layout: range-partition + sort-within-partitions
        on the cluster keys, so parquet row-group min/max stats prune reads
        on those columns (the Z-order substitute SURVEY §4.3 suggests for
        gold tables — e.g. cluster gold_typical_day_patterns by
        (day_type, hour_period))."""
        cols = [F.col(c) for c in cluster_by]
        out = df.repartitionByRange(*(([n_files] if n_files else []) + cols))
        out = out.sortWithinPartitions(*cols)
        out.write.mode("overwrite").parquet(self.path(name))

    def create_or_replace_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_by: list[str],
        n_buckets: int = 32,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Hash-bucketed + sorted table layout: ``bucketBy`` makes the scan
        report ``HashPartitioning(bucket_by, n_buckets)``, so joins and
        aggregations keyed on the bucket columns need NO Exchange — the
        one-time ETL write replaces a per-query shuffle of the fact
        relation (the 100 TB answer to fine-grained-aggregation shapes
        like TPC-H Q2/Q11/Q16's partsupp surrogate, VERDICT r3 #2).
        ``bucket_by`` may be a strict SUBSET of downstream grouping keys:
        hash(k) satisfies ClusteredDistribution over any superset of k, so
        bucketing by the coarser key serves groupBy(k, …), windows over k,
        and self-joins on k from ONE layout (the subset-key single-exchange
        idiom, SCALE.md §8g — materialized as a table instead of a shuffle).
        Registered in the session catalog (saveAsTable) because file-based
        bucketing metadata lives there; returns the table DataFrame."""
        spark = df.sparkSession
        # a bucketed scan must not be silently re-planned away
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        (
            df.write.mode("overwrite")
            .option("path", self.path(name))  # external: data under THIS
            # warehouse's root, so concurrent processes with distinct
            # Warehouse roots never clobber each other's files
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*(sort_by if sort_by is not None else bucket_by))
            .saveAsTable(name)
        )
        return spark.table(name)

    def create_or_replace_zordered(
        self,
        name: str,
        df: DataFrame,
        x_col: str,
        y_col: str,
        bits: int = 16,
        n_files: int | None = None,
    ) -> None:
        """Two-dimensional clustered layout via a Morton (Z-order) key:
        range-partition + sort on the bit-interleaved key, so every output
        file covers a small RECTANGLE in (x, y) — parquet min/max stats
        then prune scans filtered on EITHER column (single-key clustering
        only prunes its own column). The Delta/Iceberg ``OPTIMIZE ZORDER
        BY`` analog for the plain-parquet warehouse; the interleave is a
        pure codegen expression (``zorder_expr``), no UDF."""
        z = F.expr(zorder_expr(x_col, y_col, bits)).alias("_z")
        out = df.select("*", z)
        out = out.repartitionByRange(*([n_files] if n_files else []), F.col("_z"))
        out = out.sortWithinPartitions("_z")
        out.drop("_z").write.mode("overwrite").parquet(self.path(name))

    def drop_if_exists(self, name: str) -> None:
        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def merge_upsert(self, name: str, updates: DataFrame, keys: list[str]) -> None:
        """MERGE INTO emulation without Delta (guide: "CDC/SCD2 → MERGE
        INTO … emulate with anti-join + union"): rows matching ``keys`` in
        ``updates`` replace existing rows, others append. With Delta jars
        on the classpath this becomes ``DeltaTable.merge`` verbatim."""
        if not self.table_exists(name):
            self.create_or_replace(name, updates)
            return
        existing = self.read(name)
        kept = existing.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(updates).localCheckpoint(eager=True)
        self.create_or_replace(name, merged)

    # --- idempotency guards -------------------------------------------------
    def count_where(self, name: str, predicate: pads.Expression) -> int:
        """Rows of ``name`` matching a ``pyarrow.dataset`` expression,
        counted on the driver (see the module docstring). A table that
        does not exist, or an empty partitioned one (only ``_SUCCESS``, no
        files to take a schema from), counts 0."""
        if not self.table_exists(name):
            return 0
        ds = pads.dataset(self.path(name), format="parquet", partitioning="hive")
        if not ds.files:
            return 0
        return ds.count_rows(filter=predicate)

    def skip_if_present(self, name: str, predicate: pads.Expression) -> bool:
        """True → data for this key already loaded, caller should skip
        (dags/mitma/bronze_mitma.py:38-47)."""
        return self.count_where(name, predicate) > 0

    def update_where(self, name: str, predicate, assignments: dict) -> None:
        """UPDATE ... SET ... WHERE (K5, dags/mitma/gold_mitma.py:103-107):
        read-modify-overwrite; with Delta this becomes a native UPDATE."""
        df = self.read(name)
        out = df
        for col, value in assignments.items():
            out = out.withColumn(col, F.when(predicate, value).otherwise(F.col(col)))
        out_cached = out.cache()
        out_cached.count()
        self.create_or_replace(name, out_cached)
        out_cached.unpersist()


def compact_files(
    wh: Warehouse, name: str, target_rows_per_file: int = 1_000_000
) -> tuple[int, int]:
    """Small-file compaction: rewrite a table's parquet directory into
    ``ceil(rows / target_rows_per_file)`` files. Streaming appends and
    per-date batch loads (the reference's ingest pattern) accumulate
    thousands of small files; at 100 TB that defeats scan vectorization
    and floods the driver with file-listing work, so periodic compaction
    is part of the maintenance surface (what OPTIMIZE does on Delta —
    emulated here with coalesce + atomic directory swap). Returns
    (files_before, files_after)."""
    import math

    df = wh.read(name)
    n_rows = df.count()
    before = len([p for p in _parquet_parts(wh.path(name))])
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    tmp = wh.path(name) + "__compacting"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    _swap_dirs(wh.path(name), tmp)
    after = len([p for p in _parquet_parts(wh.path(name))])
    return before, after


def _parquet_parts(path: str) -> list[str]:
    import os

    if not os.path.isdir(path):
        return []
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _swap_dirs(live: str, staged: str) -> None:
    import shutil

    backup = live + "__old"
    shutil.move(live, backup)
    shutil.move(staged, live)
    shutil.rmtree(backup)


# --- Snapshots / time travel (DuckLake's snapshot model, emulated) -----------
# The reference sits on DuckLake, whose catalog keeps every table version
# as an immutable snapshot. Same model here: each snapshot_replace writes
# an immutable v{N} directory and flips a _CURRENT pointer — readers of
# older versions are never disturbed (writer-isolated, atomic pointer),
# and rollback is a pointer flip, not a data rewrite. This is what Delta
# time travel does with its transaction log, reduced to the parquet-dir
# warehouse this engine tests against.
def snapshot_replace(wh: Warehouse, name: str, df: DataFrame) -> int:
    base = wh.path(name) + "__snapshots"
    os.makedirs(base, exist_ok=True)
    version = max(snapshot_versions(wh, name), default=-1) + 1
    df.write.mode("overwrite").parquet(os.path.join(base, f"v{version}"))
    _write_pointer(base, version)
    return version


def snapshot_versions(wh: Warehouse, name: str) -> list[int]:
    base = wh.path(name) + "__snapshots"
    if not os.path.isdir(base):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(base) if d.startswith("v") and d[1:].isdigit()
    )


def snapshot_read(wh: Warehouse, name: str, version: int | None = None) -> DataFrame:
    base = wh.path(name) + "__snapshots"
    if version is None:
        with open(os.path.join(base, "_CURRENT")) as f:
            version = int(f.read().strip())
    return read_parquet_dir(wh.spark, os.path.join(base, f"v{version}"))


def snapshot_rollback(wh: Warehouse, name: str, version: int) -> None:
    if version not in snapshot_versions(wh, name):
        raise ValueError(f"no snapshot v{version} of {name}")
    _write_pointer(wh.path(name) + "__snapshots", version)


def _write_pointer(base: str, version: int) -> None:
    tmp = os.path.join(base, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(base, "_CURRENT"))  # atomic on POSIX


def snapshot_vacuum(wh: Warehouse, name: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshot versions
    (never the current pointer's target). Returns removed versions. The
    Delta VACUUM analog for the snapshot dirs — at 100 TB, unreferenced
    versions are the dominant storage cost of frequent full refreshes."""
    base = wh.path(name) + "__snapshots"
    versions = snapshot_versions(wh, name)
    with open(os.path.join(base, "_CURRENT")) as f:
        current = int(f.read().strip())
    keep = set(versions[-keep_last:]) | {current}
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(base, f"v{v}"))
            removed.append(v)
    return removed


def snapshot_publish_audited(
    wh: Warehouse, name: str, df: DataFrame, audits: list
) -> int:
    """Write-audit-publish: the new version directory is written and
    AUDITED before the pointer flips — a failing audit raises and leaves
    the staged (unpublished) version on disk for inspection while every
    reader still sees the old current. ``audits`` are callables
    DataFrame -> (ok: bool, msg: str) evaluated against the staged data
    as re-read from disk (what readers would actually get)."""
    base = wh.path(name) + "__snapshots"
    os.makedirs(base, exist_ok=True)
    version = max(snapshot_versions(wh, name), default=-1) + 1
    staged = os.path.join(base, f"v{version}")
    df.write.mode("overwrite").parquet(staged)
    staged_df = read_parquet_dir(wh.spark, staged)
    for audit in audits:
        ok, msg = audit(staged_df)
        if not ok:
            raise ValueError(f"audit failed for {name} v{version}: {msg}")
    _write_pointer(base, version)
    return version
