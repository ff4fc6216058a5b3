"""SparkSession construction.

Mirrors the engine-session bootstrap of the reference
(``dags/ducklake_utils.py:31-141``: thread count, memory budget, temp/spill
dir, insertion-order relaxation, S3 tuning) re-expressed as Spark conf.

Design notes for scale (100 TB / 1000-executor target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- shuffle.partitions defaults to cores locally; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` governs, so the static number only
  seeds the initial plan.
- Arrow enabled so every pandas-UDF boundary is vectorized.
- Session timezone pinned UTC so timestamp semantics are portable and
  match columnar engines (DuckDB oracle) bit-for-bit.
- ANSI mode pinned on: long overflow raises rather than wraps, which the
  exact fixed-point sums (``functions/deterministic.py``) depend on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def s3a_conf(
    endpoint: str,
    path_style: bool = True,
    upload_buffer: str = "disk",
    anonymous: bool | None = None,
) -> dict[str, str]:
    """S3A warehouse configuration — the Spark mirror of the reference's
    ``connect_ducklake`` S3 attach (``dags/ducklake_utils.py:31-141``:
    endpoint, path-style addressing, credential chain, upload tuning).

    Pass to ``build_session(extra_conf=s3a_conf(...))``; credentials ride
    the standard provider chain (env/instance profile), never literals.
    ``anonymous`` is the explicit credential-mode switch for unauthenticated
    local test endpoints (moto/minio) — inferring it from the endpoint
    string ('localhost' yes, '127.0.0.1' no) was a confusing auth-failure
    trap, so the string probe survives only as the *default* when the
    caller doesn't say. Executing against a live endpoint additionally
    needs the hadoop-aws + AWS SDK artifacts on the classpath (a
    deploy-time jar choice; this sandbox ships none, so the smoke test
    asserts the conf surface and the artifact path runs against a
    moto-mocked S3 instead)."""
    if anonymous is None:
        # Exact hostname compare, not a prefix probe: startswith would also
        # match e.g. http://localhost.example.com and silently select
        # anonymous credentials against a remote endpoint.
        from urllib.parse import urlsplit

        host = urlsplit(endpoint).hostname
        anonymous = endpoint.startswith("http://") and host in (
            "localhost",
            "127.0.0.1",
            "::1",
        )
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.path.style.access": "true" if path_style else "false",
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
            if anonymous
            else "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
        ),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": (
            "false" if endpoint.startswith("http://") else "true"
        ),
        "spark.hadoop.fs.s3a.fast.upload.buffer": upload_buffer,
        # on a real deployment also set the cloud-committer pair
        # (fs.s3a.committer.name=magic + PathOutputCommitProtocol) — those
        # classes live in the hadoop-cloud artifact, absent here, and a
        # conf pointing at a missing class would break every local write
    }


def build_session(
    app_name: str = "lakehouse-spain-mobility-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    Parallelism mirrors the reference's ``SET threads = cpu_count``
    (dags/ducklake_utils.py:52-58); spill/temp management is delegated to
    Spark (the reference hand-configures ``temp_directory`` /
    ``max_temp_directory_size``, dags/ducklake_utils.py:28,65).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Match DuckDB's NULL (not NaN) for 1-row STDDEV_SAMP (SURVEY §7.3).
        .config("spark.sql.legacy.statisticalAggregate", "false")
        # Engine-wide read conventions, fixed at construction so no query
        # ever changes planning semantics mid-session (see
        # queries/tables.py:ensure_read_convention for the rationale):
        # TIMESTAMP(NANOS) parquet reads as long (+ explicit µs truncation)
        # instead of erroring, and bucketed table scans are never silently
        # re-planned into plain scans (the zero-Exchange layouts exist
        # precisely to be used).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # After extra_conf, so no caller can switch off the overflow errors
    # the exact sums rely on (see the module docstring).
    builder = builder.config("spark.sql.ansi.enabled", "true")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
