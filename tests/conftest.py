from __future__ import annotations

import itertools
import os
import time

import pytest

os.environ.setdefault("TZ", "UTC")

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from lakehouse_spain_mobility_spark.session import build_session

    warehouse = str(tmp_path_factory.mktemp("spark_warehouse"))
    spark = build_session(
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


_groups = itertools.count()


def jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-launched-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(1.0)  # the status store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))
