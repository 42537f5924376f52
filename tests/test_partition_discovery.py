"""Partition discovery of date-partitioned tables.

Spark lists a table's partition directories in one parallel job once there
are more than ``parallelPartitionDiscovery.threshold`` (32) of them. The
session caps that job at ``spark.sql.shuffle.partitions`` tasks instead of
one task per directory; these tests pin the bound and check the capped
listing still resolves the same table.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql.types import DateType

from binance_futures_availability_spark import catalog

N_DATES = 100
D0 = dt.date(2024, 1, 1)


def _write_dates(spark, path):
    """A date-partitioned fact table with one BTCUSDT row per date."""
    from conftest import _row

    from binance_futures_availability_spark.schema import DAILY_AVAILABILITY
    from binance_futures_availability_spark.sources import writer

    rows = [
        _row(D0 + dt.timedelta(days=i), "BTCUSDT", True, float(i))
        for i in range(N_DATES)
    ]
    writer.write_partitioned(
        spark.createDataFrame(rows, DAILY_AVAILABILITY), path
    )


def _open_in_group(spark, path):
    """``catalog.open_table(path)`` under a fresh job group; returns the
    group id."""
    sc = spark.sparkContext
    group = f"discovery-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        catalog.open_table(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return group


def _tasks_in_group(sc, group, timeout_s=30.0):
    """Sum of ``numTasks`` over every stage of every job in ``group``.

    The status store is fed by the asynchronous listener bus, so wait until
    every job of the group reports SUCCEEDED and every stage is visible: a
    stage missing from the sum would undercount."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [
            tracker.getStageInfo(s)
            for job in jobs
            if job is not None
            for s in job.stageIds
        ]
        settled = all(j is not None and j.status == "SUCCEEDED" for j in jobs)
        if settled and all(s is not None for s in stages):
            return len(jobs), sum(s.numTasks for s in stages)
        assert time.monotonic() < deadline, f"jobs of {group} never settled"
        time.sleep(0.05)


def test_open_table_listing_tasks_bounded_by_shuffle_partitions(
    spark, tmp_path
):
    """Opening a 100-date table runs one listing job of at most
    ``spark.sql.shuffle.partitions`` tasks plus one schema-inference task,
    not one listing task per date directory."""
    path = str(tmp_path / "fact")
    _write_dates(spark, path)
    group = _open_in_group(spark, path)
    jobs, tasks = _tasks_in_group(spark.sparkContext, group)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert jobs >= 1
    assert tasks <= width + 1, f"{tasks} tasks to open {N_DATES} dates"


def test_capped_listing_resolves_the_same_table(spark, tmp_path):
    """The capped listing finds every data file and skips markers, infers
    ``date`` as DateType, counts every row, and sees a date added by
    ``writer.upsert_partitioned`` on the next open."""
    from conftest import _row

    from binance_futures_availability_spark.schema import (
        DAILY_AVAILABILITY,
        DAILY_AVAILABILITY_KEY,
        DAILY_AVAILABILITY_VERSION,
    )
    from binance_futures_availability_spark.sources import writer

    path = str(tmp_path / "fact")
    _write_dates(spark, path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # a marker inside a leaf directory is listed by a listing task, not the
    # driver; it must be filtered there too
    open(os.path.join(path, f"date={D0.isoformat()}", "_SUCCESS"), "w").close()
    on_disk = sorted(
        os.path.join(root, name)
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    assert len({os.path.dirname(f) for f in on_disk}) == N_DATES

    df = catalog.open_table(spark, path)
    assert sorted(urlparse(f).path for f in df.inputFiles()) == on_disk
    assert df.schema["date"].dataType == DateType()
    assert df.count() == N_DATES

    new_date = D0 + dt.timedelta(days=N_DATES)
    writer.upsert_partitioned(
        path,
        spark.createDataFrame(
            [_row(new_date, "BTCUSDT", True, 1.0)], DAILY_AVAILABILITY
        ),
        DAILY_AVAILABILITY_KEY,
        DAILY_AVAILABILITY_VERSION,
    )
    reopened = catalog.open_table(spark, path)
    assert reopened.count() == N_DATES + 1
    assert reopened.filter(reopened.date == new_date).count() == 1
