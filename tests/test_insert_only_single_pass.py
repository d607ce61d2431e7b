"""The idempotent insert-only append (S7, ``sources.sinks``) runs as one
observed write job: these tests pin what that job leaves on disk.

- A re-run that appends nothing leaves the target's file listing exactly as
  it was: Spark writes a schema-only file even for an empty append, and the
  sink deletes what that write added.
- A small append lands as ONE data file. A cached plan pinned to
  ``spark.sql.shuffle.partitions`` output partitions used to write one file
  per shuffle partition; this guards against that coming back.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_insert_only,
)
from data_management_service_run_etl_imputations_spark.streaming.events import (
    foreach_batch_incremental,
    read_events_stream,
)

KEYS = ["k"]


def _listing(path: str) -> list[str]:
    """Every file under ``path`` (data, checksums, markers), relative."""
    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for f in _listing(path))


@pytest.fixture()
def shuffle_32(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    yield spark
    spark.conf.set(key, old)


def _batch(spark, lo: int, hi: int):
    """Rows k in [lo, hi) coming out of a 32-partition shuffle, the shape
    of a pipeline's final aggregate."""
    return (
        spark.range(lo, hi)
        .union(spark.range(lo, hi))
        .groupBy(F.col("id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_small_append_writes_one_data_file(shuffle_32, tmp_path):
    spark = shuffle_32
    path = str(tmp_path / "fact")
    assert incremental_insert_only(_batch(spark, 0, 300), path, KEYS) == 300
    assert _data_files(path) == 1
    # an anti-joined append of 300 new keys out of 600 offered adds one file
    assert incremental_insert_only(_batch(spark, 0, 600), path, KEYS) == 300
    assert _data_files(path) == 2
    assert spark.read.parquet(path).count() == 600


def test_idempotent_rerun_leaves_listing_identical(shuffle_32, tmp_path):
    spark = shuffle_32
    path = str(tmp_path / "fact")
    batch = _batch(spark, 0, 200)
    assert incremental_insert_only(batch, path, KEYS) == 200
    before = _listing(path)
    assert incremental_insert_only(batch, path, KEYS) == 0
    assert _listing(path) == before
    assert spark.read.parquet(path).count() == 200


def test_empty_first_append_creates_nothing(spark, tmp_path):
    path = str(tmp_path / "fact")
    assert incremental_insert_only(_batch(spark, 0, 0), path, KEYS) == 0
    assert not os.path.exists(path)


def test_foreach_batch_redelivery_leaves_listing_identical(spark, sf_dir, tmp_path):
    target = str(tmp_path / "events_fact")
    foreach_batch_incremental(
        read_events_stream(spark, sf_dir).select("event_id", "value"),
        target, ["event_id"],
    )
    before = _listing(target)
    n = spark.read.parquet(target).count()
    # a lost checkpoint makes the stream deliver the same micro-batch again
    shutil.rmtree(target + "_checkpoint")
    foreach_batch_incremental(
        read_events_stream(spark, sf_dir).select("event_id", "value"),
        target, ["event_id"],
    )
    assert _listing(target) == before
    assert spark.read.parquet(target).count() == n
