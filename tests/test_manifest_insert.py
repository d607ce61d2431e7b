"""manifest_insert — the append-only transactional INSERT engine: the
full-featured twin of the writer DataSource's append. No key merge (dup
keys are preserved — SQL INSERT INTO semantics), CHECK constraints ride
the write job, generated partition columns are computed, column-mapped
tables stay writable, txn tokens replay idempotently, and a
checkpoint-anchored chain plans and commits lazily (never hydrating the
O(files) driver dict).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    ConstraintViolation,
    manifest_add_constraint,
    manifest_checkpoint,
    manifest_history,
    manifest_insert,
    manifest_read,
    manifest_rename_column,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mins_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _seed(spark, path, n=12):
    rows = [(i, f"d{i % 3}", float(i)) for i in range(n)]
    manifest_upsert_partitioned(
        spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE").coalesce(
            2
        ),
        path,
        ["k"],
        "day",
    )


def test_insert_appends_preserving_duplicate_keys(spark, table_path):
    _seed(spark, table_path)
    batch = spark.createDataFrame(
        [(1, "d1", 100.0), (50, "d0", 50.0)], "k LONG, day STRING, v DOUBLE"
    )
    r = manifest_insert(batch, table_path)
    assert r == {"inserted": 2}
    got = manifest_read(spark, table_path)
    # k=1 now appears TWICE — insert never merges by key
    assert got.filter("k = 1").count() == 2
    assert got.count() == 14
    assert manifest_history(table_path)[-1]["op"] == "insert"
    # untouched partitions carried by reference: only d0/d1 changed
    om = manifest_history(table_path)[-1]["op_metrics"]
    assert om["partitions_rewritten"] == 2 and om["files_carried"] >= 2


def test_insert_refuses_missing_table(spark, table_path):
    batch = spark.createDataFrame([(1, "d0", 1.0)], "k LONG, day STRING, v DOUBLE")
    with pytest.raises(ValueError, match="does not exist"):
        manifest_insert(batch, table_path)


def test_insert_enforces_check_constraints(spark, table_path):
    _seed(spark, table_path)
    manifest_add_constraint(spark, table_path, "v_nonneg", "v >= 0")
    bad = spark.createDataFrame(
        [(90, "d0", -1.0)], "k LONG, day STRING, v DOUBLE"
    )
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        manifest_insert(bad, table_path)
    # aborted BEFORE staging: no new version, content unchanged
    assert manifest_history(table_path)[-1]["op"].startswith("add-constraint")
    assert manifest_read(spark, table_path).count() == 12
    ok = spark.createDataFrame(
        [(90, "d0", 9.0)], "k LONG, day STRING, v DOUBLE"
    )
    assert manifest_insert(ok, table_path) == {"inserted": 1}


def test_insert_into_column_mapped_table(spark, table_path):
    _seed(spark, table_path)
    manifest_rename_column(table_path, "v", "score")
    batch = spark.createDataFrame(
        [(70, "d2", 7.0)], "k LONG, day STRING, score DOUBLE"
    )
    assert manifest_insert(batch, table_path) == {"inserted": 1}
    got = manifest_read(spark, table_path)
    assert got.filter("k = 70").collect()[0].score == 7.0
    # pre-rename files still read re-labeled next to the new file
    assert got.count() == 13


def test_insert_txn_token_idempotent(spark, table_path):
    _seed(spark, table_path)
    batch = spark.createDataFrame(
        [(60, "d0", 6.0)], "k LONG, day STRING, v DOUBLE"
    )
    assert manifest_insert(batch, table_path, txn=("app", 1)) == {
        "inserted": 1
    }
    r = manifest_insert(batch, table_path, txn=("app", 1))
    assert r["skipped"] and r["inserted"] == 0
    assert manifest_read(spark, table_path).filter("k = 60").count() == 1


def test_insert_lazy_off_checkpoint_equals_eager(spark, table_path):
    _seed(spark, table_path, n=30)
    manifest_checkpoint(table_path)
    # a couple of post-checkpoint commits so the head is chain-anchored
    for i in (100, 101):
        manifest_insert(
            spark.createDataFrame(
                [(i, "d0", float(i))], "k LONG, day STRING, v DOUBLE"
            ),
            table_path,
        )
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "insert"
    got = manifest_read(spark, table_path)
    assert got.count() == 32
    assert got.filter("k >= 100").count() == 2
    # full materialization at head agrees with the lazy commits
    assert (
        manifest_read(spark, table_path, version=hist[-1]["version"]).count()
        == 32
    )


def test_insert_schema_evolution_adds_column(spark, table_path):
    _seed(spark, table_path)
    batch = spark.createDataFrame(
        [(80, "d0", 8.0, "x")], "k LONG, day STRING, v DOUBLE, tag STRING"
    )
    assert manifest_insert(batch, table_path) == {"inserted": 1}
    got = manifest_read(spark, table_path)
    assert "tag" in got.columns
    assert got.filter("tag IS NOT NULL").count() == 1
    # narrow batch never regresses the evolved schema
    narrow = spark.createDataFrame(
        [(81, "d0", 8.1)], "k LONG, day STRING, v DOUBLE"
    )
    manifest_insert(narrow, table_path)
    assert "tag" in manifest_read(spark, table_path).columns
