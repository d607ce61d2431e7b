"""JVM-side staged append (r13 optimization): the SQL dispatcher's
INSERT/CTAS path stages with Spark's native parquet writer and commits
through ManifestAppendWriter's own loop — no create-data-source worker,
no per-partition Python write tasks — while staying byte-identical to
the DataSource writer in manifest content: same op/op_metrics history
record, same partition keys, same empty-write no-op — for every
partition-column type."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources import (
    manifest_batch as mb,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    _fast_staged_append,
    manifest_sql,
    manifest_sql_register,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    NULL_PARTITION_KEY,
    _latest_manifest,
    manifest_history,
    manifest_read,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/fsa_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _spy(monkeypatch):
    """Count fast-path entries and completed calls without changing
    behavior."""
    calls = {"n": 0, "taken": 0}
    orig = _fast_staged_append

    def wrapper(df, path, options, overwrite):
        calls["n"] += 1
        orig(df, path, options, overwrite)
        calls["taken"] += 1

    monkeypatch.setattr(mb, "_fast_staged_append", wrapper)
    return calls


def test_sql_insert_takes_fast_path(spark, table_path, monkeypatch):
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, day STRING) LOCATION "
        f"'{table_path}' PARTITIONED BY (day)",
    )
    manifest_sql(
        spark,
        f"INSERT INTO {view} VALUES (1, 'd0'), (2, 'd1'), (3, 'd0')",
    )
    assert calls["n"] == 1 and calls["taken"] == 1
    # history record identical to the DataSource writer's commit
    last = manifest_history(table_path)[-1]
    assert last["op"] == "append"
    assert last["op_metrics"]["rows_appended"] == 3
    # one file per (task, partition): layout-dependent, but every file
    # is counted and at least one per touched partition exists
    assert last["op_metrics"]["files_added"] >= 2
    # partition keys are the writer-convention raw values
    _, content = _latest_manifest(table_path)
    assert sorted(content["partitions"]) == ["d0", "d1"]
    got = sorted(
        tuple(r) for r in manifest_read(spark, table_path).collect()
    )
    assert got == [(1, "d0"), (2, "d1"), (3, "d0")]


def test_sql_ctas_takes_fast_path_and_empty_insert_is_noop(
    spark, table_path, monkeypatch
):
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' PARTITIONED BY "
        "(day) AS SELECT id AS k, concat('d', id % 2) AS day FROM "
        "range(6)",
    )
    assert calls["taken"] == 1
    v1, _ = _latest_manifest(table_path)
    # empty INSERT: no files, no commit, no version — the Python
    # writer's no-op contract
    manifest_sql(spark, f"INSERT INTO {view} SELECT k, day FROM {view} WHERE k < 0")
    v2, _ = _latest_manifest(table_path)
    assert calls["taken"] == 2
    assert v2 == v1
    assert manifest_read(spark, table_path).count() == 6


def test_dynamic_overwrite_via_fast_path(spark, table_path, monkeypatch):
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' PARTITIONED BY "
        "(day) AS SELECT id AS k, concat('d', id % 2) AS day FROM "
        "range(4)",
    )
    manifest_sql(
        spark,
        f"INSERT OVERWRITE {view} VALUES (100, 'd0'), (101, 'd0')",
    )
    assert calls["taken"] == 2
    last = manifest_history(table_path)[-1]
    assert last["op"] == "dynamic-overwrite"
    got = sorted(tuple(r) for r in manifest_read(spark, table_path).collect())
    # d0 replaced wholesale, d1 untouched
    assert got == [(1, "d1"), (3, "d1"), (100, "d0"), (101, "d0")]


def test_null_partition_value_key(spark, table_path, monkeypatch):
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, day STRING) LOCATION "
        f"'{table_path}' PARTITIONED BY (day)",
    )
    manifest_sql(
        spark,
        f"INSERT INTO {view} VALUES (1, CAST(NULL AS STRING)), (2, 'd0')",
    )
    assert calls["taken"] == 1
    _, content = _latest_manifest(table_path)
    assert sorted(content["partitions"]) == [NULL_PARTITION_KEY, "d0"]
    got = sorted(
        (tuple(r) for r in manifest_read(spark, table_path).collect()),
        key=lambda t: t[0],
    )
    assert got == [(1, None), (2, "d0")]


def test_boolean_partition_takes_staged_path(
    spark, table_path, monkeypatch
):
    """bool keys follow the one key rule, CAST(flag AS STRING): the
    staged path serves them like every other type."""
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' PARTITIONED BY "
        "(flag) AS SELECT id AS k, id % 2 = 0 AS flag FROM range(4)",
    )
    assert calls["n"] == 1 and calls["taken"] == 1
    _, content = _latest_manifest(table_path)
    assert sorted(content["partitions"]) == ["false", "true"]
    assert manifest_read(spark, table_path).count() == 4


def test_unpartitioned_ctas_fast_path(spark, table_path, monkeypatch):
    calls = _spy(monkeypatch)
    view = f"fsa_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(5)",
    )
    assert calls["taken"] == 1
    _, content = _latest_manifest(table_path)
    assert list(content["partitions"]) == ["[]"]
    assert manifest_read(spark, table_path).count() == 5
