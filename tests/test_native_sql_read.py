"""Native reads of SQL-registered manifest views: every parquet snapshot
of at most ``manifest_batch._NATIVE_READ_MAX_FILES`` (64) files
binds as a JVM parquet FileScan over the snapshot's exact live file
list, through the loader the DML verbs read with — merge-on-read
deletes as anti-joins, column mapping as a re-labelling projection,
evolved directories as per-schema groups. Only larger snapshots and
legacy manifests listed by directory keep the Python DataSource. Rows
must be identical between the two bindings in every table state, and
a clean native binding is never rebound between statements."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources import (
    manifest_batch as mb,
    sinks,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    manifest_sql,
    manifest_sql_register,
    manifest_sql_unregister,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    _publish_manifest,
    manifest_delete,
    manifest_delete_where,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/nsr_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _plan(spark, view: str) -> str:
    return spark.table(view)._jdf.queryExecution().executedPlan().toString()


def _is_native(plan: str) -> bool:
    return "FileScan parquet" in plan and "(Python)" not in plan


def _rows(spark, view: str):
    return sorted(map(tuple, spark.table(view).collect()), key=repr)


def _register_ds(spark, view, path, monkeypatch, **kw):
    """Bind through the Python DataSource regardless of snapshot shape."""
    with monkeypatch.context() as m:
        m.setattr(mb, "_NATIVE_READ_MAX_FILES", 0)
        manifest_sql_register(spark, view, path, **kw)


def _ds_rows(spark, path, monkeypatch, **kw):
    """The DataSource binding's rows for the same snapshot, read through
    a throwaway view so the view under test keeps its binding."""
    view = f"nsr_ds_{uuid.uuid4().hex[:8]}"
    _register_ds(spark, view, path, monkeypatch, **kw)
    try:
        assert "(Python)" in _plan(spark, view)
        return _rows(spark, view)
    finally:
        manifest_sql_unregister(spark, view)


def _assert_native_matches_ds(spark, path, monkeypatch, **kw):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, path, **kw)
    try:
        assert _is_native(_plan(spark, view))
        native = _rows(spark, view)
    finally:
        manifest_sql_unregister(spark, view)
    assert native == _ds_rows(spark, path, monkeypatch, **kw)
    return native


def _seed(spark, table_path, n=30):
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(n)],
            "k LONG, day STRING, v DOUBLE",
        ),
        table_path,
        ["k"],
        "day",
    )


def test_plain_snapshot_binds_native_and_matches_ds(
    spark, table_path, monkeypatch
):
    rows = [(i, f"d{i % 3}", float(i)) for i in range(30)]
    manifest_upsert_partitioned(
        spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE").coalesce(2),
        table_path,
        ["k"],
        "day",
    )
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    plan = _plan(spark, view)
    assert "FileScan parquet" in plan and "(Python)" not in plan
    native = _rows(spark, view)
    _register_ds(spark, view, table_path, monkeypatch)
    assert "(Python)" in _plan(spark, view)
    assert native == _rows(spark, view) and len(native) == 30
    manifest_sql_unregister(spark, view)


def test_native_filter_pushes_to_parquet(spark, table_path):
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(30)],
            "k LONG, day STRING, v DOUBLE",
        ),
        table_path,
        ["k"],
        "day",
    )
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    plan = (
        spark.table(view)
        .filter(F.col("v") >= 10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(v), GreaterThanOrEqual(v,10.0)" in plan
    manifest_sql_unregister(spark, view)


def test_mor_delete_binds_native_and_matches_ds(
    spark, table_path, monkeypatch
):
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(30)],
            "k LONG, day STRING, v DOUBLE",
        ),
        table_path,
        ["k"],
        "day",
    )
    manifest_delete_where(spark, table_path, "k % 2 = 0", mode="mor")
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    assert _is_native(_plan(spark, view))  # pending deletes: anti-join
    got = _rows(spark, view)
    assert len(got) == 15 and all(r[0] % 2 == 1 for r in got)
    assert got == _ds_rows(spark, table_path, monkeypatch)
    manifest_sql_unregister(spark, view)


def test_evolved_table_binds_native_and_matches_ds(
    spark, table_path, monkeypatch
):
    """After ADD COLUMN the pre-evolution dirs need null-fill — the
    native loader reads them as their own schema group."""
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k, concat('n', id) AS name FROM range(5)",
    )
    manifest_sql(spark, f"ALTER TABLE {view} ADD COLUMN note STRING")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (100, 'x', 'noted')")
    plan = _plan(spark, view)
    assert _is_native(plan)
    got = _rows(spark, view)
    assert (100, "x", "noted") in got
    assert sum(1 for r in got if r[2] is None) == 5  # null-filled old rows
    assert got == _ds_rows(spark, table_path, monkeypatch)
    manifest_sql_unregister(spark, view)


def test_time_travel_binds_native_per_version(spark, table_path):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k FROM range(3)",
    )
    manifest_sql(spark, f"INSERT INTO {view} SELECT id + 10 FROM range(2)")
    old = manifest_sql(
        spark, f"SELECT COUNT(*) AS n FROM {view} VERSION AS OF 1"
    ).collect()[0]["n"]
    new = manifest_sql(spark, f"SELECT COUNT(*) AS n FROM {view}").collect()[0][
        "n"
    ]
    assert (old, new) == (3, 5)
    manifest_sql_unregister(spark, view)


def test_empty_table_native_binding(spark, table_path):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, day STRING) LOCATION "
        f"'{table_path}' PARTITIONED BY (day)",
    )
    assert spark.table(view).count() == 0
    assert [f.name for f in spark.table(view).schema.fields] == ["k", "day"]
    manifest_sql_unregister(spark, view)


# --- native vs DataSource, state by state ---------------------------------


def test_differential_one_positional_delete(spark, table_path, monkeypatch):
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "k % 4 = 1", mode="mor")
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert len(got) == 30 - 8 and not [r for r in got if r[0] % 4 == 1]


def test_differential_consolidated_positional_deletes(
    spark, table_path, monkeypatch
):
    monkeypatch.setattr(sinks, "POS_CONSOLIDATE_THRESHOLD", 1)
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "k % 3 = 0", mode="mor")
    manifest_delete_where(spark, table_path, "k % 5 = 0", mode="mor")
    deletes = _latest_manifest(table_path)[1]["deletes"]
    assert len(deletes) == 1 and deletes[0]["kind"] == "pos"
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert sorted(r[0] for r in got) == [
        k for k in range(30) if k % 3 and k % 5
    ]


def test_differential_equality_delete(spark, table_path, monkeypatch):
    _seed(spark, table_path)
    manifest_delete(
        spark.createDataFrame([(3,), (4,), (29,)], "k LONG"), table_path, ["k"]
    )
    deletes = _latest_manifest(table_path)[1]["deletes"]
    assert [e.get("kind") for e in deletes] == [None]  # equality entry
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert sorted(r[0] for r in got) == [
        k for k in range(30) if k not in (3, 4, 29)
    ]


def test_differential_rename_and_drop_under_column_mapping(
    spark, table_path, monkeypatch
):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k, concat('n', id) AS name, id * 2 AS w FROM range(6)",
    )
    manifest_sql(spark, f"ALTER TABLE {view} RENAME COLUMN name TO label")
    manifest_sql(spark, f"ALTER TABLE {view} DROP COLUMN w")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (100, 'x')")
    manifest_sql(spark, f"DELETE FROM {view} WHERE k = 1")
    assert _latest_manifest(table_path)[1].get("col_ids")
    manifest_sql_unregister(spark, view)
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert got == sorted(
        [(k, f"n{k}") for k in range(6) if k != 1] + [(100, "x")], key=repr
    )


def test_differential_add_column(spark, table_path, monkeypatch):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k, concat('n', id) AS name FROM range(4)",
    )
    manifest_sql(spark, f"ALTER TABLE {view} ADD COLUMN note STRING")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (7, 'x', 'noted')")
    manifest_sql_unregister(spark, view)
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert got == sorted(
        [(k, f"n{k}", None) for k in range(4)] + [(7, "x", "noted")], key=repr
    )


def test_differential_type_widening(spark, table_path, monkeypatch):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT CAST(id AS INT) AS k, CAST(id AS INT) AS v FROM range(4)",
    )
    manifest_sql(spark, f"ALTER TABLE {view} ALTER COLUMN v TYPE BIGINT")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (9, 5000000000)")
    manifest_sql_unregister(spark, view)
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert got == sorted(
        [(k, k) for k in range(4)] + [(9, 5000000000)], key=repr
    )


def test_differential_version_as_of_pending_deletes(
    spark, table_path, monkeypatch
):
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "k < 10", mode="mor")
    pinned = _latest_manifest(table_path)[0]
    manifest_delete_where(spark, table_path, "k >= 20", mode="mor")
    got = _assert_native_matches_ds(
        spark, table_path, monkeypatch, version=pinned
    )
    assert sorted(r[0] for r in got) == list(range(10, 30))
    # the SQL time-travel spelling binds the same native snapshot
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    df = manifest_sql(spark, f"SELECT * FROM {view} VERSION AS OF {pinned}")
    assert _is_native(df._jdf.queryExecution().executedPlan().toString())
    assert sorted(map(tuple, df.collect()), key=repr) == got
    assert spark.table(view).count() == 10
    manifest_sql_unregister(spark, view)


def test_dir_without_recorded_schema_merges_schema(
    spark, table_path, monkeypatch
):
    """A live dir that lacks a ``dir_schemas`` entry (a manifest written
    before dir schemas were recorded) must not be read with the table
    schema: it takes the mergeSchema group and is aligned like any
    evolved dir, so widened and added columns come out as the
    DataSource gives them."""
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT CAST(id AS INT) AS k, concat('n', id) AS name FROM range(4)",
    )
    old_dirs = set(_latest_manifest(table_path)[1]["dir_schemas"])
    manifest_sql(spark, f"ALTER TABLE {view} ALTER COLUMN k TYPE BIGINT")
    manifest_sql(spark, f"ALTER TABLE {view} ADD COLUMN note STRING")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (100, 'x', 'noted')")
    manifest_sql_unregister(spark, view)
    version, content = _latest_manifest(table_path)
    content = dict(content)
    content["dir_schemas"] = {
        d: s for d, s in content["dir_schemas"].items() if d not in old_dirs
    }
    _publish_manifest(table_path, version + 1, content, op="legacy")
    published = _latest_manifest(table_path)[1]
    assert old_dirs and not old_dirs & set(published["dir_schemas"])
    assert old_dirs <= sinks._live_dirs(published)
    got = _assert_native_matches_ds(spark, table_path, monkeypatch)
    assert got == sorted(
        [(k, f"n{k}", None) for k in range(4)] + [(100, "x", "noted")],
        key=repr,
    )


# --- registry: native bindings are not rebound per statement ---------------


def _count_native_builds(monkeypatch) -> list:
    calls: list = []
    real = mb._native_read_frame

    def counting(*a, **kw):
        calls.append(a[1])
        return real(*a, **kw)

    monkeypatch.setattr(mb, "_native_read_frame", counting)
    return calls


def test_clean_native_view_is_not_rebound(spark, table_path, monkeypatch):
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "k % 2 = 0", mode="mor")
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    assert mb._SQL_TABLES[view.lower()][5] is True
    calls = _count_native_builds(monkeypatch)
    q = f"SELECT count(*) AS n FROM {view} WHERE day = 'd1'"
    assert manifest_sql(spark, q).collect()[0].n == 5
    assert manifest_sql(spark, q).collect()[0].n == 5
    # two references in one statement: no no-prune rebind either
    r = manifest_sql(
        spark,
        f"SELECT (SELECT count(*) FROM {view}) AS total, "
        f"(SELECT count(*) FROM {view} WHERE day = 'd0') AS d0",
    ).collect()[0]
    assert (r.total, r.d0) == (15, 5)
    assert calls == [] and view.lower() not in mb._VIEW_DIRTY
    manifest_sql_unregister(spark, view)


def test_follow_head_native_view_rebinds_after_commit(
    spark, table_path, monkeypatch
):
    _seed(spark, table_path)
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path, follow_head=True)
    calls = _count_native_builds(monkeypatch)
    q = f"SELECT count(*) AS n FROM {view}"
    assert manifest_sql(spark, q).collect()[0].n == 30
    assert calls == []
    # another writer commits: the next statement rebinds at the new head
    manifest_delete_where(spark, table_path, "k < 5", mode="mor")
    assert manifest_sql(spark, q).collect()[0].n == 25
    assert calls == [table_path]
    assert mb._SQL_TABLES[view.lower()][5] is True
    assert manifest_sql(spark, q).collect()[0].n == 25
    assert calls == [table_path]
    manifest_sql_unregister(spark, view)
