"""Spark job budgets and observed counts of the row-level manifest writes.

Each DML statement materialises its rows once: the staged row count, the
constraint counters and the statement's own counts (rows updated,
deleted, inserted) ride the staging ``localCheckpoint`` as
``Observation`` metrics, and the frames built from driver rows are
LocalRelations (``sinks._local_frame``), which start no Python worker.
The tests count each statement's jobs by job group, check the returned
counts and the ``op_metrics`` of the commit against the expected values
(0 for a zero-row match included), and check that ``_local_frame`` plans
as a ``LocalTableScan`` for every column type. DELETE and UPDATE, in both
modes, also run against a DuckDB model table on an evolved,
two-column-partitioned table with a pending positional delete.
"""

from __future__ import annotations

import datetime
import decimal
import shutil
import tempfile
import uuid

import duckdb
import pytest

from data_management_service_run_etl_imputations_spark.sources.fsck import (
    manifest_fsck,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    manifest_sql,
    manifest_sql_register,
    manifest_sql_unregister,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    _local_frame,
    manifest_add_column,
    manifest_history,
    manifest_read,
    manifest_upsert_partitioned,
)

COLS = "empleado_id INT, fecha DATE, tarea STRING, horas DOUBLE"
KEYS = ("empleado_id", "fecha", "tarea")
ON = " AND ".join(f"t.{c} = s.{c}" for c in KEYS)
EMPLOYEES = 40
DAYS = 4


def _day(i: int) -> datetime.date:
    return datetime.date(2024, 3, 1) + datetime.timedelta(days=i)


@pytest.fixture()
def fact(spark):
    """A date-partitioned table, one data file per day, registered as a
    view; yields ``(view, path)``."""
    path = f"{tempfile.gettempdir()}/jobbudget_{uuid.uuid4().hex[:12]}"
    rows = [
        (e, _day(d), f"t{t}", float(e + d + t))
        for d in range(DAYS)
        for e in range(EMPLOYEES)
        for t in range(2)
    ]
    manifest_upsert_partitioned(
        spark.createDataFrame(rows, COLS).coalesce(1), path, list(KEYS), "fecha"
    )
    view = f"jb_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, path)
    yield view, path
    manifest_sql_unregister(spark, view)
    shutil.rmtree(path, ignore_errors=True)


def _run(spark, sql: str, **kw):
    """Run one statement through ``manifest_sql``; return its result and
    the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"jobbudget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        result = manifest_sql(spark, sql, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _last_metrics(path: str) -> dict:
    return manifest_history(path)[-1]["op_metrics"]


def _source(spark, rows) -> str:
    name = f"jb_src_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(rows, COLS).createOrReplaceTempView(name)
    return name


def test_merge_job_budget_and_counts(spark, fact):
    view, path = fact
    new = [(e, _day(DAYS), f"t{t}", 1.0) for e in range(EMPLOYEES) for t in range(2)]
    upd = [(e, _day(1), "t0", 100.0 + e) for e in range(0, 20, 2)]
    dele = [(e, _day(2), "t1", -1.0) for e in range(5)]
    src = _source(spark, new + upd + dele)
    result, jobs = _run(
        spark,
        f"MERGE INTO {view} t USING {src} s ON {ON} "
        "WHEN MATCHED AND s.horas < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET horas = s.horas "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert (result["updated"], result["deleted"], result["inserted"]) == (
        10, 5, 80,
    )
    m = _last_metrics(path)
    assert (m["rows_updated"], m["rows_deleted"], m["rows_inserted"]) == (
        10, 5, 80,
    )
    # 95 source keys over 4 candidate files: the bulk probe regime (as in
    # the benchmark's MERGE) marks every file matched, so the whole
    # table is restaged and nothing is carried
    assert m["probe_exact"] is False and m["files_carried"] == 0
    total = DAYS * EMPLOYEES * 2 - 5 + 80
    assert m["rows_staged"] == total
    assert jobs <= 10, jobs
    got = manifest_read(spark, path)
    assert got.count() == total
    assert got.filter(f"fecha = DATE '{_day(1)}' AND horas >= 100").count() == 10


def test_merge_zero_row_matches_observe_zero(spark, fact):
    """A MERGE with matched clauses whose source matches no target row:
    the observed update and delete sums run over zero rows (NULL) and
    read as 0."""
    view, path = fact
    src = _source(spark, [(e, _day(DAYS), "t0", 2.0) for e in range(3)])
    result, _ = _run(
        spark,
        f"MERGE INTO {view} t USING {src} s ON {ON} "
        "WHEN MATCHED AND s.horas < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET horas = s.horas "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert (result["updated"], result["deleted"], result["inserted"]) == (
        0, 0, 3,
    )
    m = _last_metrics(path)
    assert (m["rows_updated"], m["rows_deleted"], m["rows_inserted"]) == (
        0, 0, 3,
    )
    assert m["rows_staged"] == 3


def test_merge_insert_values_qualified_by_source_alias(spark, fact):
    """``insert_values`` expressions name the source as ``s``; the guard
    aggregate that collects the insert partitions resolves them."""
    view, path = fact
    src = _source(
        spark,
        [(e, _day(DAYS + 1), "t0", 3.0) for e in range(4)]
        + [(0, _day(0), "t0", 50.0)],
    )
    result, _ = _run(
        spark,
        f"MERGE INTO {view} t USING {src} s ON {ON} "
        "WHEN MATCHED THEN UPDATE SET horas = s.horas "
        "WHEN NOT MATCHED THEN INSERT (empleado_id, fecha, tarea, horas) "
        "VALUES (s.empleado_id, s.fecha, s.tarea, s.horas * 2)",
    )
    assert (result["updated"], result["inserted"]) == (1, 4)
    inserted = manifest_read(spark, path).filter(
        f"fecha = DATE '{_day(DAYS + 1)}'"
    )
    assert sorted(r["horas"] for r in inserted.collect()) == [6.0] * 4
    assert _last_metrics(path)["rows_inserted"] == 4


def test_update_cow_job_budget_and_counts(spark, fact):
    view, path = fact
    result, jobs = _run(
        spark,
        f"UPDATE {view} SET horas = horas + 0.5 "
        f"WHERE fecha = DATE '{_day(1)}' AND empleado_id % 10 = 3",
    )
    assert result["updated_rows"] == 8
    assert result["files_matched"] == 1
    m = _last_metrics(path)
    assert m["rows_updated"] == 8 and m["mode"] == "copy-on-write"
    assert m["rows_staged"] == 2 * EMPLOYEES  # the whole rewritten file
    assert jobs <= 4, jobs


def test_update_mor_counts(spark, fact):
    view, path = fact
    result, jobs = _run(
        spark,
        f"UPDATE {view} SET horas = horas + 0.5 "
        f"WHERE fecha = DATE '{_day(2)}' AND empleado_id % 10 = 4",
        mode="mor",
    )
    assert result["updated_rows"] == 8
    m = _last_metrics(path)
    assert m["rows_updated"] == 8 and m["mode"] == "merge-on-read"
    assert m["rows_staged"] == 8  # only the updated rows are staged
    assert jobs <= 6, jobs


def test_update_partition_migration_counts(spark, fact):
    """Row migration: the grouped collect's post-update keys name the
    partition the rows land in."""
    view, path = fact
    result, _ = _run(
        spark,
        f"UPDATE {view} SET fecha = DATE '{_day(DAYS + 2)}' "
        f"WHERE fecha = DATE '{_day(0)}' AND empleado_id < 3",
    )
    assert result["updated_rows"] == 6
    moved = manifest_read(spark, path).filter(
        f"fecha = DATE '{_day(DAYS + 2)}'"
    )
    assert moved.count() == 6


def test_update_zero_row_match(spark, fact):
    view, path = fact
    before = len(manifest_history(path))
    result, _ = _run(
        spark, f"UPDATE {view} SET horas = 0 WHERE empleado_id < 0"
    )
    assert result["updated_rows"] == 0 and result["files_matched"] == 0
    assert len(manifest_history(path)) == before  # nothing committed


def test_delete_mor_job_budget_and_counts(spark, fact):
    view, path = fact
    result, jobs = _run(
        spark,
        f"DELETE FROM {view} WHERE fecha = DATE '{_day(3)}' "
        "AND empleado_id % 10 = 7",
    )
    assert result["deleted_rows"] == 8 and result["files_matched"] == 1
    m = _last_metrics(path)
    assert m["deleted_rows"] == 8 and m["mode"] == "merge-on-read"
    assert jobs <= 4, jobs
    assert manifest_read(spark, path).count() == DAYS * EMPLOYEES * 2 - 8


def test_delete_cow_counts_and_emptied_partition(spark, fact):
    view, path = fact
    result, jobs = _run(
        spark,
        f"DELETE FROM {view} WHERE fecha = DATE '{_day(0)}' AND tarea = 't1'",
        mode="cow",
    )
    assert result["deleted_rows"] == EMPLOYEES
    m = _last_metrics(path)
    assert m["deleted_rows"] == EMPLOYEES and m["mode"] == "copy-on-write"
    assert m["rows_staged"] == EMPLOYEES
    assert jobs <= 4, jobs
    # deleting the rest of the day stages zero rows: the observed row
    # count over zero rows reads 0 and the partition drops out
    result, _ = _run(
        spark, f"DELETE FROM {view} WHERE fecha = DATE '{_day(0)}'", mode="cow"
    )
    assert result["deleted_rows"] == EMPLOYEES
    m = _last_metrics(path)
    assert m["rows_staged"] == 0 and m["partitions_dropped"] == 1


MODEL_COLS = ("empleado_id", "fecha", "tarea", "horas", "nota")
MODEL_STATEMENTS = {
    "delete": [
        "DELETE FROM {v} WHERE empleado_id % 4 = 1 AND tarea = 't0'",
        "DELETE FROM {v} WHERE nota IS NOT NULL OR horas > 20",
    ],
    "update": [
        "UPDATE {v} SET horas = horas + 0.5, nota = 'u' "
        "WHERE empleado_id % 4 = 1",
        # migrates rows along the second partition column
        "UPDATE {v} SET tarea = 't2' "
        f"WHERE empleado_id < 4 AND fecha = DATE '{_day(1)}'",
    ],
}


def _sorted_rows(rows) -> list[tuple]:
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is None, "" if v is None else v) for v in r),
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
@pytest.mark.parametrize("verb", ["delete", "update"])
def test_row_level_dml_matches_duckdb_model(spark, verb, mode):
    """Both verbs in both modes on a table partitioned by (fecha, tarea),
    with a column added after its first files and a pending positional
    delete: after every statement the table holds the rows a DuckDB
    model holds after the same SQL, and ``manifest_fsck`` is clean."""
    path = f"{tempfile.gettempdir()}/jobmodel_{uuid.uuid4().hex[:12]}"
    view = f"jm_{uuid.uuid4().hex[:8]}"
    old = [
        (e, _day(d), f"t{t}", float(2 * e + d + t))
        for d in range(2)
        for e in range(12)
        for t in range(2)
    ]
    new = [
        (e, _day(2), f"t{t}", float(2 * e + t), f"n{e}" if e % 2 else None)
        for e in range(12)
        for t in range(2)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE m (empleado_id INTEGER, fecha DATE, tarea VARCHAR, "
        "horas DOUBLE)"
    )
    con.executemany("INSERT INTO m VALUES (?, ?, ?, ?)", old)
    con.execute("ALTER TABLE m ADD COLUMN nota VARCHAR")
    con.executemany("INSERT INTO m VALUES (?, ?, ?, ?, ?)", new)
    con.execute("DELETE FROM m WHERE empleado_id = 0")
    try:
        manifest_upsert_partitioned(
            spark.createDataFrame(old, COLS).coalesce(1),
            path, list(KEYS), ["fecha", "tarea"],
        )
        manifest_add_column(path, "nota", "STRING")
        manifest_upsert_partitioned(
            spark.createDataFrame(new, f"{COLS}, nota STRING").coalesce(1),
            path, list(KEYS), ["fecha", "tarea"],
        )
        manifest_sql_register(spark, view, path)
        _run(spark, f"DELETE FROM {view} WHERE empleado_id = 0", mode="mor")
        deletes = _latest_manifest(path)[1].get("deletes") or []
        assert [e.get("kind") for e in deletes] == ["pos"]
        for stmt in MODEL_STATEMENTS[verb]:
            result, _ = _run(spark, stmt.format(v=view), mode=mode)
            con.execute(stmt.format(v="m"))
            assert result["statement"] == verb
            got = manifest_read(spark, path).select(*MODEL_COLS).collect()
            want = con.execute(f"SELECT {', '.join(MODEL_COLS)} FROM m")
            assert _sorted_rows(got) == _sorted_rows(want.fetchall()), stmt
            assert manifest_history(path)[-1]["op_metrics"]["mode"] == (
                "merge-on-read" if mode == "mor" else "copy-on-write"
            )
            assert manifest_fsck(path)["errors"] == [], stmt
    finally:
        manifest_sql_unregister(spark, view)
        con.close()
        shutil.rmtree(path, ignore_errors=True)


ALL_TYPES = (
    "s STRING, i INT, b BIGINT, d DOUBLE, f BOOLEAN, dt DATE, ts TIMESTAMP, "
    "dec DECIMAL(10,2), a ARRAY<INT>, m MAP<STRING,INT>, "
    "st STRUCT<x: INT, y: TIMESTAMP>"
)
ALL_TYPE_ROWS = [
    (
        "a", 1, 2**40, 1.5, True, datetime.date(2024, 1, 2),
        datetime.datetime(2024, 1, 2, 3, 4, 5, 600),
        decimal.Decimal("1.25"), [1, None, 3], {"k": 3},
        (4, datetime.datetime(2024, 6, 1, 12, 0)),
    ),
    (None,) * 11,
]


@pytest.mark.parametrize("rows", [[], ALL_TYPE_ROWS], ids=["empty", "rows"])
def test_local_frame_plans_local_table_scan(spark, rows):
    df = _local_frame(spark, rows, ALL_TYPES)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    # same schema and values as the row-list createDataFrame it replaces
    # (a naive datetime is process-local time on both paths)
    want = spark.createDataFrame(rows, ALL_TYPES)
    assert df.schema == want.schema
    assert df.collect() == want.collect()
