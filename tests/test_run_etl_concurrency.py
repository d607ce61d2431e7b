"""``plans.run.run_etl`` reads its seven sources on worker threads, then
builds and loads the two facts. These tests pin what the caller can rely
on: every job is filed under the caller's job group, a thread's own job
group stays its own, every failing read is reported, a failing fichajes
chain leaves imputaciones loaded and no thread behind, and the loaded
tables equal the serial ``build_*`` + ``incremental_insert_only``.
"""

from __future__ import annotations

import os
import sys
import threading
from collections import Counter
from functools import partial

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.plans import (
    build_fichajes,
    build_imputaciones,
    run,
)
from data_management_service_run_etl_imputations_spark.plans.fixtures import (
    build_fixture_frames,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_insert_only,
)

WINDOW = ("2024-03-01", "2024-03-31")
_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("etl_in")
    for name, df in build_fixture_frames(spark).items():
        df.write.parquet(str(d / f"{name}.parquet"))
    return str(d)


def _table(spark, path: str) -> Counter:
    df = spark.read.parquet(path)
    return Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _group_jobs(spark, group: str) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _marker_job(spark, group: str) -> int:
    spark.sparkContext.setJobGroup(group, group)
    spark.sparkContext.parallelize([1], 1).count()
    (jid,) = _group_jobs(spark, group)
    return jid


def test_caller_job_group_holds_every_job(spark, input_dir, tmp_path):
    sc = spark.sparkContext
    try:
        lo = _marker_job(spark, "run-etl-test-before")
        sc.setJobGroup("run-etl-test", "run_etl under test")
        counts = run.run_etl(spark, input_dir, str(tmp_path), *WINDOW)
        hi = _marker_job(spark, "run-etl-test-after")
    finally:
        for p in _PROPS:
            sc.setLocalProperty(p, None)
    assert counts["fact_imputaciones"] > 0 and counts["fact_fichajes"] > 0
    jobs = _group_jobs(spark, "run-etl-test")
    # every job between the two markers, the sources' schema jobs included
    assert jobs == set(range(lo + 1, hi)) and len(jobs) >= 7


def test_threads_set_their_own_job_groups(spark):
    """A thread that sets its own job group (as a tracer's span does) moves
    neither another thread's jobs nor the caller's."""
    sc = spark.sparkContext
    groups = [f"g{i}" for i in range(8)]  # more threads than cores
    all_set = threading.Barrier(len(groups), timeout=60)

    def set_then_read(group: str) -> str:
        sc.setJobGroup(group, group)
        all_set.wait()
        return sc.getLocalProperty("spark.jobGroup.id")

    interval = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-5)
        sc.setJobGroup("caller", "caller")
        got = run._concurrently(spark, [partial(set_then_read, g) for g in groups])
        assert got == groups
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sys.setswitchinterval(interval)
        for p in _PROPS:
            sc.setLocalProperty(p, None)


def test_every_failing_read_is_reported(spark, tmp_path):
    """All seven reads fail on an empty directory: the first is raised and
    the other six ride along as notes, not dropped."""
    with pytest.raises(FileNotFoundError, match="time_entries") as ei:
        run.load_sources(spark, str(tmp_path))
    notes = getattr(ei.value, "__notes__", [])
    assert len(notes) == len(run.SOURCE_TABLES) - 1
    for name in run.SOURCE_TABLES[1:]:
        assert any(f"source table {name} not found" in n for n in notes)


def test_failing_fichajes_leaves_imputaciones_loaded(spark, input_dir, tmp_path, monkeypatch):
    clean = run.run_etl(spark, input_dir, str(tmp_path / "clean"), *WINDOW)
    out = str(tmp_path / "out")

    def boom(*_a, **_k):
        raise RuntimeError("fichajes build failed")

    monkeypatch.setattr(run, "build_fichajes", boom)
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="fichajes build failed"):
        run.run_etl(spark, input_dir, out, *WINDOW)
    assert [t for t in threading.enumerate() if t not in threads] == []
    # imputaciones had appended before the error surfaced
    assert _table(spark, f"{out}/fact_imputaciones") == _table(
        spark, str(tmp_path / "clean" / "fact_imputaciones"))
    assert not os.path.exists(f"{out}/fact_fichajes")

    monkeypatch.undo()
    again = run.run_etl(spark, input_dir, out, *WINDOW)
    assert again == {"fact_imputaciones": 0, "fact_fichajes": clean["fact_fichajes"]}
    for t in ("fact_imputaciones", "fact_fichajes"):
        assert _table(spark, f"{out}/{t}") == _table(spark, str(tmp_path / "clean" / t))


def test_tables_equal_serial_composition(spark, input_dir, tmp_path):
    counts = run.run_etl(spark, input_dir, str(tmp_path / "run_etl"), *WINDOW)

    src = {n: spark.read.parquet(f"{input_dir}/{n}.parquet") for n in run.SOURCE_TABLES}
    te = src["time_entries"].filter(
        F.to_date(F.to_timestamp("time_entry_in_datetime")).between(*WINDOW))
    wh = src["worked_hours"].filter(F.col("date").between(*WINDOW))
    dims = (src["employees"], src["dim_empleado"], src["dim_empresa"],
            src["dim_departamento"], src["department_assignations"])
    serial = str(tmp_path / "serial")
    want = {
        "fact_imputaciones": incremental_insert_only(
            build_imputaciones(te, *dims), f"{serial}/fact_imputaciones",
            ["empleado_id", "fecha", "tarea"]),
        "fact_fichajes": incremental_insert_only(
            build_fichajes(wh, *dims), f"{serial}/fact_fichajes", ["fecha", "empleado_id"]),
    }
    assert counts == want
    for t in want:
        got = spark.read.parquet(str(tmp_path / "run_etl" / t))
        assert got.schema == spark.read.parquet(f"{serial}/{t}").schema
        assert _table(spark, str(tmp_path / "run_etl" / t)) == _table(spark, f"{serial}/{t}")
