"""The outside-in tracer: ``driver_s`` arithmetic, span nesting and
per-span job attribution."""

from __future__ import annotations

import os
import time

import pytest

import gen
from spans import Span, Tracer, busy_seconds, fold_children


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0.0),
        ([(1, 3), (5, 6)], 0, 10, 3.0),  # disjoint
        ([(1, 4), (2, 3), (3, 6)], 0, 10, 5.0),  # nested and chained
        ([(-5, 2), (8, 20)], 0, 10, 4.0),  # clipped to the span
        ([(11, 12), (4, 4)], 0, 10, 0.0),  # outside, empty
    ],
)
def test_busy_seconds(intervals, lo, hi, want):
    assert busy_seconds(intervals, lo, hi) == pytest.approx(want)


def _span(name, sid, parent, start, end, jobs):
    sp = Span(name, sid, parent, start=start, end=end)
    sp.job_ids = list(range(len(jobs)))
    sp.job_intervals = list(jobs)
    sp.task_s = float(len(jobs))
    return sp


def test_driver_s_counts_children_jobs():
    child = _span("child", 2, 1, 2.0, 6.0, [(3.0, 5.0)])
    fold_children(child, [])
    assert child.incl["driver_s"] == pytest.approx(2.0)
    parent = _span("parent", 1, None, 0.0, 10.0, [(1.0, 2.5), (4.0, 7.0)])
    fold_children(parent, [child])
    # busy: [1, 2.5] + [3, 7] -> 5.5 s of the 10 s wall
    assert parent.incl["driver_s"] == pytest.approx(4.5)
    assert parent.incl["jobs"] == 3 and parent.incl["task_s"] == 3.0


def test_spans_nest_and_attribute_jobs(spark):
    sc = spark.sparkContext
    tr = Tracer(spark, enabled=True)

    def one_job():  # an RDD count is exactly one Spark job
        return sc.parallelize(range(100), 2).count()

    one_job()  # outside any span: never attributed
    with tr.span("outer") as outer:
        one_job()
        with tr.span("inner.a") as a:
            one_job()
            one_job()
        with tr.span("inner.b") as b:
            time.sleep(0.3)
        one_job()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert [s.name for s in tr.spans] == ["inner.a", "inner.b", "outer"]
    assert a.parent_id == b.parent_id == outer.span_id and outer.parent_id is None
    assert len(a.job_ids) == 2 and b.job_ids == []
    assert len(outer.job_ids) == 2 and not set(outer.job_ids) & set(a.job_ids)
    assert outer.incl["jobs"] == 4
    assert outer.incl["tasks"] == sum(s.tasks for s in (outer, a, b)) > 0
    # a span without jobs is all driver time
    assert b.incl["driver_s"] == pytest.approx(b.s) and b.s >= 0.3
    assert 0 <= a.incl["driver_s"] < a.s
    assert outer.incl["driver_s"] >= b.s


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer(spark, enabled=False)
    with tr.span("x") as sp:
        spark.range(5).count()
    assert sp is None and tr.spans == [] and tr.bookkeeping_s == 0.0


def test_etl_layer_spans(spark, tmp_path):
    """The ETL workload's wrappers attribute each ``run_etl`` layer's jobs
    to its own span: the two plan-time dimension probes of each build."""
    from etl import EtlSlidingWindow

    tr = Tracer(spark, enabled=True)
    wl = EtlSlidingWindow(spark, str(tmp_path), seed=3, tracer=tr, n_ops=1)
    wl.generate(wl.inputs)
    from data_management_service_run_etl_imputations_spark.plans import run

    saved = {n: getattr(run, n) for n in (
        "load_sources", "build_imputaciones", "build_fichajes", "incremental_insert_only")}
    try:
        wl.prepare()
        with tr.span("op"):
            wl._etl(*wl.windows[0])
    finally:
        for n, fn in saved.items():
            setattr(run, n, fn)
    by_name = {s.name: s for s in tr.spans}
    assert set(by_name) == {
        "op", "plans.run.load_sources", "plans.imputaciones.build", "plans.fichajes.build",
        "sources.sinks.insert_only.imputaciones", "sources.sinks.insert_only.fichajes",
    }
    assert len(by_name["plans.imputaciones.build"].job_ids) == 2
    assert len(by_name["plans.fichajes.build"].job_ids) == 2
    op = by_name["op"]
    assert op.incl["jobs"] == sum(len(s.job_ids) for s in tr.spans)
    assert [c["rows"] for c in wl.calls] == [
        sum(wl.model[t][d][0] for d in wl.model[t] if d <= gen.day_str(gen.WINDOW_DAYS - 1))
        for t in ("fact_imputaciones", "fact_fichajes")
    ]
    assert os.path.isdir(os.path.join(wl.out, "fact_imputaciones"))
