"""``etl_sliding_window``: the paper's own job.

Each op is one ``plans.run.run_etl`` call over a trailing 7-day window that
moves forward one day per op, into two plain-parquet fact tables that keep
growing: about 1/7 of the offered keys are new and 6/7 are anti-joined away.
The manifest protocol is never touched.

Warm-up loads window 0 into empty tables and then re-runs window 0, which
must append nothing (the idempotency check). Timed op ``i`` loads window
``i + 1``.

DuckDB recomputes, from the same input files, the keys and totals each day
should contribute; the checks compare the engine's appends and final
tables against it.
"""

from __future__ import annotations

import math
import os

import duckdb

import gen
from disk import file_count
from spans import per_call_medians

EMPLOYEES = 300
NOMINAL_OP_S = 9.0
FACTS = {
    # table -> (grain key, day column, value column)
    "fact_imputaciones": (("empleado_id", "fecha", "tarea"), "fecha", "horas_imputadas"),
    "fact_fichajes": (("fecha", "empleado_id"), "fecha", "tiempo_trabajado"),
}
SHORT = {"fact_imputaciones": "imputaciones", "fact_fichajes": "fichajes"}

_MODEL_SQL = {
    # one row per day: (day 'YYYY-MM-DD', grain keys offered, value total)
    "fact_imputaciones": """
        WITH te AS (
            SELECT strftime(CAST(strptime(time_entry_in_datetime, '%Y-%m-%d %H:%M:%S') AS DATE), '%Y-%m-%d') AS day,
                   coalesce(comment, '') AS tarea, employee_id,
                   (epoch(strptime(time_entry_out_datetime, '%Y-%m-%d %H:%M:%S'))
                    - epoch(strptime(time_entry_in_datetime, '%Y-%m-%d %H:%M:%S'))) / 3600.0 AS h
            FROM read_parquet('{d}/time_entries.parquet')),
        dim AS (SELECT DNI, max(empleado_id) AS empleado_id
                FROM read_parquet('{d}/dim_empleado.parquet') GROUP BY DNI)
        SELECT day, count(DISTINCT (dim.empleado_id, tarea)), sum(h)
        FROM te JOIN read_parquet('{d}/employees.parquet') e ON te.employee_id = e.id
                JOIN dim ON e.nid = dim.DNI
        GROUP BY day""",
    "fact_fichajes": """
        SELECT date, count(DISTINCT employeeId), sum(secondsWorked)
        FROM read_parquet('{d}/worked_hours.parquet') GROUP BY date""",
}


class EtlSlidingWindow:
    name = "etl_sliding_window"
    nominal_op_s = NOMINAL_OP_S

    def __init__(self, spark, work: str, seed: int, tracer, n_ops: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "facts")
        # window 0 (+ its re-run) is the warm-up, windows 1..n_ops are timed
        self.windows = gen.etl_windows(n_ops + 1)
        self.n_days = n_ops + gen.WINDOW_DAYS
        self.appended: list[dict] = []  # per timed op
        self.problems: list[tuple[int | None, str]] = []
        self.calls: list[dict] = []  # traced insert-only calls

    # -- set-up ------------------------------------------------------------
    def generate(self, out_dir: str) -> None:
        frames = gen.sesame_tables(self.seed, EMPLOYEES, self.n_days)
        gen.write_parquet(frames, out_dir)

    def prepare(self) -> None:
        from data_management_service_run_etl_imputations_spark.plans import run

        self.run = run
        con = duckdb.connect()
        self.model = {
            t: {r[0]: (r[1], r[2]) for r in con.execute(sql.format(d=self.inputs)).fetchall()}
            for t, sql in _MODEL_SQL.items()
        }
        con.close()
        if self.tracer.enabled:
            self._install_spans()

    def warm_up(self) -> None:
        first = self._etl(*self.windows[0])
        again = self._etl(*self.windows[0])
        if first != self._expected(0, fresh=True):
            self.problems.append((None, f"window 0 appended {first}"))
        if any(again.values()):
            self.problems.append((None, f"re-running window 0 appended {again}"))

    # -- the op --------------------------------------------------------------
    def op(self, i: int) -> None:
        self.appended.append(self._etl(*self.windows[i + 1]))

    def _etl(self, lo: str, hi: str) -> dict:
        return self.run.run_etl(self.spark, self.inputs, self.out, lo, hi)

    # -- checks --------------------------------------------------------------
    def _expected(self, w: int, fresh: bool) -> dict:
        """Rows window ``w`` should append: every key of its days when the
        tables are empty, else only the keys of its one new day."""
        lo, hi = self.windows[w]
        days = [d for d in self.model["fact_imputaciones"] if lo <= d <= hi]
        if not fresh:
            days = [hi]
        return {t: sum(self.model[t][d][0] for d in days) for t in FACTS}

    def check(self) -> list[tuple[int | None, str]]:
        problems = list(self.problems)
        for i, got in enumerate(self.appended):
            want = self._expected(i + 1, fresh=False)
            if got != want:
                problems.append((i, f"window {i + 1} appended {got}, expected {want}"))
        loaded_to = self.windows[len(self.appended)][1]
        con = duckdb.connect()
        try:
            for t, (key, day_col, val) in FACTS.items():
                src = f"read_parquet('{self.out}/{t}/*.parquet')"
                dups = con.execute(
                    f"SELECT count(*) FROM (SELECT {', '.join(key)} FROM {src} "
                    f"GROUP BY ALL HAVING count(*) > 1)"
                ).fetchone()[0]
                if dups:
                    problems.append((None, f"{t}: {dups} duplicate grain keys"))
                got = {
                    str(r[0]): (r[1], r[2])
                    for r in con.execute(
                        f"SELECT CAST({day_col} AS VARCHAR), count(*), sum({val}) "
                        f"FROM {src} GROUP BY 1"
                    ).fetchall()
                }
                want = {d: v for d, v in self.model[t].items() if d <= loaded_to}
                if got.keys() != want.keys():
                    problems.append((None, f"{t}: loaded days differ from the model"))
                    continue
                for d, (n, total) in want.items():
                    gn, gt = got[d]
                    if gn != n or not math.isclose(gt, total, rel_tol=1e-9):
                        problems.append((None, f"{t} {d}: ({gn}, {gt}) != model ({n}, {total})"))
        finally:
            con.close()
        return problems

    def live_tables(self) -> dict:
        con = duckdb.connect()
        try:
            return {
                p: con.execute(f"SELECT * FROM read_parquet('{p}/*.parquet')").df()
                for p in (os.path.join(self.out, t) for t in FACTS)
            }
        finally:
            con.close()

    # -- tracing -------------------------------------------------------------
    def _install_spans(self) -> None:
        """Wrap the layer functions ``run_etl`` calls, from outside: the
        module globals of ``plans.run`` are swapped for span-recording
        wrappers, so the traced op runs the very same ``run_etl`` code."""
        run, tr = self.run, self.tracer

        def wrap(fn, name):
            def traced(*a, **k):
                with tr.span(name):
                    return fn(*a, **k)
            return traced

        run.load_sources = wrap(run.load_sources, "plans.run.load_sources")
        run.build_imputaciones = wrap(run.build_imputaciones, "plans.imputaciones.build")
        run.build_fichajes = wrap(run.build_fichajes, "plans.fichajes.build")
        insert = run.incremental_insert_only

        def traced_insert(incoming, path, keys, *a, **k):
            table = os.path.basename(path.rstrip("/"))
            before = file_count(path, ".parquet")
            with tr.span(f"sources.sinks.insert_only.{SHORT[table]}"):
                n = insert(incoming, path, keys, *a, **k)
            self.calls.append(
                {"table": table, "rows": n, "files": file_count(path, ".parquet") - before}
            )
            return n

        run.incremental_insert_only = traced_insert

    def layer_metrics(self, timed_spans) -> dict:
        out: dict = {}

        def pick(name):
            return [s for s in timed_spans if s.name == name]

        out.update(per_call_medians(pick("plans.run.load_sources"), "plans.run.load_sources", ("s", "jobs")))
        for p in ("imputaciones", "fichajes"):
            out.update(per_call_medians(pick(f"plans.{p}.build"), f"plans.{p}.build", ("s", "jobs", "driver_s")))
            out.update(per_call_medians(
                pick(f"sources.sinks.insert_only.{p}"), f"sources.sinks.insert_only.{p}",
                ("s", "jobs", "stages", "task_s", "driver_s", "shuffle_mb", "input_mb"),
            ))
        # the insert-only calls of the timed ops are the last 2 * n_ops
        timed_calls = self.calls[-2 * len(self.appended):] if self.appended else []
        for t, p in SHORT.items():
            calls = [c for c in timed_calls if c["table"] == t]
            rows = sum(c["rows"] for c in calls)
            offered = sum(
                self.model[t][d][0]
                for i in range(len(self.appended))
                for d in self.model[t]
                if self.windows[i + 1][0] <= d <= self.windows[i + 1][1]
            )
            out[f"sources.sinks.insert_only.{p}.rows_appended"] = rows / max(1, len(calls))
            out[f"sources.sinks.insert_only.{p}.append_ratio"] = rows / offered if offered else 0.0
            out[f"sources.sinks.insert_only.{p}.files_written"] = (
                sum(c["files"] for c in calls) / max(1, len(calls))
            )
        return out
