"""``fact_table_dml``: SQL DML on a date-partitioned manifest fact table.

The table has the Fact_Imputaciones shape and is preloaded in set-up. Each
op issues the same five statements through
``sources.manifest_batch.manifest_sql``: a MERGE of one new day plus
updates to an existing day, a narrow UPDATE and a narrow DELETE on one day,
a one-partition point SELECT and a whole-table aggregate SELECT. Writes and
reads hit the same table in every op; ``plans`` and ``incremental_insert_only``
are never touched.

A DuckDB model table is fed the same statements after the timed phase; every
SELECT result and the final table must equal the model's, and
``manifest_fsck`` must find the table clean.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

import gen
from disk import dir_bytes, file_count
from spans import per_call_medians

PRELOAD_DAYS = 14
EMPLOYEES = 150
TASKS = 2
WARM_UP_OPS = 1
NOMINAL_OP_S = 11.0
KEYS = ("empleado_id", "fecha", "tarea")
VIEW = "fact_imputaciones"
STATEMENTS = ("merge", "update", "delete", "point_read", "scan")


def statements(k: int) -> list[tuple[str, str]]:
    """The five statements of op ``k`` (warm-up ops count from 0)."""
    day = gen.day_str
    upd, dele, point = (k * 5 + 3) % PRELOAD_DAYS, (k * 3 + 8) % PRELOAD_DAYS, (k * 7 + 1) % PRELOAD_DAYS
    on = " AND ".join(f"t.{c} = s.{c}" for c in KEYS)
    return [
        ("merge", f"MERGE INTO {VIEW} t USING merge_src s ON {on} "
                  "WHEN MATCHED THEN UPDATE SET horas_imputadas = s.horas_imputadas "
                  "WHEN NOT MATCHED THEN INSERT *"),
        ("update", f"UPDATE {VIEW} SET horas_imputadas = horas_imputadas + 0.5 "
                   f"WHERE fecha = DATE '{day(upd)}' AND empleado_id % 10 = {k % 10}"),
        ("delete", f"DELETE FROM {VIEW} WHERE fecha = DATE '{day(dele)}' "
                   f"AND empleado_id % 10 = {(k + 5) % 10}"),
        ("point_read", f"SELECT count(*) AS n, sum(horas_imputadas) AS h FROM {VIEW} "
                       f"WHERE fecha = DATE '{day(point)}'"),
        ("scan", f"SELECT fecha, count(*) AS n, sum(horas_imputadas) AS h FROM {VIEW} "
                 "GROUP BY fecha"),
    ]


def _same(a, b) -> bool:
    """Row lists equal up to float summation order."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class FactTableDml:
    name = "fact_table_dml"
    nominal_op_s = NOMINAL_OP_S

    def __init__(self, spark, work: str, seed: int, tracer, n_ops: int):
        self.spark, self.tracer, self.seed, self.n_ops = spark, tracer, seed, n_ops
        self.inputs = os.path.join(work, "inputs")
        self.table = os.path.join(work, "tables", VIEW)
        self.results: list[dict] = []  # per op (warm-up first): statement -> result
        self.history_mark = 0
        self.final = None  # the live rows, as read back by check()

    def generate(self, out_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        frames = {"preload": gen.fact_rows(rng, list(range(PRELOAD_DAYS)), EMPLOYEES, TASKS)}
        for k in range(WARM_UP_OPS + self.n_ops):
            new = gen.fact_rows(rng, [PRELOAD_DAYS + k], EMPLOYEES, TASKS)
            changed = gen.fact_rows(rng, [(k * 2) % PRELOAD_DAYS], EMPLOYEES, TASKS).iloc[::4]
            frames[f"merge_{k}"] = pd.concat([new, changed], ignore_index=True)
        gen.write_parquet(frames, out_dir)

    def prepare(self) -> None:
        from data_management_service_run_etl_imputations_spark.sources import manifest_batch, sinks

        self.mb, self.sinks = manifest_batch, sinks
        sinks.manifest_upsert_partitioned(
            self.spark.read.parquet(os.path.join(self.inputs, "preload.parquet")),
            self.table, list(KEYS), "fecha",
        )
        manifest_batch.manifest_sql_register(self.spark, VIEW, self.table)

    def warm_up(self) -> None:
        for k in range(WARM_UP_OPS):
            self._op(k)
        self.history_mark = len(self.sinks.manifest_history(self.table))

    def op(self, i: int) -> None:
        self._op(WARM_UP_OPS + i)

    def _op(self, k: int) -> None:
        self.spark.read.parquet(
            os.path.join(self.inputs, f"merge_{k}.parquet")
        ).createOrReplaceTempView("merge_src")
        got = {}
        for name, sql in statements(k):
            with self.tracer.span(f"manifest_sql.{name}"):
                r = self.mb.manifest_sql(self.spark, sql)
                got[name] = r if isinstance(r, dict) else [tuple(row) for row in r.collect()]
        self.results.append(got)

    # -- checks --------------------------------------------------------------
    def check(self) -> list[tuple[int | None, str]]:
        from data_management_service_run_etl_imputations_spark.sources.fsck import manifest_fsck
        from data_management_service_run_etl_imputations_spark.sources.sinks import manifest_read

        problems: list[tuple[int | None, str]] = []
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE TABLE {VIEW} AS SELECT * FROM "
                f"read_parquet('{self.inputs}/preload.parquet')"
            )
            match = " AND ".join(f"{VIEW}.{c} = s.{c}" for c in KEYS)
            for k, got in enumerate(self.results):
                timed = k - WARM_UP_OPS if k >= WARM_UP_OPS else None
                src = f"read_parquet('{self.inputs}/merge_{k}.parquet')"
                con.execute(
                    f"UPDATE {VIEW} SET horas_imputadas = s.horas_imputadas "
                    f"FROM {src} s WHERE {match}"
                )
                con.execute(
                    f"INSERT INTO {VIEW} SELECT * FROM {src} s "
                    f"WHERE NOT EXISTS (SELECT 1 FROM {VIEW} WHERE {match})"
                )
                for name, sql in statements(k)[1:]:
                    if name in ("update", "delete"):
                        con.execute(sql)
                        continue
                    want = sorted(con.execute(sql).fetchall(), key=repr)
                    have = sorted(got[name], key=repr)
                    if not _same(have, want):
                        problems.append((timed, f"op {k} {name}: {have[:3]} != model {want[:3]}"))
            model = con.execute(
                f"SELECT * FROM {VIEW} ORDER BY {', '.join(KEYS)}"
            ).fetchall()
        finally:
            con.close()
        self.final = manifest_read(self.spark, self.table).select(*gen.FACT_COLUMNS).toPandas()
        final = sorted(
            self.final.astype(object).itertuples(index=False, name=None),
            key=lambda r: (r[9], r[0], r[1]),
        )
        if not _same(final, model):
            problems.append((None, f"final table ({len(final)} rows) != model ({len(model)} rows)"))
        report = manifest_fsck(self.table)
        if not report["ok"]:
            problems.append((None, f"manifest_fsck: {report['errors'][:3]}"))
        return problems

    def live_tables(self) -> dict:
        if self.final is None:
            self.final = self.sinks.manifest_read(self.spark, self.table).toPandas()
        return {self.table: self.final}

    # -- per-layer metrics ------------------------------------------------------
    def layer_metrics(self, timed_spans) -> dict:
        out: dict = {}
        for name in STATEMENTS:
            spans = [s for s in timed_spans if s.name == f"manifest_sql.{name}"]
            out.update(per_call_medians(spans, f"manifest_sql.{name}", ("s", "jobs", "driver_s", "task_s")))
        scans = [s for s in timed_spans if s.name == "manifest_sql.scan"]
        out["manifest.scan_tasks"] = float(np.median([s.incl["tasks"] for s in scans]))
        hist = self.sinks.manifest_history(self.table)
        timed = hist[self.history_mark:]
        prev_files = {h["version"]: h["n_files"] for h in hist}
        per_op = max(1, self.n_ops)
        out["manifest.files_added"] = sum(h["op_metrics"].get("files_added", 0) for h in timed) / per_op
        out["manifest.files_carried"] = sum(h["op_metrics"].get("files_carried", 0) for h in timed) / per_op
        kept = total = 0
        for h in timed:
            m = h["op_metrics"]
            if h["op"] in ("update", "delete") and "probe_files_kept" in m:
                kept += m["probe_files_kept"]
                total += m.get("probe_files_total", prev_files.get(h["version"] - 1, 0))
        out["manifest.probe_files_kept_ratio"] = kept / total if total else 0.0
        commits = os.path.join(self.table, "_commits")
        out["manifest.commit_log_mb"] = dir_bytes(commits) / 2**20
        out["manifest.checkpoints"] = file_count(os.path.join(commits, "_checkpoints"), ".parquet")
        return out
