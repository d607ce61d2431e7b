"""End-to-end ETL runner — the engine's analog of the reference's single
HTTP entry point (``POST /api/run_etl_imputations``, ``function_app.py:23-53``):
validate a date window, build both fact pipelines, load them idempotently,
report counts + elapsed time.

CLI:
    python -m data_management_service_run_etl_imputations_spark.plans.run \
        --input <dir with fixture-shaped parquet/csv tables> \
        --output <dir for fact tables> \
        --from-date 2024-03-01 --to-date 2024-03-31

The input directory must hold the seven source tables (FIXTURES.md):
time_entries, employees, worked_hours, department_assignations,
dim_empleado, dim_empresa, dim_departamento — as parquet (``<name>.parquet``)
or csv (``<name>.csv``, explicit schemas applied).
"""

from __future__ import annotations

import argparse
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from data_management_service_run_etl_imputations_spark.plans.fichajes import (
    build_fichajes,
)
from data_management_service_run_etl_imputations_spark.plans.imputaciones import (
    build_imputaciones,
)
from data_management_service_run_etl_imputations_spark.schemas import FIXTURE_SCHEMAS
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_insert_only,
)

SOURCE_TABLES = (
    "time_entries",
    "employees",
    "worked_hours",
    "department_assignations",
    "dim_empleado",
    "dim_empresa",
    "dim_departamento",
)


def validate_date(s: str) -> str:
    """Reference input validation (``function_app.py:37-44``): YYYY-MM-DD
    or a ValueError (the HTTP-400 analog)."""
    try:
        datetime.strptime(s, "%Y-%m-%d")
    except ValueError as e:
        raise ValueError(f"invalid date {s!r}: expected YYYY-MM-DD") from e
    return s


def _concurrently(spark: SparkSession, calls: list) -> list:
    """Run each zero-argument callable on its own thread; return their
    results in order. Each thread starts with the caller's job group,
    description and tags, so every job it submits is filed under them.
    All calls finish before an error is raised: the first failing call's,
    with every other failure attached to it as a note."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        # one wrap per call: each wrap clones the caller's local properties,
        # so a thread that sets its own job group leaves the others' alone
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(f"also failed: {type(other).__name__}: {other}")
        raise errors[0]
    return [f.result() for f in futures]


def load_sources(spark: SparkSession, input_dir: str) -> dict[str, DataFrame]:
    """The seven source tables as DataFrames. Each parquet read runs a
    one-task schema job, so the seven reads are submitted concurrently."""

    def read(name: str) -> DataFrame:
        pq = os.path.join(input_dir, f"{name}.parquet")
        csv = os.path.join(input_dir, f"{name}.csv")
        if os.path.exists(pq):
            return spark.read.parquet(pq)
        if os.path.exists(csv):
            return spark.read.csv(csv, header=True, schema=FIXTURE_SCHEMAS[name])
        raise FileNotFoundError(f"source table {name} not found in {input_dir}")

    frames = _concurrently(spark, [partial(read, name) for name in SOURCE_TABLES])
    return dict(zip(SOURCE_TABLES, frames))


def run_etl(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    from_date: str,
    to_date: str,
) -> dict[str, int]:
    """Extract → transform → idempotent load for both fact tables.
    Returns appended-row counts (re-running the same window appends zeros,
    reference semantics at ``function_app.py:305-312, 378-385``).
    If fichajes fails after imputaciones has appended, re-running the
    window loads what is missing: the idempotent load makes a partial run
    repairable."""
    validate_date(from_date)
    validate_date(to_date)
    src = load_sources(spark, input_dir)

    # predicate pushdown of the date window (the reference passes it to the
    # API as query params, function_app.py:105-108)
    te = src["time_entries"].filter(
        F.to_date(F.to_timestamp("time_entry_in_datetime")).between(from_date, to_date)
    )
    wh = src["worked_hours"].filter(F.col("date").between(from_date, to_date))
    dims = (
        src["employees"], src["dim_empleado"], src["dim_empresa"],
        src["dim_departamento"], src["department_assignations"],
    )

    n_imp = incremental_insert_only(
        build_imputaciones(te, *dims), f"{output_dir}/fact_imputaciones",
        ["empleado_id", "fecha", "tarea"],
    )
    n_fic = incremental_insert_only(
        build_fichajes(wh, *dims), f"{output_dir}/fact_fichajes",
        ["fecha", "empleado_id"],
    )
    return {"fact_imputaciones": n_imp, "fact_fichajes": n_fic}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--from-date", required=True)
    ap.add_argument("--to-date", required=True)
    args = ap.parse_args()

    from data_management_service_run_etl_imputations_spark.session import get_session

    spark = get_session(app_name="dms-run-etl-imputations")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    counts = run_etl(spark, args.input, args.output, args.from_date, args.to_date)
    elapsed = time.perf_counter() - t0
    # the reference's success response (function_app.py:399-402)
    print(
        f"ETL process completed successfully. Appended {counts} "
        f"in {int(elapsed // 60)} min {elapsed % 60:.1f} s."
    )
    spark.stop()


if __name__ == "__main__":
    main()
