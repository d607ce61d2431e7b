"""Both builders run the fuzzy J6 lookups on the dimension rows they
belong to (company on the employees rows, imputaciones' department on the
latest-department rows) and then join. A per-row map of build-side columns
commutes with an equi-join, so the output rows must equal those of the
reference composition, which looks every name up on the fact rows, after
the joins, with the row-at-a-time ``fuzzy_containment_lookup_udf``.

The inputs hit the edges of that argument: a duplicated ``employees.id``,
a NULL ``company_name``, an employee missing from ``dim_empleado``, days
without a department assignation next to a department name contained in
``'no asignado'``, and dims large enough to force the theta-join path.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.functions.scalars import (
    duration_hours,
    parse_timestamp,
)
from data_management_service_run_etl_imputations_spark.operators.aggregates import (
    dedup_keep_last,
    latest_per_key,
)
from data_management_service_run_etl_imputations_spark.operators.joins import (
    fuzzy_containment_lookup_udf,
)
from data_management_service_run_etl_imputations_spark.plans import (
    build_fichajes,
    build_imputaciones,
)
from data_management_service_run_etl_imputations_spark.schemas import FIXTURE_SCHEMAS

# the projection path's bound (fuzzy_containment_lookup's max_dim_expr_rows)
_EXPR_ROWS = 1024

_EMPRESAS = [(1, "acme holdings"), (2, "acme"), (3, "globex"), (4, "initech")]
# 'asignado' is contained in 'no asignado'; 'data' ranks before 'analytics'
_DEPARTAMENTOS = [(100, "engineering"), (150, "asignado"), (200, "data"), (300, "analytics")]

_ROWS = {
    "time_entries": [
        ("2024-03-01 09:00:00", "2024-03-01 11:00:00", "taskA", "E1", "pX", "t1"),
        ("2024-03-01 14:00:00", "2024-03-01 15:30:00", "taskA", "E1", "pX", "t1"),
        ("2024-03-01 23:30:00", "2024-03-02 01:00:00", None, "E1", "pX", None),
        ("2024-03-02 08:00:00", "2024-03-02 16:00:00", "taskB", "E2", "pY", "t2"),
        # E4's id is duplicated in employees, each copy with its own nid
        ("2024-03-01 10:00:00", "2024-03-01 12:00:00", "taskC", "E4", "pZ", None),
        # E5 has a NULL company and no department assignation
        ("2024-03-02 10:00:00", "2024-03-02 10:30:00", "taskD", "E5", None, "t3"),
        # E3 is missing from dim_empleado
        ("2024-03-01 10:00:00", "2024-03-01 12:00:00", "taskE", "E3", "pZ", None),
        # E9 is missing from employees
        ("2024-03-01 10:00:00", "2024-03-01 12:00:00", "taskF", "E9", "pZ", None),
    ],
    "employees": [
        ("E1", "ACME HOLDINGS S.L.", 50.0, "DNI-1", "active"),
        ("E2", "Globex Corporation", 60.0, "DNI-2", "active"),
        ("E3", "Initech Unknown", 70.0, "DNI-3", "inactive"),
        ("E4", "Acme Iberia", 40.0, "DNI-4", "active"),
        ("E4", "Globex Iberia", 45.0, "DNI-4b", "active"),
        ("E5", None, 30.0, "DNI-5", "active"),
    ],
    "worked_hours": [
        ("E1", 7200.0, 28800.0, 0.0, "2024-03-01"),
        ("E1", 3600.0, 0.0, 0.0, "2024-03-01"),
        ("E2", 28800.0, 28800.0, 0.0, "2024-03-01"),
        ("E3", 14400.0, 28800.0, 0.0, "2024-03-01"),
        ("E4", 1800.0, 28800.0, 0.0, "2024-03-02"),
        ("E5", 900.0, 28800.0, 0.0, "2024-03-02"),
        ("E9", 600.0, 28800.0, 0.0, "2024-03-02"),
    ],
    "department_assignations": [
        ("E1", "Engineering Dept", "2024-01-01 00:00:00", "2024-01-01 00:00:00"),
        ("E1", "Data & Analytics", "2024-02-01 00:00:00", "2024-02-15 00:00:00"),
        ("E2", "Engineering Dept", "2024-01-05 00:00:00", "2024-01-05 00:00:00"),
        ("E4", "Analytics", "2024-01-05 00:00:00", "2024-01-05 00:00:00"),
        # E3's latest assignation has no name: fichajes fills it too
        ("E3", None, "2024-01-05 00:00:00", "2024-01-05 00:00:00"),
    ],
    "dim_empleado": [(11, "DNI-1"), (21, "DNI-2"), (22, "DNI-2"), (41, "DNI-4"),
                     (42, "DNI-4b"), (51, "DNI-5")],
}


def _padded(rows: list[tuple], big: bool) -> list[tuple]:
    """``rows`` plus, when ``big``, enough never-matching names after them
    to push the dim past the projection path's bound."""
    if not big:
        return rows
    return rows + [(10_000 + i, f"zz-never-{i:05d}") for i in range(_EXPR_ROWS)]


def _inputs(spark, big: bool) -> dict[str, DataFrame]:
    rows = dict(_ROWS)
    rows["dim_empresa"] = _padded(_EMPRESAS, big)
    rows["dim_departamento"] = _padded(_DEPARTAMENTOS, big)
    return {
        name: spark.createDataFrame(r, FIXTURE_SCHEMAS[name]) for name, r in rows.items()
    }


def _dim_pairs(dim: DataFrame, id_col: str) -> list[tuple]:
    """(id, name) in the lookups' priority order: ascending id."""
    return sorted((r[0], r[1]) for r in dim.select(id_col, "nombre").collect())


def _latest_dept(f) -> DataFrame:
    return latest_per_key(
        f["department_assignations"].select("employee_id", "department_name", "updated_at"),
        ["employee_id"],
        [F.desc("updated_at"), F.desc("department_name")],
        keep=["employee_id", "department_name"],
    ).withColumnRenamed("employee_id", "__dept_emp")


def _empleado_map(f) -> DataFrame:
    return dedup_keep_last(
        f["dim_empleado"].select("DNI", "empleado_id"), ["DNI"], [F.desc("empleado_id")]
    )


def _reference_imputaciones(f) -> DataFrame:
    te = f["time_entries"].select(
        F.to_date(parse_timestamp("time_entry_in_datetime")).alias("fecha"),
        F.col("comment").alias("tarea"),
        F.col("project").alias("proyecto"),
        F.col("tags").alias("etiqueta"),
        "employee_id",
        duration_hours(
            parse_timestamp("time_entry_out_datetime"),
            parse_timestamp("time_entry_in_datetime"),
        ).alias("horas_imputadas"),
    )
    emp = f["employees"].select(
        "id", F.col("company_name").alias("cliente"),
        F.col("price_per_hour").alias("precio_hora"), "nid",
    )
    em = _empleado_map(f)
    fact = te.join(emp, te.employee_id == emp.id).drop("id")
    fact = fact.join(em, fact.nid == em.DNI).drop("DNI")
    fact = fuzzy_containment_lookup_udf(
        fact, _dim_pairs(f["dim_empresa"], "empresa_id"), "cliente", "empresa_id"
    )
    fact = fact.join(_latest_dept(f), fact.employee_id == F.col("__dept_emp"), "left")
    fact = fuzzy_containment_lookup_udf(
        fact, _dim_pairs(f["dim_departamento"], "departamento_id"),
        "department_name", "departamento_id",
    )
    fact = fact.na.fill({"tarea": "", "etiqueta": "No especificada"})
    return fact.groupBy("empleado_id", "fecha", "tarea").agg(
        *[F.first(c).alias(c) for c in
          ("cliente", "proyecto", "etiqueta", "precio_hora", "empresa_id", "departamento_id")],
        F.sum("horas_imputadas").alias("horas_imputadas"),
    )


def _reference_fichajes(f) -> DataFrame:
    daily = f["worked_hours"].groupBy("employeeId", "date").agg(
        F.sum("secondsWorked").alias("tiempo_trabajado"),
        F.sum("secondsToWork").alias("tiempo_teorico"),
    )
    emp = f["employees"].select("id", "company_name", "nid")
    em = _empleado_map(f)
    fact = daily.join(emp, daily.employeeId == emp.id, "left").drop("id")
    fact = fact.join(em, fact.nid == em.DNI, "left").drop("DNI")
    fact = fuzzy_containment_lookup_udf(
        fact, _dim_pairs(f["dim_empresa"], "empresa_id"), "company_name", "empresa_id"
    )
    fact = fact.join(_latest_dept(f), fact.employeeId == F.col("__dept_emp"), "left")
    fact = fact.na.fill({"department_name": "No asignado"})
    fact = fuzzy_containment_lookup_udf(
        fact, _dim_pairs(f["dim_departamento"], "departamento_id"),
        "department_name", "departamento_id",
    )
    return fact.select(
        F.col("date").alias("fecha"),
        F.col("tiempo_teorico").cast("double").alias("tiempo_teorico"),
        F.col("tiempo_trabajado").cast("double").alias("tiempo_trabajado"),
        "empresa_id", "departamento_id", "empleado_id",
    )


def _rows(df: DataFrame) -> Counter:
    cols = sorted(df.columns)
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _args(f, fact: str) -> tuple:
    return (f[fact], f["employees"], f["dim_empleado"], f["dim_empresa"],
            f["dim_departamento"], f["department_assignations"])


@pytest.mark.parametrize("big", [False, True], ids=["projection", "theta"])
def test_imputaciones_matches_fact_side_lookups(spark, big):
    f = _inputs(spark, big)
    got = build_imputaciones(*_args(f, "time_entries"))
    want = _reference_imputaciones(f)
    assert _rows(got) == _rows(want)
    by_emp = {r.empleado_id: r for r in got.collect()}
    # the duplicated id yields one row per copy, each with its own company;
    # the NULL company and the missing assignation give null ids; E3
    # (missing from dim_empleado) and E9 (missing from employees) drop out
    assert set(by_emp) == {11, 22, 41, 42, 51}
    assert (by_emp[41].empresa_id, by_emp[42].empresa_id) == (2, 3)
    assert by_emp[51].empresa_id is None and by_emp[51].departamento_id is None
    assert by_emp[11].departamento_id == 200 and by_emp[41].departamento_id == 300


@pytest.mark.parametrize("big", [False, True], ids=["projection", "theta"])
def test_fichajes_matches_fact_side_lookups(spark, big):
    f = _inputs(spark, big)
    got = build_fichajes(*_args(f, "worked_hours"))
    want = _reference_fichajes(f)
    assert _rows(got) == _rows(want)
    rows = got.collect()
    by_emp = {r.empleado_id: r for r in rows if r.empleado_id is not None}
    # days without an assignation (E5), with a NULL-named one (E3) or
    # without an employee (E9) look up 'No asignado' → 'asignado' (150)
    assert by_emp[51].departamento_id == 150 and by_emp[51].empresa_id is None
    unknown = sorted((r.tiempo_trabajado, r.empresa_id, r.departamento_id)
                     for r in rows if r.empleado_id is None)
    assert unknown == [(600.0, None, 150), (14400.0, 4, 150)]
    assert (by_emp[41].empresa_id, by_emp[42].empresa_id) == (2, 3)
