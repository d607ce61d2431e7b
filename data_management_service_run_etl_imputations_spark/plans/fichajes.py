"""Sub-pipeline B — fichajes (clock-in/out daily balances).

Recomposition of ``function_app.py:318-388`` (SURVEY §3.3): per-day seconds
sums → left joins to employees (fuzzy company lookup on the employees rows)
/ empleado map / latest department → fuzzy department lookup → canonical
select/rename/casts.

Unlike pipeline A, every join here is LEFT (the reference keeps employees
missing from Dim_Empleado, ``function_app.py:332``), and the dead
``secondsBalance`` aggregate (``:325`` computed, ``:348`` discarded) is not
reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.operators.aggregates import (
    dedup_keep_last,
    latest_per_key,
)
from data_management_service_run_etl_imputations_spark.operators.joins import (
    fuzzy_containment_lookup,
)


def build_fichajes(
    worked_hours: DataFrame,
    employees: DataFrame,
    dim_empleado: DataFrame,
    dim_empresa: DataFrame,
    dim_departamento: DataFrame,
    department_assignations: DataFrame,
) -> DataFrame:
    """worked_hours → Fact_Fichajes rows (grain: fecha, empleado_id-or-null).

    Returns columns: fecha, tiempo_teorico, tiempo_trabajado, empresa_id,
    departamento_id, empleado_id (function_app.py:348-365).
    """
    # A4 — daily seconds sums per employee (function_app.py:322-326)
    daily = worked_hours.groupBy("employeeId", "date").agg(
        F.sum("secondsWorked").alias("tiempo_trabajado"),
        F.sum("secondsToWork").alias("tiempo_teorico"),
    )

    # J7 — left join employees for company_name + nid (function_app.py:329).
    # J6 — the fuzzy company lookup (function_app.py:335) runs on the
    # employees rows, before the join (a per-row map of build-side columns
    # commutes with the equi-join); a day whose employee is unknown gets
    # the null id that looking up its null company_name gives.
    emp = fuzzy_containment_lookup(
        employees.select("id", "company_name", "nid"),
        dim_empresa, "company_name", "nombre", "empresa_id", "empresa_id",
    ).drop("company_name")
    fact = daily.join(F.broadcast(emp), daily.employeeId == emp.id, "left").drop("id")

    # J8 — LEFT join to the deduped empleado map (function_app.py:332 —
    # left here, unlike pipeline A's inner J4)
    empleado_map = dedup_keep_last(
        dim_empleado.select("DNI", "empleado_id"), ["DNI"], [F.desc("empleado_id")]
    )
    fact = fact.join(
        F.broadcast(empleado_map), fact.nid == empleado_map.DNI, "left"
    ).drop("DNI")

    # A2 + J9 — latest department per employee, left join (function_app.py:338)
    latest_dept = latest_per_key(
        department_assignations.select("employee_id", "department_name", "updated_at"),
        ["employee_id"],
        [F.desc("updated_at"), F.desc("department_name")],
        keep=["employee_id", "department_name"],
    ).withColumnRenamed("employee_id", "__dept_emp")
    fact = fact.join(
        F.broadcast(latest_dept), fact.employeeId == F.col("__dept_emp"), "left"
    ).drop("__dept_emp")

    # F8 — unmatched departments become "No asignado" BEFORE the fuzzy
    # lookup (function_app.py:341), so they take whatever id that literal
    # matches. J6 — this one lookup stays on the fact rows: the fill makes
    # its input a fact-side value, and its dim (departments) is small.
    fact = fact.na.fill({"department_name": "No asignado"})
    fact = fuzzy_containment_lookup(
        fact, dim_departamento, "department_name", "nombre", "departamento_id",
        "departamento_id",
    ).drop("department_name")

    # P1/P5/F10 — select, rename, explicit double casts
    # (function_app.py:348-360)
    return fact.select(
        F.col("date").alias("fecha"),
        F.col("tiempo_teorico").cast("double").alias("tiempo_teorico"),
        F.col("tiempo_trabajado").cast("double").alias("tiempo_trabajado"),
        "empresa_id",
        "departamento_id",
        "empleado_id",
    )
