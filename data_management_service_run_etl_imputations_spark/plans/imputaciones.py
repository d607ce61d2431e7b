"""Sub-pipeline A — imputaciones (time-entry hours booked to tasks).

Faithful recomposition of ``function_app.py:148-315`` from the operator
library, as ONE lazy DataFrame plan (the reference materializes ~14
intermediate pandas frames; here Catalyst sees the whole tree and the only
materialization is the sink). Building it runs two small jobs: the plan-time
probes of the two fuzzy lookups' dims.

Intended-semantics divergences from the reference, per SURVEY.md §7.2:
- All derived columns are computed on the ``time_entries`` lineage BEFORE
  any join (the reference's post-merge index-aligned assignments at
  ``function_app.py:168-180`` silently misalign if the merge drops rows).
- A1 keep-"last" and J6 first-match get explicit deterministic orderings
  (the reference relies on unspecified row order).
- ``departamento_id`` stays nullable; the reference's ``astype(int)`` at
  ``function_app.py:268`` crashes on unmatched departments — callers who
  want the crash-on-null contract can assert separately.
"""

from __future__ import annotations

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
    fuzzy_containment_lookup,
)


def build_imputaciones(
    time_entries: DataFrame,
    employees: DataFrame,
    dim_empleado: DataFrame,
    dim_empresa: DataFrame,
    dim_departamento: DataFrame,
    department_assignations: DataFrame,
) -> DataFrame:
    """time_entries → Fact_Imputaciones rows (grain: empleado_id, fecha, tarea).

    Dataflow (SURVEY §3.2): derive → J1/J2 inner employees (J6 fuzzy
    empresa on the employees rows) → J4 inner empleado-map(A1) → J5 left
    latest-dept(A2; J6 fuzzy departamento on its rows) → fillna → A3
    group-by-sum.
    """
    # Derivations on one lineage (P2/P3, F2/F3/F6; function_app.py:154-181)
    te = time_entries.select(
        F.to_date(parse_timestamp("time_entry_in_datetime")).alias("fecha"),
        F.col("comment").alias("tarea"),
        F.col("project").alias("proyecto"),
        F.col("tags").alias("etiqueta"),
        F.col("employee_id"),
        duration_hours(
            parse_timestamp("time_entry_out_datetime"),
            parse_timestamp("time_entry_in_datetime"),
        ).alias("horas_imputadas"),
    )

    # J1+J2(+J3) folded into one broadcast inner join on employee_id
    # (function_app.py:163, 174, 224 — same key, same table, three merges).
    # J6 — the fuzzy company lookup (function_app.py:258) runs on the
    # employees rows, before the join: a per-row map of build-side columns
    # commutes with the equi-join, so each employee is matched once
    # instead of once per time entry. "First" is the ORIGINAL dim row
    # order (dim read order made explicit as empresa_id).
    emp = fuzzy_containment_lookup(
        employees.select(
            F.col("id"),
            F.col("company_name").alias("cliente"),
            F.col("price_per_hour").alias("precio_hora"),
            F.col("nid"),
        ),
        dim_empresa, "cliente", "nombre", "empresa_id", "empresa_id",
    )
    fact = te.join(F.broadcast(emp), te.employee_id == emp.id, "inner").drop("id")

    # A1 — collapse duplicate DNIs keeping "last" (function_app.py:200-202);
    # deterministic rendering: highest surrogate wins.
    empleado_map = dedup_keep_last(
        dim_empleado.select("DNI", "empleado_id"),
        ["DNI"],
        [F.desc("empleado_id")],
    )
    # J4 — inner: employees absent from Dim_Empleado are dropped
    # (function_app.py:227 — reference behavior, kept).
    fact = fact.join(
        F.broadcast(empleado_map), fact.nid == empleado_map.DNI, "inner"
    ).drop("DNI")

    # A2 + J5 — latest department assignment per employee, left join
    # (function_app.py:263-266), deterministic tie-break on department_name.
    # J6 — the fuzzy department lookup (function_app.py:268) runs on the
    # latest-department rows, one per employee; a time entry without an
    # assignment gets the null id that looking up its null name gives.
    latest_dept = fuzzy_containment_lookup(
        latest_per_key(
            department_assignations.select(
                "employee_id", "department_name", "updated_at"
            ),
            ["employee_id"],
            [F.desc("updated_at"), F.desc("department_name")],
            keep=["employee_id", "department_name"],
        ),
        dim_departamento, "department_name", "nombre", "departamento_id",
        "departamento_id",
    ).select(F.col("employee_id").alias("__dept_emp"), "departamento_id")
    fact = fact.join(
        F.broadcast(latest_dept), fact.employee_id == F.col("__dept_emp"), "left"
    ).drop("__dept_emp")

    # F8 — null fills (function_app.py:274)
    fact = fact.na.fill({"tarea": "", "etiqueta": "No especificada"})

    # A3 — grain collapse: first() of the functionally-dependent columns +
    # sum of hours (function_app.py:277-285)
    return fact.groupBy("empleado_id", "fecha", "tarea").agg(
        F.first("cliente").alias("cliente"),
        F.first("proyecto").alias("proyecto"),
        F.first("etiqueta").alias("etiqueta"),
        F.first("precio_hora").alias("precio_hora"),
        F.first("empresa_id").alias("empresa_id"),
        F.first("departamento_id").alias("departamento_id"),
        F.sum("horas_imputadas").alias("horas_imputadas"),
    ).select(
        # P6 — canonical column order (function_app.py:287)
        "fecha", "tarea", "cliente", "proyecto", "etiqueta", "precio_hora",
        "horas_imputadas", "empresa_id", "departamento_id", "empleado_id",
    )
