"""Seeded input generators for the benchmark workloads.

Everything here is pure NumPy/pandas: the engine under test only ever sees
the parquet files these functions write, never the generator.

``sesame_tables`` builds the seven FIXTURES.md source tables (Sesame API
tables plus the three DB dimensions). It exercises every generator
constraint listed in FIXTURES.md:

1. fuzzy containment — every ``company_name`` / ``department_name`` embeds
   a dimension ``nombre`` in varied case, an overlapping pair of company
   names makes first-match-wins observable, and some companies match
   nothing (null ``empresa_id``);
2. duplicated DNIs in ``dim_empleado`` (keep-last dedup);
3. employees with several ``department_assignations`` rows (keep-latest);
4. nulls in ``comment`` and ``tags``, and one employee missing from
   ``dim_empleado`` (dropped by pipeline A, kept by pipeline B). Exactly
   one: pipeline B's grain key ``(fecha, empleado_id)`` would collide on
   ``(day, NULL)`` for two such employees;
5. several time entries per ``(employee, day, comment)`` and entries that
   cross midnight;
6. overlapping load windows — see :func:`etl_windows`: each window after
   the first re-offers six already-loaded days and one new day.

``fact_rows`` builds Fact_Imputaciones-shaped rows for the manifest DML
workload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

START_DAY = dt.date(2024, 1, 1)
WINDOW_DAYS = 7
TASKS = ("alta", "soporte", "reunion", "desarrollo", "revision")
PROJECTS = ("portal", "erp", "movil", "datos", "infra", "web")
TAGS = ("interno", "facturable", "formacion")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "su", "tar", "vel", "dor", "fin", "gra",
    "pel", "ros", "zu", "bri", "cam", "del",
)


def day_str(i: int) -> str:
    return (START_DAY + dt.timedelta(days=int(i))).isoformat()


def etl_windows(n: int) -> list[tuple[str, str]]:
    """``n`` trailing ``WINDOW_DAYS``-day windows, each one day later than
    the previous one: window ``i`` covers days ``[i, i + 6]``, so it
    overlaps the previous window on six days and adds one new day."""
    return [(day_str(i), day_str(i + WINDOW_DAYS - 1)) for i in range(n)]


def _names(rng: np.random.Generator, n: int, prefix: str) -> list[str]:
    """``n`` distinct pronounceable names, none a substring of another
    (a numeric suffix between ``#`` marks keeps them apart)."""
    out = []
    for i in range(n):
        parts = rng.choice(_SYLLABLES, size=3)
        out.append(f"{prefix}{''.join(parts)}#{i}#")
    return out


def _guid(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    return np.array(
        [f"{a:016x}-{b:016x}" for a, b in raw.astype(np.uint64).tolist()]
    )


def _vary_case(rng: np.random.Generator, s: str) -> str:
    mode = int(rng.integers(0, 3))
    return s.upper() if mode == 0 else s.title() if mode == 1 else s


def _ts(base: np.datetime64, seconds: np.ndarray) -> np.ndarray:
    stamps = base + seconds.astype("timedelta64[s]")
    return np.char.replace(
        np.datetime_as_string(stamps, unit="s").astype(str), "T", " "
    )


def sesame_tables(
    seed: int,
    n_employees: int,
    n_days: int,
    entries_per_day: int = 3,
    n_companies: int = 200,
    n_departments: int = 50,
) -> dict[str, pd.DataFrame]:
    """The seven FIXTURES.md source tables for ``n_days`` days from
    :data:`START_DAY`. The same arguments always give identical rows."""
    rng = np.random.default_rng(seed)

    # -- dimensions --------------------------------------------------------
    empresas = [n.lower() for n in _names(rng, n_companies - 1, "emp")]
    # constraint 1: an overlapping pair — the longer name embeds the
    # shorter one, so a company carrying the long name matches both rows
    # and first-match-wins (lowest empresa_id) picks the short one
    empresas.append(f"{empresas[0]} grupo")
    dim_empresa = pd.DataFrame(
        {"empresa_id": np.arange(1, n_companies + 1, dtype=np.int32),
         "nombre": empresas}
    )
    departamentos = [n.lower() for n in _names(rng, n_departments, "dep")]
    dim_departamento = pd.DataFrame(
        {"departamento_id": np.arange(100, 100 + n_departments, dtype=np.int32),
         "nombre": departamentos}
    )

    # -- employees ---------------------------------------------------------
    ids = _guid(rng, n_employees)
    nids = np.array([f"DNI-{i:07d}" for i in range(n_employees)])
    company_of = rng.integers(0, n_companies, size=n_employees)
    company_name = []
    for e in range(n_employees):
        if e % 20 == 7:  # constraint 1: matches no dimension row
            company_name.append(f"Independiente {e} S.A.")
        else:
            base = empresas[company_of[e]]
            company_name.append(f"{_vary_case(rng, base)} S.L.")
    company_name[1] = f"{_vary_case(rng, empresas[-1])} S.L."  # overlapping pair
    employees = pd.DataFrame(
        {
            "id": ids,
            "company_name": company_name,
            "price_per_hour": np.round(rng.uniform(20, 90, n_employees), 2),
            "nid": nids,
            "status": np.where(rng.random(n_employees) < 0.9, "active", "inactive"),
        }
    )

    # constraint 2 + 4: every employee but the last has a dim row; every
    # 25th DNI appears twice (keep-last keeps the highest empleado_id)
    dim_nids = list(nids[:-1]) + list(nids[:-1:25])
    dim_empleado = pd.DataFrame(
        {"empleado_id": np.arange(1, len(dim_nids) + 1, dtype=np.int32),
         "DNI": dim_nids}
    )

    # constraint 3: 1-3 department assignations per employee
    n_assign = rng.integers(1, 4, size=n_employees)
    emp_idx = np.repeat(np.arange(n_employees), n_assign)
    created = rng.integers(0, 300 * 86400, size=len(emp_idx))
    updated = created + rng.integers(0, 30 * 86400, size=len(emp_idx))
    dept_of = rng.integers(0, n_departments, size=len(emp_idx))
    base = np.datetime64("2023-01-01T00:00:00")
    department_assignations = pd.DataFrame(
        {
            "employee_id": ids[emp_idx],
            "department_name": [
                f"Dpto. {_vary_case(rng, departamentos[d])}" for d in dept_of
            ],
            "created_at": _ts(base, created),
            "updated_at": _ts(base, updated),
        }
    )

    # -- time entries ------------------------------------------------------
    n_te = n_employees * n_days * entries_per_day
    te_emp = np.repeat(np.arange(n_employees), n_days * entries_per_day)
    te_day = np.tile(np.repeat(np.arange(n_days), entries_per_day), n_employees)
    start_s = te_day * 86400 + rng.integers(7 * 3600, 20 * 3600, size=n_te)
    length_s = rng.integers(15 * 60, 4 * 3600, size=n_te)
    # constraint 5: a share of entries starts late and crosses midnight
    late = rng.random(n_te) < 0.03
    start_s = np.where(late, te_day * 86400 + 23 * 3600 + 1800, start_s)
    length_s = np.where(late, 5400, length_s)
    day0 = np.datetime64(START_DAY.isoformat() + "T00:00:00")
    # constraint 5: few tasks per employee-day, so (employee, day, comment)
    # repeats; constraint 4: some comments and tags are null
    comment = np.array(TASKS, dtype=object)[rng.integers(0, 2, size=n_te)]
    comment[rng.random(n_te) < 0.05] = None
    tags = np.array(TAGS, dtype=object)[rng.integers(0, len(TAGS), size=n_te)]
    tags[rng.random(n_te) < 0.1] = None
    time_entries = pd.DataFrame(
        {
            "time_entry_in_datetime": _ts(day0, start_s),
            "time_entry_out_datetime": _ts(day0, start_s + length_s),
            "comment": comment,
            "employee_id": ids[te_emp],
            "project": np.array(PROJECTS)[rng.integers(0, len(PROJECTS), size=n_te)],
            "tags": tags,
        }
    )

    # -- worked hours: one row per employee-day, some days split in two ----
    wh_emp = np.repeat(np.arange(n_employees), n_days)
    wh_day = np.tile(np.arange(n_days), n_employees)
    split = rng.random(len(wh_emp)) < 0.1
    wh_emp = np.concatenate([wh_emp, wh_emp[split]])
    wh_day = np.concatenate([wh_day, wh_day[split]])
    worked = rng.integers(0, 10 * 3600, size=len(wh_emp)).astype(np.float64)
    to_work = np.where(rng.random(len(wh_emp)) < 0.8, 8 * 3600.0, 0.0)
    worked_hours = pd.DataFrame(
        {
            "employeeId": ids[wh_emp],
            "secondsWorked": worked,
            "secondsToWork": to_work,
            "secondsBalance": worked - to_work,
            "date": [day_str(d) for d in wh_day],
        }
    )

    return {
        "time_entries": time_entries,
        "employees": employees,
        "worked_hours": worked_hours,
        "department_assignations": department_assignations,
        "dim_empleado": dim_empleado,
        "dim_empresa": dim_empresa,
        "dim_departamento": dim_departamento,
    }


FACT_COLUMNS = (
    "fecha", "tarea", "cliente", "proyecto", "etiqueta", "precio_hora",
    "horas_imputadas", "empresa_id", "departamento_id", "empleado_id",
)


def fact_rows(
    rng: np.random.Generator, days: list[int], n_employees: int, tasks: int
) -> pd.DataFrame:
    """Fact_Imputaciones-shaped rows: one per (empleado_id, fecha, tarea)
    for every employee and the first ``tasks`` task names on each day."""
    emp = np.tile(np.repeat(np.arange(1, n_employees + 1), tasks), len(days))
    task = np.tile(np.arange(tasks), n_employees * len(days))
    day = np.repeat(np.asarray(days), n_employees * tasks)
    n = len(emp)
    return pd.DataFrame(
        {
            "fecha": [START_DAY + dt.timedelta(days=int(d)) for d in day],
            "tarea": np.array(TASKS)[task],
            "cliente": [f"cliente {e % 37}" for e in emp],
            "proyecto": np.array(PROJECTS)[emp % len(PROJECTS)],
            "etiqueta": np.array(TAGS)[task % len(TAGS)],
            "precio_hora": (20 + emp % 50).astype(np.float64),
            "horas_imputadas": np.round(rng.uniform(0.25, 8.0, n), 2),
            "empresa_id": (emp % 200 + 1).astype(np.int32),
            "departamento_id": (100 + emp % 50).astype(np.int32),
            "empleado_id": emp.astype(np.int32),
        },
        columns=list(FACT_COLUMNS),
    )


def write_parquet(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
