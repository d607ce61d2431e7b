"""The seeded input generator: determinism and the six FIXTURES.md
generator constraints."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import gen

N_EMP, N_DAYS = 60, 12


@pytest.fixture(scope="module")
def tables():
    return gen.sesame_tables(7, N_EMP, N_DAYS)


def test_same_seed_same_rows(tables):
    again = gen.sesame_tables(7, N_EMP, N_DAYS)
    assert tables.keys() == again.keys()
    for name in tables:
        pd.testing.assert_frame_equal(tables[name], again[name])
    other = gen.sesame_tables(8, N_EMP, N_DAYS)
    assert not tables["time_entries"].equals(other["time_entries"])
    a = gen.fact_rows(np.random.default_rng(3), [0, 1], 10, 2)
    pd.testing.assert_frame_equal(a, gen.fact_rows(np.random.default_rng(3), [0, 1], 10, 2))


def _matches(text: str, names) -> list[str]:
    return [n for n in names if n.lower() in text.lower()]


def test_1_fuzzy_containment(tables):
    empresas = list(tables["dim_empresa"]["nombre"])
    hits = [_matches(c, empresas) for c in tables["employees"]["company_name"]]
    assert any(len(h) == 0 for h in hits), "some company matches no dimension row"
    assert any(len(h) >= 2 for h in hits), "an overlapping pair exercises first-match-wins"
    assert sum(len(h) == 1 for h in hits) > N_EMP // 2
    # case varies between the fact text and the dimension name
    assert any(c != c.lower() for c in tables["employees"]["company_name"])
    departamentos = list(tables["dim_departamento"]["nombre"])
    for d in tables["department_assignations"]["department_name"]:
        assert _matches(d, departamentos), d


def test_2_duplicate_dni(tables):
    assert tables["dim_empleado"]["DNI"].duplicated().any()


def test_3_several_assignations_per_employee(tables):
    counts = tables["department_assignations"].groupby("employee_id").size()
    assert (counts > 1).any()


def test_4_nulls_and_missing_employee(tables):
    te = tables["time_entries"]
    assert te["comment"].isna().any() and te["tags"].isna().any()
    missing = set(tables["employees"]["nid"]) - set(tables["dim_empleado"]["DNI"])
    assert len(missing) == 1


def test_5_repeated_grain_and_cross_midnight(tables):
    te = tables["time_entries"].copy()
    te["day"] = te["time_entry_in_datetime"].str[:10]
    sizes = te.groupby(["employee_id", "day", "comment"], dropna=False).size()
    assert (sizes > 1).any()
    out_day = te["time_entry_out_datetime"].str[:10]
    assert (out_day > te["day"]).any()


def test_6_overlapping_windows(tables):
    windows = gen.etl_windows(N_DAYS - gen.WINDOW_DAYS + 1)
    days = sorted(tables["time_entries"]["time_entry_in_datetime"].str[:10].unique())
    assert len(days) == N_DAYS
    for (lo0, hi0), (lo1, hi1) in zip(windows, windows[1:]):
        old = {d for d in days if lo0 <= d <= hi0}
        new = {d for d in days if lo1 <= d <= hi1}
        assert len(old & new) == gen.WINDOW_DAYS - 1 and new - old == {hi1}
