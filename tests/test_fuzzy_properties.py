"""Property-based tests for the fuzzy containment lookup (SURVEY.md §5
item 4): containment semantics, no-match → null, dim-order determinism.

Hypothesis generates fact strings from a small alphabet so containment hits
are frequent; each property is checked against a pure-Python reference of
``get_field_id`` (function_app.py:233-256) semantics.
"""

from __future__ import annotations

from datetime import date, timedelta
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_management_service_run_etl_imputations_spark.operators.joins import (
    fuzzy_containment_lookup,
)

DIM_ROWS = [(1, "ab"), (2, "abc"), (3, "xy"), (4, "q")]


def reference_lookup(s: str | None) -> int | None:
    """Pure-Python mirror of the reference loop: first dim row (in order)
    whose text is a case-insensitive substring."""
    if s is None:
        return None
    low = s.lower()
    for dim_id, text in DIM_ROWS:
        if text in low:
            return dim_id
    return None


facts_strategy = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="abcxyzq ABQ", min_size=0, max_size=12),
    ),
    min_size=1,
    max_size=12,
)


@pytest.fixture(scope="module")
def dim(spark):
    return spark.createDataFrame(
        [(i, t, ordn) for ordn, (i, t) in enumerate(DIM_ROWS, start=1)],
        "empresa_id INT, nombre STRING, ord INT",
    )


@settings(
    max_examples=12,  # each example is a Spark job — keep the count sane
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(facts=facts_strategy)
@pytest.mark.parametrize("max_expr", [1024, 0])  # projection / theta-join path
def test_fuzzy_lookup_matches_reference_semantics(spark, dim, max_expr, facts):
    fact_df = spark.createDataFrame(
        list(enumerate(facts)), "k INT, company STRING"
    )
    out = fuzzy_containment_lookup(
        fact_df, dim, "company", "nombre", "empresa_id", "out",
        dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
    )
    got = {r.k: r.out for r in out.collect()}
    expected = {i: reference_lookup(s) for i, s in enumerate(facts)}
    assert got == expected


def test_fuzzy_lookup_deterministic_across_runs(spark, dim):
    facts = [(i, "xabcq"[: (i % 5) + 1]) for i in range(50)]
    fact_df = spark.createDataFrame(facts, "k INT, company STRING")
    runs = [
        {r.k: r.out for r in fuzzy_containment_lookup(
            fact_df, dim, "company", "nombre", "empresa_id", "out",
            dim_order="ord", fact_key="k",
        ).collect()}
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


# --- r12: sorted-COALESCE projection encoding (operators/joins.py) ---------
# The projection path emits a coalesce(when...) chain (codegen-able,
# short-circuiting) when every dim id is non-null, claiming exact
# equivalence with min-over-(ord, id). These tests pin the equivalence on
# the shapes where the encodings could diverge: duplicate ord (tie broken
# by id), null ord (sorts FIRST, Spark struct ordering is nulls-first
# ascending), and a null dim id (must fall back to the struct-min form,
# because coalesce would skip a winning null branch).


def _both_paths(spark, dim_rows, dim_schema, facts):
    dim = spark.createDataFrame(dim_rows, dim_schema)
    fact_df = spark.createDataFrame(list(enumerate(facts)), "k INT, company STRING")
    out = {}
    for label, max_expr in (("projection", 1024), ("theta", 0)):
        res = fuzzy_containment_lookup(
            fact_df, dim, "company", "nombre", "empresa_id", "out",
            dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
        )
        out[label] = {r.k: r.out for r in res.collect()}
    return out


def test_fuzzy_duplicate_ord_tie_breaks_by_id(spark):
    # two rows share ord=1; both match "ab": min struct picks the lower id
    out = _both_paths(
        spark,
        [(7, "ab", 1), (3, "ab", 1), (9, "xy", 2)],
        "empresa_id INT, nombre STRING, ord INT",
        ["zzab", "xy", "none"],
    )
    assert out["projection"] == out["theta"] == {0: 3, 1: 9, 2: None}


def test_fuzzy_null_ord_sorts_first(spark):
    # the null-ord row must win over ord=1 when both match (nulls-first)
    out = _both_paths(
        spark,
        [(5, "ab", None), (2, "ab", 1)],
        "empresa_id INT, nombre STRING, ord INT",
        ["ab!", "q"],
    )
    assert out["projection"] == out["theta"] == {0: 5, 1: None}


def test_fuzzy_null_dim_id_falls_back_and_matches_theta(spark):
    # first-matching row has a NULL id: the lookup result must be null,
    # not the next matching row's id — the coalesce encoding cannot
    # express that, so the operator must take the struct-min form here
    out = _both_paths(
        spark,
        [(None, "ab", 1), (2, "ab", 2)],
        "empresa_id INT, nombre STRING, ord INT",
        ["ab", "q"],
    )
    assert out["projection"] == out["theta"] == {0: None, 1: None}


def test_fuzzy_projection_path_is_codegen_coalesce(spark):
    # plan shape: non-null ids -> coalesce chain, no interpreted
    # higher-order first-match (array_min/filter/lambda) anywhere
    dim = spark.createDataFrame(
        [(1, "ab", 1), (2, "xy", 2)], "empresa_id INT, nombre STRING, ord INT"
    )
    fact_df = spark.createDataFrame([(0, "ab")], "k INT, company STRING")
    out = fuzzy_containment_lookup(
        fact_df, dim, "company", "nombre", "empresa_id", "out",
        dim_order="ord", fact_key="k",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "coalesce" in plan
    assert "array_min" not in plan and "lambdafunction" not in plan


# --- r13 (ADVICE r12 hardening): NaN dim order + temp-column collision -----


def test_fuzzy_nan_ord_routes_to_struct_min_and_matches_theta(spark):
    # Spark sorts NaN GREATER than any non-NaN while Python sorted() is
    # unordered w.r.t. NaN — a NaN-order dim must take the struct-min
    # form so both physical paths agree: ord=1.0 beats ord=NaN.
    out = _both_paths(
        spark,
        [(5, "ab", float("nan")), (2, "ab", 1.0)],
        "empresa_id INT, nombre STRING, ord DOUBLE",
        ["ab!", "q"],
    )
    assert out["projection"] == out["theta"] == {0: 2, 1: None}


def test_fuzzy_fact_column_named_like_temp_is_preserved(spark):
    # a fact column literally named __fuzzy_lowered must survive the
    # projection path untouched (the temp name uniquifies around it)
    dim = spark.createDataFrame(
        [(1, "ab", 1)], "empresa_id INT, nombre STRING, ord INT"
    )
    fact_df = spark.createDataFrame(
        [(0, "AB", "keep-me")], "k INT, company STRING, __fuzzy_lowered STRING"
    )
    res = fuzzy_containment_lookup(
        fact_df, dim, "company", "nombre", "empresa_id", "out",
        dim_order="ord", fact_key="k",
    )
    row = res.collect()[0]
    assert row.out == 1
    assert row["__fuzzy_lowered"] == "keep-me"


# --- dim names and ids rendered as SQL literals (projection path) ----------
# The projection path writes every dim name and id into one SQL string. A
# name holding a quote, backslash, LIKE wildcard, backtick or non-ASCII
# letter must match only itself, under either backslash-escape setting of
# the SQL parser, and ids must come back with the dim's id type.

NASTY_NAMES = [
    "o'brien", "back\\slash", 'say "hi"', "100%", "a_b", "tick`tock",
    "ñandú", "über", "ßtraße",
]
NASTY_FACTS = [
    "O'BRIEN & sons", "o''brien", "obrien", "BACK\\SLASH ltd", "backslash",
    "back\\\\slash", 'they say "hi"', "say hi", "100% juice", "100x",
    "a_b corp", "axb", "TICK`TOCK", "ticktock", "ÑANDÚ s.a.", "ÜBER",
    "uber", "ßtraße", "", None,
]
ID_KINDS = {
    "int": ("INT", lambda i: i + 1),
    "bigint": ("BIGINT", lambda i: (1 << 40) + i),
    "string": ("STRING", lambda i: f"id-{i}'\\\"`"),
    "double": ("DOUBLE", lambda i: i / 3 - 1),
    "decimal": ("DECIMAL(12,3)", lambda i: Decimal(i) / 8 - Decimal("0.5")),
    "date": ("DATE", lambda i: date(2024, 2, 27) + timedelta(days=i)),
}


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("id_kind", sorted(ID_KINDS))
def test_fuzzy_literal_rendering_matches_udf_and_theta(spark, id_kind, escaped):
    from data_management_service_run_etl_imputations_spark.operators.joins import (
        fuzzy_containment_lookup_udf,
    )

    sql_type, make_id = ID_KINDS[id_kind]
    ids = [make_id(i) for i in range(len(NASTY_NAMES))]
    dim = spark.createDataFrame(
        [(ids[i], name, i) for i, name in enumerate(NASTY_NAMES)],
        f"empresa_id {sql_type}, nombre STRING, ord INT",
    )
    fact_df = spark.createDataFrame(
        list(enumerate(NASTY_FACTS)), "k INT, company STRING"
    )
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, escaped)
    try:
        got = {}
        for label, max_expr in (("projection", 1024), ("theta", 0)):
            res = fuzzy_containment_lookup(
                fact_df, dim, "company", "nombre", "empresa_id", "out",
                dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
            )
            assert res.schema["out"].dataType.simpleString() == sql_type.lower()
            if label == "projection":
                plan = res._jdf.queryExecution().executedPlan().toString()
                assert "coalesce" in plan  # the rendered chain, not a fallback
            got[label] = {r.k: r.out for r in res.collect()}
        # the UDF mirrors the reference loop with int ids: give it each
        # row's position and map the answer back to the real id
        udf = fuzzy_containment_lookup_udf(
            fact_df, list(enumerate(NASTY_NAMES)), "company", "out"
        )
        got["udf"] = {
            r.k: None if r.out is None else ids[r.out] for r in udf.collect()
        }
    finally:
        spark.conf.set(key, "false")
    assert got["projection"] == got["theta"] == got["udf"]
    # every name matches its own fact and nothing it only resembles
    assert got["projection"][NASTY_FACTS.index("O'BRIEN & sons")] == ids[0]
    assert got["projection"][NASTY_FACTS.index("back\\\\slash")] is None
    assert got["projection"][NASTY_FACTS.index("100x")] is None
    assert got["projection"][NASTY_FACTS.index("axb")] is None
    assert got["projection"][NASTY_FACTS.index("ÑANDÚ s.a.")] == ids[6]
