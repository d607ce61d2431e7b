"""Operator-level unit tests — one per hard SURVEY.md §2 semantic:
J6 first-match-wins, A1/A2 determinism, S7 idempotency, F5 spine endpoints,
F6 duration math (incl. cross-midnight).
"""

from __future__ import annotations

import pytest
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
    fuzzy_containment_lookup_udf,
)
from data_management_service_run_etl_imputations_spark.sources.readers import date_spine
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_insert_only,
    incremental_new_rows,
)


@pytest.fixture()
def dim(spark):
    # Overlapping names: 'acme' ⊂ 'acme holdings' — first-match (lower ord) wins.
    return spark.createDataFrame(
        [(1, "acme holdings", 1), (2, "acme", 2), (3, "globex", 3)],
        "empresa_id INT, nombre STRING, ord INT",
    )


@pytest.mark.parametrize("max_expr", [1024, 0])  # projection path / theta-join path
def test_fuzzy_first_match_wins(spark, dim, max_expr):
    fact = spark.createDataFrame(
        [
            (100, "ACME HOLDINGS S.L."),   # matches both acme rows → ord 1 wins
            (101, "Acme Consulting"),       # only 'acme' → id 2
            (102, "Globex Corp"),           # id 3
            (103, "Initech"),               # no match → null
            (104, None),                    # null input → null
        ],
        "k INT, company STRING",
    )
    out = fuzzy_containment_lookup(
        fact, dim, "company", "nombre", "empresa_id", "empresa_out",
        dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
    )
    got = {r.k: r.empresa_out for r in out.collect()}
    assert got == {100: 1, 101: 2, 102: 3, 103: None, 104: None}


@pytest.mark.parametrize("max_expr", [1024, 0])
def test_fuzzy_null_dim_text_matches_nothing(spark, max_expr):
    """A dim row with NULL text must match nothing on BOTH physical
    strategies (round-2 ADVICE: the projection path stringified None into
    'none', silently matching facts containing that substring), and the
    output id must keep the dim column's dtype on both paths."""
    dim_with_null = spark.createDataFrame(
        [(1, None, 1), (2, "acme", 2)], "empresa_id INT, nombre STRING, ord INT"
    )
    fact = spark.createDataFrame(
        [(100, "none of the above"), (101, "acme corp"), (102, "zzz")],
        "k INT, company STRING",
    )
    out = fuzzy_containment_lookup(
        fact, dim_with_null, "company", "nombre", "empresa_id", "out",
        dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
    )
    assert out.schema["out"].dataType.simpleString() == "int"
    got = {r.k: r.out for r in out.collect()}
    assert got == {100: None, 101: 2, 102: None}


@pytest.mark.parametrize("max_expr", [1024, 0])
def test_fuzzy_theta_join_matches_udf_reference(spark, dim, max_expr):
    """Differential: both physical strategies (projection unroll and
    theta-join) must agree with the row-at-a-time UDF that mirrors the
    reference loop exactly."""
    import random

    rng = random.Random(7)
    names = ["acme", "ACME Holdings", "globex", "initech", "Acme holdings SA", ""]
    fact = spark.createDataFrame(
        [(i, rng.choice(names) + (" inc" if rng.random() < 0.5 else ""))
         for i in range(300)],
        "k INT, company STRING",
    )
    theta = fuzzy_containment_lookup(
        fact, dim, "company", "nombre", "empresa_id", "out",
        dim_order="ord", fact_key="k", max_dim_expr_rows=max_expr,
    )
    dim_rows = [(r.empresa_id, r.nombre) for r in dim.orderBy("ord").collect()]
    udf = fuzzy_containment_lookup_udf(fact, dim_rows, "company", "out")
    t = {r.k: r.out for r in theta.collect()}
    u = {r.k: r.out for r in udf.collect()}
    assert t == u


def test_dedup_keep_last_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 3, "y"), ("a", 2, "z"), ("b", 9, "w")],
        "dni STRING, empleado_id INT, payload STRING",
    )
    out = dedup_keep_last(df, ["dni"], [F.desc("empleado_id")])
    got = {(r.dni): (r.empleado_id, r.payload) for r in out.collect()}
    assert got == {"a": (3, "y"), "b": (9, "w")}
    with pytest.raises(ValueError):
        dedup_keep_last(df, ["dni"])  # implicit order is a reference bug, refused


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-02", "old"), (1, "2024-01-02", "new2"), (2, "2024-01-01", "only")],
        "employee_id INT, updated_at STRING, dept STRING",
    )
    out = latest_per_key(
        df, ["employee_id"], [F.desc("updated_at"), F.desc("dept")]
    )
    got = {r.employee_id: r.dept for r in out.collect()}
    assert got == {1: "old", 2: "only"}  # 'old' > 'new2' lexicographically


def test_incremental_new_rows_casts_drifted_key_types(spark):
    incoming = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")],
                                     "empleado_id INT, fecha STRING")
    # existing came back from a round-trip with a wider type
    existing = spark.createDataFrame([(1, "2024-01-01")],
                                     "empleado_id LONG, fecha STRING")
    fresh = incremental_new_rows(incoming, existing, ["empleado_id", "fecha"])
    assert [r.empleado_id for r in fresh.collect()] == [2]


def test_incremental_insert_only_idempotent(spark, tmp_path):
    path = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 5.0), (2, "2024-01-01", 6.0)],
        "empleado_id INT, fecha STRING, horas DOUBLE",
    )
    assert incremental_insert_only(batch, path, ["empleado_id", "fecha"]) == 2
    # re-run: zero appended (reference semantics, function_app.py:305-312)
    assert incremental_insert_only(batch, path, ["empleado_id", "fecha"]) == 0
    bigger = batch.unionByName(
        spark.createDataFrame([(3, "2024-01-02", 7.0)],
                              "empleado_id INT, fecha STRING, horas DOUBLE")
    )
    assert incremental_insert_only(bigger, path, ["empleado_id", "fecha"]) == 1
    assert spark.read.parquet(path).count() == 3


def test_date_spine_inclusive_endpoints(spark):
    days = [str(r.fecha) for r in date_spine(spark, "2024-01-30", "2024-02-02").collect()]
    assert sorted(days) == ["2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02"]


def test_duration_hours_cross_midnight(spark):
    df = spark.createDataFrame(
        [("2024-01-01 23:30:00", "2024-01-02 01:00:00"),
         ("2024-01-01 09:00:00", "2024-01-01 17:15:30")],
        "t_in STRING, t_out STRING",
    )
    out = df.select(
        duration_hours(parse_timestamp("t_out"), parse_timestamp("t_in")).alias("h")
    ).collect()
    assert [round(r.h, 4) for r in out] == [1.5, 8.2583]


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """Backs the agg_approx_distinct rows-only query: HLL++ at rsd=0.01
    stays within 5% of the exact distinct count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.05, (r.l_returnflag, r.approx, r.exact)


def test_route_expectations_partitions_input(spark):
    """Quarantine routing: pass + quarantine partition the input exactly;
    quarantined rows carry the names of every failed rule; a NULL rule
    result is a violation (unknown is not a pass)."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.operators.quality import (
        route_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "ok"), (2, -5.0, "ok"), (3, 7.0, None), (4, -1.0, None)],
        "id long, amount double, tag string",
    )
    rules = {
        "amount_positive": F.col("amount") > 0,
        "tag_present": F.col("tag").isNotNull(),
    }
    ok, bad = route_expectations(df, rules)
    assert sorted(r.id for r in ok.collect()) == [1]
    got = {r.id: sorted(r.failed_rules) for r in bad.collect()}
    assert got == {
        2: ["amount_positive"],
        3: ["tag_present"],  # NULL rule result -> violation
        4: ["amount_positive", "tag_present"],
    }
    # routed frames keep/extend the schema: pass side is unchanged
    assert ok.columns == df.columns
    assert bad.columns == [*df.columns, "failed_rules"]


def test_route_expectations_is_shuffle_free(spark):
    """The tagging plan is pure per-row expressions: no Exchange, no UDF
    node — quarantining 100 TB is embarrassingly parallel."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.operators.quality import (
        with_expectations,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    tagged = with_expectations(df, {"v_small": F.col("v") < 5})
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
