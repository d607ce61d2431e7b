"""The insert-only anti-join (``sources.sinks.incremental_new_rows``) reads
the existing side's keys as they are, without deduplicating them: a
left-anti join's result does not depend on how often a key occurs on its
right side, and a dedup would add a shuffle stage to every insert-only
append and upsert.
"""

from __future__ import annotations

import re
from collections import Counter

from data_management_service_run_etl_imputations_spark.plans import (
    build_fichajes,
    build_imputaciones,
)
from data_management_service_run_etl_imputations_spark.plans.fixtures import (
    build_fixture_frames,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_new_rows,
)


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_duplicate_and_null_keys_on_existing_side(spark):
    schema = "k int, t string, v double"
    incoming = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (None, "c", 3.0), (3, None, 4.0),
         (None, None, 5.0), (4, "d", 6.0), (4, "d", 7.0)],
        schema,
    )
    existing = spark.createDataFrame(
        [(1, "a", 0.0), (1, "a", 9.0), (None, "c", 0.0), (None, "c", 0.0),
         (3, None, 0.0), (3, None, 1.0), (None, None, 0.0), (None, None, 0.0),
         (5, "x", 0.0)],
        schema,
    )
    keys = ["k", "t"]
    got = incremental_new_rows(incoming, existing, keys)
    want = incremental_new_rows(incoming, existing.dropDuplicates(keys), keys)
    assert _rows(got) == _rows(want)
    # null key components match stored nulls; incoming duplicates both stay
    assert _rows(got) == Counter([(2, "b", 2.0), (4, "d", 6.0), (4, "d", 7.0)])


def test_etl_anti_joins_stay_broadcast_without_a_key_aggregate(spark, tmp_path):
    f = build_fixture_frames(spark)
    dims = (f["employees"], f["dim_empleado"], f["dim_empresa"],
            f["dim_departamento"], f["department_assignations"])
    for name, fact, keys in (
        ("imp", build_imputaciones(f["time_entries"], *dims), ["empleado_id", "fecha", "tarea"]),
        ("fic", build_fichajes(f["worked_hours"], *dims), ["fecha", "empleado_id"]),
    ):
        path = str(tmp_path / name)
        fact.write.parquet(path)
        fresh = incremental_new_rows(fact, spark.read.parquet(path), keys)
        assert fresh.count() == 0
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
        # the existing side's key projection is not aggregated
        assert "keys=[__ex_" not in plan, plan
