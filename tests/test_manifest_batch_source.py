"""Batch ``manifest`` DataSource + SQL surface: spark.sql over a temp
view must equal manifest_read at the same version — including
merge-on-read deletes (positional AND equality), column mapping, and
time travel — with filter pushdown pruning files at plan time
(prune-only: every predicate is re-applied by Spark, so an unfaithful
literal merely skips pruning).

Every table here is small enough for ``manifest_sql_register`` to bind
it natively (a JVM parquet scan), so each SQL case runs twice: once on
that native binding and once forced onto the Python DataSource
(``ManifestBatchReader.read``), and the plan is checked to show the
binding the case asked for.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources import (
    manifest_batch as mb,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    ManifestBatchReader,
    ManifestTableDataSource,
    manifest_sql_register,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    manifest_delete,
    manifest_delete_where,
    manifest_read,
    manifest_rename_column,
    manifest_upsert_partitioned,
)


# r13 driver-window tier: this file is in the SLOW families (measured
# from the full-suite durations log); deselect with -m "not slow".
pytestmark = pytest.mark.slow


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mbatch_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(params=["native", "datasource"])
def register(request, spark, monkeypatch):
    """``register(view, path, **kw)``: ``manifest_sql_register`` through
    the native binding or, with the native size limit forced to 0,
    through the Python DataSource."""

    def _register(view, path, **kw):
        with monkeypatch.context() as m:
            if request.param == "datasource":
                m.setattr(mb, "_NATIVE_READ_MAX_FILES", 0)
            manifest_sql_register(spark, view, path, **kw)
        plan = spark.table(view)._jdf.queryExecution().executedPlan()
        assert ("(Python)" in plan.toString()) == (
            request.param == "datasource"
        )

    return _register


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _seed(spark, table_path, days=3, per_day=10):
    rows = [
        (d * 100 + i, f"d{d}", float(d * 100 + i))
        for d in range(days)
        for i in range(per_day)
    ]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(2), table_path, ["k"], "day"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sql_read_equals_manifest_read(spark, table_path, register):
    _seed(spark, table_path)
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(f"SELECT k, day, v FROM {view}")
    want = manifest_read(spark, table_path).select("k", "day", "v")
    assert _rows(got) == _rows(want)


def test_sql_where_prunes_and_matches(spark, table_path, register):
    _seed(spark, table_path)
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(
        f"SELECT k, v FROM {view} WHERE day = 'd1' AND v >= 105"
    )
    want = (
        manifest_read(spark, table_path)
        .filter("day = 'd1' AND v >= 105")
        .select("k", "v")
    )
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 5


def test_planner_prunes_partitions_and_zone_maps(spark, table_path):
    """Pruning evidence, driven on the reader class directly (the real
    scan runs it in a separate worker process)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_stats,
    )

    _seed(spark, table_path)
    manifest_collect_stats(spark, table_path, ["v"])
    schema = manifest_read(spark, table_path).schema
    r = ManifestBatchReader(schema, {"path": table_path})
    out = list(r.pushFilters([
        EqualTo(("day",), "d1"),
        GreaterThanOrEqual(("v",), 1000.0),
    ]))
    assert len(out) == 2  # prune-only: everything re-evaluated by Spark
    parts = r.partitions()
    assert r.last_plan["partitions_total"] == 3
    assert r.last_plan["partitions_kept"] == 1
    # v >= 1000 proves empty against d1's stats → zone maps drop all
    assert r.last_plan["files_kept"] == 0
    assert parts == []


def test_unfaithful_partition_literal_skips_pruning(
    spark, table_path, register
):
    """`day = 5` on the STRING partition col: the typed gate refuses to
    prune and Spark's own re-applied coercion decides the result."""
    rows = [(1, "05", 1.0), (2, "5", 2.0), (3, "7", 3.0)]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(1), table_path, ["k"], "day"
    )
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(f"SELECT k FROM {view} WHERE day = 5")
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_sql_sees_mor_deletes_positional_and_equality(
    spark, table_path, register
):
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "k IN (101, 102)")  # pos
    manifest_delete(
        spark.createDataFrame([(105,)], "k LONG"), table_path, ["k"]
    )  # equality entry
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(f"SELECT k FROM {view} WHERE day = 'd1'")
    want = manifest_read(spark, table_path).filter("day = 'd1'")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )
    assert 101 not in {r["k"] for r in got.collect()}
    assert 105 not in {r["k"] for r in got.collect()}


def test_time_travel_option(spark, table_path, register):
    _seed(spark, table_path)
    manifest_delete_where(spark, table_path, "day = 'd0'")
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path, version=1)
    n_v1 = spark.sql(f"SELECT count(*) AS n FROM {view}").first()["n"]
    assert n_v1 == 30  # pre-delete snapshot
    register(view, table_path)
    n_head = spark.sql(f"SELECT count(*) AS n FROM {view}").first()["n"]
    assert n_head == 20


def test_column_rename_through_sql(spark, table_path, register):
    _seed(spark, table_path)
    manifest_rename_column(table_path, "v", "amount")
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(
        f"SELECT k, amount FROM {view} WHERE day = 'd2' ORDER BY k"
    )
    want = (
        manifest_read(spark, table_path)
        .filter("day = 'd2'")
        .select("k", "amount")
        .orderBy("k")
    )
    assert _rows(got) == _rows(want)
    assert got.count() == 10


def test_missing_path_or_table_fails_loudly(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    with pytest.raises(Exception, match="path"):
        spark.read.format("manifest").load().count()
    with pytest.raises(Exception):
        spark.read.format("manifest").option(
            "path", table_path
        ).load().count()


def test_raw_read_on_session_with_runtime_confs(spark, table_path):
    """The raw ``spark.read.format("manifest")`` read of the module
    docstring plans on any session that carries the engine's runtime
    confs, without ``manifest_sql_register`` having run: the reader
    implements pushFilters, which Spark refuses to plan with Python
    filter pushdown off. Rows equal manifest_read, NULL/NaN-distinct
    equality delete included."""
    from data_management_service_run_etl_imputations_spark.session import (
        ensure_runtime_confs,
    )

    rows = [(1, "d0", None), (2, "d0", float("nan")), (3, "d1", 1.0)]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(1), table_path, ["k"], "day"
    )
    manifest_delete(
        spark.createDataFrame([(None,)], "v DOUBLE"), table_path, ["v"]
    )
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    ensure_runtime_confs(spark)
    spark.dataSource.register(ManifestTableDataSource)
    got = (
        spark.read.format("manifest")
        .option("path", table_path)
        .load()
        .select("k")
    )
    want = manifest_read(spark, table_path).select("k")
    assert _rows(got) == _rows(want) == [(2,), (3,)]


def test_sql_read_on_checkpointed_version_prunes_flat(
    spark, table_path, register
):
    """On a checkpointed version the reader holds only the checkpoint's
    meta half and fetches file lists for just the partitions surviving
    pushed filters — results identical, plan telemetry shows the prune."""
    from pyspark.sql.datasource import EqualTo

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_checkpoint,
    )

    _seed(spark, table_path, days=6)
    manifest_checkpoint(table_path)
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = spark.sql(f"SELECT k, v FROM {view} WHERE day = 'd2'")
    want = (
        manifest_read(spark, table_path)
        .filter("day = 'd2'")
        .select("k", "v")
    )
    assert _rows(got) == _rows(want)
    # reader-level evidence: meta-only until partitions() fetches the
    # selected partitions' file rows
    schema = manifest_read(spark, table_path).schema
    r = ManifestBatchReader(schema, {"path": table_path})
    assert r._files_plan is not None and "files" not in r.content
    list(r.pushFilters([EqualTo(("day",), "d2")]))
    parts = r.partitions()
    assert r.last_plan["partitions_kept"] == 1
    assert len(parts) >= 1
    assert "files" not in r.content  # meta stays files-free across plans


def test_checkpointed_filter_pruning_to_zero_partitions(
    spark, table_path, register
):
    """A pushed filter that prunes EVERY partition on a checkpointed
    version must plan an empty scan (not crash on pyarrow's empty IN)."""
    from pyspark.sql.datasource import EqualTo

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_checkpoint,
    )

    _seed(spark, table_path, days=3)
    manifest_checkpoint(table_path)
    schema = manifest_read(spark, table_path).schema
    r = ManifestBatchReader(schema, {"path": table_path})
    list(r.pushFilters([EqualTo(("day",), "no_such_day")]))
    assert r.partitions() == []
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    assert (
        spark.sql(f"SELECT * FROM {view} WHERE day = 'no_such_day'").count()
        == 0
    )


def test_pushfilters_reset_between_plans(spark, table_path):
    """ADVICE r8: plan reuse must not inherit stale predicates — a
    second pushFilters round on the SAME reader instance starts clean,
    so an earlier query's pruning can never over-prune this scan."""
    from pyspark.sql.datasource import EqualTo

    _seed(spark, table_path)
    schema = manifest_read(spark, table_path).schema
    r = ManifestBatchReader(schema, {"path": table_path})
    list(r.pushFilters([EqualTo(("day",), "d1")]))
    assert len(r.partitions()) > 0
    assert r.last_plan["partitions_kept"] == 1
    # second round with NO filters: the d1 pruning must be forgotten
    list(r.pushFilters([]))
    r.partitions()
    assert r.last_plan["partitions_kept"] == 3
    # and a different filter replaces, not intersects
    list(r.pushFilters([EqualTo(("day",), "d2")]))
    r.partitions()
    assert r.last_plan["partitions_kept"] == 1


def test_equality_delete_null_vs_nan_sql_matches_manifest_read(
    spark, table_path, register
):
    """ADVICE r8: SQL-read equality-delete masking must keep NULL and
    float NaN DISTINCT (eqNullSafe semantics: NULL<=>NULL true,
    NaN<=>NaN true, NULL<=>NaN false) — a NULL delete key must not mask
    NaN data cells, byte-identical to manifest_read."""
    rows = [(1, "d0", None), (2, "d0", float("nan")), (3, "d0", 1.0)]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(1), table_path, ["k"], "day"
    )
    # equality-delete on the FLOAT column with a NULL key
    manifest_delete(
        spark.createDataFrame([(None,)], "v DOUBLE"), table_path, ["v"]
    )
    view = f"mb_{uuid.uuid4().hex[:8]}"
    register(view, table_path)
    got = sorted(r["k"] for r in spark.sql(f"SELECT k FROM {view}").collect())
    want = sorted(
        r["k"] for r in manifest_read(spark, table_path).select("k").collect()
    )
    assert got == want == [2, 3]  # NaN row SURVIVES a NULL delete key
    # and the converse: a NaN delete key masks only the NaN row
    manifest_delete(
        spark.createDataFrame([(float("nan"),)], "v DOUBLE"),
        table_path,
        ["v"],
    )
    view2 = f"mb_{uuid.uuid4().hex[:8]}"
    register(view2, table_path)
    got2 = sorted(
        r["k"] for r in spark.sql(f"SELECT k FROM {view2}").collect()
    )
    want2 = sorted(
        r["k"] for r in manifest_read(spark, table_path).select("k").collect()
    )
    assert got2 == want2 == [3]
