"""One partition-key rule for every manifest write path: a non-null
value's key is Spark's ``CAST(p AS STRING)`` under the UTC session zone,
NULL is NULL_PARTITION_KEY and ``''`` stays ``''``. Every writer — SQL
INSERT / CTAS / INSERT OVERWRITE, ``df.write.format("manifest")``,
upsert, insert, both MERGE plans, copy-on-write UPDATE, replace
partitions and replace table — is checked on string (with ``''``),
int, date, bool, timestamp (fractional second) and double keys for
three things: the committed keys, the rows UPDATE / MERGE / DELETE on
``p = <value>`` leave, and a clean ``manifest_fsck``."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_management_service_run_etl_imputations_spark.sources.fsck import (
    manifest_fsck,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    ManifestTableDataSource,
    manifest_sql,
    manifest_sql_register,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    NULL_PARTITION_KEY as NULL,
    _latest_manifest,
    manifest_compact,
    manifest_insert,
    manifest_merge,
    manifest_replace_partitions,
    manifest_replace_table,
    manifest_upsert_partitioned,
)
from data_management_service_run_etl_imputations_spark.sources.skipping import (
    manifest_cluster_zorder,
)

# type name -> (SQL type, the two non-null values as castable strings,
# their canonical keys)
TYPES = {
    # '~' is the staged copy's escape character: such a key must round-trip
    "string": ("STRING", ["", "~d0"], ["", "~d0"]),
    "int": ("INT", ["7", "-3"], ["7", "-3"]),
    "date": ("DATE", ["2024-02-29", "2024-01-01"], ["2024-02-29", "2024-01-01"]),
    "bool": ("BOOLEAN", ["true", "false"], ["true", "false"]),
    "timestamp": (
        "TIMESTAMP",
        ["2024-01-01 00:00:00.5", "2024-01-02 03:04:05"],
        ["2024-01-01 00:00:00.5", "2024-01-02 03:04:05"],
    ),
    "double": ("DOUBLE", ["1e20", "1.5"], ["1.0E20", "1.5"]),
}
# the DataSource writer keys rows in Python and refuses other types
DF_WRITE_TYPES = ("string", "int", "date", "bool")
# rows as (k, x); row 1 sits in the first value's partition, row 2 in
# NULL's, row 3 in the second value's
ROWS = [(1, 10), (2, 20), (3, 30)]


def _lit(t: str, i: "int | None") -> str:
    sql_type, vals, _ = TYPES[t]
    v = "NULL" if i is None else f"'{vals[i]}'"
    return f"CAST({v} AS {sql_type})"


def _values(t: str) -> str:
    return ", ".join(
        f"({k}, {_lit(t, i)}, {x})" for (k, x), i in zip(ROWS, (0, None, 1))
    )


def _src(spark, t: str):
    return spark.sql(f"SELECT * FROM VALUES {_values(t)} AS s(k, p, x)")


def _create(spark, view, path, t):
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, p {TYPES[t][0]}, x INT) "
        f"LOCATION '{path}' PARTITIONED BY (p)",
    )


def _register(spark, view, path):
    manifest_sql_register(spark, view, path, follow_head=True)


def _w_sql_insert(spark, view, path, t):
    _create(spark, view, path, t)
    manifest_sql(spark, f"INSERT INTO {view} VALUES {_values(t)}")


def _w_ctas(spark, view, path, t):
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{path}' PARTITIONED BY (p) AS "
        f"SELECT * FROM VALUES {_values(t)} AS s(k, p, x)",
    )


def _w_insert_overwrite(spark, view, path, t):
    _create(spark, view, path, t)
    manifest_sql(
        spark,
        f"INSERT OVERWRITE {view} SELECT * FROM VALUES {_values(t)} "
        "AS s(k, p, x)",
    )


def _w_df_write(spark, view, path, t):
    spark.dataSource.register(ManifestTableDataSource)
    (
        _src(spark, t)
        .write.format("manifest")
        .option("path", path)
        .option("partition_cols", "p")
        .mode("append")
        .save()
    )
    _register(spark, view, path)


def _w_upsert(spark, view, path, t):
    manifest_upsert_partitioned(_src(spark, t), path, ["k"], "p")
    _register(spark, view, path)


def _w_insert(spark, view, path, t):
    _create(spark, view, path, t)
    manifest_insert(_src(spark, t), path)


def _w_merge(spark, view, path, t):
    # a matched clause keeps the general two-pass plan
    _create(spark, view, path, t)
    manifest_merge(_src(spark, t), path, ["k"], "p", matched_update={"x": "s.x"})


def _w_merge_insert_only(spark, view, path, t):
    _create(spark, view, path, t)
    manifest_merge(_src(spark, t), path, ["k"], "p")


def _w_cow_update(spark, view, path, t):
    # every row starts in the NULL partition; the UPDATE moves rows 1
    # and 3 out of it
    _create(spark, view, path, t)
    manifest_sql(
        spark,
        f"INSERT INTO {view} VALUES "
        + ", ".join(f"({k}, {_lit(t, None)}, {x})" for k, x in ROWS),
    )
    manifest_sql(
        spark,
        f"UPDATE {view} SET p = CASE k WHEN 1 THEN {_lit(t, 0)} "
        f"WHEN 3 THEN {_lit(t, 1)} END",
        mode="cow",
    )


def _w_replace_partitions(spark, view, path, t):
    _create(spark, view, path, t)
    src = _src(spark, t)
    values = [r[0] for r in src.select("p").distinct().collect()]
    manifest_replace_partitions(src, path, "p", values)


def _w_replace_table(spark, view, path, t):
    manifest_replace_table(_src(spark, t), path, ["p"])
    _register(spark, view, path)


WRITERS = {
    "sql_insert": _w_sql_insert,
    "ctas": _w_ctas,
    "insert_overwrite": _w_insert_overwrite,
    "df_write": _w_df_write,
    "upsert": _w_upsert,
    "insert": _w_insert,
    "merge": _w_merge,
    "merge_insert_only": _w_merge_insert_only,
    "cow_update": _w_cow_update,
    "replace_partitions": _w_replace_partitions,
    "replace_table": _w_replace_table,
}


def _applicable(writer: str, t: str) -> bool:
    # a caller-supplied Python float has no rendering identical to the
    # cast (Java's Double.toString), so replace_partitions takes its
    # double partition values from Spark paths only
    return not (writer == "replace_partitions" and t == "double")


def _keys(path) -> list[str]:
    return sorted(_latest_manifest(path)[1]["partitions"])


def _rows(spark, view) -> list[tuple]:
    # through the dispatcher: a follow_head view rebinds to the new head
    return sorted(
        tuple(r) for r in manifest_sql(spark, f"SELECT k, x FROM {view}").collect()
    )


def _fresh():
    tag = uuid.uuid4().hex[:10]
    return f"pka_{tag}", f"{tempfile.gettempdir()}/pka_{tag}"


def _check(spark, writer: str, t: str) -> None:
    """Write the three rows through ``writer`` and assert the canonical
    keys, then UPDATE (CoW and MoR), MERGE and DELETE on the first
    value's partition against a plain model, then a clean fsck."""
    view, path = _fresh()
    try:
        if writer == "df_write" and t not in DF_WRITE_TYPES:
            with pytest.raises(Exception, match="cannot partition on"):
                _w_df_write(spark, view, path, t)
            assert _latest_manifest(path)[0] == 0
            return
        WRITERS[writer](spark, view, path, t)
        k0, k1 = TYPES[t][2]
        assert _keys(path) == sorted([k0, NULL, k1]), writer
        assert _rows(spark, view) == [(1, 10), (2, 20), (3, 30)]
        on_v0 = f"p = {_lit(t, 0)}"
        manifest_sql(spark, f"UPDATE {view} SET x = x + 100 WHERE {on_v0}", mode="cow")
        manifest_sql(spark, f"UPDATE {view} SET x = x + 1 WHERE {on_v0}", mode="mor")
        assert _rows(spark, view) == [(1, 111), (2, 20), (3, 30)]
        manifest_sql(
            spark,
            f"MERGE INTO {view} t USING (SELECT * FROM VALUES "
            f"(1, {_lit(t, 0)}, 555), (4, {_lit(t, 0)}, 4) AS v(k, p, x)) s "
            "ON t.k = s.k AND t.p = s.p "
            "WHEN MATCHED THEN UPDATE SET x = s.x "
            "WHEN NOT MATCHED THEN INSERT *",
        )
        assert _rows(spark, view) == [(1, 555), (2, 20), (3, 30), (4, 4)]
        assert _keys(path) == sorted([k0, NULL, k1])
        manifest_sql(spark, f"DELETE FROM {view} WHERE {on_v0}")
        assert _rows(spark, view) == [(2, 20), (3, 30)]
        report = manifest_fsck(path)
        assert report["ok"] and not report["errors"], report
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --- the reproduced divergences, one named case each --------------------


def test_advice_sql_insert_then_delete_empty_string(spark):
    """SQL INSERT (1,''),(2,NULL),(3,'d0') then DELETE WHERE day = ''
    leaves [2, 3]: '' is its own partition, not NULL's."""
    view, path = _fresh()
    try:
        manifest_sql(
            spark,
            f"CREATE TABLE {view} (k INT, day STRING) LOCATION '{path}' "
            "PARTITIONED BY (day)",
        )
        manifest_sql(
            spark, f"INSERT INTO {view} VALUES (1, ''), (2, NULL), (3, 'd0')"
        )
        assert _keys(path) == ["", NULL, "d0"]
        manifest_sql(spark, f"DELETE FROM {view} WHERE day = ''")
        assert [r[0] for r in manifest_sql(spark, f"SELECT k FROM {view} ORDER BY k").collect()] == [2, 3]
    finally:
        shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize(
    "writer,t",
    [
        ("df_write", "string"),  # its keys agree with SQL INSERT's; UPDATE/MERGE of ''
        ("upsert", "string"),  # (1,'') filed under '' rather than NULL
        ("ctas", "bool"),  # CTAS then UPDATE of a bool table
        ("upsert", "bool"),
        ("ctas", "timestamp"),  # fractional-second key then UPDATE
        ("upsert", "timestamp"),
        ("upsert", "double"),  # staged '1.0E20' is the touched key
        ("ctas", "double"),
    ],
)
def test_reproduced_divergence(spark, writer, t):
    _check(spark, writer, t)


def test_df_write_refuses_double_partition_column(spark):
    _check(spark, "df_write", "double")


@pytest.mark.parametrize("target_file_mb", [None, 1])
def test_compact_and_zorder_keep_empty_and_null_keys(spark, target_file_mb):
    """OPTIMIZE (one file per partition, and the size-bounded fan whose
    join decodes keys back to copy values) and ZORDER of a df.write
    table holding '', NULL and 'd0' keep all three partitions apart."""
    view, path = _fresh()
    rows = [(1, "", 10), (2, None, 20), (3, "d0", 30)]
    try:
        spark.dataSource.register(ManifestTableDataSource)
        spark.createDataFrame(rows, "k INT, p STRING, x INT").write.format(
            "manifest"
        ).option("path", path).option("partition_cols", "p").mode("append").save()
        _register(spark, view, path)
        manifest_upsert_partitioned(
            spark.createDataFrame(
                [(k + 10, p, x) for k, p, x in rows], "k INT, p STRING, x INT"
            ),
            path, ["k"], "p",
        )
        manifest_compact(spark, path, target_file_mb=target_file_mb)
        manifest_cluster_zorder(spark, path, ["k"])
        content = _latest_manifest(path)[1]
        assert sorted(content["partitions"]) == ["", NULL, "d0"]
        assert all(len(content["files"][k]) >= 1 for k in content["partitions"])
        by_key = {
            k: sorted(
                r[0] for r in manifest_sql(
                    spark,
                    f"SELECT k FROM {view} WHERE "
                    + ("p IS NULL" if k == NULL else f"p = '{k}'")
                ).collect()
            )
            for k in content["partitions"]
        }
        assert by_key == {"": [1, 11], NULL: [2, 12], "d0": [3, 13]}
        manifest_sql(spark, f"DELETE FROM {view} WHERE p = ''")
        assert _rows(spark, view) == [(2, 20), (3, 30), (12, 20), (13, 30)]
        report = manifest_fsck(path)
        assert report["ok"] and not report["errors"], report
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --- every writer × every key type ------------------------------------------


@settings(
    max_examples=6,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    writer=st.sampled_from(sorted(WRITERS)),
    t=st.sampled_from(sorted(TYPES)),
)
def test_writers_agree_property(spark, writer, t):
    if _applicable(writer, t):
        _check(spark, writer, t)


@pytest.mark.slow
@pytest.mark.parametrize("t", sorted(TYPES))
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writers_agree_matrix(spark, writer, t):
    if not _applicable(writer, t):
        pytest.skip("no cast-identical Python rendering for a double")
    _check(spark, writer, t)
