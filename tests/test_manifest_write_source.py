"""Write half of the batch ``manifest`` DataSource:
df.write.format("manifest").mode("append") — executor-written parquet
registered through one atomic manifest commit; insert-only semantics,
table creation via options, loud refusals for features the v1 writer
cannot maintain, and interop with every reader path.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    ManifestTableDataSource,
    manifest_sql_register,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    manifest_count,
    manifest_delete_where,
    manifest_history,
    manifest_read,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mwrite_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _w(df, path, **opts):
    w = df.write.format("manifest").mode("append").option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def test_append_creates_table_and_reads_back(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    _w(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]),
        table_path,
        partition_cols="day",
    )
    got = manifest_read(spark, table_path)
    assert sorted((r["k"], r["day"], r["v"]) for r in got.collect()) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
    ]
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "append"
    assert hist[-1]["op_metrics"]["rows_appended"] == 2
    assert manifest_count(table_path) == 2  # metadata-exact counts work


def test_append_into_existing_python_api_table(spark, table_path):
    """Writer-appended files interleave with Python-API commits: reads,
    partition pruning, metadata counts, and DML all see them."""
    spark.dataSource.register(ManifestTableDataSource)
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    _w(_batch(spark, [(2, "d1", 2.0), (3, "d2", 3.0)]), table_path)
    assert manifest_count(table_path) == 3
    pruned = manifest_read(spark, table_path, partition_values=["d1"])
    assert sorted(r["k"] for r in pruned.collect()) == [1, 2]
    # a later upsert still merges (appended keys are live upsert targets)
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d1", 20.0)]), table_path, ["k"], "day"
    )
    got = {r["k"]: r["v"] for r in manifest_read(spark, table_path).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}
    # and DELETE WHERE masks writer-appended rows
    manifest_delete_where(spark, table_path, "k = 3")
    assert manifest_count(table_path) == 2


def test_append_is_insert_only_duplicate_keys_both_land(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    _w(_batch(spark, [(1, "d1", 1.0)]), table_path, partition_cols="day")
    _w(_batch(spark, [(1, "d1", 99.0)]), table_path)
    assert manifest_read(spark, table_path).count() == 2  # INSERT INTO shape


def test_sql_view_roundtrip_write_then_read(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("d"), (F.col("id") % 3).cast("string")).alias("day"),
        F.col("id").cast("double").alias("v"),
    )
    _w(df, table_path, partition_cols="day")
    view = f"mw_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    n = spark.sql(
        f"SELECT COUNT(*) AS n FROM {view} WHERE day = 'd1'"
    ).first()["n"]
    assert n == df.filter("day = 'd1'").count()


def test_multicol_partitioning_through_writer(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    df = spark.createDataFrame(
        [(1, "d1", "web", 1.0), (2, "d1", "app", 2.0), (3, "d2", "web", 3.0)],
        "k LONG, day STRING, src STRING, v DOUBLE",
    )
    _w(df, table_path, partition_cols="day,src")
    got = manifest_read(
        spark, table_path, partition_filter={"src": "web"}
    )
    assert sorted(r["k"] for r in got.collect()) == [1, 3]


def test_writer_refusals(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    df = _batch(spark, [(1, "d1", 1.0)])
    # whole-table overwrite refused (dynamic mode is the opt-in)
    with pytest.raises(Exception, match="partitionOverwriteMode"):
        df.write.format("manifest").mode("overwrite").option(
            "path", table_path
        ).save()
    # creation without a partition spec refused
    with pytest.raises(Exception, match="partition_cols"):
        df.write.format("manifest").mode("append").option(
            "path", table_path
        ).save()
    # schema drift refused
    _w(df, table_path, partition_cols="day")
    drifted = spark.createDataFrame(
        [(1, "d1", 1)], "k LONG, day STRING, v LONG"
    )
    with pytest.raises(Exception, match="schema"):
        _w(drifted, table_path)
    # constraint-bearing tables refused
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_add_constraint,
    )

    manifest_add_constraint(spark, table_path, "v_pos", "v >= 0")
    with pytest.raises(Exception, match="constraints"):
        _w(df, table_path)


def test_special_partition_values_roundtrip(spark, table_path):
    """Values Spark's writer would percent-escape (colon, slash, space)
    must round-trip through the writer's own dir naming — the manifest,
    not the dir name, is authoritative."""
    spark.dataSource.register(ManifestTableDataSource)
    rows = [(1, "a:b", 1.0), (2, "c/d e", 2.0), (3, "100%", 3.0)]
    _w(_batch(spark, rows), table_path, partition_cols="day")
    got = manifest_read(spark, table_path)
    assert sorted((r["k"], r["day"]) for r in got.collect()) == [
        (1, "a:b"),
        (2, "c/d e"),
        (3, "100%"),
    ]
    pruned = manifest_read(spark, table_path, partition_values=["c/d e"])
    assert [r["k"] for r in pruned.collect()] == [2]


def test_typed_columns_roundtrip_through_writer(spark, table_path):
    """Arrow-written parquet must read back with Spark types intact:
    timestamp, date, decimal, and array columns."""
    import datetime
    from decimal import Decimal

    spark.dataSource.register(ManifestTableDataSource)
    df = spark.createDataFrame(
        [
            (
                1,
                "d1",
                datetime.datetime(2024, 1, 2, 3, 4, 5),
                datetime.date(2024, 1, 2),
                Decimal("12.34"),
                [1.0, 2.0],
            )
        ],
        "k LONG, day STRING, ts TIMESTAMP, d DATE, amt DECIMAL(10,2), "
        "arr ARRAY<DOUBLE>",
    )
    df.write.format("manifest").mode("append").option(
        "path", table_path
    ).option("partition_cols", "day").save()
    back = manifest_read(spark, table_path)
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        f.dataType.simpleString() for f in df.schema.fields
    ]
    r = back.first()
    assert r["ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert r["d"] == datetime.date(2024, 1, 2)
    assert r["amt"] == Decimal("12.34")
    assert r["arr"] == [1.0, 2.0]


def test_dynamic_partition_overwrite(spark, table_path):
    """mode('overwrite') + partitionOverwriteMode=dynamic replaces
    exactly the partitions present in the written data (INSERT
    OVERWRITE); untouched partitions carry, old snapshots stay
    time-travel readable."""
    spark.dataSource.register(ManifestTableDataSource)
    _w(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)]),
        table_path,
        partition_cols="day",
    )
    (
        _batch(spark, [(9, "d1", 9.0)])
        .write.format("manifest")
        .mode("overwrite")
        .option("path", table_path)
        .option("partitionOverwriteMode", "dynamic")
        .save()
    )
    got = sorted(
        (r["k"], r["day"]) for r in manifest_read(spark, table_path).collect()
    )
    assert got == [(3, "d2"), (9, "d1")]  # d1 replaced, d2 carried
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "dynamic-overwrite"
    # pre-overwrite snapshot still reads
    v1 = manifest_read(spark, table_path, version=1)
    assert v1.count() == 3
    from data_management_service_run_etl_imputations_spark.sources.fsck import (
        manifest_fsck,
    )

    assert manifest_fsck(table_path)["errors"] == []


def test_null_partition_value_and_empty_write(spark, table_path):
    spark.dataSource.register(ManifestTableDataSource)
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "d1", 2.0)], "k LONG, day STRING, v DOUBLE"
    )
    _w(df, table_path, partition_cols="day")
    got = manifest_read(spark, table_path)
    assert sorted((r["k"], r["day"]) for r in got.collect()) == [
        (1, None),
        (2, "d1"),
    ]
    # empty append is a no-op: no new manifest version
    n = len(manifest_history(table_path))
    _w(df.filter("k > 100"), table_path)
    assert len(manifest_history(table_path)) == n


def test_threaded_writer_appends_race_python_dml(spark, table_path):
    """Writer-API appends from several threads racing a Python-API
    DELETE WHERE: every append lands exactly once (insert-only
    fast-forward on lost commit races), no rows lost or duplicated."""
    import threading

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        with_commit_retry,
    )

    spark.dataSource.register(ManifestTableDataSource)
    _w(
        _batch(spark, [(999, "seed", 0.0)]),
        table_path,
        partition_cols="day",
    )
    errors: list = []

    def appender(t: int) -> None:
        try:
            for r in range(3):
                _w(
                    _batch(spark, [(100 * t + r, f"d{t}", float(r))]),
                    table_path,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def deleter() -> None:
        try:
            with_commit_retry(
                lambda: manifest_delete_where(
                    spark, table_path, "k = 999", mode="cow"
                ),
                max_attempts=20,
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(t,)) for t in range(3)
    ]
    threads.append(threading.Thread(target=deleter))
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errors == []
    got = sorted(
        r["k"] for r in manifest_read(spark, table_path).collect()
    )
    assert got == sorted(100 * t + r for t in range(3) for r in range(3))
    assert len(manifest_history(table_path)) == 1 + 9 + 1  # every commit


def test_dynamic_overwrite_retry_refuses_to_wipe_concurrent_append(
    spark, table_path, monkeypatch
):
    """ADVICE r8: a dynamic-overwrite commit retry that finds a replaced
    partition's file list CHANGED since its first attempt must raise —
    silently re-applying files[k] = [] would erase a concurrent
    append's successfully-committed data (Delta surfaces
    overwrite-vs-append conflicts the same way). Driven on the writer
    class in-process (the real path runs commit() in a Python worker,
    where monkeypatching is invisible)."""
    import pyarrow as pa

    from data_management_service_run_etl_imputations_spark.sources import (
        sinks as sk,
    )
    from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
        ManifestAppendWriter,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]),
        table_path,
        ["k"],
        "day",
    )
    schema = manifest_read(spark, table_path).schema
    w = ManifestAppendWriter(
        schema,
        {"path": table_path, "partitionOverwriteMode": "dynamic"},
        overwrite=True,
    )
    msg = w.write(
        iter(
            [
                pa.RecordBatch.from_pydict(
                    {"k": [9], "day": ["d1"], "v": [9.0]}
                )
            ]
        )
    )
    real = sk._publish_manifest
    state = {"n": 0}

    def racing_publish(path, version, content, **kw):
        if state["n"] == 0:
            state["n"] += 1
            # a concurrent writer lands in d1 BETWEEN our attempts
            manifest_upsert_partitioned(
                _batch(spark, [(50, "d1", 50.0)]), table_path, ["k"], "day"
            )
            raise sk.CommitConflict("lost the race")
        return real(path, version, content, **kw)

    monkeypatch.setattr(sk, "_publish_manifest", racing_publish)
    with pytest.raises(sk.CommitConflict, match="dynamic partition overwrite"):
        w.commit([msg])
    monkeypatch.setattr(sk, "_publish_manifest", real)
    # the concurrent append's data SURVIVED the refused overwrite
    assert 50 in {r["k"] for r in manifest_read(spark, table_path).collect()}


def test_checkpoint_round_trips_through_every_reader(spark, table_path):
    """manifest_checkpoint must produce a checkpoint every reader path
    loads identically to log replay: _load_checkpoint == _materialize,
    and the part-IN pushed read returns only the asked partitions."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _has_checkpoint,
        _latest_version,
        _load_checkpoint,
        _load_checkpoint_files,
        _load_checkpoint_meta,
        _materialize,
        manifest_checkpoint,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(spark, [(4, "d1", 4.0)]), table_path, ["k"], "day"
    )
    v = _latest_version(table_path)
    assert manifest_checkpoint(table_path, v) == v
    assert _has_checkpoint(table_path, v)
    assert _load_checkpoint(table_path, v) == _materialize(table_path, v)
    meta = _load_checkpoint_meta(table_path, v)
    full = _materialize(table_path, v)
    pruned = _load_checkpoint_files(
        table_path, meta["files_ref"], ["d1"]
    )
    assert set(pruned) == {"d1"}
    assert pruned["d1"] == full["files"]["d1"]
    # idempotent: re-checkpointing an already-checkpointed version no-ops
    assert manifest_checkpoint(table_path, v) == v


def test_writer_only_table_auto_checkpoints(spark, table_path):
    """ADVICE r8: a table written EXCLUSIVELY through
    df.write.format('manifest') must still get cadence checkpoints —
    commit() runs in a session-less Python worker, so this exercises
    the pyarrow checkpoint path end-to-end through the real writer."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CHECKPOINT_EVERY,
        _latest_checkpoint_version,
        _latest_version,
    )

    spark.dataSource.register(ManifestTableDataSource)
    for i in range(CHECKPOINT_EVERY + 2):
        _w(
            _batch(spark, [(i, f"d{i % 3}", float(i))]),
            table_path,
            partition_cols="day",
        )
    v = _latest_version(table_path)
    assert v == CHECKPOINT_EVERY + 2
    assert _latest_checkpoint_version(table_path) > 0
    # and reads through the checkpointed head stay exact
    got = sorted(r["k"] for r in manifest_read(spark, table_path).collect())
    assert got == list(range(CHECKPOINT_EVERY + 2))
