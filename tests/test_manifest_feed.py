"""Streaming source over the manifest commit log (manifest_feed):
version offsets, per-commit added files, exactly-once across restarts.

Pins the Delta-streaming-source contract: backfill = the v1 snapshot,
each later batch = the files that commit added (a rewrite re-emits its
partition's carried rows — the documented ignoreChanges caveat), offsets
checkpoint so a restarted query resumes after the last processed
version, and pre-evolution files null-fill later-added columns.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
    ManifestFeedDataSource,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    manifest_upsert_partitioned,
)


# r13 driver-window tier: this file is in the SLOW families (measured
# from the full-suite durations log); deselect with -m "not slow".
pytestmark = pytest.mark.slow


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mfeed_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(f"{path}_ckpt", ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _feed(spark, table_path, name):
    spark.dataSource.register(ManifestFeedDataSource)
    stream = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .load()
    )
    return (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )


def _rows(spark, name):
    return sorted(
        map(
            tuple,
            spark.sql(
                f"select k, day, v, _commit_version from {name}"
            ).collect(),
        )
    )


def test_feed_backfill_increments_and_rewrite_semantics(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), table_path, ["k"], "day"
    )
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d3", 3.0)]), table_path, ["k"], "day"
    )
    q = _feed(spark, table_path, "feed_a")
    q.processAllAvailable()
    assert _rows(spark, "feed_a") == [
        (1, "d1", 1.0, 1),
        (2, "d2", 2.0, 1),
        (3, "d3", 3.0, 2),
    ]

    # disjoint-partition commit: ONLY its file is emitted
    manifest_upsert_partitioned(
        _batch(spark, [(4, "d4", 4.0)]), table_path, ["k"], "day"
    )
    q.processAllAvailable()
    assert _rows(spark, "feed_a")[-1] == (4, "d4", 4.0, 3)
    assert len(_rows(spark, "feed_a")) == 4

    # disjoint-KEY write into an existing partition: file-granular
    # copy-on-write carries d1's old file by reference, so ONLY the new
    # file emits — no spurious re-emission of untouched rows
    manifest_upsert_partitioned(
        _batch(spark, [(5, "d1", 5.0)]), table_path, ["k"], "day"
    )
    q.processAllAvailable()
    got = _rows(spark, "feed_a")
    assert (5, "d1", 5.0, 4) in got and (1, "d1", 1.0, 4) not in got
    assert len(got) == 5

    # a genuine UPDATE rewrites the file holding k=1: its new file
    # re-emits the updated row — append-driven ignoreChanges semantics
    # now scoped to truly rewritten files, loud by design
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 10.0)]), table_path, ["k"], "day"
    )
    q.processAllAvailable()
    got = _rows(spark, "feed_a")
    assert (1, "d1", 10.0, 5) in got
    q.stop()


def test_feed_restart_resumes_from_checkpoint(spark, table_path):
    """Exactly-once across a restart: a fault-tolerant sink (parquet) plus
    the version-offset checkpoint resumes after the last processed
    commit — versions emitted before the stop never re-emit (the memory
    sink cannot prove this: it does not support checkpoint recovery)."""
    out = f"{table_path}_out"

    def run():
        spark.dataSource.register(ManifestFeedDataSource)
        stream = (
            spark.readStream.format("manifest_feed")
            .option("path", table_path)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{table_path}_ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    run()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("k", "day", "v", "_commit_version")
            .collect(),
        )
    )
    assert got == [(1, "d1", 1.0, 1)]

    # two commits while the stream is DOWN
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d2", 2.0)]), table_path, ["k"], "day"
    )
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d3", 3.0)]), table_path, ["k"], "day"
    )

    # restart from the same checkpoint: only versions > 1 are emitted,
    # and the earlier output is not duplicated
    run()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("k", "day", "v", "_commit_version")
            .collect(),
        )
    )
    assert got == [
        (1, "d1", 1.0, 1),
        (2, "d2", 2.0, 2),
        (3, "d3", 3.0, 3),
    ]
    shutil.rmtree(out, ignore_errors=True)


def test_feed_schema_evolution_null_fills_old_files(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    evolved = spark.createDataFrame(
        [(2, "d2", 2.0, "x")], "k LONG, day STRING, v DOUBLE, tag STRING"
    )
    manifest_upsert_partitioned(evolved, table_path, ["k"], "day")

    q = _feed(spark, table_path, "feed_c")
    q.processAllAvailable()
    q.stop()
    rows = sorted(
        map(
            tuple,
            spark.sql(
                "select k, tag, _commit_version from feed_c"
            ).collect(),
        )
    )
    # the pre-evolution file (v1) null-fills the later-added column
    assert rows == [(1, None, 1), (2, "x", 2)]


def test_max_files_per_trigger_chunks_backfill(spark, table_path):
    """Admission control (Delta's maxFilesPerTrigger): a fresh query
    over a many-version table must split its backfill into several
    bounded micro-batches instead of one batch reading everything — and
    still deliver exactly the full content."""
    for r in range(6):
        manifest_upsert_partitioned(
            _batch(spark, [(10 * r + i, f"d{i}", float(r)) for i in range(2)]),
            table_path,
            ["k"],
            "day",
        )
    spark.dataSource.register(ManifestFeedDataSource)
    name = f"mft_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("max_files_per_trigger", 2)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(
            [p for p in q.recentProgress if p["numInputRows"] > 0]
        )
        got = sorted(
            (r["k"], r["v"]) for r in spark.sql(f"select * from {name}").collect()
        )
    finally:
        q.stop()
    assert got == sorted(
        (10 * r + i, float(r)) for r in range(6) for i in range(2)
    )
    # 6 versions x 2 files with a 2-file budget: several batches, not one
    assert n_batches >= 3, n_batches


def test_max_files_per_trigger_restart_no_duplicates(spark, table_path):
    """Rate limiting across a RESTART: Spark re-plans the last logged
    batch through partitions() before calling latestOffset, so the
    rate-limit floor is the checkpointed offset and the capped offsets
    can never regress the log — catch-up after downtime arrives chunked
    and exactly once."""
    import os

    out = f"{table_path}_out"
    spark.dataSource.register(ManifestFeedDataSource)

    def run():
        q = (
            spark.readStream.format("manifest_feed")
            .option("path", table_path)
            .option("max_files_per_trigger", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{table_path}_ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def commit(r):
        manifest_upsert_partitioned(
            _batch(spark, [(10 * r + i, f"d{i}", float(r)) for i in range(2)]),
            table_path,
            ["k"],
            "day",
        )

    for r in range(3):
        commit(r)
    run()
    for r in range(3, 5):
        commit(r)
    run()
    got = sorted(
        (r["k"], r["v"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == sorted(
        (10 * r + i, float(r), r + 1) for r in range(5) for i in range(2)
    )
    shutil.rmtree(out, ignore_errors=True)
    assert os.path.isdir(table_path)  # sanity: fixture owns cleanup


def test_cdf_mode_emits_insert_update_delete(spark, table_path):
    """DELETE-AWARE change feed (VERDICT r06 #2): mode='cdf' emits exact
    change rows — inserts, key-paired update_post events (pre-images
    suppressed), and merge-on-read DELETES the append mode cannot see —
    stamped with the commit that caused them."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete,
    )

    # v1: three inserts across two partitions
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)]),
        table_path,
        ["k"],
        "day",
    )
    # v2: update k=2 (same partition, file-granular rewrite)
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d1", 20.0)]), table_path, ["k"], "day"
    )
    # v3: MoR delete of k=1 — no file moves, only a delete entry
    manifest_delete(spark.createDataFrame([(1,)], "k long"), table_path, ["k"])

    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cdf_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql(
                    "select k, day, v, _change_type, _commit_version "
                    f"from {name}"
                ).collect(),
            )
        )
    finally:
        q.stop()
    assert got == [
        (1, "d1", 1.0, "delete", 3),
        (1, "d1", 1.0, "insert", 1),
        (2, "d1", 2.0, "insert", 1),
        (2, "d1", 20.0, "update_post", 2),
        (3, "d2", 3.0, "insert", 1),
    ], got


def _delete_null_v(spark, table_path):
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete,
    )

    manifest_delete(
        spark.createDataFrame([(None,)], "v DOUBLE"), table_path, ["v"]
    )


def _upsert_nan_over_null(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d1", float("nan"))]), table_path, ["k"], "day"
    )


@pytest.mark.parametrize(
    "change, want_v2",
    [
        # a NULL equality-delete key masks the NULL row only: the NaN row
        # stays in the table, so it must not emit a delete
        (_delete_null_v, [(3, None, "delete", 2)]),
        # NULL -> NaN is a real change of the row (manifest_diff agrees)
        (_upsert_nan_over_null, [(3, "NaN", "update_post", 2)]),
    ],
    ids=["null_key_delete", "null_to_nan_upsert"],
)
def test_cdf_keeps_null_and_nan_apart(spark, table_path, change, want_v2):
    """The CDF diff and its delete masks treat SQL NULL and float NaN as
    distinct values (eqNullSafe semantics, as manifest_read), and emit a
    NaN cell as NaN."""
    import math

    manifest_upsert_partitioned(
        _batch(
            spark,
            [(1, "d1", float("nan")), (2, "d1", 1.0), (3, "d1", None)],
        ).coalesce(1),
        table_path,
        ["k"],
        "day",
    )
    change(spark, table_path)

    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cdfn_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            f"select k, v, _change_type, _commit_version from {name}"
        ).collect()
    finally:
        q.stop()
    got = sorted(
        (
            (k, "NaN" if v is not None and math.isnan(v) else v, c, ver)
            for k, v, c, ver in rows
        ),
        key=repr,
    )
    want = [
        (1, "NaN", "insert", 1),
        (2, 1.0, "insert", 1),
        (3, None, "insert", 1),
        *want_v2,
    ]
    assert got == sorted(want, key=repr), got


def test_cdf_mode_skips_content_identical_maintenance(spark, table_path):
    """Compaction and analyze commits are content-identical by protocol
    contract: the CDF planner skips them without reading any data, and a
    post-compaction upsert still diffs correctly against the compacted
    layout."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d1", 3.0)]), table_path, ["k"], "day"
    )
    manifest_compact(spark, table_path)  # v3: content-identical
    manifest_upsert_partitioned(  # v4: update against compacted files
        _batch(spark, [(3, "d1", 30.0)]), table_path, ["k"], "day"
    )

    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cdfc_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql(
                    "select k, v, _change_type, _commit_version "
                    f"from {name}"
                ).collect(),
            )
        )
    finally:
        q.stop()
    # v3 (compact) contributes NOTHING; v4's update pairs old/new k=3
    assert got == [
        (1, 1.0, "insert", 1),
        (2, 2.0, "insert", 1),
        (3, 3.0, "insert", 2),
        (3, 30.0, "update_post", 4),
    ], got


def test_cdf_across_merge_schema_evolution(spark, table_path):
    """The CDF stream across a schema-evolving MERGE: pre-evolution
    insert rows surface with null for the later-added column, the
    evolving merge emits its exact paired update + insert, and the
    carried row (rewritten with identical content) emits nothing."""
    import uuid as _uuid

    from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
        ManifestFeedDataSource,
    )
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
        manifest_upsert_partitioned,
    )

    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(1, "d1", 1.0), (2, "d1", 2.0)], "k LONG, day STRING, v DOUBLE"
        ),
        table_path,
        ["k"],
        "day",
    )
    manifest_merge(
        spark.createDataFrame(
            [(2, "d1", 20.0, "eur"), (9, "d1", 90.0, "usd")],
            "k LONG, day STRING, v DOUBLE, ccy STRING",
        ),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v", "ccy": "s.ccy"},
        insert_not_matched=True,
    )
    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cme_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql(
                    f"select k, v, ccy, _change_type, _commit_version "
                    f"from {name}"
                ).collect(),
            )
        )
    finally:
        q.stop()
    assert got == [
        (1, 1.0, None, "insert", 1),
        (2, 2.0, None, "insert", 1),
        (2, 20.0, "eur", "update_post", 2),
        (9, 90.0, "usd", "insert", 2),
    ], got
