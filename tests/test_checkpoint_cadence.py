"""The one checkpoint writer and its cadence: every commit — data writes,
``df.write.format("manifest")`` appends and metadata-only commits alike —
runs the cadence check in ``_publish_manifest``; the writer is pyarrow on
the driver and submits no Spark job; vacuum garbage-collects superseded
sidecars whether they are single files or parquet directories written by
older code, which every reader still loads."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources.fsck import (
    manifest_fsck,
)
from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    ManifestTableDataSource,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    CHECKPOINT_EVERY,
    _checkpoint_dir,
    _has_checkpoint,
    _latest_checkpoint_version,
    _latest_version,
    _load_checkpoint,
    _load_checkpoint_files,
    _materialize,
    manifest_add_constraint,
    manifest_checkpoint,
    manifest_drop_constraint,
    manifest_read,
    manifest_upsert_partitioned,
    manifest_vacuum,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/ckcad_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _sidecars_named_by_surviving_meta(path: str) -> tuple[set, set]:
    ckd = _checkpoint_dir(path)
    sidecars = {n for n in os.listdir(ckd) if ".files." in n}
    named = set()
    for n in os.listdir(ckd):
        if n.endswith(".meta.json"):
            with open(os.path.join(ckd, n)) as f:
                named.add(json.load(f)["files_ref"])
    return sidecars, named


def test_vacuum_removes_superseded_single_file_sidecars(spark, table_path):
    """A table written only through df.write.format("manifest") crosses
    the cadence twice; vacuum must then leave no checkpoint sidecar that
    no surviving meta.json names."""
    spark.dataSource.register(ManifestTableDataSource)
    n = 2 * CHECKPOINT_EVERY + 1
    for i in range(n):
        (
            _batch(spark, [(i, f"d{i % 3}", float(i))])
            .write.format("manifest")
            .mode("append")
            .option("path", table_path)
            .option("partition_cols", "day")
            .save()
        )
    assert _latest_version(table_path) == n
    assert _has_checkpoint(table_path, 1 + CHECKPOINT_EVERY)
    assert _has_checkpoint(table_path, 1 + 2 * CHECKPOINT_EVERY)

    manifest_vacuum(table_path, keep_versions=1)
    sidecars, named = _sidecars_named_by_surviving_meta(table_path)
    assert sidecars and sidecars <= named, (sidecars, named)
    got = sorted(r["k"] for r in manifest_read(spark, table_path).collect())
    assert got == list(range(n))
    assert manifest_fsck(table_path)["errors"] == []


def test_metadata_only_commits_run_the_cadence(spark, table_path):
    """Constraint commits publish through the same commit function as
    data writes, so they bound the delta chain too."""
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), table_path, ["k"], "day"
    )
    for i in range(CHECKPOINT_EVERY + 1):
        if i % 2 == 0:
            manifest_add_constraint(spark, table_path, "v_pos", "v > 0")
        else:
            manifest_drop_constraint(table_path, "v_pos")
    assert _latest_checkpoint_version(table_path) > 1
    report = manifest_fsck(table_path)
    assert report["ok"] is True, report["errors"]


def test_checkpoint_submits_no_spark_job(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(k, f"d{k % 4}", float(k)) for k in range(12)]),
        table_path,
        ["k"],
        "day",
    )
    sc = spark.sparkContext
    saved = (
        sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description"),
    )
    control, probe = (f"ckpt-{name}-{uuid.uuid4().hex[:8]}" for name in "cp")
    try:
        sc.setJobGroup(control, "control")
        spark.range(3).count()
        sc.setJobGroup(probe, "checkpoint")
        assert manifest_checkpoint(table_path) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", saved[0])
        sc.setLocalProperty("spark.job.description", saved[1])
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert list(tracker.getJobIdsForGroup(control))  # the probe sees jobs
    assert list(tracker.getJobIdsForGroup(probe)) == []
    assert _load_checkpoint(table_path, 1) == _materialize(table_path, 1)


def _legacy_directory_checkpoint(spark, path: str, version: int) -> str:
    """A checkpoint laid out as older code wrote it: the file list as a
    Spark-written parquet DIRECTORY clustered by part, plus the meta
    JSON naming it."""
    content = _materialize(path, version)
    rows = [
        (part, e[0], e[1], e[2] if len(e) > 2 else None, i)
        for i, (part, e) in enumerate(
            (part, e)
            for part in sorted(content["files"])
            for e in content["files"][part]
        )
    ]
    ckd = _checkpoint_dir(path)
    os.makedirs(ckd, exist_ok=True)
    files_ref = f"{version}.files.{uuid.uuid4().hex[:8]}.parquet"
    (
        spark.createDataFrame(
            rows, "part STRING, rel STRING, size LONG, rows LONG, idx LONG"
        )
        .repartition(2, "part")
        .sortWithinPartitions("part", "idx")
        .write.parquet(f"{ckd}/{files_ref}")
    )
    meta = {k: v for k, v in content.items() if k != "files"}
    meta["files_ref"] = files_ref
    with open(f"{ckd}/{version}.meta.json", "w") as f:
        json.dump(meta, f)
    return files_ref


def test_legacy_directory_checkpoint_reads_checks_and_vacuums(
    spark, table_path
):
    manifest_upsert_partitioned(
        _batch(spark, [(k, f"d{k % 3}", float(k)) for k in range(9)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(spark, [(100, "d1", 100.0)]), table_path, ["k"], "day"
    )
    files_ref = _legacy_directory_checkpoint(spark, table_path, 2)
    legacy = f"{_checkpoint_dir(table_path)}/{files_ref}"
    assert os.path.isdir(legacy)
    assert _has_checkpoint(table_path, 2)

    full = _materialize(table_path, 2)
    assert _load_checkpoint(table_path, 2) == full
    pruned = _load_checkpoint_files(table_path, files_ref, ["d1", "d2"])
    assert set(pruned) == {"d1", "d2"}
    assert pruned == {k: full["files"][k] for k in ("d1", "d2")}
    assert manifest_fsck(table_path)["errors"] == []

    # commits on top of the legacy anchor, until the cadence writes a
    # single-file checkpoint that supersedes it
    for i in range(CHECKPOINT_EVERY):
        manifest_upsert_partitioned(
            _batch(spark, [(200 + i, "d0", float(i))]), table_path, ["k"], "day"
        )
    head = _latest_version(table_path)
    assert head == 2 + CHECKPOINT_EVERY
    assert _has_checkpoint(table_path, head)
    assert manifest_fsck(table_path)["errors"] == []
    expect = sorted([*range(9), 100, *(200 + i for i in range(CHECKPOINT_EVERY))])

    manifest_vacuum(table_path, keep_versions=1)
    assert not os.path.exists(legacy)
    assert not _has_checkpoint(table_path, 2)
    sidecars, named = _sidecars_named_by_surviving_meta(table_path)
    assert sidecars and sidecars <= named
    got = sorted(r["k"] for r in manifest_read(spark, table_path).collect())
    assert got == expect
    assert manifest_fsck(table_path)["errors"] == []
