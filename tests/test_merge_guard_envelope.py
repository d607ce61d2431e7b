"""MERGE computes the probe's source-key envelope (per-key min, max and
has-null) inside its duplicate-key guard aggregate, instead of a second
aggregate over the distinct source keys. Min, max and has-null over the
source equal those over its distinct keys, so the probe must keep
exactly the files the separate envelope kept — checked here for a NULL
source key and a string key, on the general and the insert-only path."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources import sinks
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    _live_file_rels,
    _merge_probe_candidates,
    manifest_history,
    manifest_merge,
    manifest_read,
    manifest_upsert_partitioned,
)
from data_management_service_run_etl_imputations_spark.sources.skipping import (
    manifest_collect_stats,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mge_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _seed(spark, table_path, key):
    """3 partitions x 2 files, key ranges disjoint per file, zone maps on
    the key."""
    for lo in (0, 30):
        rows = [
            (key(n), f"d{p}", float(n))
            for p in range(3)
            for n in range(lo + 10 * p, lo + 10 * p + 10)
        ]
        manifest_upsert_partitioned(
            spark.createDataFrame(rows, ["k", "day", "v"]).coalesce(1),
            table_path,
            ["k"],
            "day",
        )
    manifest_collect_stats(spark, table_path, ["k"])


def _separate_envelope_kept(spark, table_path, src) -> int:
    """Probe candidates as the separate envelope aggregate prunes them."""
    _, content = _latest_manifest(table_path)
    all_live = _live_file_rels(content, content["partitions"])
    cand, _ = _merge_probe_candidates(
        spark,
        table_path,
        content,
        src.select("k").dropDuplicates(),
        None,
        ["k"],
        all_live,
    )
    return len(cand)


def _merge_counting_envelopes(monkeypatch, *args, **kw):
    calls = []
    real = sinks._key_envelope_aggs

    def counting(keys):
        calls.append(list(keys))
        return real(keys)

    monkeypatch.setattr(sinks, "_key_envelope_aggs", counting)
    return manifest_merge(*args, **kw), calls


@pytest.mark.parametrize("insert_only", [False, True])
def test_null_source_key_keeps_same_probe_files(
    spark, table_path, monkeypatch, insert_only
):
    _seed(spark, table_path, key=int)
    src = spark.createDataFrame(
        [(3, "d0", 103.0), (None, "d1", -1.0)], "k LONG, day STRING, v DOUBLE"
    )
    expected = _separate_envelope_kept(spark, table_path, src)
    # only the file holding k=3 can match: no file has a NULL key
    assert expected == 1
    r, calls = _merge_counting_envelopes(
        monkeypatch,
        src,
        table_path,
        ["k"],
        "day",
        matched_update=None if insert_only else {"v": "s.v"},
    )
    assert calls == [["k"]]  # one envelope, inside the guard aggregate
    m = manifest_history(table_path)[-1]["op_metrics"]
    assert m["probe_files"] == expected
    assert m.get("insert_only", False) is insert_only
    if insert_only:
        assert r == {"updated": 0, "deleted": 0, "inserted": 1}
    else:
        assert r == {"updated": 1, "deleted": 0, "inserted": 1}
    got = {
        r["k"]: r["v"] for r in manifest_read(spark, table_path).collect()
    }
    assert len(got) == 61 and got[None] == -1.0
    assert got[3] == (3.0 if insert_only else 103.0)


@pytest.mark.parametrize("insert_only", [False, True])
def test_string_source_key_keeps_same_probe_files(
    spark, table_path, monkeypatch, insert_only
):
    _seed(spark, table_path, key=lambda n: f"k{n:03d}")
    src = spark.createDataFrame(
        [("k013", "d1", 113.0), ("k017", "d1", 117.0), ("k999", "d2", 9.0)],
        "k STRING, day STRING, v DOUBLE",
    )
    expected = _separate_envelope_kept(spark, table_path, src)
    # [k013, k999] clears only the k000..k009 file
    assert expected == 5
    r, calls = _merge_counting_envelopes(
        monkeypatch,
        src,
        table_path,
        ["k"],
        "day",
        matched_update=None if insert_only else {"v": "s.v"},
    )
    assert calls == [["k"]]
    m = manifest_history(table_path)[-1]["op_metrics"]
    assert m["probe_files"] == expected
    if insert_only:
        assert r == {"updated": 0, "deleted": 0, "inserted": 1}
    else:
        assert r == {"updated": 2, "deleted": 0, "inserted": 1}
    got = {
        r["k"]: r["v"] for r in manifest_read(spark, table_path).collect()
    }
    assert len(got) == 61 and got["k999"] == 9.0
    assert got["k013"] == (13.0 if insert_only else 113.0)
