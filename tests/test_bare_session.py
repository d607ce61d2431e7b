"""Regression guard: the catalog must be correct under a SparkSession the
engine did NOT build.

Round-1 lesson (VERDICT.md, "What's wrong" #1): `spark.sql.legacy.parquet.
nanosAsLong` lived only in the session factory, so every events.parquet scan
under the driver's own vanilla session failed with PARQUET_TYPE_ILLEGAL — 9
red CORRECTNESS rows. This is the class-of-bug guard: any conf the catalog
*requires* for correctness must be applied at query time
(`session.ensure_runtime_confs`), never assumed from `session.get_session`.

Tests simulate the injected vanilla session by *unsetting* every
correctness-bearing conf on the shared test session before each catalog call
(same per-session runtime conf map a fresh `SparkSession.builder.getOrCreate()`
would consult), then assert the query still builds and evaluates.
"""

from __future__ import annotations

import pytest

from data_management_service_run_etl_imputations_spark import catalog
from data_management_service_run_etl_imputations_spark.session import (
    RUNTIME_REQUIRED_CONFS,
    ensure_runtime_confs,
)

from conftest import SF_SMOKE

# Every catalog query whose input includes the nanosecond-timestamp
# events.parquet — exactly the set that went red in round 1, plus the
# events-based streaming/windowing queries that happened to be green only
# because the driver session inherited container defaults.
EVENTS_QUERIES = [
    "s3_date_spine_daily_events",
    "a4_daily_user_totals",
    "scalar_date_string_math",
    "f6_session_gap_hours",
    "json_extract_props",
    "impute_group_mean",
    "impute_group_median",
    "impute_forward_fill",
    "impute_ml_global_mean",
]

# One timestamp-hashing query: value correctness (not just readability)
# depends on the UTC session timezone.
TIMESTAMP_HASH_QUERY = "flagship_daily_customer_revenue"


def _make_vanilla(spark):
    """Strip every correctness-bearing conf, as an injected session has."""
    for key in RUNTIME_REQUIRED_CONFS:
        try:
            spark.conf.unset(key)
        except Exception:
            pass
    return spark


@pytest.fixture()
def vanilla_spark(spark):
    _make_vanilla(spark)
    yield spark
    # restore for other tests
    ensure_runtime_confs(spark)


@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_query_runs_under_vanilla_session(vanilla_spark, name):
    fn = catalog.queries()[name]
    df = fn(vanilla_spark, SF_SMOKE)
    assert df.count() >= 0  # would raise PARQUET_TYPE_ILLEGAL pre-fix


def test_timestamp_hash_query_under_vanilla_session(vanilla_spark):
    """Timestamps must come out UTC-normalized regardless of session state."""
    fn = catalog.queries()[TIMESTAMP_HASH_QUERY]
    rows = fn(vanilla_spark, SF_SMOKE).limit(5).collect()
    assert len(rows) > 0
    assert vanilla_spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_guard_is_idempotent(spark):
    ensure_runtime_confs(spark)
    ensure_runtime_confs(spark)
    for key, want in RUNTIME_REQUIRED_CONFS.items():
        assert spark.conf.get(key) == want


def test_guard_resets_escaped_string_literals(spark):
    # Rendered SQL literals escape backslashes (plans/fixtures.py), which
    # a session parsing literals raw would read back doubled
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        ensure_runtime_confs(spark)
        assert spark.conf.get(key) == "false"
        assert spark.sql(r"SELECT 'a\\b' AS s").first().s == "a\\b"
    finally:
        spark.conf.set(key, "false")
