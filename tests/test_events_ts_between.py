"""load_events_ts_between bounds the RAW nanosecond column so the range
reaches the parquet footer; load_table truncates ns → µs toward zero
(``div``, DuckDB's read). The raw bounds must select exactly the rows
filtering the loaded µs column selects — pre-epoch values included,
where truncation toward zero rounds up."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.schemas import (
    load_events_ts_between,
    load_table,
)

NS = [-1500, -1000, -999, -1, 0, 999, 1000]


@pytest.fixture(scope="module")
def ns_dir():
    d = f"{tempfile.gettempdir()}/evts_{uuid.uuid4().hex[:10]}"
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(NS)), pa.int64()),
                "ts": pa.array(NS, pa.timestamp("ns", tz="UTC")),
            }
        ),
        f"{d}/events.parquet",
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _us(n: int) -> datetime.datetime:
    return datetime.datetime(
        1970, 1, 1, tzinfo=datetime.timezone.utc
    ) + datetime.timedelta(microseconds=n)


@pytest.fixture(scope="module")
def loaded_us(spark, ns_dir):
    """event_id -> the loaded µs column (load_table's truncation)."""
    df = load_table(spark, ns_dir, "events")
    return dict(df.select("event_id", F.unix_micros("ts")).collect())


@pytest.mark.parametrize("lo", [-1, 0, 1, None])
@pytest.mark.parametrize("hi", [-1, 0, 1, None])
def test_raw_ns_bounds_match_loaded_column(spark, ns_dir, loaded_us, lo, hi):
    if lo is None and hi is None:
        pytest.skip("no bound")
    assert sorted(loaded_us.values()) == [-1, -1, 0, 0, 0, 0, 1]
    got = load_events_ts_between(
        spark, ns_dir,
        None if lo is None else _us(lo),
        None if hi is None else _us(hi),
    )
    want = sorted(
        i for i, us in loaded_us.items()
        if (lo is None or us >= lo) and (hi is None or us < hi)
    )
    assert sorted(r[0] for r in got.select("event_id").collect()) == want
