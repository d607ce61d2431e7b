"""SparkSession factory.

The reference runs eager single-threaded pandas on one Azure Functions worker
(``function_app.py`` whole file — no parallelism, no spill). Here every query
is a lazy Catalyst plan; this module centralizes the session configuration the
engine relies on:

- **AQE on** (runtime re-planning, skew-join splitting, partition coalescing)
  so plans tuned at local scale survive a 1000-executor 100 TB deployment.
- **Arrow** for any pandas interchange (Pandas UDFs are the engine's only
  Python-side execution path, and only where built-ins cannot express the op).
- **Shuffle partitions** sized from the environment: tests/bench run on
  ``local[N]`` where N partitions per core is right; on a real cluster the
  caller overrides (or AQE coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Confs the engine *requires for correctness* (not just performance). Every
# one of these is runtime-settable on Spark 4.x, so they can be applied to a
# session the caller built themselves (e.g. the driver harness injects its own
# vanilla SparkSession — round-1 lesson: `spark.sql.legacy.parquet.nanosAsLong`
# lived only in this factory, so every events.parquet scan under the injected
# session died with PARQUET_TYPE_ILLEGAL). Performance confs (AQE, shuffle
# partitions, maxPartitionBytes) stay factory-only: plans are correct without
# them, just slower.
RUNTIME_REQUIRED_CONFS: dict[str, str] = {
    # events.parquet is INT64 TIMESTAMP(NANOS) at every SF; without this the
    # scan itself is rejected. Read as long; schemas.load_table converts to
    # µs timestamps (same truncation DuckDB applies on its ns→µs read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle hashes compare timestamp *values*; session TZ must match the
    # UTC-normalized testdata regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Pandas-UDF paths assume Arrow interchange (both for speed and for
    # consistent null/array handling in grouped-map shapes).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write-format policy, not read correctness: Spark's default INT96
    # timestamps carry NO parquet column statistics, which would force
    # footer-based ANALYZE (skipping._footer_stats_for_files) back onto a
    # data scan for every timestamp column. TIMESTAMP_MICROS is the
    # modern stats-capable encoding every lakehouse writer uses.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # SQL text the engine renders escapes backslashes in string literals
    # (plans/fixtures._spark_literal), which holds only while backslash
    # escapes are parsed: under `true` a literal backslash would double.
    "spark.sql.parser.escapedStringLiterals": "false",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply every correctness-bearing conf to an externally-built session.

    Idempotent and cheap (conf reads are local). Called from
    ``schemas.load_table`` and the catalog dispatch so the engine gives correct
    results under *any* SparkSession, not just ones built by
    :func:`get_session`.
    """
    for key, want in RUNTIME_REQUIRED_CONFS.items():
        spark.conf.set(key, want)
    return spark


def get_session(
    app_name: str = "dms-imputations-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``).
    On a cluster, pass ``master=None`` with an externally-managed session or
    set the master explicitly.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: keep file-split sizing explicit so partition counts
        # are predictable at any SF (default 128m is right for the cluster
        # target; harmless locally).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Write-side codec policy (optimization guide §6): zstd is smaller
        # than the snappy default at similar read speed — at 100 TB that is
        # less I/O on every manifest data file, checkpoint, and staged
        # write. Local bench effect is negligible (rows-per-commit is tiny);
        # this is a layout policy, not a claimed local win.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet INT64 TIMESTAMP(NANOS) (e.g. pandas-written ns timestamps)
        # is otherwise rejected; read as long, converted to µs timestamps in
        # schemas.load_table — same truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_REQUIRED_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
