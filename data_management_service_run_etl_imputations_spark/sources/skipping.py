"""File-level statistics, data-skipping reads, and Z-order clustering for
manifest-committed tables — the zone-map half of the table protocol
(``sources/sinks.py``).

At 100 TB a predicate that survives partition pruning still faces every
file inside the matching partitions. Lakehouse engines close that gap with
per-file min/max statistics ("zone maps"): the reader drops any file whose
recorded [min, max] cannot intersect the predicate BEFORE the scan is
planned, so query cost tracks the files that can match, not the partition
size. Skipping is only as good as the physical layout — a column scattered
uniformly across files has every file's range spanning the whole domain —
so the companion operator is Z-ORDER clustering: rows are rewritten in
Morton-interleaved order of several columns' quantile ranks, giving every
file a narrow range in EACH clustered dimension at once (a linear sort
only narrows its leading column).

Design choices, and why they hold at scale:

- **Quantile ranks, not linear scaling.** Each clustered column is mapped
  to a ``2^bits``-bucket id through its own approximate quantile
  boundaries (``approxQuantile`` — driver receives a bounded list of
  cut points, never data). Linear min/max scaling collapses under skew
  (one hot value owns most buckets); equi-depth buckets keep every bucket
  ~equally populated regardless of distribution.
- **Codegen'd bucket lookup.** The value→bucket step is a BALANCED BINARY
  SEARCH TREE of nested ``CASE WHEN`` expressions (depth = ``bits``), not
  a higher-order ``aggregate`` over an array literal — it stays inside
  whole-stage codegen and costs ``bits`` comparisons per row.
- **One range shuffle.** The rewrite is a single
  ``repartitionByRange(partition, z)`` + within-partition sort; output
  files are contiguous (partition, z) ranges, which is exactly what makes
  their per-column min/max narrow.
- **Stats collected from the data just written** (grouped by
  ``input_file_name``) — one extra pass over the rewritten partitions
  only, never the table.
- **Index bytes live in PARQUET SIDECARS, not the manifest JSON.** Zone
  maps and bloom bitsets are written to immutable files under
  ``_index/`` and referenced from the manifest (``stats_ref`` /
  ``bloom_ref``); commits that do not touch the index carry the
  reference, so the per-commit JSON stays O(partitions + files) while
  the index can hold KBs per file. Loaders intersect sidecar entries
  with the manifest's live file list, so entries for rewritten files go
  stale harmlessly until the next collect pass compacts them away.
- **Plans never list the filesystem.** Every plan resolves candidate
  files from the manifest's commit-time file list — a skipping or point
  read over 100k files on object storage costs one manifest + one
  sidecar read, not a LIST per query.

No instruction here derives from the reference (its storage layer is a
SQL-Server table, ``function_app.py:192-196``); this is the engine's own
scale extension, following the public Delta/Iceberg zone-map design.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _apply_deletes,
    _has_pos_deletes,
    _latest_manifest,
    _live_dirs,
    _live_file_rels,
    _load_table_files,
    _publish_manifest,
    _resolve_manifest,
    _scan_rel,
    _write_stage,
)

__all__ = [
    "bucketize",
    "zorder_column",
    "with_zorder",
    "manifest_collect_stats",
    "manifest_cluster_zorder",
    "manifest_skipping_plan",
    "manifest_read_skipping",
    "manifest_collect_bloom",
    "manifest_point_plan",
    "manifest_read_point",
    "manifest_minmax",
]


def bucketize(col: Column, boundaries: list[float]) -> Column:
    """Map a numeric column to its equi-depth bucket id in
    ``[0, len(boundaries)]`` via a balanced binary-search tree of nested
    ``CASE WHEN`` expressions (depth ``ceil(log2(n+1))`` comparisons per
    row, fully inside whole-stage codegen). ``boundaries`` must be sorted
    ascending; bucket ``i`` holds values in ``(boundaries[i-1],
    boundaries[i]]``. NULL maps to bucket 0 (NULLs sort first)."""

    def tree(lo: int, hi: int) -> Column:
        # invariant: value belongs to a bucket in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(col <= F.lit(boundaries[mid]), tree(lo, mid))
            .otherwise(tree(mid + 1, hi))
        )

    n = len(boundaries)
    if n == 0:
        return F.lit(0)
    return F.when(col.isNull(), F.lit(0)).otherwise(tree(0, n))


def zorder_column(bucket_cols: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits``-wide bucket ids into one long: output bit
    ``i * k + j`` is bit ``i`` of column ``j``. A contiguous range of the
    result is a small hyper-rectangle in bucket space, so files holding
    contiguous z-ranges have narrow min/max in EVERY interleaved column.
    ``k * bits`` must stay under 63."""
    k = len(bucket_cols)
    if k * bits > 62:
        raise ValueError(f"z-value would overflow a long: {k} cols × {bits} bits")
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        cl = c.cast("long")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * k + j
            )
    return z


def _zorder_expr(df: DataFrame, c: str) -> tuple[Column, bool]:
    """(orderable expression, is_numeric) for a clustering column. Dates
    and timestamps map to epoch numerics (a plain double cast yields NULL
    — every row would land in bucket 0 and the z-order would silently
    not cluster that dimension at all); strings stay strings and take
    the sampled-boundary path."""
    from pyspark.sql.types import (
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    dt = df.schema[c].dataType
    if isinstance(dt, NumericType):
        return F.col(c).cast("double"), True
    if isinstance(dt, DateType):
        return F.unix_date(F.col(c)).cast("double"), True
    if isinstance(dt, TimestampType):
        return F.col(c).cast("double"), True  # timestamp→double = epoch secs
    if isinstance(dt, StringType):
        return F.col(c), False
    raise TypeError(f"cannot z-order column {c!r} of type {dt.simpleString()}")


def _sampled_boundaries(
    df: DataFrame, c: str, n_buckets: int, target: int = 100_000, seed: int = 7
) -> list:
    """Equi-depth cut points for a non-sketchable (string) column from a
    seeded ROW-uniform sample: one count + one bounded collect (≤ ~target
    values on the driver regardless of table size). Row-uniform — not
    distinct-value — sampling keeps hot values owning proportionally many
    buckets, the same skew property approxQuantile gives numerics."""
    base = df.select(c).na.drop()
    n = base.count()
    if n == 0:
        return []
    vals = sorted(
        r[0] for r in base.sample(False, min(1.0, target / n), seed).collect()
    )
    if not vals:
        vals = [r[0] for r in base.limit(1).collect()]
    return [
        vals[min(len(vals) - 1, (i * len(vals)) // n_buckets)]
        for i in range(1, n_buckets)
    ]


def with_zorder(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 8,
    name: str = "__z",
    relative_error: float = 0.001,
) -> DataFrame:
    """Attach a Z-order key built from equi-depth quantile ranks of
    ``cols``. Numeric, date, and timestamp columns share one
    ``approxQuantile`` pass over their orderable projections
    (Greenwald-Khanna sketch, driver receives ``k * 2^bits`` floats —
    bounded regardless of row count); string columns get seeded
    sample-based cut points and a string-comparison CASE tree — every
    type lands in the same codegen'd binary-search bucket lookup."""
    n_buckets = (1 << bits_per_col) - 1  # bucket ids 0..n_buckets fit in bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    exprs = {c: _zorder_expr(df, c) for c in cols}
    num_cols = [c for c in cols if exprs[c][1]]
    cuts: dict[str, list] = {}
    if num_cols:
        proj = df.select(
            *[exprs[c][0].alias(f"__zq_{c}") for c in num_cols]
        )
        sketched = proj.stat.approxQuantile(
            [f"__zq_{c}" for c in num_cols], probs, relative_error
        )
        cuts.update(dict(zip(num_cols, sketched)))
    for c in cols:
        if not exprs[c][1]:
            cuts[c] = _sampled_boundaries(df, c, n_buckets)
    buckets = [bucketize(exprs[c][0], cuts[c]) for c in cols]
    return df.withColumn(name, zorder_column(buckets, bits_per_col))


def _json_safe(v, side: str | None = None):
    """Stats land in a JSON sidecar: numerics stay numeric (range
    comparisons), everything else (dates, strings) serializes as str —
    comparisons on both sides then happen in the same domain. Decimals
    with more precision than a double WIDEN toward ``side`` ("min" rounds
    down, "max" rounds up) so a lossy float can never let skipping prune
    a file whose true range touches the probe boundary."""
    if v is None or isinstance(v, (int, float, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if decimal.Decimal(f) != v and not math.isinf(f):
            if side == "min" and decimal.Decimal(f) > v:
                f = math.nextafter(f, -math.inf)
            elif side == "max" and decimal.Decimal(f) < v:
                f = math.nextafter(f, math.inf)
        return f
    return str(v)


def _canon_bound(v, col: str):
    """Canonicalize a caller-supplied range bound into the stored-stat
    domain: numerics (incl. Decimal) → float, temporal → the same ``str``
    form collection used, strings pass through. Anything else is rejected
    loudly — a silently mis-typed probe would compare across domains."""
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, str):
        return v
    raise TypeError(
        f"unsupported skipping bound for column {col!r}: {type(v).__name__}"
    )


def _canon_stat(v):
    """Canonicalize a JSON-decoded stat for comparison: numeric → float,
    str stays str (dates/datetimes were stored via str())."""
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return float(v)
    return str(v)


def _cmp_guard(stat, bound, col: str):
    """Both sides canonicalized; mixed domains (numeric stat vs string
    bound or vice versa) raise instead of silently mis-pruning."""
    if type(stat) is not type(bound):
        raise TypeError(
            f"mixed-type skipping probe on column {col!r}: stored stat is "
            f"{type(stat).__name__}, bound is {type(bound).__name__} — "
            "pass the bound in the column's domain"
        )


# --- index sidecars (parquet, immutable, referenced from the manifest) ----


def _index_dir(path: str) -> str:
    return f"{path}/_index"


def _write_stats_sidecar(path: str, stats: dict) -> str:
    """Write the full zone-map index as one immutable parquet sidecar and
    return its manifest reference. min/max are JSON-encoded per cell so
    heterogeneous column types (float vs string domains) round-trip with
    their type intact. Driver-local write — the index is bounded by
    |files| × |stats cols|, no Spark job needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, nrows, cols, vmins, vmaxs, nulls, approxs = [], [], [], [], [], [], []
    for frel in sorted(stats):
        s = stats[frel]
        for c in sorted(s["cols"]):
            cs = s["cols"][c]
            files.append(frel)
            nrows.append(s["rows"])
            cols.append(c)
            vmins.append(json.dumps(cs["min"]))
            vmaxs.append(json.dumps(cs["max"]))
            nulls.append(cs["nulls"])
            approxs.append(bool(cs.get("approx", False)))
    table = pa.table(
        {
            "file": pa.array(files, pa.string()),
            "nrows": pa.array(nrows, pa.int64()),
            "col": pa.array(cols, pa.string()),
            "vmin": pa.array(vmins, pa.string()),
            "vmax": pa.array(vmaxs, pa.string()),
            "nulls": pa.array(nulls, pa.int64()),
            # outer-bound marker (footer-derived string extrema may be
            # writer-truncated): sound for skipping, refused by minmax
            "approx": pa.array(approxs, pa.bool_()),
        }
    )
    os.makedirs(_index_dir(path), exist_ok=True)
    ref = f"_index/{uuid.uuid4().hex[:12]}.stats.parquet"
    pq.write_table(table, f"{path}/{ref}")
    return ref


def _load_stats_sidecar(path: str, content: dict) -> dict:
    """Load the zone-map index for ONE manifest version, intersected with
    that version's live file list (stale entries for rewritten files are
    dropped here, which is what lets commits carry the sidecar by
    reference). Returns {file_rel: {"rows": n, "cols": {c: {...}}}}."""
    ref = content.get("stats_ref")
    if not ref:
        return {}
    import pyarrow.parquet as pq

    table = pq.read_table(f"{path}/{ref}")
    live = set(_live_file_rels(content))
    approx_col = (
        table.column("approx").to_pylist()
        if "approx" in table.column_names  # pre-r05 sidecars lack it
        else [False] * table.num_rows
    )
    out: dict = {}
    for frel, nrows, col, vmin, vmax, nnull, apx in zip(
        *(table.column(c).to_pylist() for c in ("file", "nrows", "col", "vmin", "vmax", "nulls")),
        approx_col,
    ):
        if frel not in live:
            continue
        e = out.setdefault(frel, {"rows": nrows, "cols": {}})
        e["cols"][col] = {
            "min": json.loads(vmin),
            "max": json.loads(vmax),
            "nulls": nnull,
        }
        if apx:
            e["cols"][col]["approx"] = True
    return out


def _write_bloom_sidecar(path: str, bloom: dict) -> str:
    """Write the per-file bloom index ({col: {"bits", "k", "files":
    {file: {"words": [...], "dtype": str}}}}) as one immutable parquet
    sidecar. The bitset longs live HERE — the manifest JSON only carries
    the reference, so commit cost never scales with index bits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols, files, bits_l, k_l, dtypes, words_l = [], [], [], [], [], []
    for c in sorted(bloom):
        entry = bloom[c]
        for frel in sorted(entry["files"]):
            fe = entry["files"][frel]
            cols.append(c)
            files.append(frel)
            bits_l.append(entry["bits"])
            k_l.append(entry["k"])
            dtypes.append(fe["dtype"])
            words_l.append(fe["words"])
    table = pa.table(
        {
            "col": pa.array(cols, pa.string()),
            "file": pa.array(files, pa.string()),
            "bits": pa.array(bits_l, pa.int64()),
            "k": pa.array(k_l, pa.int64()),
            "dtype": pa.array(dtypes, pa.string()),
            # uint64: word values use all 64 bits (bit 63 overflows int64)
            "words": pa.array(words_l, pa.list_(pa.uint64())),
        }
    )
    os.makedirs(_index_dir(path), exist_ok=True)
    ref = f"_index/{uuid.uuid4().hex[:12]}.bloom.parquet"
    pq.write_table(table, f"{path}/{ref}")
    return ref


def _load_bloom_sidecar(path: str, content: dict, col: str | None = None) -> dict:
    """Load the bloom index (optionally one column via parquet predicate
    pushdown — a point probe reads only its column's row groups),
    intersected with the manifest's live file list."""
    ref = content.get("bloom_ref")
    if not ref:
        return {}
    import pyarrow.parquet as pq

    filters = [("col", "==", col)] if col is not None else None
    table = pq.read_table(f"{path}/{ref}", filters=filters)
    live = set(_live_file_rels(content))
    out: dict = {}
    for c, frel, bits, k, dtype, words in zip(
        *(table.column(n).to_pylist() for n in ("col", "file", "bits", "k", "dtype", "words"))
    ):
        if frel not in live:
            continue
        entry = out.setdefault(c, {"bits": bits, "k": k, "files": {}})
        entry["files"][frel] = {"words": words, "dtype": dtype}
    return out


def _stats_for_files(
    spark, table_root: str, file_rels: list[str], cols: list[str], content: dict
) -> dict[str, dict]:
    """Per-file stats for an explicit file list in ONE job:
    {file_rel: {"rows": n, "cols": {c: {"min": v, "max": v, "nulls": n}}}}.
    File granularity comes free from ``input_file_name`` (no per-file or
    per-directory jobs); the grouped result is bounded — one row per data
    file. Loading explicit files (not directories) keeps the scan immune
    to stray files a crashed writer may have left in a shared prefix."""
    if not file_rels:
        return {}
    # the backlog may span schema evolution incl. type widening: the
    # schema-group loader aligns every generation to the table schema
    df = _load_table_files(spark, table_root, content, sorted(file_rels))
    aggs = [F.count(F.lit(1)).alias("__rows")]
    present = [c for c in cols if c in df.columns]
    for c in present:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
        ]
    rows = (
        df.groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()  # bounded: one row per data FILE
    )
    root_abs = os.path.abspath(table_root)
    out: dict[str, dict] = {}
    for r in rows:
        d = r.asDict()
        frel = _scan_rel(d["__file"], root_abs)
        col_stats = {
            c: {
                "min": _json_safe(d[f"__min_{c}"], side="min"),
                "max": _json_safe(d[f"__max_{c}"], side="max"),
                "nulls": int(d[f"__nulls_{c}"]),
            }
            for c in present
        }
        out[frel] = {"rows": int(d["__rows"]), "cols": col_stats}
    return out


def _footer_value(v, side: str):
    """Convert a pyarrow footer statistic into the sidecar's stored domain
    (the footer twin of ``_json_safe`` on the scan path). Returns None for
    domains the footer path does not trust — the caller then falls back to
    scanning that file. ns-precision timestamp maxima widen outward on the
    lossy ns→µs truncation so a stored bound can never undercut the true
    extremum."""
    import pandas as _pd

    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    if isinstance(v, _pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        if v.nanosecond:
            # µs truncation floors: safe for min, widen max up instead
            if side == "max":
                v = v + _pd.Timedelta(microseconds=1)
            v = v.replace(nanosecond=0)
        return str(v.to_pydatetime())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # store naive-UTC, the scan path's collected representation
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, datetime.date):
        return str(v)
    return None


def _footer_stats_one(abs_path: str, cols: list[str]) -> dict | None:
    """Zone-map stats for ONE file from its parquet FOOTER — a metadata
    read, no data pages touched. Returns the same shape as the scan path
    ({"rows": n, "cols": {c: {min, max, nulls}}}), or None when any
    requested present column lacks trustworthy footer statistics (missing
    stats or null counts, FIXED_LEN_BYTE_ARRAY/INT96 physical types,
    Decimal logical type — the scan path owns the outward-rounded Decimal
    widening). BYTE_ARRAY (string) footer bounds may be writer-truncated;
    the parquet spec keeps truncated bounds VALID (a truncated max is
    incremented past the true max), so they are stored with
    ``"approx": True`` — sound for range skipping, refused by
    ``manifest_minmax`` which needs exact extrema."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(abs_path)
    except Exception:
        return None
    md = pf.metadata
    names = set(pf.schema_arrow.names)
    idx_of: dict[str, int] = {}
    if md.num_row_groups:
        rg0 = md.row_group(0)
        idx_of = {
            rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)
        }
    col_stats: dict[str, dict] = {}
    for c in cols:
        if c not in names:
            # schema evolution: the column postdates this immutable file,
            # so reads null-fill it — exact stats are all-NULL
            col_stats[c] = {"min": None, "max": None, "nulls": md.num_rows}
            continue
        if c not in idx_of:
            return None  # nested/unmapped column: scan instead
        mn = mx = None
        nulls = 0
        approx = False
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            ci = rg.column(idx_of[c])
            st = ci.statistics
            if st is None or st.null_count is None:
                return None
            if ci.physical_type in ("FIXED_LEN_BYTE_ARRAY", "INT96"):
                return None
            if str(st.logical_type).startswith("Decimal"):
                return None
            nulls += st.null_count
            if st.null_count == rg.num_rows:
                continue  # all-NULL row group: contributes no extremum
            if not st.has_min_max:
                return None
            gmin = _footer_value(st.min, "min")
            gmax = _footer_value(st.max, "max")
            if gmin is None or gmax is None:
                return None
            if ci.physical_type == "BYTE_ARRAY":
                approx = True
            if mn is None or _canon_stat(gmin) < _canon_stat(mn):
                mn = gmin
            if mx is None or _canon_stat(gmax) > _canon_stat(mx):
                mx = gmax
        entry: dict = {"min": mn, "max": mx, "nulls": nulls}
        if approx:
            entry["approx"] = True
        col_stats[c] = entry
    return {"rows": md.num_rows, "cols": col_stats}


# at or below this many files, footer stats are read on the driver (a
# Spark job's fixed latency dwarfs a handful of footer reads); above it,
# the list distributes — ANALYZE backlogs at 100 TB stay parallel
_DRIVER_FOOTER_BATCH = 64


def _footer_stats_for_files(
    spark, table_root: str, file_rels: list[str], cols: list[str]
) -> tuple[dict[str, dict], list[str]]:
    """Per-file stats from parquet FOOTERS for an explicit file list,
    distributed: the file list becomes a small DataFrame and each task
    reads only footers (O(files) metadata I/O — never O(data), the reason
    lakehouse ANALYZE stays cheap at 100 TB). Returns
    ``(stats, leftover_rels)``; leftover files (untrustworthy or missing
    footer stats) are the caller's to scan."""
    if not file_rels:
        return {}, []
    root_abs = os.path.abspath(table_root)
    if len(file_rels) <= _DRIVER_FOOTER_BATCH:
        # small lists (a single commit's staged files): a Spark job's
        # fixed scheduling latency dwarfs reading a handful of footers,
        # so read them driver-side — the distributed path remains for
        # ANALYZE-scale backlogs
        out_d: dict[str, dict] = {}
        left_d: list[str] = []
        for rel in sorted(file_rels):
            res = _footer_stats_one(os.path.join(root_abs, rel), cols)
            if res is None:
                left_d.append(rel)
            else:
                # normalize through the same JSON round-trip the
                # distributed path applies (tuples → lists etc.) so both
                # paths produce byte-identical sidecar entries
                out_d[rel] = json.loads(json.dumps(res))
        return out_d, left_d
    n_slices = min(len(file_rels), spark.sparkContext.defaultParallelism)
    rels_df = spark.createDataFrame(
        [(r,) for r in sorted(file_rels)], "rel string"
    ).repartition(n_slices)

    def _run(batches):
        import pandas as _pd

        for pdf in batches:
            rels, oks, payloads = [], [], []
            for rel in pdf["rel"]:
                res = _footer_stats_one(os.path.join(root_abs, rel), cols)
                rels.append(rel)
                oks.append(res is not None)
                payloads.append(json.dumps(res) if res is not None else "")
            yield _pd.DataFrame(
                {"rel": rels, "ok": oks, "js": payloads}
            )

    rows = rels_df.mapInPandas(
        _run, schema="rel string, ok boolean, js string"
    ).collect()  # bounded: one row per data FILE
    out: dict[str, dict] = {}
    leftover: list[str] = []
    for r in rows:
        if r["ok"]:
            out[r["rel"]] = json.loads(r["js"])
        else:
            leftover.append(r["rel"])
    return out, leftover


def _collect_stats(
    spark,
    table_root: str,
    file_rels: list[str],
    cols: list[str],
    content: dict,
    source: str = "auto",
) -> dict[str, dict]:
    """Stats for a file list by ``source``: "scan" always reads the data;
    "footer" reads only parquet footers and raises if any file cannot be
    covered from metadata; "auto" (default) takes footers where
    trustworthy and scans only the leftovers."""
    if source == "scan" or content.get("fmt", "parquet") != "parquet":
        return _stats_for_files(spark, table_root, file_rels, cols, content)
    fresh, leftover = _footer_stats_for_files(
        spark, table_root, file_rels, cols
    )
    if leftover:
        if source == "footer":
            raise ValueError(
                f"{len(leftover)} file(s) lack trustworthy footer "
                f"statistics for {cols!r} (e.g. {leftover[0]!r}) — use "
                "source='auto' or 'scan'"
            )
        fresh.update(
            _stats_for_files(spark, table_root, leftover, cols, content)
        )
    return fresh


def manifest_collect_stats(
    spark,
    path: str,
    cols: list[str],
    partition_values: list | None = None,
    source: str = "auto",
) -> dict[str, int]:
    """ANALYZE for a manifest table: compute per-file min/max/null-count
    for ``cols`` over the (selected) partitions and publish a new manifest
    version referencing a fresh stats sidecar. Incremental at FILE and
    COLUMN granularity: a file is re-read only if its existing entry
    lacks one of the requested columns (so ANALYZE for a new column over
    already-covered directories reads them again, and fresh per-column
    stats MERGE into the existing entries — never replace them). The
    candidate file set comes from the manifest, not a directory listing.
    ``source="auto"`` (default) reads parquet FOOTERS — O(files) metadata
    I/O, no data pages — and scans only files whose footer stats are
    untrustworthy; "scan" forces the data scan, "footer" forbids it (and
    raises when metadata cannot cover the request). Returns
    {"files": n, "directories": n}."""
    version, content = _latest_manifest(path)
    if version == 0:
        return {"files": 0, "directories": 0}
    fmt = content.get("fmt", "parquet")
    stats = _load_stats_sidecar(path, content)
    want = set(cols)
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _normalize_partition_value,
        _partition_cols,
    )

    wanted = (
        None
        if partition_values is None
        else {
            _normalize_partition_value(v, _partition_cols(content))
            for v in partition_values
        }
    )
    todo_files: list[str] = []
    todo_dirs: set[str] = set()
    for pk, rel in sorted(content["partitions"].items()):
        if wanted is not None and pk not in wanted:
            continue
        for entry in content.get("files", {}).get(pk, []):
            frel = entry[0]
            have = stats.get(frel)
            if have is not None and want <= set(have["cols"]):
                continue  # immutable file already covers every asked col
            todo_files.append(frel)
            todo_dirs.add(rel)
    if not todo_files and set(cols) <= set(content.get("stats_cols", [])):
        return {"files": 0, "directories": 0}  # true no-op: no new version
    fresh = _collect_stats(spark, path, todo_files, cols, content, source)
    for frel, s in fresh.items():
        if frel in stats:
            stats[frel]["cols"].update(s["cols"])  # per-column merge
            stats[frel]["rows"] = s["rows"]
        else:
            stats[frel] = s
    content = dict(content)
    content["stats_ref"] = _write_stats_sidecar(path, stats)
    content["stats_cols"] = sorted(
        set(content.get("stats_cols", [])) | set(cols)
    )
    _publish_manifest(
        path,
        version + 1,
        content,
        op="analyze-stats",
        op_metrics={"files_analyzed": len(fresh), "cols": sorted(cols)},
    )
    return {"files": len(fresh), "directories": len(todo_dirs)}


def manifest_cluster_zorder(
    spark,
    path: str,
    zorder_cols: list[str],
    files_per_partition: int = 8,
    bits_per_col: int = 8,
    partition_values: list | None = None,
    target_file_mb: int | None = None,
) -> dict[str, int]:
    """OPTIMIZE ZORDER BY for a manifest table: rewrite the (selected)
    partitions in Morton order of ``zorder_cols``' quantile ranks, split
    into ``files_per_partition`` contiguous z-ranges per partition, and
    publish data + per-file stats as ONE new manifest version (readers see
    the pre- or post-clustering snapshot — identical content — never a
    mix). One range shuffle; stats collection re-scans only the rewritten
    partitions (surviving files' sidecar entries merge through).

    ``target_file_mb`` switches the z-range count from fixed-per-
    partition to SIZE-BOUNDED: total ranges = ceil(selected partitions'
    manifest-recorded bytes / target), the 100 TB setting (the range
    partitioner's sampling spreads ranges across partitions in
    proportion to their density, so big partitions get more slices).
    Returns {"partitions": n, "files": n}."""
    version, content = _latest_manifest(path)
    if version == 0:
        return {"partitions": 0, "files": 0}
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _normalize_partition_value,
        _part_copy_cols,
        _partition_cols,
        _with_part_copies,
    )

    fmt = content.get("fmt", "parquet")
    pcols = _partition_cols(content)
    parts: dict = dict(content["partitions"])
    files: dict = dict(content.get("files", {}))
    selected = {
        k: rel
        for k, rel in parts.items()
        if partition_values is None
        or k
        in {_normalize_partition_value(v, pcols) for v in partition_values}
    }
    if not selected:
        return {"partitions": 0, "files": 0}

    # pending MoR deletes must materialize in the rewrite — copying raw
    # files into a fresh stage would take the rows OUT of the delete
    # entries' scope and resurrect them
    df = _apply_deletes(
        spark,
        path,
        _load_table_files(
            spark, path, content, _live_file_rels(content, selected),
            with_pos=_has_pos_deletes(content),
        ),
        content,
    )
    dfz = with_zorder(df, zorder_cols, bits_per_col=bits_per_col)
    copies = _part_copy_cols(pcols)
    if target_file_mb is not None:
        import math

        sel_bytes = sum(
            e[1] for k in selected for e in files.get(k, [])
        )
        n_ranges = max(
            1, math.ceil(sel_bytes / (max(1, int(target_file_mb)) << 20))
        )
    else:
        n_ranges = max(1, files_per_partition * len(selected))
    staged = (
        _with_part_copies(dfz, pcols)
        # contiguous (partition, z) ranges per task: each output file holds
        # one narrow z-slice of (almost always) one partition
        .repartitionByRange(
            n_ranges, *copies, "__z"
        )
        .sortWithinPartitions(*copies, "__z")
        .drop("__z")
    )
    # materializing pending MoR deletes can empty a partition entirely —
    # absent from what was written, it must DROP, not point at a
    # never-created directory
    _, written = _write_stage(staged, path, pcols, fmt, expect=selected)

    # stats surviving on unrewritten files (loaded against the OLD live
    # set) merge with fresh stats for the rewritten partitions into a new
    # sidecar, committed atomically with the data it indexes
    stats = _load_stats_sidecar(path, content)
    dir_schemas: dict = dict(content.get("dir_schemas", {}))
    new_schema = staged.drop(*copies).schema.simpleString()
    # every OLD live file of the selected partitions is being replaced
    # (incl. files a file-granular merge carried into other stages) —
    # capture the set BEFORE repointing so their stale stats drop
    old_rels = {e[0] for k in selected for e in files.get(k, [])}
    new_file_rels: list[str] = []
    for k in selected:
        if k in written:
            rel, listed = written[k]
            parts[k] = rel
            files[k] = listed
            dir_schemas[rel] = new_schema
            new_file_rels.extend(e[0] for e in listed)
        else:
            parts.pop(k, None)
            files.pop(k, None)
    for frel in old_rels:
        stats.pop(frel, None)
    fresh = _collect_stats(
        spark, path, new_file_rels, zorder_cols, {"fmt": fmt}
    )
    stats.update(fresh)
    content = dict(content)
    content["partitions"] = parts
    content["files"] = files
    live = _live_dirs({"partitions": parts, "files": files})
    content["dir_schemas"] = {
        d: sc for d, sc in dir_schemas.items() if d in live
    }
    if content.get("col_ids"):
        # column mapping: the fresh dirs must record their column ids —
        # an unmapped dir written AFTER mapping initialization would
        # read as legacy by-name and lose its columns on a later rename
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _record_dir_mapping,
            _struct_field_names,
        )

        content["dir_col_ids"] = {
            d: m
            for d, m in content.get("dir_col_ids", {}).items()
            if d in live
        }
        for k in selected:
            if k in written:
                _record_dir_mapping(
                    content, written[k][0], _struct_field_names(new_schema)
                )
    content["stats_ref"] = _write_stats_sidecar(path, stats)
    content["stats_cols"] = sorted(
        set(content.get("stats_cols", [])) | set(zorder_cols)
    )
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _purge_dead_deletes,
    )

    content["deletes"] = _purge_dead_deletes(content)
    _publish_manifest(
        path,
        version + 1,
        content,
        op="optimize-zorder",
        op_metrics={
            "partitions_rewritten": len(selected),
            "files_written": len(fresh),
            "zorder_cols": list(zorder_cols),
        },
    )
    return {"partitions": len(selected), "files": len(fresh)}


def manifest_skipping_plan(
    path: str,
    ranges: dict[str, tuple],
    version: int | None = None,
) -> tuple[list[str], int, int, dict]:
    """Plan a data-skipping scan: resolve a manifest version and return
    ``(kept_file_rels, n_kept, n_total, content)`` for a conjunction of
    closed-range predicates ``{col: (lo, hi)}`` (``None`` bound = open).
    A file is DROPPED only when its recorded stats PROVE no row can match:
    max < lo, min > hi, or the file is all-NULL in a column with an actual
    bound (a fully open ``(None, None)`` range constrains nothing — the
    reader adds no predicate for it, so all-NULL files must survive).
    Files or columns without stats are kept — skipping is an optimization,
    never a correctness dependency. Candidate files come from the
    manifest's commit-time list; bounds are canonicalized into the stored
    stat domain and a cross-domain probe raises instead of mis-pruning."""
    version, content = _resolve_manifest(path, version)
    stats = _load_stats_sidecar(path, content)
    canon_ranges = {
        c: (_canon_bound(lo, c), _canon_bound(hi, c))
        for c, (lo, hi) in ranges.items()
    }
    kept: list[str] = []
    n_total = 0
    for frel in _live_file_rels(content):
        n_total += 1
        s = stats.get(frel)
        if s is None:
            kept.append(frel)
            continue
        drop = False
        for c, (lo, hi) in canon_ranges.items():
            if lo is None and hi is None:
                continue  # unconstrained: never drops (all-NULL included)
            cs = s["cols"].get(c)
            if cs is None:
                continue
            smin, smax = _canon_stat(cs["min"]), _canon_stat(cs["max"])
            if smin is None and smax is None:
                drop = True  # all-NULL file cannot satisfy a real bound
                break
            if lo is not None and smax is not None:
                _cmp_guard(smax, lo, c)
                if smax < lo:
                    drop = True
                    break
            if hi is not None and smin is not None:
                _cmp_guard(smin, hi, c)
                if smin > hi:
                    drop = True
                    break
        if not drop:
            kept.append(frel)
    return kept, len(kept), n_total, content


# --- file-level bloom index (point-lookup skipping) -----------------------
#
# Zone maps answer RANGE predicates; they are useless for an equality
# probe on a high-cardinality column that is not the clustering key (every
# file's [min, max] spans most of the domain). The lakehouse answer is a
# per-file BLOOM FILTER: k hashed bit positions per value, OR-ed into an
# m-bit set per file; a point lookup drops every file whose filter provably
# lacks the key (no false negatives; false positives only cost an extra
# file read). Build is one grouped aggregate over the uncovered files —
# positions via JVM-side xxhash64 (seeded, deterministic), per-file
# position SETS collected (bounded by m distinct values per file) and
# packed into the bitset driver-side; the bitsets live in the bloom
# sidecar, committed atomically with the data they index. xxhash64 is
# TYPE-sensitive, so each file records the dtype it was hashed under and
# the probe evaluates positions PER RECORDED DTYPE — files indexed before
# a column type evolved keep matching (no silent false negatives).


def _bloom_positions(col: Column, bits: int, k: int) -> Column:
    """Array of k bit positions for a value: seeded xxhash64 mod m.
    Seeds are constants so build and probe agree by construction."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(bits)) for seed in range(k)]
    )


def _bloom_file_entries(
    spark,
    table_root: str,
    content: dict,
    file_rels: list[str],
    col: str,
    bits: int,
    k: int,
) -> dict[str, dict]:
    """Build-side bitsets for a file list: one grouped aggregate over the
    files, per-file position SETS (bounded by min(bits, k·rows) distinct
    values) packed into words driver-side. The dtype the files were read
    under rides each entry — xxhash64 is TYPE-sensitive, and the probe
    hashes its literal per recorded build dtype. Files that produce no
    aggregate row (zero qualifying rows) stay unindexed — the probe
    keeps unindexed files, so absence is sound."""
    if not file_rels:
        return {}
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _load_table_files,
    )

    df = _load_table_files(spark, table_root, content, sorted(file_rels))
    dtype = df.schema[col].dataType.simpleString()
    rows = (
        df.select(
            F.input_file_name().alias("__file"),
            F.explode(_bloom_positions(F.col(col), bits, k)).alias("__pos"),
        )
        .groupBy("__file")
        .agg(F.collect_set("__pos").alias("__set"))
        .collect()
    )
    root_abs = os.path.abspath(table_root)
    n_words = (bits + 63) // 64
    out: dict[str, dict] = {}
    for r in rows:
        frel = _scan_rel(r["__file"], root_abs)
        words = [0] * n_words
        for pos in r["__set"]:
            words[pos >> 6] |= 1 << (pos & 63)
        out[frel] = {"words": words, "dtype": dtype}
    return out


def manifest_collect_bloom(
    spark,
    path: str,
    col: str,
    bits: int = 8192,
    k: int = 4,
    partition_values: list | None = None,
) -> dict[str, int]:
    """Build/refresh the per-file bloom index for ``col`` over the
    (selected) partitions and publish a new manifest version referencing
    a fresh bloom sidecar. Incremental like stats collection: files
    already covered (same bits/k geometry) are skipped, so post-upsert
    refreshes scan only new files; a bits/k change rebuilds the column's
    index from scratch. Size ``bits`` for the expected rows-per-file (the
    classic ~10 bits/row keeps fpp ~1%). Returns {"files": n,
    "directories": n}."""
    version, content = _latest_manifest(path)
    if version == 0:
        return {"files": 0, "directories": 0}
    fmt = content.get("fmt", "parquet")
    bloom = _load_bloom_sidecar(path, content)
    entry = bloom.get(col)
    if entry is None or entry["bits"] != bits or entry["k"] != k:
        entry = {"bits": bits, "k": k, "files": {}}
    files: dict = dict(entry["files"])
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _normalize_partition_value,
        _partition_cols,
    )

    wanted = (
        None
        if partition_values is None
        else {
            _normalize_partition_value(v, _partition_cols(content))
            for v in partition_values
        }
    )
    todo_files: list[str] = []
    todo_dirs: set[str] = set()
    for pk, rel in sorted(content["partitions"].items()):
        if wanted is not None and pk not in wanted:
            continue
        for fentry in content.get("files", {}).get(pk, []):
            frel = fentry[0]
            if frel in files:
                continue
            todo_files.append(frel)
            todo_dirs.add(rel)
    # the backlog may span a type evolution of the indexed column; the
    # schema-group loader reads every generation aligned to the table
    # schema, so THAT is the dtype recorded for these files' bitsets
    fresh = _bloom_file_entries(
        spark, path, content, todo_files, col, bits, k
    )
    files.update(fresh)
    n_files = len(fresh)
    if not todo_files and col in bloom and bloom[col] is entry:
        return {"files": 0, "directories": 0}  # true no-op: no new version
    entry["files"] = files
    bloom[col] = entry
    content = dict(content)
    content["bloom_ref"] = _write_bloom_sidecar(path, bloom)
    _publish_manifest(
        path,
        version + 1,
        content,
        op="analyze-bloom",
        op_metrics={"files_indexed": n_files, "col": col},
    )
    return {"files": n_files, "directories": len(todo_dirs)}


def manifest_point_plan(
    spark, path: str, col: str, value, version: int | None = None
) -> tuple[list[str], int, int, dict]:
    """Plan a point lookup through the bloom index: returns
    ``(kept_file_rels, n_kept, n_total, content)``. Probe positions come
    from evaluating THE SAME seeded-hash expression the build used (one
    tiny local job per distinct recorded dtype — xxhash64 lives JVM-side
    only), so build and probe cannot drift; a file indexed under an older
    column type is probed under THAT type. Files without an index entry
    are kept. Candidate files come from the manifest — no listing."""
    version, content = _resolve_manifest(path, version)
    entry = _load_bloom_sidecar(path, content, col=col).get(col)
    kept: list[str] = []
    n_total = 0
    pos_by_dtype: dict[str, list[int] | None] = {}
    if entry is not None:
        dtypes = {fe["dtype"] for fe in entry["files"].values()}
        for dt in sorted(dtypes):
            # try_cast: a probe value the recorded dtype cannot represent
            # (e.g. a bigint key against files indexed as int) proves those
            # files lack the key — mark the dtype as never-matching instead
            # of raising under ANSI cast overflow
            probe = F.lit(value).try_cast(dt)
            r = spark.range(1).select(
                probe.isNull().alias("bad"),
                _bloom_positions(probe, entry["bits"], entry["k"]).alias("p"),
            ).first()
            pos_by_dtype[dt] = None if r["bad"] else r["p"]
    for frel in _live_file_rels(content):
        n_total += 1
        fe = None if entry is None else entry["files"].get(frel)
        if fe is None:
            kept.append(frel)
            continue
        words, positions = fe["words"], pos_by_dtype[fe["dtype"]]
        if positions is None:
            continue  # value unrepresentable in this file's build type
        if all((words[pos >> 6] >> (pos & 63)) & 1 for pos in positions):
            kept.append(frel)
    return kept, len(kept), n_total, content


def manifest_read_point(
    spark, path: str, col: str, value, version: int | None = None
) -> DataFrame:
    """Point lookup over a manifest table via the bloom index: open only
    files whose filter may contain ``value``, then apply the equality as
    an ordinary row filter (bloom false positives and multi-row keys fall
    through to it). Semantically identical to
    ``manifest_read(...).filter(col == value)``."""
    kept, _, _, content = manifest_point_plan(spark, path, col, value, version)
    fmt = content.get("fmt", "parquet")
    if not kept:
        schema = content.get("schema")
        if not schema:
            raise ValueError(f"manifest table at {path} has no schema")
        df = spark.createDataFrame([], schema)
    else:
        df = _apply_deletes(
            spark,
            path,
            _load_table_files(
                spark, path, content, kept,
                with_pos=_has_pos_deletes(content),
            ),
            content,
        )
    return df.filter(F.col(col) == F.lit(value))


def manifest_read_skipping(
    spark,
    path: str,
    ranges: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Read a manifest table through file-level data skipping, then apply
    the same ranges as an ordinary row filter (stats prune whole files;
    the filter handles partial overlaps — and parquet row-group pruning
    picks up the remainder from the pushed-down predicate). Semantically
    identical to ``manifest_read(...).filter(...)``; on a Z-ordered table
    the scan opens only the files whose zone intersects the box."""
    kept, _, _, content = manifest_skipping_plan(path, ranges, version)
    fmt = content.get("fmt", "parquet")
    if not kept:
        schema = content.get("schema")
        if not schema:
            raise ValueError(f"manifest table at {path} has no schema")
        df = spark.createDataFrame([], schema)
    else:
        df = _apply_deletes(
            spark,
            path,
            _load_table_files(
                spark, path, content, kept,
                with_pos=_has_pos_deletes(content),
            ),
            content,
        )
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    return df.filter(cond)


def manifest_minmax(
    path: str, cols: list[str], version: int | None = None
) -> dict[str, tuple]:
    """MIN/MAX per column from METADATA ALONE: fold the zone-map sidecar
    over the manifest's live file list — no SparkSession, no scan, no
    filesystem listing (the companion of ``manifest_count`` for the other
    half of every dashboard's first query). Returns
    ``{col: (min, max)}`` in the stored-stat domain (numerics as float,
    dates/strings as str); an all-NULL table yields ``(None, None)``.

    Loud guards instead of silent wrong answers: raises if any live file
    lacks stats for a requested column (run ``manifest_collect_stats``
    first, or scan) or if merge-on-read deletes are pending (masked rows
    could hold the extremum). High-precision DECIMAL stats are stored
    outward-rounded (``_json_safe``), so for such columns the result is a
    tight OUTER BOUND rather than an exact extremum — every other type
    round-trips losslessly."""
    version, content = _resolve_manifest(path, version)
    if content.get("deletes"):
        raise ValueError(
            "pending merge-on-read deletes: a masked row could hold the "
            "extremum — compact first or scan via manifest_read"
        )
    stats = _load_stats_sidecar(path, content)
    out: dict[str, tuple] = {}
    live = _live_file_rels(content)
    for c in cols:
        lo = hi = None
        for frel in live:
            s = stats.get(frel)
            if s is None or c not in s["cols"]:
                raise ValueError(
                    f"no stats for {frel!r} column {c!r} — run "
                    "manifest_collect_stats first or scan instead"
                )
            cs = s["cols"][c]
            if cs.get("approx"):
                raise ValueError(
                    f"stats for {frel!r} column {c!r} are footer-derived "
                    "outer bounds (possibly writer-truncated string "
                    "extrema) — sound for skipping but not for MIN/MAX; "
                    "re-run manifest_collect_stats(source='scan') for "
                    "this column"
                )
            if cs["min"] is None and cs["max"] is None:
                continue  # all-NULL file: contributes no extremum
            mn, mx = _canon_stat(cs["min"]), _canon_stat(cs["max"])
            if lo is None or mn < lo:
                lo = mn
            if hi is None or mx > hi:
                hi = mx
        out[c] = (lo, hi)
    return out
