"""Structured-Streaming SOURCE over the manifest table's commit log
(Spark 4 Python streaming DataSource API) — the ``readStream`` half of
the table protocol, mirroring Delta's streaming source design.

Offsets ARE manifest versions: the stream's offset ``{"version": N}``
means "every file added by commits ≤ N has been emitted". Each
micro-batch reads exactly the parquet files ADDED between the start and
end versions (computed driver-side from the immutable commit log — zero
filesystem listing), one InputPartition per file, Arrow record batches
straight from the parquet footer on executors. Because manifests and
data files are immutable, replaying an offset range after a crash
re-reads byte-identical data — offsets checkpoint like any built-in
source and the feed is exactly-once end-to-end.

Semantics (the same contract Delta's streaming source ships with):

- **Append-driven.** A commit's contribution is the files it ADDED.
  File-granular copy-on-write keeps this tight: an upsert/merge re-adds
  only the files it actually REWROTE (those holding matched keys), so
  survivor rows re-emit only from genuinely rewritten files (Delta's
  ``ignoreChanges`` caveat, scoped and documented rather than hidden);
  insert-only workloads — the reference's S7 semantics
  (``function_app.py:305-312``) — emit each row exactly once, even
  into partitions that already hold other keys' files. Row-level
  deletes do not emit (use ``manifest_diff`` for a full delete-aware
  change feed in batch).
- **Schema.** The stream schema is the table schema at query start plus
  ``_commit_version long``; files written before a column was added
  emit NULL for it (schema-group alignment, same as batch reads).
- **Vacuum interplay.** Vacuuming a version whose files the stream has
  not yet processed fails the query loudly (missing file), never
  silently skips — retain at least the streaming lag
  (``manifest_vacuum(retain_seconds=...)``).
- **Admission control.** ``.option("max_files_per_trigger", N)``
  (Delta's maxFilesPerTrigger) bounds how many data files one
  micro-batch may read: latestOffset advances whole versions from the
  rate-limit floor until the file budget is spent (always ≥1 version,
  so the stream cannot stall). A fresh backfill of a huge table arrives
  as many bounded batches instead of one giant one; catch-up after
  downtime is chunked the same way. Restart-safe: Spark re-plans the
  last logged batch through ``partitions()`` before the first
  ``latestOffset``, so the floor is the checkpointed offset and capped
  offsets never regress the log (pinned by test). Not meaningful with
  ``availableNow`` (Spark captures the target offset once, before the
  floor exists); use the default or processing-time triggers.

**CDF mode** (``.option("mode", "cdf")``) is the DELETE-AWARE change
feed (Delta's Change Data Feed): each micro-batch emits the exact CHANGE
ROWS between consecutive versions — ``_change_type`` ∈ ``insert`` /
``update_post`` / ``delete`` plus ``_commit_version`` — computed from
the immutable commit log:

- Planning (driver side, pure metadata): per version, the partitions
  whose FILE LISTS differ (plus delete-entry deltas) yield one input
  partition each, carrying only the files present on exactly one side —
  files shared by both versions cancel by immutability and are never
  read (file-granular merges make this set small by construction).
- Execution (executor side, Arrow): each partition reads its two file
  sets, applies each version's pending merge-on-read deletes, and takes
  the multiset difference; a removed and an added row sharing the
  commit's recorded merge key pair into one ``update_post`` event
  (pre-images are suppressed), unmatched added rows are ``insert``,
  unmatched removed rows are ``delete`` — so MoR deletes and partition
  rewrites surface as real change rows, the gap the append-driven mode
  documents. Rows compare with SQL NULL and float NaN distinct (the
  ``eqNullSafe`` semantics of ``manifest_read`` and ``manifest_diff``),
  and are emitted as read, never through pandas.
- Content-identical maintenance commits (compact, Z-order, analyze,
  constraints) are skipped at plan time — zero I/O.

Every executor read of a data file — append mode, both CDF sides and
the batch ``manifest`` source — goes through :func:`_read_data_file`;
the planners pick each file's delete entries with
:func:`_deletes_by_file`.

Usage::

    spark.dataSource.register(ManifestFeedDataSource)
    stream = (spark.readStream.format("manifest_feed")
              .option("path", table_root)
              .option("start_version", 0)   # 0 = backfill (default)
              .option("mode", "cdf")        # default: "append"
              .load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

VERSION_COL = "_commit_version"
CHANGE_COL = "_change_type"

# commits whose content is identical (or metadata-only) by protocol
# contract: the CDF planner skips them without reading a byte
_CDF_SKIP_OPS = (
    "compact",
    "optimize-zorder",
    "analyze-stats",
    "analyze-bloom",
    "add-constraint",
    "drop-constraint",
)

# sentinels for SQL NULL and float NaN in the executor-side row keys
# (equality-delete masks and the CDF multiset diff). They stay DISTINCT:
# Spark's eqNullSafe/`<=>`, which `sinks._apply_deletes` masks with,
# holds for NULL<=>NULL and NaN<=>NaN but not for NULL<=>NaN.
_NULL = "\x00__null__"
_NAN = "\x00__nan__"


class _FilePartition(InputPartition):
    """One data file a commit added (append mode); an empty ``rel`` is
    the placeholder partition of a batch with nothing to read."""

    def __init__(
        self,
        root: str,
        rel: str,
        version: int,
        arrow_schema_bytes: bytes,
        dir_map: dict | None = None,
        name_by_id: dict | None = None,
    ):
        self.root = root
        self.rel = rel
        self.version = version
        self.arrow_schema_bytes = arrow_schema_bytes
        # column mapping: {file_col -> stable id} for this file's dir and
        # {id -> query-start logical name} — lets renamed-away columns
        # land under their current name instead of null-filling
        self.dir_map = dir_map
        self.name_by_id = name_by_id


def _source_columns(
    file_cols: list[str], dir_map: dict | None, name_by_id: dict | None
) -> dict[str, str]:
    """{logical_name: file_column} for one file, through the column-id
    mapping when present (identity otherwise). A MAPPED file column whose
    id left the table (dropped) is excluded — its bytes must never serve
    a later column that reuses the name."""
    out: dict[str, str] = {}
    for fc in file_cols:
        if dir_map is not None and fc in dir_map:
            logical = (name_by_id or {}).get(dir_map[fc])
            if logical is not None:
                out[logical] = fc
        else:
            out.setdefault(fc, fc)
    return out


def _norm_cell(v):
    """Hashable stand-in for one Arrow cell (a ``to_pylist`` value):
    NULL → ``_NULL``, NaN → ``_NAN`` (so NaN matches NaN but never NULL),
    lists and maps → tuples, structs → tuples of (field, value)."""
    if v is None:
        return _NULL
    if isinstance(v, float):
        return _NAN if v != v else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm_cell(x)) for k, x in v.items())
    return v


def _row_keys(t, cols: list[str]) -> list[tuple]:
    """The normalised key of every row of Arrow table ``t`` over
    ``cols``."""
    return [
        tuple(_norm_cell(v) for v in row)
        for row in zip(*(t.column(c).to_pylist() for c in cols))
    ]


def _deletes_by_file(deletes: list[dict], rels) -> dict[str, list[dict]]:
    """{rel: the pending merge-on-read entries that mask rows of that
    data file} — a positional entry that lists the file, an equality
    entry whose ``stages`` hold the file's stage — slimmed to what an
    executor reads. Files no entry touches are absent."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _stage_of,
    )

    out: dict[str, list[dict]] = {}
    for e in deletes:
        if e.get("kind") == "pos":
            files = set(e.get("files") or ())
            hit = [r for r in rels if r in files]
            slim = {"ref": e["ref"], "kind": "pos"}
        else:
            stages = set(e["stages"])
            hit = [r for r in rels if _stage_of(r) in stages]
            slim = {
                "ref": e["ref"],
                "cols": e["cols"],
                "key_cols": e.get("key_cols", e["cols"]),
            }
        for r in hit:
            out.setdefault(r, []).append(slim)
    return out


def _read_data_file(
    root: str,
    rel: str,
    target,
    dir_map: dict | None,
    name_by_id: dict | None,
    deletes: list[dict] = (),
    sidecars: dict | None = None,
):
    """The rows of data file ``root/rel`` as an Arrow table of schema
    ``target`` — the executor-side read every manifest reader shares,
    the Arrow mirror of ``sinks._load_table_files`` under
    ``sinks._apply_deletes``:

    1. positional masks drop exact physical rows (they address the
       file's raw row order, so they go first);
    2. columns route through the file's column-id map to their current
       names; missing columns null-fill and narrower types cast up;
    3. equality masks drop rows whose ``cols`` match a key of the
       entry's sidecar, NULL-safe and NULL/NaN-distinct.

    ``deletes`` are this file's entries (:func:`_deletes_by_file`);
    ``sidecars`` caches their parsed sidecars by ref so a task that
    reads several files reads each sidecar once."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if sidecars is None:
        sidecars = {}

    def sidecar(e):
        if e["ref"] not in sidecars:
            if e.get("kind") == "pos":
                sidecars[e["ref"]] = pq.read_table(
                    f"{root}/{e['ref']}", columns=["file", "pos"]
                )
            else:
                kt = pq.read_table(f"{root}/{e['ref']}", columns=e["key_cols"])
                sidecars[e["ref"]] = set(_row_keys(kt, e["key_cols"]))
        return sidecars[e["ref"]]

    t = pq.read_table(f"{root}/{rel}")
    pos_sides = [sidecar(e) for e in deletes if e.get("kind") == "pos"]
    if pos_sides and len(t):
        keep = np.ones(len(t), dtype=bool)
        for side in pos_sides:
            pos = side.filter(pc.equal(side["file"], rel))["pos"].to_numpy()
            keep[pos[pos < len(t)]] = False
        if not keep.all():
            t = t.filter(keep)
    src_of = _source_columns(t.column_names, dir_map, name_by_id)
    n = len(t)
    t = pa.table(
        [
            t.column(src_of[f.name]).cast(f.type)
            if f.name in src_of
            else pa.nulls(n, f.type)
            for f in target
        ],
        schema=target,
    )
    for e in deletes:
        if e.get("kind") == "pos" or not len(t):
            continue
        keys = sidecar(e)
        if keys:
            keep = [k not in keys for k in _row_keys(t, e["cols"])]
            if not all(keep):
                t = t.filter(pa.array(keep))
    return t


def _stamped(t, version: int, change_types=None):
    """``t`` with the feed's trailing columns appended: ``_change_type``
    (a string or one per row) when given, then ``_commit_version``."""
    import pyarrow as pa

    n = len(t)
    if change_types is not None:
        if isinstance(change_types, str):
            change_types = [change_types] * n
        t = t.append_column(CHANGE_COL, pa.array(change_types, pa.string()))
    return t.append_column(VERSION_COL, pa.array([version] * n, pa.int64()))


class _CdfPartition(InputPartition):
    """One (version, table-partition) diff unit: the file rels present on
    only one side (or covered by a delete-entry delta), each side's
    delete entries per file (:func:`_deletes_by_file`) and column-id map
    per file, and the commit's recorded merge keys for update
    pairing."""

    def __init__(
        self,
        root: str,
        version: int,
        old_rels: list[str],
        new_rels: list[str],
        old_deletes: dict,
        new_deletes: dict,
        change_keys: list[str] | None,
        arrow_schema_bytes: bytes,
        old_maps: dict,
        new_maps: dict,
        name_by_id: dict | None = None,
    ):
        self.root = root
        self.version = version
        self.old_rels = old_rels
        self.new_rels = new_rels
        self.old_deletes = old_deletes  # {rel: [entry]} per side
        self.new_deletes = new_deletes
        self.change_keys = change_keys
        self.arrow_schema_bytes = arrow_schema_bytes
        self.old_maps = old_maps  # {rel: {file_col: id}} per side
        self.new_maps = new_maps
        self.name_by_id = name_by_id


def _added_files(path: str, version: int) -> list[str]:
    """File rels ADDED by ``version``: its live file list minus the
    previous version's. Pure metadata — two materialized manifests."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _live_file_rels,
        _materialize,
    )

    now = set(_live_file_rels(_materialize(path, version)))
    if version <= 1:
        return sorted(now)
    prev = set(_live_file_rels(_materialize(path, version - 1)))
    return sorted(now - prev)


class ManifestFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_feed requires .option('path', ...)")
        self.start_version = int(options.get("start_version", 0))
        self.mode = options.get("mode", "append")
        if self.mode not in ("append", "cdf"):
            raise ValueError(f"manifest_feed mode must be append|cdf, got {self.mode!r}")
        # ADMISSION CONTROL (Delta's maxFilesPerTrigger): bound how many
        # data files one micro-batch may read by capping how far
        # latestOffset advances past the last planned/committed version
        # (the rate-limit floor). Without it a backfill of a huge table
        # is ONE batch reading everything. The Python DataSource API has
        # no ReadLimit hook, so the floor is tracked reader-side: seeded
        # by initialOffset (fresh query — capping is safe immediately),
        # then advanced by every partitions()/commit() call. On a
        # RESTART Spark skips initialOffset, so the first trigger runs
        # uncapped (the floor is unknown and returning less than the
        # checkpointed offset would regress the offset log); rate
        # limiting resumes from the second trigger.
        mft = options.get("max_files_per_trigger")
        self.max_files_per_trigger = int(mft) if mft is not None else None
        if self.max_files_per_trigger is not None and (
            self.max_files_per_trigger < 1
        ):
            raise ValueError("max_files_per_trigger must be >= 1")
        self._rate_floor: "int | None" = None
        # per-version added-file counts, memoized across triggers:
        # versions are immutable, and during a large catch-up
        # latestOffset re-walks the same backlog every trigger —
        # without the cache that is O(backlog^2) manifest
        # materializations (ADVICE r7 low)
        self._added_count: dict[int, int] = {}
        # VACUUM-guard amortization (ADVICE r10 low): the full
        # _oldest_version directory listing runs once, on the FIRST
        # planned batch after (re)start; later batches verify with a
        # single stat of the batch's lowest needed commit file (vacuum
        # removes a contiguous version prefix, so that file existing
        # implies the whole needed range exists)
        self._vacuum_floor_checked = False
        # arrow schema for executor-side alignment, shipped per partition
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        fields = [
            pa.field(f.name, to_arrow_type(f.dataType))
            for f in schema.fields
            if f.name not in (VERSION_COL, CHANGE_COL)
        ]
        self._arrow_schema_bytes = pa.schema(fields).serialize().to_pybytes()
        # query-start column-id mapping (None on unmapped tables): lets
        # files written under pre-rename names feed the current schema
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        _, head = _latest_manifest(self.path)
        col_ids = head.get("col_ids")
        self._name_by_id = (
            {i: n for n, i in col_ids.items()} if col_ids else None
        )
        # head's dir mappings are authoritative for every dir still live
        # (dirs are immutable; mapping initialization back-filled them) —
        # old versions materialized from before the initialization carry
        # none of their own
        self._head_dir_ids = head.get("dir_col_ids", {})

    def initialOffset(self) -> dict:
        v = max(0, self.start_version - 1)
        self._note_floor(v)
        return {"version": v}

    def _note_floor(self, v: int) -> None:
        if self._rate_floor is None or v > self._rate_floor:
            self._rate_floor = v

    def latestOffset(self) -> dict:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        head, _ = _latest_manifest(self.path)
        if self.max_files_per_trigger is None:
            return {"version": max(head, self.start_version - 1, 0)}
        # Observed runner lifecycle (pinned by test): on a FRESH query
        # the first latestOffset precedes initialOffset — the safe floor
        # is start_version-1 (== what initialOffset will return). On a
        # RESTART Spark re-plans the last logged batch through
        # partitions() BEFORE any latestOffset, so the floor is already
        # the checkpointed offset and capping can never regress the log.
        floor = (
            self._rate_floor
            if self._rate_floor is not None
            else max(0, self.start_version - 1)
        )
        # admit whole versions until the file budget is spent; always at
        # least one version so the stream can never stall
        v, budget = floor, self.max_files_per_trigger
        while v < head and budget > 0:
            n = self._added_count.get(v + 1)
            if n is None:
                n = len(_added_files(self.path, v + 1))
                self._added_count[v + 1] = n
            if v > floor and n > budget:
                break
            v += 1
            budget -= n
        return {"version": max(v, floor)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if hi < lo:
            # impossible under the offset-log contract; failing loudly
            # beats silently re-emitting versions as duplicates
            raise ValueError(
                f"manifest_feed planned a regressed batch ({lo} -> {hi})"
            )
        # VACUUM guard: this batch diffs versions (lo, hi] against their
        # parents, so every commit file in [max(lo,1), hi] must still
        # exist. If VACUUM's retention floor moved past the stream's
        # checkpointed offset, resuming would either crash with an
        # opaque FileNotFoundError or — worse, if a later checkpoint
        # anchor happened to satisfy _materialize — silently emit a
        # wrong diff. Refuse LOUDLY with the recovery options instead
        # (Delta's failOnDataLoss stance, not kafka's data-loss skip).
        if hi > lo:
            import os

            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _manifest_dir,
                _oldest_version,
            )

            need_from = max(lo, 1)
            probe = os.path.join(
                _manifest_dir(self.path), f"{need_from}.json"
            )
            # amortized guard: after the first full listing, one stat
            # per trigger — vacuum removes a contiguous prefix, so the
            # lowest needed commit file existing implies the whole
            # (lo, hi] range exists. The full listing re-runs only when
            # that file is actually missing (to report the precise
            # surviving floor in the error).
            if not (self._vacuum_floor_checked and os.path.exists(probe)):
                oldest = _oldest_version(self.path)
                self._vacuum_floor_checked = True
                if oldest and need_from < oldest:
                    raise RuntimeError(
                        f"manifest_feed at {self.path}: this batch needs "
                        f"versions {need_from}..{hi} but VACUUM removed "
                        f"history below v{oldest} (oldest surviving "
                        "manifest). Resuming would skip committed changes; "
                        "restart the stream with a FRESH checkpoint (and "
                        f"start_version >= {oldest}), or re-run VACUUM with "
                        "longer retention before the next restart"
                    )
        self._note_floor(hi)
        if self.mode == "cdf":
            parts = self._cdf_partitions(lo, hi)
        else:
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _live_file_rels,
                _materialize,
            )

            parts = []
            for v in range(lo + 1, hi + 1):
                now_c = _materialize(self.path, v)
                now = set(_live_file_rels(now_c))
                prev = (
                    set(_live_file_rels(_materialize(self.path, v - 1)))
                    if v > 1
                    else set()
                )
                dci = now_c.get("dir_col_ids", {})
                for frel in sorted(now - prev):
                    d = frel.rsplit("/", 1)[0]
                    parts.append(
                        _FilePartition(
                            self.path,
                            frel,
                            v,
                            self._arrow_schema_bytes,
                            self._head_dir_ids.get(d) or dci.get(d),
                            self._name_by_id,
                        )
                    )
        # Spark requires >=1 partition per planned batch; an empty range
        # (e.g. a metadata-only commit) contributes an empty partition
        if not parts:
            parts.append(
                _FilePartition(self.path, "", -1, self._arrow_schema_bytes)
            )
        return parts

    def _cdf_partitions(self, lo: int, hi: int) -> list:
        """Plan the change-diff units for versions (lo, hi] — pure
        metadata: two materialized manifests per version, one unit per
        table partition whose FILE LIST differs (plus delete-entry
        deltas). Shared files cancel by immutability and are excluded
        unless a delete-entry delta covers their stage (the mask itself
        changed)."""
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _commit_meta,
            _materialize,
            _read_commit_file,
            _stage_of,
        )

        parts: list[_CdfPartition] = []
        for v in range(lo + 1, hi + 1):
            meta = _commit_meta(_read_commit_file(self.path, v))
            op = str(meta.get("op") or "")
            if op.startswith(_CDF_SKIP_OPS):
                continue
            new = _materialize(self.path, v)
            old = (
                _materialize(self.path, v - 1)
                if v > 1
                else {"partitions": {}, "files": {}, "deletes": []}
            )
            if "files" not in new and new.get("partitions"):
                raise ValueError(
                    "manifest_feed cdf mode requires commit-time file "
                    f"lists; version {v} at {self.path} predates them"
                )
            old_del = {e["ref"]: e for e in old.get("deletes") or []}
            new_del = {e["ref"]: e for e in new.get("deletes") or []}
            delta_stages: set[str] = set()
            for ref in set(old_del) ^ set(new_del):
                delta_stages.update(
                    (old_del.get(ref) or new_del[ref])["stages"]
                )
            keys = (meta.get("op_metrics") or {}).get("keys")
            of_, nf_ = old.get("files", {}), new.get("files", {})
            for k in sorted(set(of_) | set(nf_)):
                o_rels = [e[0] for e in of_.get(k, [])]
                n_rels = [e[0] for e in nf_.get(k, [])]
                o_set, n_set = set(o_rels), set(n_rels)
                o_side = sorted(
                    r
                    for r in o_set
                    if r not in n_set or _stage_of(r) in delta_stages
                )
                n_side = sorted(
                    r
                    for r in n_set
                    if r not in o_set or _stage_of(r) in delta_stages
                )
                if not o_side and not n_side:
                    continue
                o_dci = {**old.get("dir_col_ids", {}), **self._head_dir_ids}
                n_dci = {**new.get("dir_col_ids", {}), **self._head_dir_ids}
                parts.append(
                    _CdfPartition(
                        self.path,
                        v,
                        o_side,
                        n_side,
                        _deletes_by_file(old.get("deletes") or [], o_side),
                        _deletes_by_file(new.get("deletes") or [], n_side),
                        list(keys) if keys else None,
                        self._arrow_schema_bytes,
                        {
                            r: o_dci[r.rsplit("/", 1)[0]]
                            for r in o_side
                            if r.rsplit("/", 1)[0] in o_dci
                        },
                        {
                            r: n_dci[r.rsplit("/", 1)[0]]
                            for r in n_side
                            if r.rsplit("/", 1)[0] in n_dci
                        },
                        self._name_by_id,
                    )
                )
        return parts

    def read(self, partition):
        import pyarrow as pa

        if isinstance(partition, _CdfPartition):
            return _read_cdf_partition(partition)
        if not partition.rel:
            return iter(())
        t = _read_data_file(
            partition.root,
            partition.rel,
            pa.ipc.read_schema(pa.BufferReader(partition.arrow_schema_bytes)),
            partition.dir_map,
            partition.name_by_id,
        )
        return iter(_stamped(t, partition.version).to_batches())

    def commit(self, end: dict) -> None:
        # progress lives in Spark's checkpoint; manifests are immutable.
        # The committed version still feeds the rate-limit floor.
        self._note_floor(int(end["version"]))

    def stop(self) -> None:
        pass


def _read_cdf_partition(p: "_CdfPartition"):
    """Executor-side change computation for one (version, partition)
    unit: read both file sets through :func:`_read_data_file` (aligned
    to the stream schema, each side's delete masks applied), take the
    multiset difference on normalised Arrow rows, and emit the
    differing rows by ``take``. Cost is bounded by the rows of the files
    that actually CHANGED — the file-granular writers keep that the
    touched slice, never the partition."""
    from collections import Counter

    import pyarrow as pa

    target = pa.ipc.read_schema(pa.BufferReader(p.arrow_schema_bytes))
    sidecars: dict = {}  # shared by both sides: one read per sidecar

    def side(rels: list[str], deletes: dict, maps: dict):
        tables = [
            _read_data_file(
                p.root,
                rel,
                target,
                maps.get(rel),
                p.name_by_id,
                deletes.get(rel, ()),
                sidecars,
            )
            for rel in rels
        ]
        return pa.concat_tables(tables) if tables else target.empty_table()

    old = side(p.old_rels, p.old_deletes, p.old_maps)
    new = side(p.new_rels, p.new_deletes, p.new_maps)
    # FAST PATH: one side is empty, so every surviving row of the other
    # side is a change of one type — no normalisation, no per-row
    # hashing. This is the dominant shape (v1 backfill and append-only
    # commits).
    if not p.old_rels:
        return iter(_stamped(new, p.version, "insert").to_batches())
    if not p.new_rels:
        return iter(_stamped(old, p.version, "delete").to_batches())
    names = target.names

    def index(t):
        counts: Counter = Counter()
        first: dict = {}
        for i, key in enumerate(_row_keys(t, names)):
            counts[key] += 1
            first.setdefault(key, i)
        return counts, first

    oc, of_ = index(old)
    nc, nf_ = index(new)
    # (row index on its side, multiplicity, normalised row)
    added = [(nf_[k], n - oc[k], k) for k, n in nc.items() if n > oc[k]]
    removed = [(of_[k], n - nc[k], k) for k, n in oc.items() if n > nc[k]]

    ki = [names.index(k) for k in p.change_keys or () if k in names]

    def key_of(row):
        return tuple(row[j] for j in ki)

    removed_keys = {key_of(k) for _, _, k in removed} if ki else set()
    added_keys = {key_of(k) for _, _, k in added} if ki else set()
    add_idx, add_types, del_idx = [], [], []
    for i, m, k in added:
        add_idx += [i] * m
        add_types += [
            "update_post" if key_of(k) in removed_keys else "insert"
        ] * m
    for i, m, k in removed:
        if key_of(k) in added_keys:
            continue  # pre-image of an update: suppressed
        del_idx += [i] * m
    out = pa.concat_tables(
        [
            _stamped(
                new.take(pa.array(add_idx, pa.int64())), p.version, add_types
            ),
            _stamped(
                old.take(pa.array(del_idx, pa.int64())), p.version, "delete"
            ),
        ]
    )
    return iter(out.to_batches())


class ManifestFeedDataSource(DataSource):
    """``manifest_feed`` format: exactly-once streaming reads of the
    files each manifest commit added."""

    @classmethod
    def name(cls) -> str:
        return "manifest_feed"

    def schema(self):
        import json

        from pyspark.sql.types import LongType, StructField, StructType

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_feed requires .option('path', ...)")
        version, content = _latest_manifest(path)
        if version == 0 or not content.get("schema_json"):
            raise ValueError(
                f"no manifest table (with schema_json) at {path}"
            )
        # fromJson is pure Python — this method runs in a session-less
        # data-source worker where Spark's DDL parser is unavailable
        base = StructType.fromJson(json.loads(content["schema_json"]))
        extra = [StructField(VERSION_COL, LongType(), False)]
        if self.options.get("mode", "append") == "cdf":
            from pyspark.sql.types import StringType

            extra = [
                StructField(CHANGE_COL, StringType(), False),
                *extra,
            ]
        return StructType([*base.fields, *extra])

    def streamReader(self, schema):
        return ManifestFeedStreamReader(schema, self.options)
