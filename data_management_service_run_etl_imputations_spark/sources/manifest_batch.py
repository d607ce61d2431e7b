"""Batch Python DataSource over the manifest table — the
``spark.read.format("manifest")`` / SQL half of the table protocol
(Spark 4 Python DataSource API with filter pushdown), the batch twin of
:mod:`manifest_stream`'s streaming source.

Until now every batch read went through the Python API
(``manifest_read`` / ``manifest_read_where``); a user who writes
``spark.sql("SELECT … FROM my_table")`` could not reach a manifest
table at all. This source closes that gap::

    from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
        manifest_sql_register,
    )
    manifest_sql_register(spark, "my_table", table_root)
    spark.sql("SELECT day, count(*) FROM my_table GROUP BY day")

or raw, on a session that carries the engine's runtime confs
(:func:`session.ensure_runtime_confs`, which turns on the filter
pushdown the reader needs)::

    ensure_runtime_confs(spark)
    spark.dataSource.register(ManifestTableDataSource)
    df = (spark.read.format("manifest")
          .option("path", table_root)
          .option("version", 7)          # optional time travel
          .load())

Semantics — BYTE-IDENTICAL to ``manifest_read`` at the same version:

- **Snapshot isolation.** The manifest version is resolved ONCE when
  the reader is constructed (head, pinned ``version``, or ``as_of``
  unix-seconds timestamp); every partition of the scan reads that
  snapshot's immutable file list — a concurrent commit can never tear
  a query.
- **Merge-on-read deletes.** Pending POSITIONAL entries (Iceberg
  position-deletes / Delta deletion vectors) mask exact
  ``(file, row_index)`` addresses; EQUALITY entries mask key-matching
  rows from the stages that were live when the delete committed —
  both applied executor-side per file, mirroring
  ``sinks._apply_deletes`` (same null-safe key equality that keeps
  NULL and NaN apart, same stage scoping, same ``key_cols``-vs-``cols``
  rename indirection).
- **Schema evolution + column mapping.** Each file's columns route
  through its directory's stable column ids (``dir_col_ids``) to
  current logical names — renamed columns land under their new name,
  dropped ids are excluded, pre-evolution files null-fill and narrower
  types cast up (the executor-side mirror of ``_load_table_files``).

Both halves run in :func:`manifest_stream._read_data_file`, the one
executor-side reader of a manifest data file, which the streaming
feed (append and CDF modes) calls too; the planner picks each file's
delete entries with :func:`manifest_stream._deletes_by_file`.

Scale design:

- **Filter pushdown is PRUNE-ONLY.** ``pushFilters`` translates
  supported conjuncts into partition-equality matchers and zone-map
  range boxes, prunes the file list at plan time, and returns EVERY
  filter as "still needs evaluation" — Spark re-applies all predicates
  on top, so correctness NEVER depends on the pruning translation
  (the same doctrine as the DML probe pruning,
  ``sinks._prune_dml_probe``). Partition equality goes through the
  typed coercion-faithfulness gate (``sinks._part_eq_matcher``);
  zone maps through ``skipping.manifest_skipping_plan``. Bloom point
  probes need the JVM's xxhash64 and are deliberately out of scope
  here (the planning worker has no session) — use
  ``manifest_read_point`` for those.
- **One InputPartition per data file**; planning is pure manifest
  metadata (zero filesystem listing on the modern protocol). Delete
  sidecars are shipped by REFERENCE (rel path), read executor-side by
  only the partitions whose stage/file they address — a wide delete is
  never materialized on the driver.
- **Requires the pushdown flag.** Spark refuses to plan a reader
  that implements ``pushFilters`` (``DATA_SOURCE_PUSHDOWN_DISABLED``)
  unless ``spark.sql.python.filterPushdown.enabled`` is true. It is one
  of ``session.RUNTIME_REQUIRED_CONFS``: :func:`session.get_session`
  builds sessions with it and :func:`manifest_sql_register` applies it
  through ``ensure_runtime_confs``.

Reference parity: the reference's only query surface is eager pandas
behind HTTP (`function_app.py:160-260`); SQL access over a
transactionally-committed table is the lakehouse generalization
(Delta/Iceberg's SparkSQL integration), built here on public Spark 4
``pyspark.sql.datasource`` APIs only.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)


class _ScanPartition(InputPartition):
    """One data file plus the delete entries that mask its rows
    (:func:`manifest_stream._deletes_by_file`)."""

    def __init__(
        self,
        root: str,
        rel: str,
        arrow_schema_bytes: bytes,
        dir_map: dict | None,
        name_by_id: dict | None,
        deletes: list[dict],
    ):
        self.root = root
        self.rel = rel
        self.arrow_schema_bytes = arrow_schema_bytes
        self.dir_map = dir_map
        self.name_by_id = name_by_id
        self.deletes = deletes


class ManifestBatchReader(DataSourceReader):
    """Plans and reads ONE resolved manifest snapshot."""

    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest format requires .option('path', …)")
        version = options.get("version")
        as_of = options.get("as_of")
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _materialize,
            _resolve_version,
        )

        self.version = _resolve_version(
            self.path,
            int(version) if version is not None else None,
            as_of=float(as_of) if as_of is not None else None,
        )
        # When the version's delta chain anchors at a parquet checkpoint
        # (the version itself OR any ancestor in the cadence window),
        # defer the O(files) half: hold only the small meta + the
        # chain's file-edit overlay now and fetch file lists for just
        # the partitions that survive pruning at partitions() time
        # (same flat-cost contract as manifest_read's pruned path).
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _pruned_resolve,
        )

        self._files_plan = None
        if self.version > 0:
            resolved = _pruned_resolve(self.path, self.version)
            if resolved is not None:
                self.content, self._files_plan = resolved
            else:
                self.content = _materialize(self.path, self.version)
        else:
            self.content = {"partitions": {}}
        if self.version == 0:
            raise ValueError(f"no manifest table at {self.path}")
        # pruning state fed by pushFilters (empty = unpruned scan)
        self._part_eqs: list = []  # [(col, [values])]
        self._boxes: dict[str, tuple] = {}  # {col: (lo, hi)} closed
        # plan-time pruning gate. Spark's Python-DataSource machinery
        # caches the planned scan (readInfo) per RELATION instance and
        # serves it to any later scan of that relation that pushes no
        # filters — so a pruned plan can leak into a query it doesn't
        # belong to (observed on 4.1.2: SELECT count(*) after a
        # partition-filtered SELECT on the same registered view returns
        # the pruned subset). Pruning from pushed filters is therefore
        # only sound when each relation instance sees ONE filter
        # context; manifest_sql enforces that by re-binding views
        # between filter contexts, and passes prune='false' for
        # bindings it cannot prove single-context (a statement
        # referencing the view more than once).
        self.prune = str(options.get("prune", "true")).lower() != "false"
        # plan telemetry for tests/debugging (driver-worker side only)
        self.last_plan: dict = {}
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        fields = [
            pa.field(f.name, to_arrow_type(f.dataType))
            for f in schema.fields
        ]
        self._arrow_schema_bytes = (
            pa.schema(fields).serialize().to_pybytes()
        )

    def __getstate__(self):
        # Executors only run read(), which works entirely off the
        # partition objects — strip the O(files) planning state (manifest
        # content, pruning boxes) from the pickled reader so the task
        # payload stays O(1) in table size. Safe because Spark's plan
        # worker constructs the reader and calls pushFilters/partitions
        # in-process BEFORE serializing it for executors (pinned by the
        # full batch-source test suite).
        state = dict(self.__dict__)
        state["content"] = None
        state["_files_plan"] = None
        state["_part_eqs"] = []
        state["_boxes"] = {}
        state["last_plan"] = {}
        return state

    # -- filter pushdown (prune-only) -----------------------------------
    def pushFilters(self, filters):
        # Fresh pushdown round: if Spark reuses this reader instance for
        # another plan, stale predicates from the previous query must
        # not over-prune this scan (prune-only pruning drops files at
        # plan time — re-application can't recover them).
        self._part_eqs = []
        self._boxes = {}
        filters = list(filters)  # may be a one-shot iterator

        def attr(f):
            return f.attribute[0] if len(f.attribute) == 1 else None

        def box(col, lo, hi):
            cur = self._boxes.setdefault(col, (None, None))
            nlo, nhi = cur
            try:
                if lo is not None and (nlo is None or lo > nlo):
                    nlo = lo
                if hi is not None and (nhi is None or hi < nhi):
                    nhi = hi
                self._boxes[col] = (nlo, nhi)
            except TypeError:
                self._boxes.pop(col, None)

        for f in filters:
            c = (
                attr(f)
                if isinstance(
                    f,
                    (
                        EqualTo,
                        In,
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                    ),
                )
                else None
            )
            if c is not None:
                if isinstance(f, EqualTo) and f.value is not None:
                    self._part_eqs.append((c, [f.value]))
                    box(c, f.value, f.value)
                elif isinstance(f, In) and f.value:
                    vals = [v for v in f.value if v is not None]
                    if vals and len(vals) == len(f.value):
                        self._part_eqs.append((c, vals))
                        try:
                            box(c, min(vals), max(vals))
                        except TypeError:
                            pass
                elif isinstance(
                    f, (GreaterThan, GreaterThanOrEqual)
                ) and f.value is not None:
                    box(c, f.value, None)  # strict widens to closed
                elif isinstance(
                    f, (LessThan, LessThanOrEqual)
                ) and f.value is not None:
                    box(c, None, f.value)
        # prune-only: EVERYTHING still evaluated by Spark. Returned as a
        # list (not a generator) so the pruning-state reset above runs
        # unconditionally at call time, not lazily on first iteration.
        return list(filters)

    # -- planning --------------------------------------------------------
    def partitions(self):
        import json

        from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
            _deletes_by_file,
        )
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _live_file_rels,
            _part_eq_matcher,
            _partition_cols,
        )

        content = self.content
        # CONSUME the pushdown state: it applies to exactly one planning
        # round. Spark reuses this reader instance across queries on the
        # same registered view and does NOT call pushFilters when a
        # query has no pushable filters — without the consume, such a
        # query would inherit the PREVIOUS query's pruning and silently
        # drop rows (the pushFilters-top reset alone cannot cover it).
        # A re-plan within one round that skips pushFilters then simply
        # runs unpruned — slower, never wrong.
        part_eqs, boxes = self._part_eqs, self._boxes
        self._part_eqs, self._boxes = [], {}
        if not self.prune:
            part_eqs, boxes = [], {}
        parts = dict(content.get("partitions") or {})
        pcols = _partition_cols(content)
        n_parts_total = len(parts)
        try:
            col_types = {
                f["name"]: f["type"]
                for f in json.loads(content["schema_json"])["fields"]
                if isinstance(f["type"], str)
            }
        except Exception:  # noqa: BLE001 — no schema: no pruning
            col_types = {}

        def comps(k: str) -> list[str]:
            return [k] if len(pcols) == 1 else json.loads(k)

        # partition-equality pruning through the typed gate: a filter
        # whose literal/column pairing is not coercion-faithful prunes
        # NOTHING (Spark re-applies it anyway)
        for c, vals in part_eqs:
            if c not in pcols:
                continue
            matchers = [_part_eq_matcher(col_types.get(c), v) for v in vals]
            if any(m is None for m in matchers):
                continue
            idx = pcols.index(c)
            parts = {
                k: v
                for k, v in parts.items()
                if any(m(comps(k)[idx]) for m in matchers)
            }
        if self._files_plan is not None:
            # fetch file lists for ONLY the surviving partitions, fresh
            # per plan (re-planning with different filters must not see
            # a stale pruned subset); self.content stays files-free
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _load_files_pruned,
            )

            content = {
                **content,
                "files": _load_files_pruned(
                    self.path, self._files_plan, sorted(parts)
                ),
            }
        rels = _live_file_rels(content, parts, path=self.path)
        n_files_after_parts = len(rels)
        # zone-map skipping on non-partition range boxes (best-effort:
        # canonicalization raises on cross-domain probes — keep all)
        data_boxes = {c: b for c, b in boxes.items() if c not in pcols}
        if data_boxes and content.get("stats_ref"):
            try:
                from data_management_service_run_etl_imputations_spark.sources.skipping import (
                    manifest_skipping_plan,
                )

                kept, _, _, _ = manifest_skipping_plan(
                    self.path, data_boxes, version=self.version
                )
                kept_set = set(kept)
                rels = [r for r in rels if r in kept_set]
            except Exception:  # noqa: BLE001 — optimization only
                pass
        self.last_plan = {
            "partitions_total": n_parts_total,
            "partitions_kept": len(parts),
            "files_after_partition_prune": n_files_after_parts,
            "files_kept": len(rels),
        }
        rels = sorted(rels)
        deletes = _deletes_by_file(content.get("deletes") or [], rels)
        dir_col_ids = content.get("dir_col_ids", {})
        col_ids = content.get("col_ids")
        name_by_id = (
            {i: n for n, i in col_ids.items()} if col_ids else None
        )
        return [
            _ScanPartition(
                self.path,
                rel,
                self._arrow_schema_bytes,
                dir_col_ids.get(rel.rsplit("/", 1)[0]),
                name_by_id,
                deletes.get(rel, []),
            )
            for rel in rels
        ]

    # -- execution (runs on executors) ------------------------------------
    def read(self, partition):
        import pyarrow as pa

        from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
            _read_data_file,
        )

        p = partition
        if p is None:  # fully pruned scan: Spark still planned one task
            return iter(())
        t = _read_data_file(
            p.root,
            p.rel,
            pa.ipc.read_schema(pa.BufferReader(p.arrow_schema_bytes)),
            p.dir_map,
            p.name_by_id,
            p.deletes,
        )
        return iter(t.to_batches())


def _resolved_table_schema(path: str, version: int | None, as_of: float | None):
    """The table's logical schema at the resolved version, read from the
    manifest meta (no data scan). Shared by :meth:`ManifestTableDataSource
    .schema` (runs in a session-less plan worker when Spark must discover
    the schema) and :func:`manifest_sql_register` (runs DRIVER-side so the
    ``load()`` can be given the schema upfront — measured 143 ms → 7 ms per
    load, because a known schema lets Spark skip the create-data-source
    Python worker round-trip entirely; guide §4: the JVM↔Python boundary
    eliminated at PLAN time, which multiplies across every per-statement
    view rebind the SQL dispatcher performs)."""
    import json

    from pyspark.sql.types import StructType

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _materialize,
        _pruned_resolve,
        _resolve_version,
    )

    if not path:
        raise ValueError("manifest format requires .option('path', …)")
    v = _resolve_version(
        path,
        int(version) if version is not None else None,
        as_of=float(as_of) if as_of is not None else None,
    )
    if v == 0:
        raise ValueError(f"no manifest table at {path}")
    # schema needs only the small meta half whenever the chain
    # anchors at a checkpoint (head checkpointed or not)
    resolved = _pruned_resolve(path, v)
    content = resolved[0] if resolved is not None else _materialize(path, v)
    if not content.get("schema_json"):
        raise ValueError(
            f"no manifest table (with schema_json) at {path}"
        )
    return StructType.fromJson(json.loads(content["schema_json"]))


# Native-read gate (r13, the read-side twin of the r12 schema fix and
# the r13 staged-append): snapshots small enough that the whole file
# list comfortably lives in one plan. Above the threshold the Python
# DataSource keeps the metadata-pruned scan that makes 10⁷-file tables
# plannable; below it, per-file Python read tasks and the worker
# round-trips cost more than the entire scan.
_NATIVE_READ_MAX_FILES = 64


def _native_read_frame(spark, path: str, version: int):
    """A Spark-native DataFrame for the bound snapshot, built by the same
    loader the DML verbs read with (``sinks._load_table_files`` under
    ``sinks._apply_deletes``), or ``None`` when the snapshot needs the
    Python DataSource: a non-parquet format, a legacy manifest listed by
    directory (no explicit file list), or more than
    ``_NATIVE_READ_MAX_FILES`` (64) live files —
    above that, plan-time partition pruning of the DataSource pays for
    its Python scan tasks. Merge-on-read deletes become JVM anti-joins,
    column mapping a re-labelling projection, and evolved directories
    per-schema groups aligned to the table schema. Snapshot isolation is
    preserved by construction: the file list is resolved here, once,
    and baked into the plan."""
    import json

    from pyspark.sql.types import StructType

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _apply_deletes,
        _has_pos_deletes,
        _load_files_pruned,
        _load_table_files,
        _local_frame,
        _materialize,
        _pruned_resolve,
    )

    resolved = _pruned_resolve(path, version)
    if resolved is not None:
        meta, files_plan = resolved
        # partitions ≤ files: reject oversized tables BEFORE hydrating
        # any file list (the lazy plan exists precisely for them)
        if len(meta.get("partitions", {})) > _NATIVE_READ_MAX_FILES:
            return None
        content = {
            **meta,
            "files": _load_files_pruned(
                path, files_plan, sorted(meta.get("partitions", {}))
            ),
        }
    else:
        content = _materialize(path, version)
    if content.get("fmt", "parquet") != "parquet":
        return None
    if "files" not in content:
        return None  # legacy dir-listing manifest: DS path only
    schema_json = content.get("schema_json")
    if not schema_json:
        return None
    files = content.get("files", {})
    rels = [
        e[0]
        for k in sorted(set(content.get("partitions", {})) | set(files))
        for e in files.get(k, [])
    ]
    if len(rels) > _NATIVE_READ_MAX_FILES:
        return None
    if not rels:
        return _local_frame(
            spark, [], StructType.fromJson(json.loads(schema_json))
        )
    df = _load_table_files(
        spark, path, content, rels, with_pos=_has_pos_deletes(content)
    )
    return _apply_deletes(spark, path, df, content)


class ManifestTableDataSource(DataSource):
    """``manifest`` format: snapshot-isolated batch reads of a manifest
    table with partition/zone-map pruning pushed through Spark's filter
    pushdown, merge-on-read delete masks, and column mapping."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self):
        version = self.options.get("version")
        as_of = self.options.get("as_of")
        return _resolved_table_schema(
            self.options.get("path"),
            int(version) if version is not None else None,
            float(as_of) if as_of is not None else None,
        )

    def reader(self, schema):
        return ManifestBatchReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        w = ManifestAppendWriter(schema, self.options, overwrite)
        # the executors key rows in Python (sinks._part_key), which
        # renders exactly as CAST(col AS STRING) only for these types
        type_of = {f.name: f.dataType.simpleString() for f in schema.fields}
        bad = {c: type_of[c] for c in w.pcols if type_of[c] not in (
            "string", "boolean", "date", "tinyint", "smallint", "int",
            "bigint",
        )}
        if bad:
            raise ValueError(
                f"df.write.format('manifest') cannot partition on {bad}: "
                "it keys string, integer, date and boolean columns only; "
                "write through manifest_sql (INSERT / CREATE TABLE … AS) "
                "or the Python API (manifest_insert, "
                "manifest_upsert_partitioned, manifest_replace_table)"
            )
        return w


# view name (lowercased) -> (original view name, table root path,
# follow_head, version the view is currently bound to, prune
# preference, native): the resolution table manifest_sql's DML dispatch
# uses to map a SQL table identifier back to the manifest table it was
# registered from, and — for follow_head registrations — to detect a
# moved head cheaply before a SELECT falls through to spark.sql.
# ``native`` marks a Spark-native binding (_native_read_frame), which
# the per-statement rebind pass leaves alone unless its head moved
_SQL_TABLES: "dict[str, tuple[str, str, bool, int, bool, bool]]" = {}

# SQL VIEW definitions (round 12): view name (lowercased) ->
# (original name, SQL text, seq). An engine view is a stored DEFINITION,
# not a stored plan: Spark temp views freeze the ANALYZED plan at
# creation, which would pin a view to whatever relation instance its
# base tables had then — so manifest_sql re-creates a referenced view
# from its text AFTER the per-statement rebind pass, making views
# follow-head to exactly the degree their base tables are. ``seq`` is
# creation order (views can reference earlier views; re-creation walks
# ascending seq). Durable mirror: catalog_store.catalog_set_view.
_SQL_VIEWS: "dict[str, tuple[str, str, int]]" = {}

# views whose CURRENT Python-DataSource binding may hold a
# filter-pruned cached scan: Spark's readInfo cache is per relation
# instance and is served to later no-filter scans of the same relation
# (see ManifestBatchReader.prune) — after any SELECT ran against such a
# binding, the next manifest_sql statement referencing it re-binds
# first. Native bindings never enter: their file list is fixed in the
# plan and Spark prunes it per query, so no filter context can leak
_VIEW_DIRTY: set = set()

# serializes registry bookkeeping (register + per-statement rebinds):
# without it two threads dispatching statements on one view could
# interleave rebinds and clobber each other's prune state. NOTE this
# protects the REGISTRY only — two genuinely concurrent statements on
# one prune=True binding can still interleave pushFilters/partitions
# in the plan worker; a multi-threaded SQL workload over one shared
# view should register it prune=False (cache-sound by construction).
import threading as _threading

_SQL_REG_LOCK = _threading.RLock()


def manifest_sql_register(
    spark,
    view_name: str,
    path: str,
    version: int | None = None,
    as_of: float | None = None,
    follow_head: bool = False,
    prune: bool = True,
):
    """Expose a manifest table to SQL: register the ``manifest`` format,
    apply the engine's runtime confs (Python-DataSource filter pushdown
    among them, which the reader cannot be planned without), load the
    table, and publish it as a temp view. Returns the DataFrame. A
    SELECT with pushable filters prunes files at plan time; the SNAPSHOT
    stays pinned to registration time (re-register to see newer commits
    — the same "view of a version" contract as Delta's ``@v`` syntax).

    ONE-FILTER-CONTEXT-PER-BINDING contract (``prune=True``, default):
    Spark caches a Python DataSource's planned scan per relation
    instance and serves it to later scans of that relation that push no
    filters, so after a filtered query a pruned plan can leak into an
    unfiltered one. :func:`manifest_sql` enforces the contract
    automatically (it re-binds a view between statements and disables
    pruning for statements referencing a view twice). If you instead
    run many RAW ``spark.sql`` queries against one long-lived binding,
    register with ``prune=False``: the scan then never prunes from
    pushed filters (every predicate is still applied by Spark —
    correct, just unpruned), making the binding safe for unlimited
    reuse. The contract concerns DataSource bindings only: a parquet
    snapshot of at most ``_NATIVE_READ_MAX_FILES`` (64) files
    binds natively (:func:`_native_read_frame`) and is reusable as is.

    ``follow_head=True`` opts a view into always-current binding THROUGH
    :func:`manifest_sql`: before a statement referencing the view runs,
    the dispatcher compares the table's current head (one O(delta-chain)
    directory listing, no file-list hydration) to the version the view
    is bound to and re-registers only when the head moved. Within one
    statement the snapshot is still immutable — currency is
    per-statement, the same isolation Delta gives a catalog table. Raw
    ``spark.sql`` calls bypass the dispatcher and keep seeing the pinned
    snapshot; that is the documented trade of using the session-level
    temp-view surface instead of a catalog plugin."""
    if follow_head and (version is not None or as_of is not None):
        raise ValueError(
            "follow_head=True pins to the moving head — it cannot be "
            "combined with an explicit version/as_of"
        )
    from data_management_service_run_etl_imputations_spark.session import (
        ensure_runtime_confs,
    )
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _resolve_version,
    )

    ensure_runtime_confs(spark)
    spark.dataSource.register(ManifestTableDataSource)
    with _SQL_REG_LOCK:
        bound_v = _resolve_version(
            path,
            int(version) if version is not None else None,
            as_of=float(as_of) if as_of is not None else None,
        )
        # Native parquet scan for every parquet snapshot of at most
        # _NATIVE_READ_MAX_FILES files, through the loader DML reads
        # with (pending deletes, column mapping and evolved dirs
        # included): zero Python read tasks. Legacy dir-listed
        # manifests and larger file lists keep the DataSource. Native
        # plans push filters and prune columns in the JVM, so the
        # prune-contract bookkeeping (_VIEW_DIRTY, the no-prune rebind
        # of multi-reference statements) skips them.
        df = _native_read_frame(spark, path, bound_v) if bound_v > 0 else None
        native = df is not None
        if df is None:
            reader = spark.read.format("manifest").option("path", path)
            if bound_v > 0:
                # pin the DataFrame explicitly to the version we recorded —
                # closes the race where a commit lands between our resolution
                # and the DataSource's own (the view and _SQL_TABLES would
                # disagree about what "current" means)
                reader = reader.option("version", str(bound_v))
            if not prune:
                reader = reader.option("prune", "false")
            # Supply the schema DRIVER-side (same meta read
            # DataSource.schema() would perform, minus the fresh Python
            # plan-worker it would run in): measured 143 ms → 7 ms per
            # load. Every SQL statement that re-binds a view pays this,
            # so it dominates DDL/DML-heavy flows (sql_table_lifecycle:
            # 9 rebinds/run). Version is pinned above, so the schema
            # resolved here is exactly the one schema() would see.
            df = reader.schema(
                _resolved_table_schema(
                    path, bound_v if bound_v > 0 else None, None
                )
            ).load()
        df.createOrReplaceTempView(view_name)
        _SQL_TABLES[view_name.lower()] = (
            view_name,
            path,
            follow_head,
            bound_v,
            prune,
            native,
        )
        # a fresh binding has an empty scan cache — clean by construction
        _VIEW_DIRTY.discard(view_name.lower())
    return df


def manifest_sql_unregister(spark, view_name: str) -> bool:
    """Remove a view's registry binding and temp view, INCLUDING every
    time-travel alias binding derived from it (``view__asof_*``).
    Returns True when the view was registered. The inverse of
    :func:`manifest_sql_register` — a long-lived session that registers
    many ephemeral views (one per job/notebook cell) should unregister
    them so the per-statement rebind scan and the time-travel rewrite
    pass stay bounded by the LIVE view count, not the session's
    history."""
    key = view_name.lower()
    victims: list[str] = []
    with _SQL_REG_LOCK:
        t = _SQL_TABLES.pop(key, None)
        _VIEW_DIRTY.discard(key)
        if t is not None:
            victims.append(t[0])
        prefix = f"{key}__asof_"
        for k in [k for k in _SQL_TABLES if k.startswith(prefix)]:
            victims.append(_SQL_TABLES.pop(k)[0])
            _VIEW_DIRTY.discard(k)
    for v in victims:
        try:
            spark.catalog.dropTempView(v)
        except Exception:  # noqa: BLE001 — already gone
            pass
    return t is not None


def manifest_sql_view_register(
    spark, view_name: str, sql_text: str, seq: "int | None" = None
):
    """Register a SQL VIEW as a stored DEFINITION: create the session
    temp view now (which validates the text — bad SQL refuses here, not
    at first use) and record the text so :func:`manifest_sql` can
    RE-CREATE the view after any statement's base-table rebind (a Spark
    temp view freezes its analyzed plan; the definition is what keeps a
    view current over follow-head manifest tables). ``seq`` orders
    re-creation (attach passes the durable catalog's creation order);
    session-created views append after the current maximum. Refuses to
    shadow a registered manifest TABLE — one namespace, SQL's rule."""
    key = view_name.lower()
    with _SQL_REG_LOCK:
        if key in _SQL_TABLES:
            raise ValueError(
                f"CREATE VIEW {view_name}: name is a registered manifest "
                "TABLE — views cannot shadow tables (DROP TABLE first)"
            )
        if seq is None:
            cur = _SQL_VIEWS.get(key)
            seq = (
                cur[2]
                if cur is not None
                else 1
                + max((s for _, _, s in _SQL_VIEWS.values()), default=0)
            )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{view_name}` AS {sql_text}"
        )
        _SQL_VIEWS[key] = (view_name, sql_text, seq)


def manifest_sql_view_unregister(spark, view_name: str) -> bool:
    """Drop an engine view's definition and temp view. True when it was
    registered."""
    key = view_name.lower()
    with _SQL_REG_LOCK:
        t = _SQL_VIEWS.pop(key, None)
    if t is not None:
        try:
            spark.catalog.dropTempView(t[0])
        except Exception:  # noqa: BLE001 — already gone
            pass
    return t is not None


# --- write half: df.write.format("manifest").mode("append") ----------------
#
# INSERT-only append through the DataFrame writer API — the SQL-user
# counterpart of manifest_upsert_partitioned's Python API (which remains
# the path for key-merging upserts/MERGE: those need Spark jobs the
# DataSourceWriter protocol cannot express). Executors write parquet
# straight into one immutable stage directory (Arrow batches, no extra
# shuffle); commit() applies the staged files with ``sinks._apply_stage``
# (the commit rule of every staged write, zone-map stats included) and
# publishes through the same pluggable commit point as every other
# writer. Its own retry policy: an append re-adds its files on a lost
# race (it can always rebase onto a newer head unless the schema moved);
# a dynamic overwrite refuses to wipe a concurrent commit into the
# partitions it replaces.
#
# v1 writer REFUSES tables whose features it cannot maintain — CHECK
# constraints (need a Spark observe pass), generated partition columns
# (need expression evaluation), column mapping (needs id assignment) —
# and any schema drift from the table's current schema. Loud refusal
# over silent corruption, the same stance Delta's writer-feature flags
# take.


from dataclasses import dataclass, field as _dc_field

from pyspark.sql.datasource import DataSourceArrowWriter, WriterCommitMessage


@dataclass
class _AppendMessage(WriterCommitMessage):
    # [(part_key, rel_path, size_bytes, n_rows)]
    entries: "list" = _dc_field(default_factory=list)


def _escape_part_component(v: str) -> str:
    """Filesystem-safe partition-dir component. Internal naming only:
    modern-protocol readers resolve files through the manifest's
    explicit (key → files) lists and never parse directory names, so
    this only has to be collision-free and portable."""
    out = []
    for ch in v:
        if ch.isalnum() or ch in ("-", "_", "."):
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out) or "__empty__"


class ManifestAppendWriter(DataSourceArrowWriter):
    def __init__(self, schema, options, overwrite: bool):
        import json
        import uuid

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
            _pcols,
        )

        self.overwrite = bool(overwrite)
        if overwrite and (
            options.get("partitionOverwriteMode", "").lower() != "dynamic"
        ):
            # whole-table truncate-overwrite stays refused (use the
            # Python API's manifest_replace_partitions explicitly);
            # dynamic mode is Spark's INSERT OVERWRITE shape — replace
            # exactly the partitions present in the written data
            raise ValueError(
                "manifest format supports mode('append'), or "
                "mode('overwrite') with "
                ".option('partitionOverwriteMode', 'dynamic') — dynamic "
                "partition overwrite replaces only the partitions the "
                "written data contains (last-writer-wins per partition, "
                "as Spark's native dynamic overwrite); whole-table "
                "overwrite must go through "
                "manifest_replace_partitions"
            )
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest format requires .option('path', …)")
        self.schema = schema
        version, content = _latest_manifest(self.path)
        if version == 0:
            # table creation: partition spec comes from options. An
            # UNPARTITIONED table is created explicitly
            # (.option('unpartitioned', 'true')) — all rows land under
            # the single synthetic manifest key "[]"; omitting both
            # options stays a loud refusal so a forgotten partition
            # spec can't silently create an unpartitioned table.
            pc = options.get("partition_cols") or options.get(
                "partition_col"
            )
            unpart = (
                str(options.get("unpartitioned", "false")).lower()
                == "true"
            )
            if pc and unpart:
                raise ValueError(
                    "unpartitioned=true conflicts with partition_cols"
                )
            if not pc and not unpart:
                raise ValueError(
                    "creating a manifest table via the writer requires "
                    ".option('partition_cols', 'col[,col…]') or "
                    ".option('unpartitioned', 'true')"
                )
            self.pcols = (
                []
                if unpart
                else [c.strip() for c in str(pc).split(",") if c.strip()]
            )
            self.base_version = 0
        else:
            for feature, why in (
                ("constraints", "CHECK constraints need a Spark observe pass"),
                ("generated_cols", "generated partition columns need "
                                   "expression evaluation"),
                ("col_ids", "column mapping needs id assignment"),
            ):
                if content.get(feature):
                    raise ValueError(
                        f"manifest writer v1 refuses a table with "
                        f"{feature} ({why}); use the Python API "
                        f"(manifest_upsert_partitioned / manifest_merge)"
                    )
            if content.get("fmt", "parquet") != "parquet":
                raise ValueError("manifest writer v1 writes parquet only")
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _partition_cols,
            )

            self.pcols = _partition_cols(content)
            # schema must EQUAL the table's current schema (no evolution
            # through this writer): compare the session-independent JSON
            want = json.loads(content["schema_json"])["fields"]
            got = json.loads(schema.json())["fields"]
            if [(f["name"], f["type"]) for f in want] != [
                (f["name"], f["type"]) for f in got
            ]:
                raise ValueError(
                    "writer schema differs from the table schema "
                    f"at {self.path}; evolve via the Python API first"
                )
            self.base_version = version
        missing = [c for c in self.pcols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"partition column(s) {missing} absent from the written "
                "DataFrame"
            )
        self.stage = f"data/{uuid.uuid4().hex[:12]}"

    # -- executors ---------------------------------------------------------
    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _part_key,
            _part_key_tuple,
        )

        by_part: dict[str, list] = {}
        dir_of: dict[str, str] = {}
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            if not self.pcols:
                # unpartitioned: every row belongs to the synthetic
                # single partition "[]", files land flat in the stage
                by_part.setdefault("[]", []).append(t)
                dir_of.setdefault("[]", "")
                continue
            pvals = [t.column(c).to_pylist() for c in self.pcols]
            keys = [
                _part_key_tuple(vals, self.pcols) for vals in zip(*pvals)
            ]
            idx_by_key: dict[str, list[int]] = {}
            for i, k in enumerate(keys):
                idx_by_key.setdefault(k, []).append(i)
            for k, idxs in idx_by_key.items():
                by_part.setdefault(k, []).append(t.take(idxs))
                if k not in dir_of:
                    comps = [
                        f"__p{j}={_escape_part_component(_part_key(v))}"
                        if len(self.pcols) > 1
                        else f"__p={_escape_part_component(_part_key(v))}"
                        for j, v in enumerate(
                            [pvals[j][idxs[0]] for j in range(len(self.pcols))]
                        )
                    ]
                    dir_of[k] = "/".join(comps)
        entries = []
        for k, tables in by_part.items():
            t = pa.concat_tables(tables)
            d = f"{self.stage}/{dir_of[k]}" if dir_of[k] else self.stage
            rel = f"{d}/part-{uuid.uuid4().hex[:12]}.parquet"
            abs_path = os.path.join(self.path, *rel.split("/"))
            os.makedirs(os.path.dirname(abs_path), exist_ok=True)
            pq.write_table(t, abs_path)
            entries.append((k, rel, os.path.getsize(abs_path), len(t)))
        return _AppendMessage(entries=entries)

    # -- driver-side commit point -------------------------------------------
    def commit(self, messages):
        import json

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            CommitConflict,
            _apply_stage,
            _latest_manifest,
            _partition_cols,
            _publish_manifest,
        )

        entries: list = []
        for m in messages:
            if m is not None:
                entries.extend(m.entries)
        if not entries:
            return  # empty write: no files, no commit (a no-op, not a
            # metadata-only version; dynamic overwrite of an empty frame
            # touches no partitions by definition)
        # the COMMITTED table schema is all-nullable: a write whose
        # source happens to be non-null (VALUES literals, a filtered
        # frame) must not narrow the table's nullability — later reads
        # null-fill this batch's columns for files that predate an ADD
        # COLUMN, and a non-nullable field there is a codegen NPE
        from pyspark.sql import SparkSession
        from pyspark.sql.types import StructField, StructType

        nullable = StructType(
            [
                StructField(f.name, f.dataType, True, f.metadata)
                for f in self.schema.fields
            ]
        )
        # files group per partition key; a key's files share one dir
        staged: dict = {}
        for k, rel, size, rows in entries:
            staged.setdefault(k, (rel.rsplit("/", 1)[0], []))[1].append(
                [rel, size, rows]
            )
        # the DataSource writer commits in a session-less Python worker,
        # where new files get footer stats only (SparkSession is None)
        spark = SparkSession.getActiveSession()
        memo: dict = {}
        last: "CommitConflict | None" = None
        # dynamic overwrite: snapshot of the replaced partitions' file
        # lists at the FIRST attempt — a retry that silently re-applies
        # files[k] = [] after a concurrent append landed in k would
        # erase that writer's committed data without any conflict
        # surfacing (Delta raises overwrite-vs-append conflicts; so do
        # we)
        replaced_seen: "dict[str, list] | None" = None
        for _ in range(10):
            version, base = _latest_manifest(self.path)
            if version > 0:
                if _partition_cols(base) != self.pcols:
                    # two creators raced with different specs, or the
                    # planning-time spec drifted: our staged files are
                    # keyed under the WRONG partition columns
                    raise ValueError(
                        f"table at {self.path} is partitioned by "
                        f"{_partition_cols(base)}, this write staged "
                        f"under {self.pcols}; aborting append"
                    )
                want = json.loads(base["schema_json"])["fields"]
                got = json.loads(nullable.json())["fields"]
                if [(f["name"], f["type"]) for f in want] != [
                    (f["name"], f["type"]) for f in got
                ]:
                    raise ValueError(
                        "table schema changed concurrently; aborting append"
                    )
            files = base.get("files", {})
            carry = {k: files.get(k, []) for k in staged}
            if self.overwrite:
                # dynamic partition overwrite: the touched partitions'
                # file lists REPLACE wholesale (old files stay on disk
                # for time travel until vacuum)
                snapshot = {
                    k: [tuple(x) for x in files.get(k, ())] for k in staged
                }
                if replaced_seen is None:
                    replaced_seen = snapshot
                elif snapshot != replaced_seen:
                    # a concurrent writer committed into a partition we
                    # are replacing, BETWEEN our attempts — wiping it now
                    # would vanish successfully-committed data. Surface
                    # the conflict; the caller re-runs the overwrite
                    # against the new head deliberately.
                    changed = sorted(
                        k
                        for k in staged
                        if snapshot.get(k) != replaced_seen.get(k)
                    )
                    raise CommitConflict(
                        "dynamic partition overwrite conflicts with a "
                        f"concurrent commit into partition(s) {changed} "
                        f"of {self.path}; re-run the overwrite to "
                        "replace the new contents deliberately"
                    )
                carry = {}
            content = _apply_stage(
                spark, self.path, base, list(staged), staged, carry,
                nullable, "parquet", self.pcols, memo=memo,
            )
            try:
                _publish_manifest(
                    self.path,
                    version + 1,
                    content,
                    op="dynamic-overwrite" if self.overwrite else "append",
                    op_metrics={
                        "files_added": len(entries),
                        "rows_appended": sum(e[3] for e in entries),
                    },
                )
                return
            except CommitConflict as e:
                # insert-only fast-forward: re-read the head and re-add
                # our files (the loop re-checks schema drift)
                last = e
        raise last

    def abort(self, messages):
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self.path, *self.stage.split("/")),
            ignore_errors=True,
        )


# --- JVM-side staged append -------------------------------------------
#
# SQL INSERT and CTAS on a plain table skip the DataSource's executor
# write: they stage the rows with ``sinks._write_stage`` (the one staging
# helper, so keys follow the one partition-key rule) and hand the files
# to ``ManifestAppendWriter.commit`` in the driver. Validation, the
# commit rule and the retry policy are the writer's, so both surfaces
# commit the same manifest.


def _fast_staged_append(df, path: str, options: dict, overwrite: bool) -> None:
    """Stage ``df`` under the writer's immutable ``data/<uuid>`` prefix
    with ``sinks._write_stage``, then publish through
    ``ManifestAppendWriter.commit`` in-process; validation errors raise
    exactly as the writer's plan-time construction would."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _with_part_copies,
        _write_stage,
    )

    w = ManifestAppendWriter(df.schema, options, overwrite)
    w.stage, written = _write_stage(
        _with_part_copies(df, w.pcols), path, w.pcols, "parquet"
    )
    # 0-row files (schema-only artifacts of an empty unpartitioned write)
    # are dropped so an empty INSERT stays a no-op — no files, no commit,
    # no version
    entries = [
        (k, rel, size, rows)
        for k, (_d, file_entries) in written.items()
        for rel, size, rows in file_entries
        if rows != 0
    ]
    if not entries:
        w.abort([])
        return
    try:
        w.commit([_AppendMessage(entries=entries)])
    except BaseException:
        w.abort([])
        raise


# --- SQL DML dispatcher ------------------------------------------------
#
# spark.sql("DELETE FROM t WHERE …") cannot reach a Python DataSource
# (Spark's DML plans are reserved for catalog tables), so the SQL story
# stops at SELECT + INSERT-via-writer without this: manifest_sql() is
# the statement-level router that makes the three DML verbs work
# against registered manifest views by dispatching to the existing
# engines — manifest_delete_where / manifest_update_where /
# manifest_merge (sinks.py) — which already take SQL predicate and
# assignment STRINGS and hand them to Spark's own expression parser.
# The router only does statement-level tokenization (verb, table name,
# clause boundaries at top level — never inside quotes or parens); it
# has NO expression grammar of its own, so every condition/assignment
# keeps exact Spark SQL semantics. Reference parity: the reference's
# whole load path is DML-shaped (`function_app.py:296-312`); Delta
# Lake's SparkSQL DML is the public model.


def _scan_top(text: str):
    """Yield ``(i, ch)`` for characters at TOP LEVEL — outside single/
    double-quoted strings, backticked identifiers, and parentheses.
    Single quotes escape by doubling ('') per SQL."""
    depth = 0
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n:
                if text[i] == q:
                    if q == "'" and i + 1 < n and text[i + 1] == "'":
                        i += 2  # doubled-quote escape
                        continue
                    break
                i += 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif depth == 0:
            yield i, ch
        i += 1


def _find_kw_top(text: str, kw: str, start: int = 0) -> int:
    """Index of the first top-level, word-delimited, case-insensitive
    occurrence of ``kw`` at or after ``start``; -1 if absent."""
    kw = kw.upper()
    L = len(kw)
    for i, ch in _scan_top(text):
        if i < start or ch.upper() != kw[0]:
            continue
        if text[i : i + L].upper() != kw:
            continue
        before_ok = i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
        j = i + L
        after_ok = j >= len(text) or not (text[j].isalnum() or text[j] == "_")
        if before_ok and after_ok:
            return i
    return -1


def _split_top(text: str, sep: str) -> list[str]:
    """Split on every top-level occurrence of ``sep`` (a single
    character like ',' or a keyword like 'AND' / 'WHEN')."""
    outs, last = [], 0
    if len(sep) == 1 and not sep.isalpha():
        for i, ch in _scan_top(text):
            if ch == sep:
                outs.append(text[last:i])
                last = i + 1
    else:
        pos = 0
        while True:
            i = _find_kw_top(text, sep, pos)
            if i < 0:
                break
            outs.append(text[last:i])
            last = i + len(sep)
            pos = last
    outs.append(text[last:])
    return outs


def _strip_sql_comments(text: str) -> str:
    """Remove SQL comments (``-- …`` to end of line, ``/* … */``)
    OUTSIDE string literals and backticked identifiers — so a ``;``
    inside a comment can never split a script statement, and a ``--``
    inside a string (``'a--b'``) is never mistaken for one. Block
    comments are replaced by one space (token separator preserved);
    line comments keep their terminating newline. An unterminated
    block comment refuses loudly — silently eating the rest of the
    script would drop statements."""
    out = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"', "`"):
            q = ch
            j = i + 1
            while j < n:
                if text[j] == q:
                    if q == "'" and j + 1 < n and text[j + 1] == q:
                        j += 2  # doubled-quote escape
                        continue
                    break
                j += 1
            out.append(text[i : min(j + 1, n)])
            i = j + 1
            continue
        if ch == "-" and text[i : i + 2] == "--":
            nl = text.find("\n", i)
            i = n if nl < 0 else nl  # the newline itself survives
            continue
        if ch == "/" and text[i : i + 2] == "/*":
            end = text.find("*/", i + 2)
            if end < 0:
                raise ValueError(
                    "unterminated /* */ comment in SQL script"
                )
            out.append(" ")
            i = end + 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _unquote_ident(ident: str) -> str:
    ident = ident.strip()
    if ident.startswith("`") and ident.endswith("`"):
        return ident[1:-1]
    return ident


def _rewrite_alias(expr: str, alias_map: "dict[str, str]") -> str:
    """Rewrite ``<alias>.`` qualifiers to the engine's canonical ``t.``
    / ``s.`` OUTSIDE string literals (manifest_merge's expressions name
    the target ``t`` and the source ``s``). Word-boundary exact: an
    alias that is a prefix of another identifier never matches."""
    import re

    if not alias_map:
        return expr
    pat = re.compile(
        r"\b(" + "|".join(re.escape(a) for a in alias_map) + r")\s*\.",
        re.IGNORECASE,
    )
    # segment the expression at quoted regions; rewrite only outside
    out, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if expr[j] == ch:
                    if ch == "'" and j + 1 < n and expr[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(expr[i : j + 1])
            i = j + 1
        else:
            j = i
            while j < n and expr[j] not in ("'", '"', "`"):
                j += 1
            out.append(
                pat.sub(
                    lambda m: alias_map[m.group(1).lower()] + ".",
                    expr[i:j],
                )
            )
            i = j
    return "".join(out)


def _resolve_sql_table(ident: str) -> "tuple[str, str]":
    name = _unquote_ident(ident).lower()
    if name in _SQL_VIEWS and name not in _SQL_TABLES:
        raise ValueError(
            f"{ident!r} is a VIEW — DML and table-maintenance verbs "
            "target tables only (query the view, or run the verb "
            "against its base table)"
        )
    if name not in _SQL_TABLES:
        raise ValueError(
            f"{ident!r} is not a registered manifest view — call "
            f"manifest_sql_register(spark, {ident!r}, table_root) first "
            f"(registered: {sorted(v[0] for v in _SQL_TABLES.values())})"
        )
    return _SQL_TABLES[name][:2]


def _bound_manifest(ident: str, path: str) -> "tuple[int, dict]":
    """(version, content) of the manifest AS THE BINDING SEES IT: the
    registered bound version — a pinned view (or a time-travel alias)
    must describe ITS snapshot, not the moving head, so DESCRIBE DETAIL
    / SHOW PARTITIONS agree with what SELECT through the same view
    reads. Follow-head bindings were re-resolved to the current head by
    the statement's rebind pass, so they describe head as expected."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _latest_manifest,
        _materialize,
    )

    t = _SQL_TABLES.get(_unquote_ident(ident).lower())
    bound_v = t[3] if t else 0
    if bound_v > 0:
        return bound_v, _materialize(path, bound_v)
    return _latest_manifest(path)


def _parse_assignments(set_part: str) -> "dict[str, str]":
    assignments: dict[str, str] = {}
    import re

    for item in _split_top(set_part, ","):
        m = re.match(
            r"\s*(`[^`]+`|[A-Za-z_]\w*)\s*=\s*(.+)$", item, re.S
        )
        if not m:
            raise ValueError(f"cannot parse SET assignment {item.strip()!r}")
        col = _unquote_ident(m.group(1))
        if col in assignments:
            raise ValueError(f"column {col!r} assigned twice in SET")
        assignments[col] = m.group(2).strip()
    if not assignments:
        raise ValueError("SET clause assigns no columns")
    return assignments


def _managed_location(name: str) -> "str | None":
    """MANAGED-TABLE location for a CREATE without LOCATION: under the
    attached warehouse as ``<warehouse>/<name>`` (Delta's managed-table
    layout). Returns None when no warehouse is attached — the statement
    then falls through to native spark.sql, so vanilla ``CREATE TABLE t
    AS …`` behavior is unchanged for users who never attached."""
    import os

    from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
        attached_warehouse,
    )

    wh = attached_warehouse()
    return os.path.join(wh, name) if wh else None


def _mirror_catalog_set(view_name: str, path: str) -> None:
    """Mirror a CREATE/REPLACE into the ATTACHED durable catalog (no-op
    when no warehouse is attached) — keeps the cross-session registry in
    sync with the session one without the caller opting in per
    statement."""
    from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
        attached_warehouse,
        catalog_set,
    )

    wh = attached_warehouse()
    if wh:
        catalog_set(wh, view_name, path)


def _guard_catalog_repoint(view_name: str, path: str) -> None:
    """Refuse a CREATE/REPLACE whose name is already in the ATTACHED
    durable catalog at a DIFFERENT location — without this, a
    catalog-only name (registered by another session, or stale after a
    ``missing='skip'`` attach) could be silently re-pointed and its
    table orphaned (code-review r11: the session-registry guard alone
    misses exactly this case). Same policy as the registry guard:
    re-pointing a durable name must be explicit (DROP TABLE first)."""
    import os

    from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
        attached_warehouse,
        catalog_tables,
    )

    wh = attached_warehouse()
    if not wh:
        return
    cur = catalog_tables(wh).get(view_name.lower())
    if cur is not None and os.path.abspath(cur) != os.path.abspath(path):
        raise ValueError(
            f"CREATE TABLE {view_name}: name is cataloged at {cur!r}, "
            f"not {path!r} — re-pointing a durable name at a different "
            "location must be explicit (DROP TABLE first)"
        )


def _dispatch_util_statement(spark, stmt: str):
    """Maintenance/metadata statements over registered manifest views —
    the Delta utility-SQL parity layer. Returns ``None`` when ``stmt``
    is not a utility statement (the caller falls through):

    - ``DESCRIBE HISTORY v`` → DataFrame of :func:`sinks.manifest_history`
      rows, NEWEST first (Delta's order); ``op_metrics`` as a JSON string.
    - ``OPTIMIZE v [ZORDER BY (c1, …)]`` → :func:`sinks.manifest_compact`
      / :func:`skipping.manifest_cluster_zorder`.
    - ``VACUUM v [RETAIN n VERSIONS | RETAIN n HOURS]`` →
      :func:`sinks.manifest_vacuum` (default keep_versions=1, matching
      the Python API).
    - ``DESCRIBE DETAIL v`` → one-row DataFrame of table facts (format,
      location, version, partition columns/counts, file count, bytes,
      pending delete entries, constraints, schema) from manifest
      metadata alone; ``SHOW PARTITIONS v`` → (partition, num_files)
      rows, zero file listing (core-Spark verb: ours only for
      registered views, anything else falls through).
    - ``RESTORE [TABLE] v TO VERSION AS OF n`` /
      ``TO TIMESTAMP AS OF epoch`` → :func:`sinks.manifest_restore`
      (metadata-only re-commit of the earlier snapshot as a new head).
    - ``ALTER TABLE v ADD CONSTRAINT name CHECK (expr)`` /
      ``DROP CONSTRAINT name`` / ``ADD COLUMN c TYPE`` (or
      ``ADD COLUMNS (a T, b T)``) / ``ALTER COLUMN c TYPE t``
      (information-preserving widening only) / ``RENAME COLUMN a TO b``
      / ``DROP COLUMN c`` → the corresponding :mod:`sinks` engines
      (column ops are metadata-only; ADD null-fills old files on read,
      widened types cast up).
    - ``CREATE TABLE name (col TYPE, …) LOCATION 'path' [PARTITIONED BY
      (cols)]`` → :func:`sinks.manifest_create_table` (empty metadata-only
      v1); CTAS and CREATE both treat PARTITIONED BY as OPTIONAL — absent
      means an UNPARTITIONED table (single synthetic manifest partition).

    Statements that mutate the table or its schema re-register the view
    afterward (preserving its follow-head flag) — the snapshot-pinned
    view contract would otherwise hide the statement's own effect.

    Table-lifecycle verbs (round 11): ``CREATE OR REPLACE TABLE name
    LOCATION 'p' [PARTITIONED BY (…)] AS q`` (atomic head swap via
    :func:`sinks.manifest_replace_table`), ``TRUNCATE TABLE v``
    (whole-table metadata delete, history preserved), ``DROP TABLE
    [IF EXISTS] v [PURGE]`` (unregister + durable-catalog removal;
    PURGE deletes the directory), ``SHOW TABLES`` (session registry ∪
    attached catalog), ``ATTACH WAREHOUSE 'dir'`` / ``DETACH
    WAREHOUSE`` (cross-session catalog, :mod:`catalog_store`).
    """
    import json
    import os
    import re

    m = re.match(
        r"DESCRIBE\s+HISTORY\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*$", stmt, re.I
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _local_frame,
            manifest_history,
        )

        _, path = _resolve_sql_table(m.group(1))
        rows = [
            (
                h["version"],
                h.get("op"),
                float(h["committed_at"]) if h.get("committed_at") else None,
                h.get("n_partitions"),
                h.get("n_files"),
                h.get("pending_deletes"),
                json.dumps(h.get("op_metrics") or {}, sort_keys=True),
            )
            for h in reversed(manifest_history(path))  # newest first
        ]
        return _local_frame(
            spark,
            rows,
            "version INT, op STRING, committed_at DOUBLE, "
            "n_partitions INT, n_files INT, pending_deletes INT, "
            "op_metrics STRING",
        )

    m = re.match(
        r"OPTIMIZE\s+(`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*$",
        stmt,
        re.I,
    )
    if m:
        view_name, path = _resolve_sql_table(m.group(1))
        if m.group(2):
            from data_management_service_run_etl_imputations_spark.sources.skipping import (
                manifest_cluster_zorder,
            )

            cols = [
                _unquote_ident(c) for c in m.group(2).split(",") if c.strip()
            ]
            r = manifest_cluster_zorder(spark, path, cols)
            out = {"statement": "optimize-zorder", **r}
        else:
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                manifest_compact,
            )

            r = manifest_compact(spark, path)
            out = {"statement": "optimize", **r}
        _reregister_current(spark, view_name, path)
        return out

    m = re.match(
        r"VACUUM\s+(`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_vacuum,
        )

        _, path = _resolve_sql_table(m.group(1))
        kw: dict = {}
        if m.group(2):
            if m.group(3).upper() == "VERSIONS":
                kw["keep_versions"] = int(m.group(2))
            else:
                kw["retain_seconds"] = float(m.group(2)) * 3600.0
        n = manifest_vacuum(path, **kw)
        return {"statement": "vacuum", "removed_dirs": n}

    m = re.match(
        r"ANALYZE\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+COMPUTE\s+"
        r"STATISTICS\s+FOR\s+COLUMNS\s+(.+)$",
        stmt,
        re.I | re.S,
    )
    # ANALYZE TABLE is likewise a core Spark verb — ours only for
    # registered manifest views, otherwise spark.sql handles it
    if m and _unquote_ident(m.group(1)).lower() not in _SQL_TABLES:
        m = None
    if m:
        from data_management_service_run_etl_imputations_spark.sources.skipping import (
            manifest_collect_stats,
        )

        _, path = _resolve_sql_table(m.group(1))
        cols = [
            _unquote_ident(c) for c in m.group(2).split(",") if c.strip()
        ]
        r = manifest_collect_stats(spark, path, cols)
        return {"statement": "analyze", **r}

    # CREATE TABLE <name> LOCATION '<path>' [PARTITIONED BY (cols)]
    # AS SELECT … — CTAS through the staged append, then registered as a
    # SQL view (follow_head by default: a freshly created table is
    # usually about to be loaded further). PARTITIONED BY is OPTIONAL:
    # without it the table is created UNPARTITIONED (one synthetic
    # manifest partition — the small-dim shape; Delta parity).
    m = re.match(
        r"CREATE\s+TABLE\s+(`[^`]+`|[A-Za-z_]\w*)\s+"
        r"(?:LOCATION\s+'([^']+)'\s*)?(?:PARTITIONED\s+BY\s*\(([^)]*)\))?\s*"
        r"AS\s+(.+)$",
        stmt,
        re.I | re.S,
    )
    # LOCATION omitted → MANAGED table at <warehouse>/<name>, ours only
    # while a warehouse is attached; unattached no-LOCATION CTAS stays
    # native spark.sql behavior
    if m and m.group(2) is None and _managed_location("x") is None:
        m = None
    if m:
        view_name = _unquote_ident(m.group(1))
        path = m.group(2) or _managed_location(view_name)
        _guard_catalog_repoint(view_name, path)
        pcols = [
            _unquote_ident(c)
            for c in (m.group(3) or "").split(",")
            if c.strip()
        ]
        src = spark.sql(m.group(4).strip())
        missing = [p for p in pcols if p not in src.columns]
        if missing:
            raise ValueError(
                f"PARTITIONED BY column(s) {missing} are not produced "
                f"by the CTAS query (have {src.columns})"
            )
        opts = {"path": path}
        if pcols:
            opts["partition_cols"] = ",".join(pcols)
        else:
            opts["unpartitioned"] = "true"
        _fast_staged_append(src, path, opts, overwrite=False)
        manifest_sql_register(spark, view_name, path, follow_head=True)
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_history,
        )

        om = manifest_history(path)[-1].get("op_metrics", {})
        _mirror_catalog_set(view_name, path)
        return {
            "statement": "create-table-as",
            "rows_inserted": om.get("rows_appended"),
            "files_added": om.get("files_added"),
        }

    # CREATE TABLE <name> (col TYPE, …) LOCATION '<path>'
    # [PARTITIONED BY (cols)] — EMPTY table creation (metadata-only
    # version 1; the first INSERT appends normally). PARTITIONED BY
    # optional: absent → unpartitioned. decimal(p,s) commas are
    # paren-protected from the column split.
    m = re.match(
        r"CREATE\s+TABLE\s+(`[^`]+`|[A-Za-z_]\w*)\s*\((.+?)\)\s*"
        r"(?:LOCATION\s+'([^']+)'\s*)?"
        r"(?:PARTITIONED\s+BY\s*\(([^)]*)\))?\s*$",
        stmt,
        re.I | re.S,
    )
    if m and m.group(3) is None and _managed_location("x") is None:
        m = None  # unattached no-LOCATION form stays native
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_create_table,
        )

        view_name = _unquote_ident(m.group(1))
        path = m.group(3) or _managed_location(view_name)
        _guard_catalog_repoint(view_name, path)
        cols: "list[tuple[str, str]]" = []
        for item in _split_top(m.group(2), ","):
            im = re.match(
                r"\s*(`[^`]+`|[A-Za-z_]\w*)\s+(.+?)\s*$", item, re.S
            )
            if not im:
                raise ValueError(
                    f"cannot parse CREATE TABLE column {item.strip()!r} "
                    "(expected: name TYPE)"
                )
            cols.append((_unquote_ident(im.group(1)), im.group(2)))
        pcols = [
            _unquote_ident(c)
            for c in (m.group(4) or "").split(",")
            if c.strip()
        ]
        manifest_create_table(path, cols, pcols or None)
        manifest_sql_register(spark, view_name, path, follow_head=True)
        _mirror_catalog_set(view_name, path)
        return {
            "statement": "create-table",
            "columns": [c for c, _ in cols],
            "partitioned_by": pcols,
        }

    # CREATE OR REPLACE TABLE <name> LOCATION '<path>' [PARTITIONED BY
    # (cols)] AS SELECT … — atomic replace: data staged first, ONE
    # manifest commit is the head swap (sinks.manifest_replace_table).
    # Valid on a nonexistent table too (plain CREATE then). Refuses to
    # RE-POINT a registered name at a different location — that silent
    # aliasing is how a replace destroys the wrong table.
    m = re.match(
        r"CREATE\s+OR\s+REPLACE\s+TABLE\s+(`[^`]+`|[A-Za-z_]\w*)\s+"
        r"(?:LOCATION\s+'([^']+)'\s*)?(?:PARTITIONED\s+BY\s*\(([^)]*)\))?\s*"
        r"AS\s+(.+)$",
        stmt,
        re.I | re.S,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_replace_table,
        )

        view_name = _unquote_ident(m.group(1))
        reg = _SQL_TABLES.get(view_name.lower())
        path = m.group(2)
        if path is None:
            # no LOCATION: replace in place when the name is known
            # (registered view wins, then attached catalog); else the
            # managed location; unattached unknown names stay native
            if reg is not None:
                path = reg[1]
            else:
                from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
                    attached_warehouse,
                    catalog_tables,
                )

                wh = attached_warehouse()
                cat = catalog_tables(wh) if wh else {}
                path = cat.get(view_name.lower()) or _managed_location(
                    view_name
                )
            if path is None:
                m = None
    if m:
        if reg is not None and os.path.abspath(reg[1]) != os.path.abspath(
            path
        ):
            raise ValueError(
                f"CREATE OR REPLACE TABLE {view_name}: name is registered "
                f"at {reg[1]!r}, not {path!r} — re-pointing a name at a "
                "different location must be explicit (DROP TABLE first)"
            )
        _guard_catalog_repoint(view_name, path)
        pcols = [
            _unquote_ident(c)
            for c in (m.group(3) or "").split(",")
            if c.strip()
        ]
        src = spark.sql(m.group(4).strip())
        r = manifest_replace_table(src, path, pcols or None)
        manifest_sql_register(spark, view_name, path, follow_head=True)
        _mirror_catalog_set(view_name, path)
        return {"statement": "replace-table", **r}

    # TRUNCATE TABLE <name> — whole-table delete as ONE metadata commit;
    # history preserved (time travel / RESTORE until VACUUM). Core Spark
    # verb: ours only for registered manifest views.
    m = re.match(
        r"TRUNCATE\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*$", stmt, re.I
    )
    # ours for registered tables AND for engine views — the latter so
    # _resolve_sql_table refuses with the engine's "is a VIEW" error
    # instead of native analysis noise
    if m and (
        _unquote_ident(m.group(1)).lower() in _SQL_TABLES
        or _unquote_ident(m.group(1)).lower() in _SQL_VIEWS
    ):
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_truncate,
        )

        view_name, path = _resolve_sql_table(m.group(1))
        r = manifest_truncate(path)
        _reregister_current(spark, view_name, path)
        return {"statement": "truncate", **r}

    # DROP TABLE [IF EXISTS] <name> [PURGE] — completes the lifecycle a
    # SQL user can start with CREATE: unregister the session view (and
    # its time-travel aliases), remove the name from the attached
    # durable catalog, and with PURGE delete the table directory
    # itself (external-table semantics otherwise: data stays on disk,
    # Delta's DROP on an external table). Core Spark verb: ours only
    # for names we know (registered or in the attached catalog).
    m = re.match(
        r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(`[^`]+`|[A-Za-z_][\w.]*)"
        r"(\s+PURGE)?\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_remove,
            catalog_tables,
        )

        name = _unquote_ident(m.group(2))
        key = name.lower()
        wh = attached_warehouse()
        reg = _SQL_TABLES.get(key)
        cat = catalog_tables(wh) if wh else {}
        if reg is None and key not in cat:
            # not ours (DROP TABLE is a core verb) — fall through to
            # spark.sql, which honors IF EXISTS and raises loudly
            # otherwise, same policy as ALTER/ANALYZE TABLE above
            m = None
    if m:
        name = _unquote_ident(m.group(2))
        path = reg[1] if reg is not None else cat[key]
        manifest_sql_unregister(spark, name)
        # remove the durable entry ONLY when it points at the binding
        # being dropped — a session view shadowing a catalog name at a
        # different path must not erase the unrelated table's durable
        # entry (code-review r11)
        if wh and key in cat and os.path.abspath(
            cat[key]
        ) == os.path.abspath(path):
            catalog_remove(wh, name)
        purged = False
        if m.group(3):
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            purged = True
        return {
            "statement": "drop-table",
            "dropped": True,
            "purged": purged,
            "location": path,
        }

    # SHOW TABLES — the session registry ∪ the attached durable catalog.
    # (Native spark.sql('SHOW TABLES') remains reachable directly; this
    # dispatcher surfaces the MANIFEST tables a SQL user can query.)
    if re.match(r"SHOW\s+TABLES\s*$", stmt, re.I):
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_tables,
            catalog_views,
        )
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _local_frame,
        )

        wh = attached_warehouse()
        cat = catalog_tables(wh) if wh else {}
        cat_v = catalog_views(wh) if wh else {}
        rows = []
        with _SQL_REG_LOCK:
            reg_items = {
                k: t for k, t in _SQL_TABLES.items()
                if "__asof_" not in k  # aliases are statement plumbing
            }
            reg_views = dict(_SQL_VIEWS)
        for k, t in sorted(reg_items.items()):
            # cataloged means THIS binding: a session view shadowing a
            # catalog name at a different path must not claim it
            in_cat = k in cat and os.path.abspath(
                cat[k]
            ) == os.path.abspath(t[1])
            rows.append((t[0], t[1], True, in_cat, t[3], t[2], "table"))
        for k in sorted(set(cat) - set(reg_items)):
            rows.append((k, cat[k], False, True, None, None, "table"))
        for k, (name, _sql, _s) in sorted(reg_views.items()):
            rows.append(
                (name, None, True, k in cat_v, None, None, "view")
            )
        for k in sorted(set(cat_v) - set(reg_views)):
            rows.append((k, None, False, True, None, None, "view"))
        return _local_frame(
            spark,
            rows,
            "table STRING, location STRING, registered BOOLEAN, "
            "cataloged BOOLEAN, bound_version INT, follow_head BOOLEAN, "
            "kind STRING",
        )

    # ATTACH WAREHOUSE '<dir>' / DETACH WAREHOUSE — the SQL spelling of
    # catalog_store.manifest_catalog_attach/detach, so a SQL-only user
    # can resume a prior session's tables by name.
    m = re.match(r"ATTACH\s+WAREHOUSE\s+'([^']+)'\s*$", stmt, re.I)
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            manifest_catalog_attach,
        )

        tables = manifest_catalog_attach(spark, m.group(1))
        return {
            "statement": "attach-warehouse",
            "warehouse": m.group(1),
            "tables": sorted(tables),
        }
    if re.match(r"DETACH\s+WAREHOUSE\s*$", stmt, re.I):
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            manifest_catalog_detach,
        )

        prev = manifest_catalog_detach()
        return {"statement": "detach-warehouse", "warehouse": prev}

    # ALTER TABLE <old> RENAME TO <new> — a REGISTRY-level re-point:
    # the table's location and data are untouched (external-table
    # semantics; the manifest knows nothing of its SQL name), the
    # session binding flips atomically under the registry lock, and
    # while a warehouse is attached the durable catalog re-points in
    # ONE snapshot commit (catalog_store.catalog_rename — a concurrent
    # attach sees the old name or the new, never both/neither).
    # Renames never overwrite: an existing target name (table, view,
    # session, or catalog) refuses loudly. Core Spark verb: ours only
    # for names we know (registered or attached-catalog); anything else
    # falls through to spark.sql unchanged.
    m = re.match(
        r"ALTER\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+RENAME\s+TO\s+"
        r"(`[^`]+`|[A-Za-z_][\w.]*)\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_rename,
            catalog_tables,
            catalog_views,
        )

        old = _unquote_ident(m.group(1))
        new = _unquote_ident(m.group(2))
        ko, kn = old.lower(), new.lower()
        wh = attached_warehouse()
        cat = catalog_tables(wh) if wh else {}
        with _SQL_REG_LOCK:
            reg = _SQL_TABLES.get(ko)
            if ko in _SQL_VIEWS:
                raise ValueError(
                    f"ALTER TABLE {old} RENAME TO: {old!r} is a VIEW — "
                    "drop and re-create the view under the new name"
                )
            if reg is None and ko not in cat:
                m = None  # not ours — native ALTER TABLE handles it
            else:
                if kn in _SQL_TABLES or kn in _SQL_VIEWS:
                    raise ValueError(
                        f"RENAME TO {new}: target name is already "
                        "registered in this session — renames never "
                        "overwrite (DROP it first)"
                    )
                path = reg[1] if reg is not None else cat[ko]
                # durable catalog first (the only step another session
                # can observe): ONE commit, re-checks existence/target
                # under the optimistic-concurrency retry loop. Only
                # when the catalog entry is THIS binding — a session
                # view shadowing a catalog name at a different path
                # must not re-point the unrelated durable entry.
                if wh and ko in cat and os.path.abspath(
                    cat[ko]
                ) == os.path.abspath(path):
                    catalog_rename(wh, old, new)
                elif wh and (
                    kn in cat or kn in catalog_views(wh)
                ):
                    raise ValueError(
                        f"RENAME TO {new}: target name exists in the "
                        "attached catalog — renames never overwrite"
                    )
                if reg is not None:
                    follow, bound_v, pref = reg[2], reg[3], reg[4]
                    manifest_sql_unregister(spark, old)
                    manifest_sql_register(
                        spark,
                        new,
                        path,
                        version=(
                            bound_v if not follow and bound_v > 0 else None
                        ),
                        follow_head=follow,
                        prune=pref,
                    )
    if m:
        return {
            "statement": "rename-table",
            "old": old,
            "new": new,
            "location": path,
        }

    # CREATE [OR REPLACE] VIEW <name> AS <query> — an engine view: a
    # stored DEFINITION (SQL text), re-created from text after every
    # statement's base-table rebind so it is exactly as current as the
    # tables it reads (a Spark temp view alone would freeze its
    # analyzed plan). While a warehouse is attached the text persists
    # in the durable catalog (catalog_store.catalog_set_view) and
    # manifest_catalog_attach re-creates it in a fresh session. Ours
    # when a warehouse is attached OR the definition references a
    # registered manifest table/engine view; vanilla CREATE VIEW for
    # vanilla users falls through to spark.sql unchanged.
    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(`[^`]+`|[A-Za-z_]\w*)\s+"
        r"AS\s+(.+)$",
        stmt,
        re.I | re.S,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_set_view,
            catalog_tables,
        )

        replace = bool(m.group(1))
        view_name = _unquote_ident(m.group(2))
        body = m.group(3).strip()
        key = view_name.lower()
        wh = attached_warehouse()
        if not wh and not _references_engine_name(body):
            m = None  # vanilla view for a vanilla user — stay native
    if m:
        if re.search(
            r"\b(VERSION|TIMESTAMP)\s+AS\s+OF\b|__asof_", body, re.I
        ):
            raise ValueError(
                f"CREATE VIEW {view_name}: view definitions must not "
                "time-travel (the pinned alias would dangle) — clone a "
                "pinned snapshot instead: CREATE TABLE t SHALLOW CLONE "
                "s VERSION AS OF n"
            )
        cat = catalog_tables(wh) if wh else {}
        if key in cat:
            raise ValueError(
                f"CREATE VIEW {view_name}: name is a cataloged TABLE — "
                "views cannot shadow tables (DROP TABLE first)"
            )
        if not replace and key in _SQL_VIEWS:
            raise ValueError(
                f"CREATE VIEW {view_name}: view exists — use CREATE OR "
                "REPLACE VIEW"
            )
        if wh and not replace:
            from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
                catalog_views,
            )

            if key in catalog_views(wh):
                raise ValueError(
                    f"CREATE VIEW {view_name}: view exists in the "
                    "attached catalog — use CREATE OR REPLACE VIEW"
                )
        manifest_sql_view_register(spark, view_name, body)
        if wh:
            catalog_set_view(wh, view_name, body)
        return {
            "statement": "create-view",
            "view": view_name,
            "durable": bool(wh),
        }

    # DROP VIEW [IF EXISTS] <name> — ours for engine views (session
    # definition and/or attached-catalog entry); native otherwise.
    m = re.match(
        r"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(`[^`]+`|[A-Za-z_][\w.]*)\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_remove,
            catalog_views,
        )

        name = _unquote_ident(m.group(2))
        key = name.lower()
        wh = attached_warehouse()
        in_cat = wh is not None and key in catalog_views(wh)
        if key not in _SQL_VIEWS and not in_cat:
            m = None  # not ours — native DROP VIEW (honors IF EXISTS)
    if m:
        manifest_sql_view_unregister(spark, name)
        if in_cat:
            catalog_remove(wh, name)
        return {"statement": "drop-view", "view": name, "dropped": True}

    # CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF n |
    # TIMESTAMP AS OF e] [LOCATION 'path'] — the SQL spelling of
    # sinks.manifest_clone: a ZERO-COPY independent table whose v1 is
    # the source's snapshot (hard-linked files, one manifest write, no
    # Spark job — metadata-speed at any data size). Delta's syntax. A
    # time-travel clause on a REGISTERED source was already rewritten
    # to a pinned alias by the statement pass (the alias's bound
    # version is the clone point); the raw clause parsed here serves
    # catalog-only sources. LOCATION optional while attached (managed
    # location <warehouse>/<name>). Engine-specific syntax: an unknown
    # source refuses loudly.
    m = re.match(
        r"CREATE\s+TABLE\s+(`[^`]+`|[A-Za-z_]\w*)\s+SHALLOW\s+CLONE\s+"
        r"(`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+([0-9][\w.]*))?"
        r"(?:\s+LOCATION\s+'([^']+)')?\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
            attached_warehouse,
            catalog_tables,
        )
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_clone,
        )

        view_name = _unquote_ident(m.group(1))
        src_ident = _unquote_ident(m.group(2))
        src_key = src_ident.lower()
        wh = attached_warehouse()
        cat = catalog_tables(wh) if wh else {}
        version = as_of = None
        if src_key in _SQL_TABLES:
            t = _SQL_TABLES[src_key]
            src_path = t[1]
            # a pinned binding (incl. a rewritten time-travel alias)
            # clones ITS snapshot; a follow-head binding clones the
            # head version the rebind pass just resolved
            if t[3] > 0:
                version = t[3]
        elif src_key in cat:
            src_path = cat[src_key]
        else:
            raise ValueError(
                f"SHALLOW CLONE: source {src_ident!r} is not a "
                "registered manifest view or attached-catalog table "
                f"(registered: {sorted(_SQL_TABLES)})"
            )
        if m.group(3):
            # raw clause survives only for catalog-only sources (a
            # registered source's clause was rewritten to an alias);
            # it overrides the binding-derived version either way
            if m.group(3).upper() == "VERSION":
                version, as_of = int(m.group(4)), None
            else:
                version, as_of = None, float(m.group(4))
        dst = m.group(5) or _managed_location(view_name)
        if dst is None:
            raise ValueError(
                f"SHALLOW CLONE {view_name}: no LOCATION given and no "
                "warehouse attached — add LOCATION 'path' or ATTACH "
                "WAREHOUSE first"
            )
        _guard_catalog_repoint(view_name, dst)
        if (
            view_name.lower() in _SQL_TABLES
            or view_name.lower() in _SQL_VIEWS
        ):
            raise ValueError(
                f"SHALLOW CLONE {view_name}: name is already registered "
                "— clones never overwrite (DROP TABLE first)"
            )
        if wh:
            from data_management_service_run_etl_imputations_spark.sources.catalog_store import (
                catalog_views,
            )

            if view_name.lower() in catalog_views(wh):
                raise ValueError(
                    f"SHALLOW CLONE {view_name}: name is a cataloged "
                    "VIEW — clones never overwrite (DROP VIEW first)"
                )
        r = manifest_clone(src_path, dst, version=version, as_of=as_of)
        manifest_sql_register(spark, view_name, dst, follow_head=True)
        _mirror_catalog_set(view_name, dst)
        return {"statement": "shallow-clone", "source": src_path, **r}

    m = re.match(
        r"DESCRIBE\s+DETAIL\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*$", stmt, re.I
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _local_frame,
            _partition_cols,
        )

        _, path = _resolve_sql_table(m.group(1))
        v, content = _bound_manifest(m.group(1), path)
        files = content.get("files", {})
        n_files = sum(len(fs) for fs in files.values())
        size = sum(
            e[1] for fs in files.values() for e in fs if len(e) > 1
        )
        row = (
            "manifest",
            path,
            v,
            _partition_cols(content),
            len(content.get("partitions", {})),
            n_files,
            size,
            len(content.get("deletes") or []),
            json.dumps(content.get("constraints") or {}, sort_keys=True),
            content.get("schema"),
        )
        return _local_frame(
            spark,
            [row],
            "format STRING, location STRING, version INT, "
            "partition_columns ARRAY<STRING>, num_partitions INT, "
            "num_files INT, size_in_bytes LONG, pending_delete_entries "
            "INT, constraints STRING, schema STRING",
        )

    m = re.match(
        r"SHOW\s+PARTITIONS\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*$", stmt, re.I
    )
    if m and _unquote_ident(m.group(1)).lower() in _SQL_TABLES:
        # SHOW PARTITIONS is core Spark SQL — ours only for registered
        # manifest views (pure manifest metadata, zero file listing)
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _local_frame,
            _partition_cols,
        )

        _, path = _resolve_sql_table(m.group(1))
        _, content = _bound_manifest(m.group(1), path)
        pcols = _partition_cols(content)

        def comps(k: str) -> list:
            return [k] if len(pcols) == 1 else json.loads(k)

        rows = [
            (
                "/".join(
                    f"{c}={v}" for c, v in zip(pcols, comps(k))
                ),
                len(content.get("files", {}).get(k, [])),
            )
            for k in sorted(content.get("partitions", {}))
        ]
        return _local_frame(spark, rows, "partition STRING, num_files INT")

    m = re.match(
        r"RESTORE\s+(?:TABLE\s+)?(`[^`]+`|[A-Za-z_][\w.]*)\s+TO\s+"
        r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+([0-9][\w.:-]*)\s*$",
        stmt,
        re.I,
    )
    if m:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_restore,
        )

        view_name, path = _resolve_sql_table(m.group(1))
        if m.group(2).upper() == "VERSION":
            r = manifest_restore(path, version=int(m.group(3)))
        else:
            # timestamps are the manifest's native committed_at epoch
            # seconds (what DESCRIBE HISTORY shows), so the SQL form
            # takes the same number — no wall-clock string parsing
            r = manifest_restore(path, as_of=float(m.group(3)))
        _reregister_current(spark, view_name, path)
        return {"statement": "restore", **r}

    m = re.match(
        r"ALTER\s+TABLE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+(.+)$",
        stmt,
        re.I | re.S,
    )
    # ALTER TABLE is a core Spark verb: only statements naming a
    # REGISTERED manifest view are ours — anything else falls through
    # to spark.sql unchanged (the documented contract), unlike the
    # engine-specific verbs above (DESCRIBE HISTORY, OPTIMIZE, VACUUM,
    # RESTORE) which have no vanilla-Spark meaning and refuse loudly
    if m and _unquote_ident(m.group(1)).lower() in _SQL_TABLES:
        from data_management_service_run_etl_imputations_spark.sources import (
            sinks,
        )

        view_name, path = _resolve_sql_table(m.group(1))
        body = m.group(2).strip()
        mm = re.match(
            r"ADD\s+CONSTRAINT\s+(`[^`]+`|[A-Za-z_]\w*)\s+"
            r"CHECK\s*\((.+)\)\s*$",
            body,
            re.I | re.S,
        )
        if mm:
            name = _unquote_ident(mm.group(1))
            sinks.manifest_add_constraint(
                spark, path, name, mm.group(2).strip()
            )
            out = {"statement": "add-constraint", "name": name}
        elif re.match(r"ADD\s+COLUMNS?\b", body, re.I):
            # ALTER TABLE v ADD COLUMN c TYPE  |  ADD COLUMNS (a T, b T)
            # — metadata-only schema evolution (manifest_add_column);
            # old files null-fill the new column(s) on read. Types are
            # parsed by the engine's own SQL-type mapper (decimal(p,s)
            # commas are paren-protected from the column split).
            spec = re.match(
                r"ADD\s+COLUMNS?\s+(.+)$", body, re.I | re.S
            ).group(1).strip()
            if spec.startswith("(") and spec.endswith(")"):
                spec = spec[1:-1]
            added = []
            for item in _split_top(spec, ","):
                im = re.match(
                    r"\s*(`[^`]+`|[A-Za-z_]\w*)\s+(.+?)\s*$", item, re.S
                )
                if not im:
                    raise ValueError(
                        f"cannot parse ADD COLUMN item {item.strip()!r} "
                        "(expected: name TYPE)"
                    )
                cname = _unquote_ident(im.group(1))
                sinks.manifest_add_column(path, cname, im.group(2))
                added.append(cname)
            if not added:
                raise ValueError("ADD COLUMN names no columns")
            out = {"statement": "add-column", "columns": added}
        elif re.match(r"(?:ALTER|CHANGE)\s+COLUMN\b", body, re.I):
            # ALTER TABLE v ALTER COLUMN c TYPE t — metadata-only type
            # WIDENING (manifest_widen_column); lossy changes refuse
            mm = re.match(
                r"(?:ALTER|CHANGE)\s+COLUMN\s+(`[^`]+`|[A-Za-z_]\w*)\s+"
                r"(?:TYPE\s+)?(.+?)\s*$",
                body,
                re.I | re.S,
            )
            if not mm:
                raise ValueError(
                    f"cannot parse ALTER COLUMN clause: {body!r}"
                )
            cname = _unquote_ident(mm.group(1))
            sinks.manifest_widen_column(path, cname, mm.group(2))
            out = {
                "statement": "alter-column",
                "column": cname,
                "type": mm.group(2).strip(),
            }
        else:
            mm = re.match(
                r"DROP\s+CONSTRAINT\s+(`[^`]+`|[A-Za-z_]\w*)\s*$",
                body,
                re.I,
            )
            if mm:
                name = _unquote_ident(mm.group(1))
                sinks.manifest_drop_constraint(path, name)
                out = {"statement": "drop-constraint", "name": name}
            else:
                mm = re.match(
                    r"RENAME\s+COLUMN\s+(`[^`]+`|[A-Za-z_]\w*)\s+TO\s+"
                    r"(`[^`]+`|[A-Za-z_]\w*)\s*$",
                    body,
                    re.I,
                )
                if mm:
                    old = _unquote_ident(mm.group(1))
                    new = _unquote_ident(mm.group(2))
                    sinks.manifest_rename_column(path, old, new)
                    out = {
                        "statement": "rename-column",
                        "old": old,
                        "new": new,
                    }
                else:
                    mm = re.match(
                        r"DROP\s+COLUMN\s+(`[^`]+`|[A-Za-z_]\w*)\s*$",
                        body,
                        re.I,
                    )
                    if not mm:
                        raise ValueError(
                            "unsupported ALTER TABLE clause (have: ADD "
                            "CONSTRAINT name CHECK (expr), DROP "
                            "CONSTRAINT name, ADD COLUMN c TYPE, "
                            "ALTER COLUMN c TYPE t, "
                            "RENAME COLUMN a TO b, "
                            f"DROP COLUMN c): {body!r}"
                        )
                    col = _unquote_ident(mm.group(1))
                    sinks.manifest_drop_column(path, col)
                    out = {"statement": "drop-column", "column": col}
        _reregister_current(spark, view_name, path)
        return out

    return None


def _reregister_current(spark, view_name: str, path: str) -> None:
    """Re-bind a view at the table's state, preserving its registered
    follow-head flag and prune preference — the post-DML/maintenance
    refresh every mutating dispatcher branch uses."""
    t = _SQL_TABLES.get(view_name.lower())
    follow = t[2] if t else False
    pref = t[4] if t else True
    manifest_sql_register(
        spark, view_name, path, follow_head=follow, prune=pref
    )


_ASOF_CAP_PER_VIEW = 8  # evict the oldest alias bindings past this


def _register_asof(
    spark,
    view: str,
    path: str,
    kind: str,
    val: str,
    protect: "set[str] | None" = None,
) -> str:
    """Register (or reuse) a pinned time-travel binding for ``view`` and
    return its name. Alias bindings are capped per base view: past
    ``_ASOF_CAP_PER_VIEW`` the oldest is dropped (a DataFrame already
    returned for it keeps working — it holds the analyzed plan, not the
    temp-view name), so a long-lived session issuing many distinct
    AS-OF queries cannot grow the registry and the per-statement rebind
    scan without bound. ``protect`` names (lowercased) aliases created
    by the CURRENT statement's rewrite — those are exempt from
    eviction, so a single statement with more AS-OF references than the
    cap cannot evict a binding it still needs before ``spark.sql``
    runs. Registry mutation holds ``_SQL_REG_LOCK`` so the eviction
    cannot interleave with a concurrent register/rebind (ADVICE r9)."""
    if kind == "VERSION":
        name = f"{view}__asof_v{int(val)}"
        manifest_sql_register(spark, name, path, version=int(val))
    else:
        ts = float(val)
        name = f"{view}__asof_t{str(ts).replace('.', '_').replace('-', 'm')}"
        manifest_sql_register(spark, name, path, as_of=ts)
    keep = {name.lower(), *(protect or ())}
    with _SQL_REG_LOCK:
        prefix = f"{view.lower()}__asof_"
        aliases = [
            k
            for k in _SQL_TABLES
            if k.startswith(prefix) and k not in keep
        ]
        while len(aliases) >= _ASOF_CAP_PER_VIEW:
            old = aliases.pop(0)  # dict preserves insertion order
            victim = _SQL_TABLES.pop(old)[0]
            _VIEW_DIRTY.discard(old)
            try:
                spark.catalog.dropTempView(victim)
            except Exception:  # noqa: BLE001 — already gone
                pass
    return name


def _rewrite_time_travel(spark, stmt: str) -> str:
    """Delta-parity SQL time travel: rewrite ``v VERSION AS OF n`` /
    ``v TIMESTAMP AS OF epoch`` references to registered manifest views
    into pinned bindings (``v__asof_vN`` / ``v__asof_tE``), so
    ``manifest_sql("SELECT … FROM v VERSION AS OF 3 …")`` reads version
    3 while plain ``v`` references in the same statement keep reading
    the current binding. One regex pass per view whose alternation
    consumes quoted string literals FIRST, so a literal containing
    "v VERSION AS OF 1" is never rewritten while a QUOTED value after
    ``AS OF`` ('1712345678.5') still is. A backtick-quoted reference
    (```v` VERSION AS OF 3``) rewrites the same as the bare name —
    the rest of the dispatcher accepts backticked identifiers, so this
    pass must too (ADVICE r9). The lookbehind excludes ``.`` so a
    qualified reference to someone else's table whose last segment
    collides with a view name (``cat.v VERSION AS OF 5``) is left
    alone. The timestamp is the manifest's native ``committed_at``
    epoch seconds — the same number DESCRIBE HISTORY shows. Aliases
    registered while rewriting ONE statement are exempt from the
    per-view alias-cap eviction until the statement's rewrite is
    complete (``protect``)."""
    import re

    if not _SQL_TABLES or not re.search(
        r"\b(VERSION|TIMESTAMP)\s+AS\s+OF\b", stmt, re.I
    ):
        return stmt
    protect: "set[str]" = set()
    for key, t in list(_SQL_TABLES.items()):
        view, path = t[0], t[1]
        v_esc = re.escape(view)
        pat = re.compile(
            r"'(?:[^']|'')*'|\"[^\"]*\"|(?<![\w`.])"
            + rf"(?:`{v_esc}`|{v_esc})"
            + r"\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|[\w.-]+)",
            re.I,
        )

        def sub(m):
            if m.group(1) is None:
                return m.group(0)  # a quoted literal — untouched
            val = m.group(2).strip("'")
            name = _register_asof(
                spark, view, path, m.group(1).upper(), val,
                protect=protect,
            )
            protect.add(name.lower())
            return name

        stmt = pat.sub(sub, stmt)
    return stmt


def _rebind_referenced_views(spark, stmt: str) -> None:
    """Give every registered manifest view the statement references a
    binding that is SOUND for this statement, then mark it used.

    Two rebind triggers:
    - the binding is DIRTY (a previous statement ran against it — its
      JVM-side scan cache may hold that statement's pruned plan, which
      Spark would serve to any scan here that pushes no filters; see
      ManifestBatchReader.prune) or, for follow_head views, the table
      head moved (one O(delta-chain) directory listing, no file-list
      hydration — an unchanged quiescent table on a clean binding pays
      only metadata stats);
    - the statement references the view MORE THAN ONCE: two scans of
      one relation instance can mix filter contexts through that same
      shared cache WITHIN the statement, so the binding is registered
      with prune='false' for this statement (every predicate still
      applied by Spark — correct, just unpruned) and marked dirty so
      the next single-reference statement restores a pruning binding.

    Native bindings (:func:`_native_read_frame`) hold neither hazard —
    their file list is fixed in the plan and has no Python scan cache —
    so only a moved follow_head re-binds them.

    Reference detection is a word-boundary name match OUTSIDE quoted
    regions — a false positive (the name used as a column, say) merely
    triggers a harmless rebind; a miss is impossible for a real table
    reference because SQL table identifiers are exactly the registered
    word. Parenthesized regions are KEPT (subqueries reference views),
    which is why this is a regex strip rather than _scan_top (that also
    drops paren bodies)."""
    import re

    if not _SQL_TABLES:
        return
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _resolve_version,
    )

    text = re.sub(r"'(?:[^']|'')*'|\"[^\"]*\"", " ", stmt)
    with _SQL_REG_LOCK:
        text, used_views = _expand_engine_views(text)
        _rebind_referenced_views_locked(spark, text)
        # Re-create every referenced engine VIEW from its stored text,
        # ascending creation order (dependencies first): a temp view
        # froze its analyzed plan at creation, so after the rebind above
        # its base relations may be stale instances — re-creation is
        # what makes a view exactly as current as its base tables.
        for key in sorted(used_views, key=lambda k: _SQL_VIEWS[k][2]):
            name, vsql, _s = _SQL_VIEWS[key]
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW `{name}` AS {vsql}"
            )


def _references_engine_name(text: str) -> bool:
    """True when the (quote-stripped) text word-matches any registered
    manifest table or engine view name — the routing test for verbs
    that are ours only when they touch engine state (CREATE VIEW)."""
    import re

    t = re.sub(r"'(?:[^']|'')*'|\"[^\"]*\"", " ", text)
    with _SQL_REG_LOCK:
        names = [v[0] for v in _SQL_TABLES.values()] + [
            v[0] for v in _SQL_VIEWS.values()
        ]
    return any(
        re.search(
            r"(?<![\w`])" + re.escape(n) + r"(?![\w`])", t, re.I
        )
        for n in names
    )


def _expand_engine_views(text: str) -> "tuple[str, set]":
    """Append the (quote-stripped) definitions of every engine view the
    text references — transitively, to a fixpoint — so the rebind pass
    sees THROUGH views to the manifest tables they scan. A view
    referenced n times appends its body min(n, 2) times: the rebind
    pass treats a table seen twice as multi-referenced (prune=False for
    the statement), and counts beyond 2 change nothing. Caller holds
    ``_SQL_REG_LOCK``. Returns (expanded text, referenced view keys)."""
    import re

    used: set = set()
    if not _SQL_VIEWS:
        return text, used
    changed = True
    while changed:
        changed = False
        for key, (name, vsql, _s) in list(_SQL_VIEWS.items()):
            if key in used:
                continue
            n = len(
                re.findall(
                    r"(?<![\w`])" + re.escape(name) + r"(?![\w`])",
                    text,
                    re.I,
                )
            )
            if n:
                used.add(key)
                body = re.sub(r"'(?:[^']|'')*'|\"[^\"]*\"", " ", vsql)
                text = text + " " + " ".join([body] * min(n, 2))
                changed = True
    return text, used


def _rebind_referenced_views_locked(spark, text: str) -> None:
    import re

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _resolve_version,
    )

    for key, t in list(_SQL_TABLES.items()):
        view, path, follow, bound_v, pref, native = t
        n_refs = len(
            re.findall(
                r"(?<![\w`])" + re.escape(view) + r"(?![\w`])", text, re.I
            )
        )
        if not n_refs:
            continue
        moved = follow and _resolve_version(path, None) != bound_v
        if native and not moved:
            # a fixed file list with no Python scan cache: sound for any
            # number of references and filter contexts
            continue
        want_prune = pref and n_refs == 1
        if key in _VIEW_DIRTY or moved or want_prune != pref:
            if follow:
                manifest_sql_register(
                    spark, view, path, follow_head=True, prune=want_prune
                )
            else:
                manifest_sql_register(
                    spark,
                    view,
                    path,
                    version=bound_v if bound_v > 0 else None,
                    prune=want_prune,
                )
            if want_prune != pref:
                # the no-prune binding is for THIS statement only: keep
                # the registered preference and force a rebind next time
                nt = _SQL_TABLES[key]
                _SQL_TABLES[key] = (*nt[:4], pref, nt[5])
        # this statement may push filters through the binding — the
        # next statement referencing the view must start from a fresh
        # relation (or one whose cache provably matches its context).
        # prune=False bindings never bake a filter context into the
        # cached scan, so they stay clean forever (no per-statement
        # rebind tax on a no-prune workload); nor do native ones, which
        # a moved head may just have produced
        if pref and not _SQL_TABLES[key][5]:
            _VIEW_DIRTY.add(key)


def manifest_sql(spark, statement: str, mode: str | None = None):
    """Execute ONE SQL statement against registered manifest views,
    routing the DML verbs to the table's transactional engines:

    - ``DELETE FROM v [WHERE cond]`` → :func:`sinks.manifest_delete_where`
      (default ``mode='mor'``: positional sidecar, zero rewrite)
    - ``UPDATE v SET c = expr[, …] [WHERE cond]`` →
      :func:`sinks.manifest_update_where` (default ``mode='cow'``)
    - ``MERGE INTO v [AS] t USING src [AS] s ON t.k = s.k [AND …]
      WHEN MATCHED [AND cond] THEN DELETE |
      WHEN MATCHED [AND cond] THEN UPDATE SET c = expr[, …] | SET * |
      WHEN NOT MATCHED THEN INSERT * | INSERT (c1, …) VALUES (e1, …)``
      → :func:`sinks.manifest_merge` (``src`` is any SQL-visible
      relation: a temp view or a parenthesized subquery; ON must be a
      conjunction of same-named equi-comparisons — they become the
      merge keys; a column-list INSERT must name the partition columns
      and fills unlisted columns with NULL)
    - ``INSERT INTO v [(c1, …)] SELECT …|VALUES …`` → a staged append
      (:func:`_fast_staged_append`) with the source aligned to the
      CURRENT table schema (positional without a column list,
      ANSI-style; listed columns map by name, unlisted ones fill NULL —
      except partition columns, which must be listed);
      ``INSERT OVERWRITE v SELECT …`` → the writer's dynamic partition
      overwrite (replaces exactly the partitions present in the data)
    - utility statements (Delta parity): ``DESCRIBE HISTORY v`` (a
      DataFrame, newest first), ``OPTIMIZE v [ZORDER BY (c1, …)]``,
      ``VACUUM v [RETAIN n VERSIONS | RETAIN n HOURS]``,
      ``ANALYZE TABLE v COMPUTE STATISTICS FOR COLUMNS c1, …``,
      ``CREATE TABLE name LOCATION 'path' [PARTITIONED BY (cols)] AS
      SELECT …`` (CTAS through the staged append, registered
      ``follow_head``; PARTITIONED BY optional — absent creates an
      UNPARTITIONED table), ``CREATE TABLE name (col TYPE, …) LOCATION
      'path' [PARTITIONED BY (cols)]`` (empty metadata-only creation),
      ``RESTORE [TABLE] v TO VERSION|TIMESTAMP AS OF
      n``, and ``ALTER TABLE v ADD CONSTRAINT name CHECK (expr) | DROP
      CONSTRAINT name | ADD COLUMN c TYPE | ADD COLUMNS (…) |
      ALTER COLUMN c TYPE t | RENAME COLUMN a TO b | DROP COLUMN c`` —
      see
      :func:`_dispatch_util_statement`
    - table lifecycle (r11): ``CREATE OR REPLACE TABLE name LOCATION
      'path' [PARTITIONED BY (cols)] AS SELECT …`` (atomic head swap),
      ``TRUNCATE TABLE v`` (whole-table metadata delete, history
      preserved), ``DROP TABLE [IF EXISTS] v [PURGE]``, ``SHOW TABLES``
      (session registry ∪ attached catalog, ``kind`` column
      distinguishes tables from views), ``ATTACH WAREHOUSE
      'dir'`` / ``DETACH WAREHOUSE`` (durable cross-session catalog,
      :mod:`catalog_store`; CREATE/DROP mirror into it while attached)
    - lifecycle round 12: ``ALTER TABLE old RENAME TO new``
      (registry-level re-point, location untouched; durable catalog
      re-points in ONE snapshot commit; renames never overwrite),
      ``CREATE [OR REPLACE] VIEW name AS q`` / ``DROP VIEW [IF EXISTS]
      name`` (views as stored DEFINITIONS — re-created after each
      statement's rebind so they stay exactly as current as their base
      tables; persisted in the attached catalog and re-created by
      ``manifest_catalog_attach``), and ``CREATE TABLE t SHALLOW CLONE
      s [VERSION|TIMESTAMP AS OF …] [LOCATION 'p']`` (zero-copy clone
      via :func:`sinks.manifest_clone`)

    Non-DML statements also get SQL TIME TRAVEL: ``… FROM v VERSION AS
    OF n`` / ``v TIMESTAMP AS OF epoch`` references rewrite to pinned
    bindings (Delta's syntax; the epoch is ``committed_at`` from
    DESCRIBE HISTORY), so one statement can join the current snapshot
    against an old one. DML verbs refuse time-travel aliases loudly.

    Anything else (SELECT, SHOW, …) falls through to ``spark.sql``
    unchanged — after re-binding any referenced ``follow_head`` views
    whose table head moved (see :func:`manifest_sql_register`), so a
    head-following view is always-current through this entry point.
    After a DML verb commits, the view is RE-REGISTERED at the new head (the
    snapshot-pinned view contract would otherwise hide your own write —
    same behavior as Delta, where DML invalidates cached snapshots).
    DML returns the engine's op-count dict (plus ``statement``);
    fall-through returns the DataFrame. Conditions and assignments are
    passed VERBATIM to the engines, which evaluate them with Spark's
    expression parser — the router never interprets expressions, so
    pruning behavior (partition probes, zone maps) is exactly the
    Python API's. Remaining refusals are loud (duplicate clauses,
    non-equi ON conjuncts, unknown columns)."""
    import json
    import re

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _latest_manifest,
        _partition_cols,
        manifest_delete_where,
        manifest_merge,
        manifest_update_where,
    )

    stmt = statement.strip().rstrip(";").strip()
    verb_m = re.match(r"(DELETE|UPDATE|MERGE|INSERT)\b", stmt, re.I)
    # Time-travel references become pinned bindings BEFORE the rebind
    # pass, so the rewritten names participate in per-statement
    # soundness like any other registered view. The TARGET of a
    # mutating or utility verb refuses time travel LOUDLY (a "VACUUM v
    # VERSION AS OF 3" must never vacuum the head through an alias);
    # everything after the target — a MERGE USING source, an INSERT
    # source query — rewrites normally (Delta supports time-travel
    # sources in DML).
    tgt_m = re.match(
        r"(?:DELETE\s+FROM|UPDATE|MERGE\s+INTO|"
        r"INSERT\s+(?:INTO|OVERWRITE)(?:\s+TABLE)?|OPTIMIZE|VACUUM|"
        r"RESTORE(?:\s+TABLE)?|ALTER\s+TABLE|ANALYZE\s+TABLE|"
        r"TRUNCATE\s+TABLE|DROP\s+TABLE(?:\s+IF\s+EXISTS)?|"
        r"DESCRIBE\s+(?:HISTORY|DETAIL)|SHOW\s+PARTITIONS)\s+"
        r"(`[^`]+`|[A-Za-z_][\w.]*)",
        stmt,
        re.I,
    )
    if tgt_m:
        if re.match(
            r"\s+(VERSION|TIMESTAMP)\s+AS\s+OF\b",
            stmt[tgt_m.end():],
            re.I,
        ):
            raise ValueError(
                "time travel cannot target the table of a mutating or "
                "utility statement — only read references support "
                "VERSION/TIMESTAMP AS OF"
            )
        stmt = stmt[: tgt_m.end()] + _rewrite_time_travel(
            spark, stmt[tgt_m.end():]
        )
    else:
        stmt = _rewrite_time_travel(spark, stmt)
    # EVERY statement next: any verb can scan registered views (a
    # SELECT fall-through, a MERGE USING source, an INSERT source, a
    # CTAS body) — each referenced view gets a binding that is sound
    # for this statement's filter contexts
    _rebind_referenced_views(spark, stmt)
    util = _dispatch_util_statement(spark, stmt)
    if util is not None:
        return util
    if not verb_m:
        return spark.sql(stmt)
    verb = verb_m.group(1).upper()

    def refresh(view_name: str, path: str) -> None:
        _reregister_current(spark, view_name, path)

    if verb == "DELETE":
        m = re.match(
            r"DELETE\s+FROM\s+(`[^`]+`|[A-Za-z_][\w.]*)\s*(.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse DELETE statement: {stmt!r}")
        view_name, path = _resolve_sql_table(m.group(1))
        rest = m.group(2).strip()
        cond = "true"
        if rest:
            wm = re.match(r"WHERE\s+(.*)$", rest, re.I | re.S)
            if not wm:
                raise ValueError(
                    f"unexpected trailing clause in DELETE: {rest!r}"
                )
            cond = wm.group(1).strip()
        r = manifest_delete_where(spark, path, cond, mode=mode or "mor")
        refresh(view_name, path)
        return {"statement": "delete", **r}

    if verb == "INSERT":
        m = re.match(
            r"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?"
            r"(`[^`]+`|[A-Za-z_][\w.]*)\s*(.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT statement: {stmt!r}")
        overwrite = m.group(1).upper() == "OVERWRITE"
        view_name, path = _resolve_sql_table(m.group(2))
        rest = m.group(3).strip()
        cols: "list[str] | None" = None
        if rest.startswith("("):
            # a leading balanced parens group is a COLUMN LIST iff its
            # body is a bare comma list of identifiers — otherwise it is
            # the source query itself ((SELECT …) is valid). The depth
            # scan is QUOTE-AWARE: a paren inside a string literal
            # (VALUES ('(', ')')) must not unbalance the count — the
            # same skip rules as _scan_top, inline because we need the
            # closing index, not just top-level characters.
            depth, end, i, n = 0, -1, 0, len(rest)
            while i < n:
                ch = rest[i]
                if ch in ("'", '"', "`"):
                    q = ch
                    i += 1
                    while i < n:
                        if rest[i] == q:
                            if (
                                q == "'"
                                and i + 1 < n
                                and rest[i + 1] == "'"
                            ):
                                i += 2
                                continue
                            break
                        i += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
                i += 1
            body = rest[1:end] if end > 0 else ""
            if end > 0 and re.fullmatch(
                r"\s*(`[^`]+`|[A-Za-z_]\w*)(\s*,\s*(`[^`]+`|[A-Za-z_]\w*))*\s*",
                body,
            ):
                cols = [_unquote_ident(c) for c in body.split(",")]
                if len(set(c.lower() for c in cols)) != len(cols):
                    raise ValueError(
                        f"duplicate column in INSERT column list: {cols}"
                    )
                rest = rest[end + 1 :].strip()
        if not rest:
            raise ValueError("INSERT has no source query")
        src = spark.sql(rest)  # SELECT / VALUES / WITH / TABLE / (…)

        # resolve the CURRENT table schema (never the view's possibly
        # pinned snapshot): the writer refuses any drift, so the source
        # is aligned here — store-assignment casts, table column order
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
            _partition_cols,
        )

        t_version, t_content = _latest_manifest(path)
        if t_version == 0:
            raise ValueError(f"manifest table at {path} does not exist")
        tschema = StructType.fromJson(json.loads(t_content["schema_json"]))
        pcols_t = _partition_cols(t_content)
        if cols is None:
            if len(src.columns) != len(tschema.fields):
                raise ValueError(
                    f"INSERT is positional without a column list: source "
                    f"has {len(src.columns)} columns, table "
                    f"{view_name!r} has {len(tschema.fields)}"
                )
            pairs = list(zip(range(len(src.columns)), tschema.fields))
        else:
            by_name = {f.name.lower(): f for f in tschema.fields}
            unknown = [c for c in cols if c.lower() not in by_name]
            if unknown:
                raise ValueError(
                    f"INSERT column(s) {unknown} do not exist in "
                    f"{view_name!r} (have "
                    f"{[f.name for f in tschema.fields]})"
                )
            if len(src.columns) != len(cols):
                raise ValueError(
                    f"INSERT column list names {len(cols)} columns but "
                    f"the source query produces {len(src.columns)}"
                )
            listed = {c.lower() for c in cols}
            gen_t = t_content.get("generated_cols") or {}
            missing_p = [
                p
                for p in pcols_t
                if p.lower() not in listed and p not in gen_t
            ]
            if missing_p:
                raise ValueError(
                    f"INSERT column list must include the partition "
                    f"column(s) {missing_p} — a NULL partition key is "
                    "refused, not defaulted"
                )
            src_of = {c.lower(): i for i, c in enumerate(cols)}
            pairs = [
                (src_of.get(f.name.lower()), f) for f in tschema.fields
            ]
        # source columns are addressed by POSITION: rename them all to
        # safe placeholders first — generated names like
        # ``CAST(0.0 AS DOUBLE)`` contain dots/parens that by-name
        # resolution (F.col and DataFrame.__getitem__ alike) mis-parses
        safe = src.toDF(*[f"__ins_c{i}" for i in range(len(src.columns))])
        aligned = safe.select(
            *[
                (
                    F.col(f"__ins_c{i}").cast(f.dataType)
                    if i is not None
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for i, f in pairs
            ]
        )
        # feature routing: writer DataSource v1 refuses CHECK constraints
        # (needs the observe pass), column mapping, generated partition
        # columns, and non-parquet tables — those route through the
        # full-featured Python engines (manifest_insert /
        # manifest_replace_partitions) so SQL INSERT works on EVERY
        # table state SQL DDL can produce; plain tables take the
        # staged append
        featured = bool(
            t_content.get("constraints")
            or t_content.get("col_ids")
            or t_content.get("generated_cols")
            or t_content.get("fmt", "parquet") != "parquet"
        )
        if featured:
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _key_cols,
                manifest_insert,
                manifest_replace_partitions,
            )

            t_fmt = t_content.get("fmt", "parquet")
            if overwrite:
                # dynamic overwrite replaces the partitions PRESENT IN
                # THE STAGED DATA: apply generated partition columns
                # first (the engine overwrites caller values with the
                # recorded expression, so pre-generation values would
                # name the wrong partitions) and checkpoint so one
                # evaluation of the source feeds both the partition
                # list and the staging write (a nondeterministic
                # source must not disagree with itself)
                staged_src = aligned
                gen_over = t_content.get("generated_cols") or {}
                if gen_over:
                    from data_management_service_run_etl_imputations_spark.sources.sinks import (
                        _apply_generated,
                    )

                    staged_src = _apply_generated(aligned, gen_over)
                staged_src = staged_src.localCheckpoint()
                values = [
                    tuple(r)
                    for r in staged_src.select(*_key_cols(pcols_t))
                    .distinct()
                    .collect()
                ]
                r = manifest_replace_partitions(
                    staged_src,
                    path,
                    pcols_t if len(pcols_t) != 1 else pcols_t[0],
                    values,
                    fmt=t_fmt,
                )
                refresh(view_name, path)
                return {
                    "statement": "insert",
                    "mode": "dynamic-overwrite",
                    **r,
                }
            r = manifest_insert(aligned, path, fmt=t_fmt)
            refresh(view_name, path)
            return {
                "statement": "insert",
                "mode": "append",
                "rows_inserted": r["inserted"],
            }
        opts = {"path": path}
        if overwrite:
            opts["partitionOverwriteMode"] = "dynamic"
        _fast_staged_append(aligned, path, opts, overwrite=overwrite)
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            manifest_history,
        )

        op_metrics = manifest_history(path)[-1].get("op_metrics", {})
        refresh(view_name, path)
        return {
            "statement": "insert",
            "mode": "dynamic-overwrite" if overwrite else "append",
            "rows_inserted": op_metrics.get("rows_appended"),
            "files_added": op_metrics.get("files_added"),
        }

    if verb == "UPDATE":
        m = re.match(
            r"UPDATE\s+(`[^`]+`|[A-Za-z_][\w.]*)\s+SET\s+(.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse UPDATE statement: {stmt!r}")
        view_name, path = _resolve_sql_table(m.group(1))
        body = m.group(2)
        wi = _find_kw_top(body, "WHERE")
        set_part = body[:wi] if wi >= 0 else body
        cond = body[wi + 5 :].strip() if wi >= 0 else "true"
        assignments = _parse_assignments(set_part)
        r = manifest_update_where(
            spark, path, assignments, cond, mode=mode or "cow"
        )
        refresh(view_name, path)
        return {"statement": "update", **r}

    # ---- MERGE INTO --------------------------------------------------
    ui = _find_kw_top(stmt, "USING")
    oi = _find_kw_top(stmt, "ON", ui + 5) if ui >= 0 else -1
    wi = _find_kw_top(stmt, "WHEN", oi + 2) if oi >= 0 else -1
    if min(ui, oi, wi) < 0:
        raise ValueError(
            "cannot parse MERGE statement (need USING … ON … WHEN …): "
            f"{stmt!r}"
        )
    head = stmt[:ui]
    hm = re.match(
        r"MERGE\s+INTO\s+(`[^`]+`|[A-Za-z_][\w.]*)"
        r"(?:\s+AS)?(?:\s+(`[^`]+`|[A-Za-z_]\w*))?\s*$",
        head,
        re.I | re.S,
    )
    if not hm:
        raise ValueError(f"cannot parse MERGE INTO target: {head.strip()!r}")
    view_name, path = _resolve_sql_table(hm.group(1))
    t_alias = _unquote_ident(hm.group(2)) if hm.group(2) else None

    using_part = stmt[ui + 5 : oi].strip()
    um = re.match(
        r"(\(.*\)|`[^`]+`|[A-Za-z_][\w.]*)(?:\s+AS)?"
        r"(?:\s+(`[^`]+`|[A-Za-z_]\w*))?\s*$",
        using_part,
        re.S,
    )
    if not um:
        raise ValueError(f"cannot parse USING source: {using_part!r}")
    source_rel = um.group(1)
    s_alias = _unquote_ident(um.group(2)) if um.group(2) else None
    source = spark.sql(f"SELECT * FROM {source_rel} AS __manifest_src__")

    # alias → canonical t/s rewriting for every expression we forward
    alias_map: dict[str, str] = {}
    if t_alias and t_alias.lower() != "t":
        alias_map[t_alias.lower()] = "t"
    if s_alias and s_alias.lower() != "s":
        alias_map[s_alias.lower()] = "s"
    # unaliased sides may be qualified by their relation name
    raw_t = _unquote_ident(hm.group(1)).lower()
    if not t_alias and raw_t != "t":
        alias_map[raw_t] = "t"
    if not s_alias and not source_rel.startswith("("):
        raw_s = _unquote_ident(source_rel).lower()
        if raw_s != "s":
            alias_map[raw_s] = "s"

    # merge keys from the ON conjunction: same-named equi-pairs only
    on_part = stmt[oi + 2 : wi]
    keys: list[str] = []
    for conj in _split_top(on_part, "AND"):
        cm = re.match(
            r"\s*(`[^`]+`|[A-Za-z_]\w*)\s*\.\s*(`[^`]+`|[A-Za-z_]\w*)"
            r"\s*=\s*(`[^`]+`|[A-Za-z_]\w*)\s*\.\s*(`[^`]+`|[A-Za-z_]\w*)\s*$",
            conj,
            re.S,
        )
        if not cm:
            raise ValueError(
                f"MERGE ON conjunct {conj.strip()!r} is not "
                "alias.col = alias.col — only equi-key joins route to "
                "manifest_merge"
            )
        q1, c1 = (_unquote_ident(cm.group(1)), _unquote_ident(cm.group(2)))
        q2, c2 = (_unquote_ident(cm.group(3)), _unquote_ident(cm.group(4)))
        sides = {
            alias_map.get(q1.lower(), q1.lower()): c1,
            alias_map.get(q2.lower(), q2.lower()): c2,
        }
        if set(sides) != {"t", "s"}:
            raise ValueError(
                f"MERGE ON conjunct {conj.strip()!r} must compare the "
                "target to the source"
            )
        if sides["t"] != sides["s"]:
            raise ValueError(
                f"MERGE keys must be same-named on both sides "
                f"(got t.{sides['t']} = s.{sides['s']}); alias the "
                "source column in USING"
            )
        keys.append(sides["t"])

    version, content = _latest_manifest(path)
    if version == 0:
        raise ValueError(f"manifest table at {path} does not exist")
    pcols = _partition_cols(content)
    tcols = [
        f["name"] for f in json.loads(content["schema_json"])["fields"]
    ]

    matched_update: "dict[str, str] | None" = None
    matched_update_condition: "str | None" = None
    matched_delete: "str | None" = None
    insert_not_matched = False
    insert_values: "dict[str, str] | None" = None
    for clause in _split_top(stmt[wi:], "WHEN")[1:]:
        c = clause.strip()
        nm = re.match(
            r"NOT\s+MATCHED(?:\s+BY\s+TARGET)?\s+THEN\s+INSERT\s+(.*)$",
            c,
            re.I | re.S,
        )
        if nm:
            ins = nm.group(1).strip()
            if ins != "*":
                # column-list INSERT: (c1, …) VALUES (e1, …) — column
                # count must match the value count; expressions reach
                # manifest_merge verbatim (aliases rewritten to s)
                im = re.match(
                    r"\((.*?)\)\s*VALUES\s*\((.*)\)\s*$", ins, re.I | re.S
                )
                if not im:
                    raise ValueError(
                        "cannot parse MERGE INSERT action (expected "
                        f"INSERT * or INSERT (cols) VALUES (exprs)): "
                        f"{ins!r}"
                    )
                ins_cols = [
                    _unquote_ident(x) for x in _split_top(im.group(1), ",")
                ]
                ins_exprs = [
                    x.strip() for x in _split_top(im.group(2), ",")
                ]
                if len(ins_cols) != len(ins_exprs):
                    raise ValueError(
                        f"MERGE INSERT names {len(ins_cols)} columns but "
                        f"gives {len(ins_exprs)} values"
                    )
                if len({x.lower() for x in ins_cols}) != len(ins_cols):
                    raise ValueError(
                        f"duplicate column in MERGE INSERT list: {ins_cols}"
                    )
                insert_values = {
                    col: _rewrite_alias(expr, alias_map)
                    for col, expr in zip(ins_cols, ins_exprs)
                }
            insert_not_matched = True
            continue
        ti = _find_kw_top(c, "THEN")
        mm = re.match(r"MATCHED\s*(?:AND\s+(.*))?$", c[:ti].strip(), re.I | re.S)
        if ti < 0 or not mm:
            raise ValueError(f"cannot parse MERGE WHEN clause: {c!r}")
        cond = (mm.group(1) or "").strip()
        action = c[ti + 4 :].strip()
        if re.match(r"DELETE\s*$", action, re.I):
            if matched_delete is not None:
                raise ValueError("duplicate WHEN MATCHED … DELETE clause")
            matched_delete = (
                _rewrite_alias(cond, alias_map) if cond else "true"
            )
            continue
        am = re.match(r"UPDATE\s+SET\s+(.*)$", action, re.I | re.S)
        if not am:
            raise ValueError(f"cannot parse MERGE action: {action!r}")
        if matched_update is not None:
            raise ValueError("duplicate WHEN MATCHED … UPDATE clause")
        if cond:
            matched_update_condition = _rewrite_alias(cond, alias_map)
        set_part = am.group(1).strip()
        if set_part == "*":
            matched_update = {
                col: f"s.{col}"
                for col in tcols
                if col not in keys and col not in pcols
            }
        else:
            matched_update = {
                col: _rewrite_alias(expr, alias_map)
                for col, expr in _parse_assignments(set_part).items()
            }
    if matched_update is None and matched_delete is None and not insert_not_matched:
        raise ValueError("MERGE has no WHEN clauses")
    r = manifest_merge(
        source,
        path,
        keys,
        pcols if len(pcols) != 1 else pcols[0],
        matched_update=matched_update,
        matched_delete=matched_delete,
        insert_not_matched=insert_not_matched,
        matched_update_condition=matched_update_condition,
        insert_values=insert_values,
    )
    refresh(view_name, path)
    return {"statement": "merge", **r}


def manifest_sql_script(spark, script: str, mode: str | None = None) -> list:
    """Execute a multi-statement SQL SCRIPT: strip comments (``-- …``
    and ``/* … */``, string-literal-aware — see
    :func:`_strip_sql_comments`), split on TOP-LEVEL semicolons
    (quote- and paren-aware — a ``;`` inside a string literal, a
    comment, or a subquery never splits), route each statement through
    :func:`manifest_sql` in order, and return the per-statement results
    (DataFrames for reads, op-count dicts for DML/utility verbs).

    No transaction spans statements: each DML verb commits its own
    manifest version independently, exactly as running the statements
    one at a time — the same contract Delta gives a SQL script. A
    failing statement raises immediately; earlier statements' commits
    stand (partial-script recovery is the caller's re-run, which the
    engines' idempotence hooks — txn tokens, MERGE — support)."""
    outs = []
    for stmt in _split_top(_strip_sql_comments(script), ";"):
        if stmt.strip():
            outs.append(manifest_sql(spark, stmt, mode=mode))
    return outs
