"""Spark Python DataSource for plateau datasets: the ``plateau`` format.

Registers the dataset layer as a first-class Spark (4.x) data source:

    spark.dataSource.register(PlateauDataSource)
    df = (spark.read.format("plateau")
          .option("store", "/path/to/store")
          .option("dataset", "my_dataset").load())
    stream = (spark.readStream.format("plateau")
              .option("store", "...").option("dataset", "...").load())

Why this exists next to ``read_table``: ``read_table`` is the PRIMARY
path (native parquet scan, whole-stage codegen, zero Python in the data
plane). The data source is the *interop* surface — it makes datasets
addressable from plain ``spark.read``/``readStream`` pipelines, SQL
(`CREATE TABLE ... USING plateau` style tooling), and crucially gives a
STREAMING reader: a dataset becomes a tail-followable source where each
micro-batch is exactly the set of partitions added by new commits
(offsets are commit-file partition snapshots, so only COMMITTED files
are ever visible — in-flight staged writes cannot leak into a batch).

Filter pushdown (batch): Spark hands the reader its conjunctive filter
list; supported comparisons are translated into the same DNF predicate
model the native path uses and drive ``plan_scan`` — partition-key
pruning, zone maps, and Bloom sidecars all apply, so a selective filter
skips whole files before a single row is read. ALL filters are returned
as "unsupported" so Spark re-applies them row-level after the scan.
File pruning from PUSHED filters is OPT-IN
(``.option("filter_pushdown", "true")``, one ``.load()`` per query):
Spark 4.1 caches one planned partition list per loaded frame and only
re-plans queries whose filters serialize to Python, so per-query
pruning on a REUSED frame can serve a later bare-count/OR query from a
stale pruned plan (see ``PlateauBatchReader``). The always-safe pruning
tier is ``.option("predicates", '<json DNF>')`` — relation-constant, so
every cached-plan reuse is consistent.

Scale notes: partition planning is driver-side metadata work (same as
the native path); each file is one ``InputPartition`` read by a Python
worker via pyarrow (Arrow batches, zero-copy into Spark). Python-worker
throughput is below the JVM parquet reader — for heavy analytics use
``read_table``; the data source targets interop and streaming
tail-follow. Parquet payloads only (the dominant format; csv/json/orc
datasets: use ``read_table``).

Reference parity: the reference exposes datasets to dask/pandas as
first-class collections (read_dataset_as_ddf,
/root/reference/plateau/io/dask/dataframe.py); this is the Spark-4
analog of "the dataset is a native collection of the engine".
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.types import StructType

_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}


def _filters_to_conjunction(filters) -> list[tuple[str, str, Any]]:
    """Supported Spark filters → one DNF conjunction (the filter list is
    implicitly AND'ed). Unsupported/nested filters are simply skipped —
    pruning with a SUBSET of the conjunction is still sound (it can only
    keep more files), and Spark re-applies everything row-level."""
    conj: list[tuple[str, str, Any]] = []
    for f in filters:
        op = _OPS.get(type(f))
        if op is not None and len(f.attribute) == 1:
            value = list(f.value) if op == "in" else f.value
            conj.append((f.attribute[0], op, value))
        elif isinstance(f, IsNull) and len(f.attribute) == 1:
            conj.append((f.attribute[0], "==", None))
        elif (
            isinstance(f, StringStartsWith)
            and len(f.attribute) == 1
            and f.value
        ):
            # prefix → half-open range: usable by min/max zone maps and
            # sorted partition keys (same trick as RDBMS LIKE 'p%')
            col, prefix = f.attribute[0], f.value
            conj.append((col, ">=", prefix))
            if ord(prefix[-1]) < 0x10FFFF:  # no successor past the last code point
                conj.append((col, "<", prefix[:-1] + chr(ord(prefix[-1]) + 1)))
    return conj


_OPTION_PREDICATE_OPS = {
    "==", "=", "!=", "<", "<=", ">", ">=", "in", "not in", "is distinct from",
}


def _dnf_to_arrow_expr(predicates):
    """pyarrow expression twin of ``predicates._literal_to_column`` for
    the ops the ``predicates=`` option supports — same NULL semantics
    (unknown → row dropped; ``== None`` → IS NULL; an ``in`` list
    containing None keeps NULL rows)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    def lit_expr(col, op, val):
        f = pads.field(col)
        if op in ("==", "="):
            return f.is_null() if val is None else f == val
        if op == "!=":
            return ~f.is_null() if val is None else f != val
        if op == "<=":
            return f <= val
        if op == ">=":
            return f >= val
        if op == "<":
            return f < val
        if op == ">":
            return f > val
        if op == "is distinct from":
            # NULL-safe inequality (twin of ~eqNullSafe): a NULL row IS
            # distinct from any non-NULL literal, and only a NULL row is
            # NOT distinct from a NULL literal
            return ~f.is_null() if val is None else (f.is_null() | (f != val))
        if op in ("in", "not in"):
            values = list(val)
            has_null = any(v is None for v in values)
            values = [v for v in values if v is not None]
            if not values:
                if op == "in":
                    return f.is_null() if has_null else pc.scalar(False)
                # `not in [None]` keeps non-NULL rows; `not in []` keeps
                # everything INCLUDING NULLs (the Spark twin's ~F.lit(False)
                # does not reference the column)
                return ~f.is_null() if has_null else pc.scalar(True)
            # mask NULLs explicitly: Spark's isin(NULL row) is UNKNOWN
            # (dropped), pyarrow's null behavior must not decide this
            if op == "in":
                base = f.isin(values) & ~f.is_null()
                return (base | f.is_null()) if has_null else base
            # `not in`: the Spark twin ~(isin | [isNull]) drops NULL rows
            # whether or not the list carries a NULL (UNKNOWN or ~True)
            return ~f.isin(values) & ~f.is_null()
        raise ValueError(f"Unknown operator {op!r}")  # pragma: no cover

    conj_exprs = []
    for conj in predicates:
        e = None
        for col, op, val in conj:
            c = lit_expr(col, op, val)
            e = c if e is None else e & c
        conj_exprs.append(e)
    out = conj_exprs[0]
    for e in conj_exprs[1:]:
        out = out | e
    return out


class _FilePartition(InputPartition):
    def __init__(self, key: str, path: str, label: str):
        self.key = key
        self.path = path
        self.label = label


def _read_partition_arrow(part: _FilePartition, spark_schema, partition_keys):
    """One payload file → Arrow batches in the dataset schema's column
    order, hive partition-key values restored from the label."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from plateau_spark.core.urlencode import decode_partition_label

    if not part.key.endswith(".parquet"):
        raise ValueError(
            f"The plateau data source reads parquet payloads only; "
            f"{part.key!r} requires read_table()"
        )
    from pyspark.sql.pandas.types import to_arrow_type

    tbl = pq.read_table(part.path)
    key_types = {f.name: f.dataType for f in spark_schema.fields}
    key_values = decode_partition_label(part.label, list(partition_keys), key_types)
    n = tbl.num_rows
    cols = []
    for field in spark_schema.fields:
        at = to_arrow_type(field.dataType)
        if field.name in tbl.column_names:
            cols.append(tbl.column(field.name).cast(at))
        elif field.name in key_values:
            cols.append(pa.array([key_values[field.name]] * n, type=at))
        else:  # additive schema evolution: pre-evolution file, null-fill
            cols.append(pa.nulls(n, type=at))
    out = pa.table(cols, names=[f.name for f in spark_schema.fields])
    yield from out.to_batches(max_chunksize=1 << 16)


def parse_predicates_option(raw: str, schema) -> "list[list[tuple[str, str, Any]]]":
    """Decode the ``.option("predicates", '<json DNF>')`` payload into
    the native predicate model — the SINGLE parser both the reader and
    :func:`explain_datasource_scan` use, so the audit report can never
    drift from what the read path actually prunes with.

    JSON cannot express dates/timestamps: ISO string literals are
    revived against the dataset schema, exactly as zone-map stats are
    revived on load. Supported ops: the full native DNF vocabulary —
    ``== = != < <= > >= in not in is distinct from`` (reference
    semantics: plateau/serialization/_generic.py:433-569).
    """
    import json

    from plateau_spark.core.metadata import _revive_stat
    from plateau_spark.core.predicates import check_predicates

    field_types = {f.name: f.dataType for f in schema.fields}

    def _revive(col, op, val):
        dt = field_types.get(col)
        if op in ("in", "not in"):
            return [_revive_stat(v, dt) for v in val]
        return _revive_stat(val, dt)

    parsed = []
    for conj in json.loads(raw):
        out = []
        for col, op, val in (tuple(clause) for clause in conj):
            if op not in _OPTION_PREDICATE_OPS:
                raise ValueError(
                    f"predicates= option does not support operator "
                    f"{op!r} (the full DNF vocabulary is: "
                    f"{sorted(_OPTION_PREDICATE_OPS)})"
                )
            out.append((col, op, _revive(col, op, val)))
        parsed.append(out)
    check_predicates(parsed)
    return parsed


def explain_datasource_scan(options: dict) -> list[dict]:
    """Per-file scanned/pruned/tier report for EXACTLY the file set a
    ``format("plateau")`` read with these options will scan — the
    observability twin of ``PlateauBatchReader.partitions()``, taking
    the same option dict (``store``, ``dataset``, optional
    ``generation`` and ``predicates``) and routing the predicates
    through the same parser the reader uses.

    Per-query ``pushFilters`` pruning (``filter_pushdown=true``) is
    deliberately NOT modeled: it depends on which query plan Spark
    compiles, not on the relation — ``predicates=`` is the
    relation-stable tier and the one worth auditing before a read.
    Driver-only; touches metadata, never data files.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.plans.pruning import explain_scan

    store = Store(options["store"])
    gen = options.get("generation")
    meta = DatasetMetadata.load(
        store, options["dataset"], generation=int(gen) if gen is not None else None
    )
    raw = options.get("predicates")
    preds = parse_predicates_option(raw, meta.schema) if raw is not None else None
    return explain_scan(meta, store, preds)


class PlateauBatchReader(DataSourceReader):
    """Batch reader with TWO pruning tiers, shaped around a Spark 4.1
    caching hazard:

    Spark caches one planned read (the partition list) per LOADED
    DataFrame (``PythonDataSourceV2.readInfo``) and only re-plans when a
    query's filters contain at least one type it can serialize to
    Python (``UserDefinedPythonDataSource.pushdownFiltersInPython``
    returns None otherwise and the JVM keeps the cached plan). So a
    partition list pruned by query A's pushFilters gets silently REUSED
    by a later query B on the same loaded frame when B's filters don't
    serialize (a bare count, a top-level OR) — B then reads A's file
    subset and DROPS ROWS.

    Therefore:
    - ``.option("predicates", '<json DNF>')`` — the SAFE pruning tier:
      predicates are part of the relation's options, constant for the
      lifetime of the loaded frame, so every cached-plan reuse is
      consistent. Prunes files AND filters rows (Arrow-side), matching
      the native reader's ``predicates=`` exactly; date/timestamp
      literals are ISO strings revived against the dataset schema
      (JSON cannot carry the types). Supported ops: the full native
      DNF vocabulary, ``== = != < <= > >= in not in is distinct from``.
    - ``.option("filter_pushdown", "true")`` — opt-in per-query
      pushFilters pruning; correct when each query does its own
      ``.load()`` (the one-chain ``spark.read...load().where().agg()``
      idiom). Reusing one pushdown-enabled frame across differently
      filtered queries is the documented hazard above.
    - default — pushed filters are translated but NOT used for file
      pruning (Spark re-applies them row-level; correctness never
      depends on the cached plan), predicates= still prunes.
    """

    def __init__(self, options):
        self._root = options["store"]
        self._uuid = options["dataset"]
        # time travel: .option("generation", N) reads a commit snapshot
        gen = options.get("generation")
        self._generation = int(gen) if gen is not None else None
        self._predicates: list[list[tuple[str, str, Any]]] | None = None
        self._pushdown = str(options.get("filter_pushdown", "false")).lower() == "true"
        from plateau_spark.core.metadata import DatasetMetadata
        from plateau_spark.core.store import Store

        self._store = Store(self._root)
        self._meta = DatasetMetadata.load(
            self._store, self._uuid, generation=self._generation
        )
        opt_preds = options.get("predicates")
        self._option_predicates = (
            parse_predicates_option(opt_preds, self._meta.schema)
            if opt_preds is not None
            else None
        )

    def pushFilters(self, filters):
        # ALWAYS overwrite (None when nothing translates): Spark reuses
        # one reader instance across queries on the same loaded
        # DataFrame, so a conditional set would leak the PREVIOUS
        # query's pushed filters into any later re-planned query.
        conj = _filters_to_conjunction(filters)
        self._predicates = [conj] if conj else None
        # return EVERYTHING: pruning is a superset, Spark re-filters rows
        return filters

    def _effective_predicates(self):
        """AND of the relation-stable predicates= option and (only when
        opted in) the current query's pushed filters."""
        pushed = self._predicates if self._pushdown else None
        if self._option_predicates is None:
            return pushed
        if pushed is None:
            return self._option_predicates
        # DNF AND DNF: distribute (both sides here are single- or
        # few-conjunction lists; the grids only produce small shapes)
        return [a + b for a in self._option_predicates for b in pushed]

    def partitions(self) -> Sequence[InputPartition]:
        from plateau_spark.plans.pruning import plan_scan

        surviving = plan_scan(self._meta, self._store, self._effective_predicates())
        if not surviving:
            # every file pruned: Spark still schedules one task for an
            # empty partition list (read() receives partition=None), so
            # hand it an explicit empty sentinel instead of crashing
            return [InputPartition(None)]
        return [
            _FilePartition(p.file, self._store.path(p.file), p.label)
            for p in surviving
        ]

    def read(self, partition):
        from plateau_spark.core.metadata import DatasetMetadata
        from plateau_spark.core.store import Store

        if partition is None or not isinstance(partition, _FilePartition):
            return  # all-pruned sentinel: zero rows
        # workers re-load metadata lazily only for schema/keys; both are
        # small (the commit file) and cached by the OS page cache
        store = Store(self._root)
        meta = DatasetMetadata.load(store, self._uuid, generation=self._generation)
        batches = _read_partition_arrow(partition, meta.schema, meta.partition_keys)
        if self._option_predicates is None:
            yield from batches
            return
        # predicates= filters ROWS too, exactly like the native reader's
        # predicates= — pruning alone would silently return superset
        # rows whenever a file isn't fully prunable (Spark never sees
        # the option's filters, so it cannot re-apply them)
        import pyarrow as pa

        expr = _dnf_to_arrow_expr(self._option_predicates)
        for b in batches:
            t = pa.Table.from_batches([b]).filter(expr)
            if t.num_rows:
                yield from t.to_batches()


class PlateauStreamReader(DataSourceStreamReader):
    """Tail-follow a dataset: every micro-batch = partitions newly
    present between two commit GENERATIONS. Offsets are
    ``{"generation": N}`` — one integer, monotonic, O(1) regardless of
    dataset size (the previous label-list offset grew with the
    partition count and silently skipped labels missing from the head
    commit). Batch planning loads the END generation's time-travel
    snapshot, so every planned label's file provably existed at that
    commit; a snapshot reclaimed by garbage_collect_dataset raises
    loudly instead of dropping rows. The atomic-commit protocol
    guarantees a label's files are fully written before the label can
    appear in any snapshot. Follow APPEND-ONLY datasets: a compaction
    rewrites every label, which re-delivers the full dataset under the
    new labels (same semantics the label-diff had); an overwrite is one
    more generation and re-delivers the same way — its rows are the next
    micro-batch."""

    def __init__(self, options):
        self._root = options["store"]
        self._uuid = options["dataset"]
        from plateau_spark.core.store import Store

        self._store = Store(self._root)

    def _snapshot(self, generation: int):
        from plateau_spark.core.metadata import DatasetMetadata

        try:
            return DatasetMetadata.load(
                self._store, self._uuid, generation=generation
            )
        except KeyError as e:
            raise RuntimeError(
                f"plateau stream on {self._uuid!r}: commit snapshot for "
                f"generation {generation} is unavailable (reclaimed by "
                f"garbage_collect_dataset?) — cannot plan an exact "
                f"micro-batch; restart the stream from a fresh checkpoint"
            ) from e

    def initialOffset(self) -> dict:
        return {"generation": 0}

    def latestOffset(self) -> dict:
        from plateau_spark.core.metadata import DatasetMetadata

        if not DatasetMetadata.exists(self._store, self._uuid):
            return {"generation": 0}
        gen = DatasetMetadata.load(self._store, self._uuid).generation
        if gen == 0:
            # a commit file without a generation counter (written by the
            # reference implementation or another tool): every commit
            # looks like generation 0 and no snapshot history exists, so
            # tail-follow would silently yield zero micro-batches forever
            # — fail loudly instead of losing data invisibly
            raise RuntimeError(
                f"plateau stream on {self._uuid!r}: the dataset's commit "
                f"file carries no generation counter (written by a "
                f"non-generation-aware tool?) — tail-follow needs "
                f"generation history; rewrite the dataset through this "
                f"library's write API or read it as a batch source"
            )
        return {"generation": gen}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        if "generation" not in start and "labels" in start:
            # checkpoint written by the pre-generation offset format
            # ({"labels": [...]}): migrate in place — its label set IS
            # the seen set; everything in the end snapshot beyond it is
            # the next micro-batch, after which the checkpoint advances
            # to generation offsets
            if "generation" not in end and "labels" in end:
                # restart replaying an IN-FLIGHT batch whose end offset
                # was also written by the legacy format: both offsets
                # are label sets, so the batch is their diff, resolved
                # against the latest snapshot (the legacy format had no
                # snapshot history — same resolution it used itself)
                from plateau_spark.core.metadata import DatasetMetadata

                meta_now = DatasetMetadata.load(self._store, self._uuid)
                seen_legacy = set(start["labels"])
                batch = [l for l in end["labels"] if l not in seen_legacy]
                missing = [l for l in batch if l not in meta_now.partitions]
                if missing:
                    raise RuntimeError(
                        f"plateau stream on {self._uuid!r}: replaying a "
                        f"legacy-format in-flight batch, but {len(missing)} "
                        f"of its partitions are gone from the current "
                        f"snapshot (compacted/GC'd since the checkpoint "
                        f"was written): {sorted(missing)[:5]}... — the "
                        f"batch can no longer be reproduced; restart from "
                        f"a fresh checkpoint to resync"
                    )
                return [
                    _FilePartition(
                        meta_now.partitions[l].file,
                        self._store.path(meta_now.partitions[l].file),
                        l,
                    )
                    for l in sorted(batch)
                ]
            g1 = int(end["generation"])
            if g1 <= 0:
                return []
            meta_end = self._snapshot(g1)
            seen_legacy = set(start["labels"])
            return [
                _FilePartition(p.file, self._store.path(p.file), label)
                for label, p in sorted(meta_end.partitions.items())
                if label not in seen_legacy
            ]
        g0, g1 = int(start["generation"]), int(end["generation"])
        if g1 <= g0:
            return []
        meta_end = self._snapshot(g1)
        seen = set() if g0 == 0 else set(self._snapshot(g0).partitions)
        return [
            _FilePartition(p.file, self._store.path(p.file), label)
            for label, p in sorted(meta_end.partitions.items())
            if label not in seen
        ]

    def read(self, partition: _FilePartition):
        from plateau_spark.core.metadata import DatasetMetadata
        from plateau_spark.core.store import Store

        store = Store(self._root)
        meta = DatasetMetadata.load(store, self._uuid)
        yield from _read_partition_arrow(partition, meta.schema, meta.partition_keys)

    def commit(self, end: dict) -> None:
        pass


class PlateauDataSource(DataSource):
    """``spark.read.format("plateau")`` / ``spark.readStream.format("plateau")``.

    Options: ``store`` (root path/url), ``dataset`` (uuid).
    """

    @classmethod
    def name(cls) -> str:
        return "plateau"

    def schema(self) -> "StructType":
        from plateau_spark.core.metadata import DatasetMetadata
        from plateau_spark.core.store import Store

        gen = self.options.get("generation")
        meta = DatasetMetadata.load(
            Store(self.options["store"]),
            self.options["dataset"],
            generation=int(gen) if gen is not None else None,
        )
        if meta.schema is None:
            raise ValueError(
                "Dataset carries no commit-file schema; pass .schema(...) explicitly"
            )
        return meta.schema

    def reader(self, schema) -> PlateauBatchReader:
        return PlateauBatchReader(self.options)

    def streamReader(self, schema) -> PlateauStreamReader:
        return PlateauStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PlateauBatchWriter":
        return PlateauBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "PlateauStreamWriter":
        return PlateauStreamWriter(self.options, schema, overwrite)


def register_plateau_datasource(spark) -> None:
    """Idempotent registration of the ``plateau`` format.

    ``PlateauBatchReader`` implements ``pushFilters``, and Spark refuses
    to initialize a Python reader that does so while
    ``spark.sql.python.filterPushdown.enabled`` sits at its ``false``
    default (``[DATA_SOURCE_PUSHDOWN_DISABLED]``) — so registration
    enables the (runtime-settable) conf rather than requiring every
    session to know about it. Pruning still only SKIPS files; Spark
    re-applies all filters row-level, so semantics are unchanged.

    NOTE the session-wide effect: the conf applies to EVERY Python data
    source in this session, not just ``plateau`` (Spark has no per-source
    switch). It is only flipped when not already true, and the flip is
    logged, so a session that deliberately runs with pushdown disabled
    sees why it changed."""
    if (
        spark.conf.get("spark.sql.python.filterPushdown.enabled", "false").lower()
        != "true"
    ):
        import logging

        logging.getLogger(__name__).info(
            "register_plateau_datasource: enabling session conf "
            "spark.sql.python.filterPushdown.enabled (required for the "
            "plateau reader's pushFilters; applies to all Python data "
            "sources in this session)"
        )
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PlateauDataSource)


# ---------------------------------------------------------------------------
# write side: df.write.format("plateau")
# ---------------------------------------------------------------------------


def _load_constraints(root: str, uuid: str):
    """Driver-side (writer __init__): the dataset's CHECK constraints,
    shipped to executors inside the pickled writer so per-batch
    enforcement needs no store round-trips from tasks."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store

    meta = DatasetMetadata.load_if_exists(Store(root), uuid)
    return None if meta is None else meta.metadata.get("constraints") or None


def _enforce_constraints_arrow(table, constraints: dict) -> None:
    """Mirror ``_constraint_guard`` semantics on one Arrow batch,
    executor-side: a row violates only when the expression evaluates to
    FALSE (NULL — unknown — passes). The writer hook runs no Spark
    jobs, so the expression is evaluated by DuckDB over the Arrow batch
    zero-copy; CHECK expressions are the ANSI-SQL subset both engines
    share (comparisons, arithmetic, LENGTH/CASE/IN...). An expression
    DuckDB cannot parse raises — correct-by-refusal, never a silent
    bypass of the dataset's invariant. Raises before the task stages
    its file, so there is nothing to clean up."""
    import json

    import duckdb

    from plateau_spark.sources.dataset import ConstraintViolationError

    con = duckdb.connect()
    try:
        con.register("__batch", table)
        for name, expr in constraints.items():
            try:
                bad = con.execute(
                    "SELECT * FROM __batch WHERE NOT coalesce("
                    f"CAST(({expr}) AS boolean), true) LIMIT 1"
                ).arrow()
            except duckdb.Error as e:
                raise ValueError(
                    f"plateau writer cannot evaluate CHECK constraint "
                    f"{name!r} ({expr}) outside a Spark job; use "
                    f"update_dataset_from_dataframe(), which enforces it "
                    f"inside the write job"
                ) from e
            if bad.num_rows:
                row = {k: v[0] for k, v in bad.to_pydict().items()}
                raise ConstraintViolationError(
                    f"CHECK constraint violation — {name!r} ({expr}) on "
                    f"row: {json.dumps(row, default=str)[:1024]} — nothing "
                    f"was committed."
                )
    finally:
        con.close()


class _WrittenFile(WriterCommitMessage):
    """Per-task commit message: the staged file this task wrote."""

    def __init__(self, staged_key: str, final_key: str, label: str):
        self.staged_key = staged_key
        self.final_key = final_key
        self.label = label


class PlateauBatchWriter(DataSourceArrowWriter):
    """Executor-parallel parquet writes into the staging prefix; the
    driver-side ``commit`` renames the staged files and commits them
    through ``_commit_files``, the commit of every mutating API (readers
    never see a row before the single commit-file put; ``abort`` deletes
    only invisible staged files). The hook has no SparkSession, so the
    zone-map harvest and the Bloom refresh run in the committing process.
    Mode ``overwrite`` commits generation N+1 with the written schema
    alone; time travel to N works until GC. Flat layout only
    (``partition_on``: use ``store_dataframe_as_dataset``); the appends
    ``_append_target`` refuses are refused.
    """

    def __init__(self, options, schema, overwrite: bool):
        import uuid as _uuidlib

        self._root = options["store"]
        self._uuid = options["dataset"]
        self._schema = schema
        self._overwrite = overwrite
        self._commit_id = _uuidlib.uuid4().hex[:16]
        # constraints snapshot at plan time; enforced per Arrow batch in
        # write() (an overwrite replaces the dataset, old invariants die
        # with it)
        self._constraints = (
            None if overwrite else _load_constraints(self._root, self._uuid)
        )
        if options.get("partition_on"):
            raise ValueError(
                "The plateau writer is flat-layout only; for partition_on "
                "use store_dataframe_as_dataset()"
            )

    # executor side
    def write(self, iterator):
        import io
        import uuid as _uuidlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        from plateau_spark.core import naming
        from plateau_spark.core.store import Store
        from plateau_spark.sources.serializers import statistics_columns

        batches = [b for b in iterator if b.num_rows > 0]
        if not batches:
            # empty task: a sentinel message (the API requires one)
            return _WrittenFile("", "", "")
        table = pa.Table.from_batches(batches)
        if getattr(self, "_constraints", None):
            _enforce_constraints_arrow(table, self._constraints)
        name = f"{self._commit_id}-part-{_uuidlib.uuid4().hex}.parquet"
        staged = f"{self._uuid}/{naming.STAGING_DIR}/{self._commit_id}/{name}"
        final = f"{self._uuid}/{naming.TABLE_NAME}/{name}"
        buf = io.BytesIO()
        pq.write_table(
            table, buf, compression="snappy", write_statistics=statistics_columns(table)
        )
        Store(self._root).put_bytes(staged, buf.getvalue())
        return _WrittenFile(staged, final, name)

    # driver side
    def commit(self, messages):
        from plateau_spark.core.metadata import DatasetMetadata
        from plateau_spark.core.store import Store
        from plateau_spark.sources.dataset import _commit_files, _overwrite_base

        store = Store(self._root)
        if self._overwrite:
            meta = DatasetMetadata(uuid=self._uuid, schema=self._schema)
            base = _overwrite_base(meta, DatasetMetadata.load_if_exists(store, self._uuid))
        else:
            meta, base = _append_target(self, store, messages)
        _commit_files(None, store, meta, base, _publish_staged(store, messages))

    def abort(self, messages):
        from plateau_spark.core.store import Store

        _drop_staged(Store(self._root), messages, self._uuid, self._commit_id)


def _append_target(writer, store, messages) -> tuple:
    """``(meta, base)`` for ``_commit_files`` when either writer appends:
    the dataset's commit loaded once, or a fresh document and no base.
    Refused, after the staged files are dropped: a dataset with
    secondary indices (their fold may need a Spark job, which the commit
    hook cannot launch), a partitioned dataset (the writers lay files
    out flat), and a CHECK constraint set that appeared or changed since
    the tasks snapshotted it (the staged rows were not validated
    against it). An incompatible schema raises."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.schema import validate_compatible
    from plateau_spark.sources.dataset import _commit_base_snapshot

    meta = DatasetMetadata.load_if_exists(store, writer._uuid)
    if meta is None:
        return DatasetMetadata(uuid=writer._uuid, schema=writer._schema), None
    if meta.indices or meta.embedded_indices:
        problem = (
            "cannot append to a dataset with secondary indices; use "
            "update_dataset_from_dataframe() or stream_to_dataset()"
        )
    elif meta.partition_keys:
        problem = (
            "is flat-layout only; this dataset is partitioned by "
            f"{meta.partition_keys}"
        )
    elif (meta.metadata.get("constraints") or None) != writer._constraints:
        problem = (
            "found the dataset's CHECK constraints changed since the write "
            "was planned, so the staged rows were validated against a stale "
            "set; retry the write (restart a stream so it re-snapshots them)"
        )
    else:
        if meta.schema is not None:
            validate_compatible(meta.schema, writer._schema)
        return meta, _commit_base_snapshot(meta)
    _drop_staged(store, messages, writer._uuid, writer._commit_id)
    raise ValueError(f"plateau writer {problem}")


def _publish_staged(store, messages) -> list:
    """Driver-side publish step of both writers: rename each staged file
    to its final key, then drop the now-empty staging dirs. Returns the
    new ``Partition``s."""
    import posixpath

    from plateau_spark.core.metadata import Partition

    files = [m for m in messages if m is not None and m.staged_key]
    seen: set[str] = set()
    new_parts = []
    for m in files:
        if m.staged_key in seen:
            continue  # defensive: double-delivered task message
        seen.add(m.staged_key)
        try:
            store.move(m.staged_key, m.final_key)
        except FileNotFoundError:
            # idempotency: a re-delivered message whose file was
            # already renamed is fine; anything else is a real loss
            if not store.exists(m.final_key):
                raise
        new_parts.append(Partition(label=m.label, file=m.final_key))
    # staging dirs derive from the messages — executors may have staged
    # under distinct commit ids
    for d in {posixpath.dirname(m.staged_key) for m in files}:
        try:
            store.delete(d)
        except Exception:
            pass
    return new_parts


def _drop_staged(store, messages, uuid: str, commit_id: str) -> None:
    """Delete staged files and their per-commit staging dirs. Message
    keys alone are not enough: a sibling task killed AFTER staging but
    BEFORE delivering its commit message leaves a file no message names
    — every task of this write staged under the writer's own commit id,
    so sweeping that prefix catches them (recursive store delete)."""
    import posixpath

    from plateau_spark.core import naming

    dirs = {f"{uuid}/{naming.STAGING_DIR}/{commit_id}"}
    for m in messages:
        if m is not None and m.staged_key:
            dirs.add(posixpath.dirname(m.staged_key))
            try:
                store.delete(m.staged_key)
            except Exception:
                pass
    for d in dirs:
        try:
            store.delete(d)
        except Exception:
            pass


class PlateauStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: ``df.writeStream.format("plateau")`` appends each
    micro-batch to the dataset in ONE atomic commit, exactly-once.

    Replay safety (the same idea as ``streaming/events.py``'s
    foreachBatch ingest): the commit file carries the highest committed
    ``batchId`` under ``metadata["stream_sink"]``; a crash between the
    sink commit and the engine's checkpoint advance re-delivers the same
    batchId, which is detected and dropped (its staged files deleted) —
    readers never see a row twice. Flat layout, append-only (streaming
    overwrite has no meaningful dataset semantics)."""

    def __init__(self, options, schema, overwrite: bool):
        import uuid as _uuidlib

        if overwrite:
            raise ValueError(
                "plateau streaming sink is append-only (outputMode append)"
            )
        self._root = options["store"]
        self._uuid = options["dataset"]
        self._schema = schema
        self._commit_id = _uuidlib.uuid4().hex[:16]
        # two independent streaming queries appending to ONE dataset each
        # need their own replay marker — name them with .option("sink_id")
        self._sink_id = options.get("sink_id", "default")
        # enforced per Arrow batch in write(); re-snapshotted never — a
        # constraint change mid-stream is caught at commit (drift check)
        self._constraints = _load_constraints(self._root, self._uuid)
        if options.get("partition_on"):
            raise ValueError(
                "The plateau sink is flat-layout only; for partitioned "
                "layouts ingest via streaming/events.py stream_to_dataset"
            )

    # executor side — identical staging protocol to the batch writer
    write = PlateauBatchWriter.write

    # driver side
    def commit(self, messages, batchId: int) -> None:
        from plateau_spark.core.store import Store
        from plateau_spark.sources.dataset import _commit_files

        store = Store(self._root)
        meta, base = _append_target(self, store, messages)
        last = (
            meta.metadata.get("stream_sink", {})
            .get(self._sink_id, {})
            .get("last_batch")
        )
        if last is not None and batchId == last:
            # replayed micro-batch after a crash: the engine restarts
            # from the one batch whose sink commit may not have been
            # checkpointed — already committed here, drop it
            self.abort(messages, batchId)
            return
        if last is not None and batchId < last:
            # NOT a crash replay: replays re-deliver exactly `last`.
            # A smaller batchId means a NEW query run against a fresh
            # checkpoint is reusing this sink_id — silently dropping
            # every micro-batch would be permanent data loss. Fail loud.
            self.abort(messages, batchId)
            raise ValueError(
                f"plateau sink {self._sink_id!r} on dataset "
                f"{self._uuid!r} has already committed batch {last}, got "
                f"batch {batchId}: a new streaming query (fresh "
                f"checkpoint) is reusing this sink_id. Reuse the "
                f"original checkpointLocation to resume, or set a new "
                f'.option("sink_id", ...) for a new query.'
            )
        # the marker travels as an override: combine_metadata would drop
        # the conflicting leaf
        _commit_files(
            None, store, meta, base, _publish_staged(store, messages),
            override_metadata={"stream_sink": {self._sink_id: {"last_batch": batchId}}},
        )

    def abort(self, messages, batchId: int) -> None:
        from plateau_spark.core.store import Store

        _drop_staged(Store(self._root), messages, self._uuid, self._commit_id)
