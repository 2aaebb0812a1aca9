"""Dataset CRUD: store / read / update / commit / delete / GC.

The Spark-first re-expression of the reference's io layer
(/root/reference/plateau/io/eager.py, plateau/io_components/write.py,
plateau/io_components/update.py). The execution substrate is the Spark
DataFrame — writes are ``df.write.partitionBy(...).parquet`` jobs (a
small keyed write is one Arrow collect staged by pyarrow), reads are
``spark.read.parquet(*pruned_paths)`` — while dataset state lives in
one JSON commit file (core/metadata.py) whose single atomic put IS the
commit (docs/spec/format_specification.rst:34-54).

Write protocol (store_dataset_from_partitions,
plateau/io_components/write.py:148-233):
  1. executors (or the driver, ``_write_files``) write parquet files
     under ``<uuid>/table/`` (hive dirs)
  2. driver enumerates the new files, builds partitions + indexes
  3. driver puts the metadata JSON — readers never see step 1-2 state.
Steps 2-3 are one function, ``_commit_files``, for every mutating API.

Update semantics (plateau/io_components/update.py:1-54): adding new
partitions and deleting existing partitions (via ``delete_scope``);
never in-place mutation of a partition — partition-level copy-on-write.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import posixpath
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_spark.core import naming
from plateau_spark.core.factory import DatasetFactory
from plateau_spark.core.metadata import DatasetMetadata, Partition
from plateau_spark.core.predicates import (
    Predicates,
    apply_predicates,
    check_predicates,
)
from plateau_spark.core.schema import (
    SchemaValidationError,
    merge_schemas_for_evolution,
    normalize_dataframe,
    normalized_column_order,
    validate_compatible,
)
from plateau_spark.core.store import Store
from plateau_spark.core.urlencode import decode_partition_label
from plateau_spark.core.utils import (
    combine_metadata,
    normalize_args,
    raise_if_indices_overlap,
    validate_partition_keys,
)
from plateau_spark.sources.serializers import (
    HIVE_NULL_DIR,
    is_payload_file,
    read_files,
    write_staged,
)
from plateau_spark.plans.harvest import (
    Harvest,
    Request,
    driver_write,
    harvest,
    sidecar_fits_driver,
)
from plateau_spark.plans.index import (
    LABEL_COL,
    SecondaryIndex,
    index_value_kind,
    persist_index_dataframe,
    persist_index_dict,
)
from plateau_spark.plans.pruning import plan_scan
from plateau_spark.plans.zonemaps import collect_partition_stats


def _table_prefix(dataset_uuid: str) -> str:
    return f"{dataset_uuid}/{naming.TABLE_NAME}/"


def _read_committed_files(
    spark: SparkSession,
    store: Store,
    dataset_uuid: str,
    schema,
    partitions: Sequence[Partition],
) -> DataFrame:
    """Explicit-path scan over committed partition files with the RIGHT
    ``basePath`` per table directory. Reference-written datasets may
    store their single table under any name (``<uuid>/core/...`` —
    plateau/core/dataset.py:134-140 accepts any single-table commit),
    and after an update THIS engine appends under the v4 default
    ``table/`` — so one dataset can legitimately hold files under two
    directories. Spark rejects scan paths outside ``basePath``
    (partition-value recovery is anchored there), so files are grouped
    by table dir and scanned per group, unioned by name. The common
    case is a single group — identical plan to before. (Uses the
    module-global ``read_files`` so tests can intercept the scan.)"""
    by_dir: dict[str, dict[str, str]] = {}
    for p in partitions:
        parts = p.file.split("/")
        tdir = parts[1] if len(parts) >= 3 else naming.TABLE_NAME
        by_dir.setdefault(tdir, {})[p.file] = store.url(p.file)
    out = None
    for tdir in sorted(by_dir):
        df = read_files(
            spark, schema, store.url(f"{dataset_uuid}/{tdir}"), by_dir[tdir]
        )
        out = df if out is None else out.unionByName(df)
    return out


def _scan_partitions(
    spark: SparkSession,
    store: Store,
    dataset_uuid: str,
    meta: DatasetMetadata,
    partitions: Sequence[Partition],
) -> DataFrame:
    """The files of ``partitions`` (from the loaded ``meta``) as one
    DataFrame in canonical column order (partition keys first, payload
    alphabetical); an empty frame of the schema when there are none."""
    if not partitions:
        if meta.schema is None:
            raise ValueError(
                f"Dataset {dataset_uuid!r}: no partitions survive pruning and "
                "the commit file carries no schema to type an empty result"
            )
        return spark.createDataFrame([], schema=meta.schema)
    df = _read_committed_files(spark, store, dataset_uuid, meta.schema, partitions)
    return df.select(*normalized_column_order(df.columns, meta.partition_keys))


def _ensure_store(store: Store | str) -> Store:
    if isinstance(store, DatasetFactory):
        return store.store
    return store if isinstance(store, Store) else Store(store)


def _invalidates_factory(fn):
    """Decorate a public API that commits, garbage-collects or deletes: a
    DatasetFactory passed as its ``store`` drops its cached metadata and
    indices when the call returns or raises (a compaction can commit and
    then fail in its GC), so the next read through it reloads."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        store = sig.bind_partial(*args, **kwargs).arguments.get("store")
        try:
            return fn(*args, **kwargs)
        finally:
            if isinstance(store, DatasetFactory):
                store.invalidate()

    return wrapper


def _resolve_factory(store, dataset_uuid: str | None):
    """Accept a Store/root-path + uuid, or a DatasetFactory in the store
    position (the reference's factory-or-store argument convention,
    plateau/io_components/utils.py). Returns (factory, store, uuid);
    a plain store gets a fresh single-call factory (uncached behavior)."""
    if isinstance(store, DatasetFactory):
        if dataset_uuid is not None and dataset_uuid != store.dataset_uuid:
            raise ValueError(
                f"Factory is bound to {store.dataset_uuid!r}, got dataset_uuid={dataset_uuid!r}"
            )
        return store, store.store, store.dataset_uuid
    if dataset_uuid is None:
        raise ValueError("dataset_uuid is required when not passing a DatasetFactory")
    st = _ensure_store(store)
    return DatasetFactory(st, dataset_uuid), st, dataset_uuid


# ---------------------------------------------------------------------------
# write
# ---------------------------------------------------------------------------


def _commit_base_snapshot(meta: DatasetMetadata) -> dict:
    """Capture the loaded commit state BEFORE mutation, for
    ``_commit_update_with_merge``'s conflict detection."""
    from plateau_spark.core.schema import schema_to_json

    return {
        "base_generation": meta.generation,
        "base_labels": set(meta.partitions),
        "base_indices": dict(meta.indices),
        "base_blooms": {k: dict(v) for k, v in meta.blooms.items()},
        "base_schema_json": (
            schema_to_json(meta.schema) if meta.schema is not None else None
        ),
    }


def _overwrite_base(meta: DatasetMetadata, old: DatasetMetadata | None) -> dict | None:
    """The ``_commit_files`` base of the new ``meta`` replacing ``old``
    (None when there is no dataset to replace): ``meta`` commits as
    generation N+1 over ``old``'s N, so every file of ``old`` becomes
    garbage for GC and time travel to N stays valid until GC. The commit
    never merges: a commit that landed since ``old`` was loaded raises
    ``ConcurrentCommitError``, also when ``old`` has no partitions."""
    if old is None:
        return None
    meta.generation = old.generation
    return {**_commit_base_snapshot(old), "replace": True}


def _deep_override(dst: dict, src: dict) -> None:
    """Nested dict.update — unlike ``combine_metadata`` (which DROPS
    conflicting leaves, the reference's user-metadata rule), an override
    wins: used for system markers like the streaming sink's batch id."""
    for k, v in src.items():
        if isinstance(v, dict) and isinstance(dst.get(k), dict):
            _deep_override(dst[k], v)
        else:
            dst[k] = v


class ConstraintViolationError(RuntimeError):
    """Incoming data violates a CHECK constraint declared on the
    dataset; nothing was committed."""


# Collision-proof sentinel for classifying write failures as CHECK
# violations: matching on human-prose text alone would misclassify an
# unrelated failure whose message happens to echo it (e.g. user string
# data). The random suffix never occurs in organic data; the prose that
# follows it in the payload keeps the message readable.
_CHECK_MARKER = "PLATEAU_CHECK_VIOLATION_7f3a:"


def _constraint_guard(df: DataFrame, constraints: dict | None) -> DataFrame:
    """Fold Delta-style CHECK validation INTO the write job: wrap the
    frame in a filter whose predicate evaluates to TRUE for every
    conforming row and ``raise_error``s on the first violating one.
    A row violates only when the expression evaluates to FALSE (NULL —
    unknown — passes, standard SQL CHECK semantics).

    Why a filter and not a pre-pass ``df.agg``: (a) validation costs
    ZERO extra jobs — it rides the write's own whole-stage-codegen
    projection, so a 100 TB append is validated for free; (b) it
    validates the exact rows being written — a separate validation job
    re-executing a non-deterministic lazy plan (rand(), files changing
    between jobs) could pass rows the write then persists in violation.
    The error surfaces inside the write job; ``_write_files`` converts
    it to :class:`ConstraintViolationError` and cleans the staging
    prefix, so nothing is ever committed. The message carries the first
    offending row as JSON (better diagnostics than a count).
    """
    if not constraints:
        return df
    import re as _re

    cond = None
    for name, expr in constraints.items():
        violated = ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        # Diagnostic payload: only the columns the expression references
        # (a wide row with binary/embedding columns would bloat the task
        # failure message — replicated across task retries and the Py4J
        # traceback — and could truncate the diagnostic), capped at 1 KB.
        ref_cols = [
            c for c in df.columns
            if _re.search(rf"\b{_re.escape(c)}\b", expr)
        ] or df.columns[:1]
        check = F.when(
            violated,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{_CHECK_MARKER} CHECK constraint violation — "
                        f"{name!r} ({expr}) on row: "
                    ),
                    F.substring(F.to_json(F.struct(*ref_cols)), 1, 1024),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
        cond = check if cond is None else cond & check
    return df.where(cond)


class ConcurrentCommitError(RuntimeError):
    """Two writers raced on the commit file and the changes cannot be
    merged automatically (one side deleted partitions, evolved the
    schema, or rewrote indices/blooms). Retry the losing update against
    the new state."""


def _commit_update_with_merge(
    store: Store,
    meta: DatasetMetadata,
    **kwargs,
) -> DatasetMetadata:
    """Optimistic-concurrency commit for update paths (SURVEY §7
    hard-part 1). Fast path: nobody committed since we loaded → one put.
    Conflict path: when BOTH sides are append-only (no deletions, no
    index/bloom/schema changes), the union of their partition maps is
    the correct serialized outcome — re-apply our additions onto the
    latest document and put that. Anything else raises
    ``ConcurrentCommitError`` instead of silently dropping the other
    writer's commit (which is what a blind read-modify-write does). An
    overwrite (``replace``, see ``_overwrite_base``) never merges.

    The whole read-merge-put critical section runs under
    ``store.commit_lock`` (round 9): the conflict re-read alone left a
    residual one-round-trip window in which two writers could both pass
    the check and the later put clobbered the earlier merge — real
    under N parallel appenders (the 8-writer race test). The lock is
    held for the metadata merge + one put (ms), never the write job;
    stores with conditional puts can replace it with a generation CAS.
    """
    with store.commit_lock(meta.uuid):
        return _commit_update_with_merge_locked(store, meta, **kwargs)


def _commit_update_with_merge_locked(
    store: Store,
    meta: DatasetMetadata,
    *,
    base_generation: int,
    base_labels: set[str],
    base_indices: dict,
    base_blooms: dict,
    base_schema_json,
    new_partitions: Sequence[Partition],
    removed: Sequence[str],
    extra_metadata: dict | None,
    override_metadata: dict | None = None,
    replace: bool = False,
) -> DatasetMetadata:
    from plateau_spark.core.schema import schema_to_json

    latest = DatasetMetadata.load(store, meta.uuid)
    if latest.generation == base_generation:
        if extra_metadata:
            meta.metadata = combine_metadata(meta.metadata, extra_metadata)
        if override_metadata:
            _deep_override(meta.metadata, override_metadata)
        meta.commit(store)
        return meta

    our_schema_changed = (
        schema_to_json(meta.schema) if meta.schema is not None else None
    ) != base_schema_json
    their_schema_changed = (
        schema_to_json(latest.schema) if latest.schema is not None else None
    ) != base_schema_json
    they_deleted = bool(base_labels - set(latest.partitions))
    unsafe = (
        replace
        or bool(removed)
        or they_deleted
        or our_schema_changed
        or their_schema_changed
        or meta.indices != base_indices
        or latest.indices != base_indices
        or meta.blooms != base_blooms
        or latest.blooms != base_blooms
    )
    if unsafe:
        raise ConcurrentCommitError(
            f"Dataset {meta.uuid!r}: a concurrent commit (generation "
            f"{base_generation} -> {latest.generation}) cannot be merged "
            f"with this update (non-append-only changes on one side). "
            f"Reload and retry."
        )
    clashes = [p.label for p in new_partitions if p.label in latest.partitions]
    if clashes:  # uuid-named labels: indicates a replayed commit
        raise ConcurrentCommitError(
            f"Dataset {meta.uuid!r}: partition labels already committed "
            f"by a concurrent writer: {clashes[:3]}"
        )
    for p in new_partitions:
        latest.partitions[p.label] = p
    if extra_metadata:
        latest.metadata = combine_metadata(latest.metadata, extra_metadata)
    if override_metadata:
        _deep_override(latest.metadata, override_metadata)
    latest.explicit_partitions = True
    latest.commit(store)
    return latest


def _contains_map_type(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map_type(f.dataType) for f in dt.fields)
    return False


def _hashable_data_cols(schema, partition_keys: Sequence[str]) -> list[str]:
    """Non-key columns usable as a within-key bucket hash. Spark's hash
    functions reject MapType anywhere in the type tree, so map-bearing
    columns are excluded (a dataset whose only non-key columns are maps
    simply doesn't split — the pre-bucket behavior)."""
    return [
        f.name
        for f in (schema or [])
        if f.name not in partition_keys and not _contains_map_type(f.dataType)
    ]


def _shuffle_partitions_conf(spark) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating platforms
    where the conf is pre-set to a non-numeric value such as "auto"
    (vendor AQE extensions) — stock Spark rejects those at set time,
    but a session inherited from such a platform would crash every
    bucketed write on a bare ``int()``. Shared spelling lives in
    :mod:`plateau_spark.core.conf` (the linkage blocking path pins its
    shuffle width the same way)."""
    from plateau_spark.core.conf import shuffle_partitions_conf

    return shuffle_partitions_conf(spark)


def _raise_null_partition_keys(
    store: Store, staging: str, partition_on: Sequence[str]
) -> None:
    """The reference hard-errors on null partition values
    (plateau/io_components/metapartition.py:1195-1200). Spark writes
    null keys into ``__HIVE_DEFAULT_PARTITION__`` directories, so the
    check is FREE: inspect the staged paths after the write instead of
    running a pre-write null-scan over the input (which would cost a
    full extra pass at 100 TB). Nothing is committed yet — the staging
    prefix is discarded and the job fails atomically."""
    store.delete(staging)
    raise ValueError(
        f"Original dataframe size does not match a specified partitioning: "
        f"null values in partition columns {list(partition_on)}"
    )


def _sort_arrow(table: pa.Table, columns: Sequence[str]) -> pa.Table:
    """``sortWithinPartitions`` of a collected table: ascending with
    NULLs first and NaN above every number, as Spark orders rows."""
    keys, order = table, []
    for i, c in enumerate(columns):
        if pa.types.is_floating(table.schema.field(c).type):
            keys = keys.append_column(f"__nan{i}__", pc.is_nan(table[c]))
            order.append((f"__nan{i}__", "ascending"))
        order.append((c, "ascending"))
    return table.take(pc.sort_indices(keys, sort_keys=order, null_placement="at_start"))


def _write_files(
    df: DataFrame,
    store: Store,
    dataset_uuid: str,
    partition_on: Sequence[str],
    *,
    sort_partitions_by: Sequence[str] | None = None,
    num_buckets: int | None = None,
    bucket_by: Sequence[str] | None = None,
    repartition: bool = True,
    file_format: str = "parquet",
    compress: bool = True,
    constraints: dict | None = None,
) -> list[Partition]:
    """Stage ``df``'s payload files and promote them into the table;
    returns the new Partition entries. The files are written in one of
    two placements, picked by ``plans/harvest.py`` ``driver_write``:

      driver — a keyed parquet write the optimizer sizes within
               ``DRIVER_MAX_BYTES``: the guarded frame is collected once
               with ``toArrow`` (one job, no shuffle) and pyarrow writes
               one file per key (``serializers.write_staged``);
      Spark  — every other write: one shuffle (below) and one Spark
               write job.

    Both end in the same staging prefix, null-key check and rename, so
    labels, ``key_values`` and the commit protocol do not depend on the
    placement.

    ``constraints``: CHECK constraints folded into the write's one job
    as a ``raise_error`` filter (``_constraint_guard``) — a violation
    aborts the job, the staging prefix is deleted, and
    :class:`ConstraintViolationError` is raised before any commit.
    Every write path of this module routes through here, so passing the
    loaded ``meta.metadata["constraints"]`` gives each path enforcement
    with zero extra jobs. The DataSource writers (sources/datasource.py)
    do not: their tasks stage files themselves and enforce the
    constraints per Arrow batch.

    Shuffle strategy of the Spark placement (shuffle_store_dask_partitions,
    plateau/io/dask/_shuffle.py:41-153, re-expressed):
      - with buckets: repartition on (partition_on ⊕ hash-bucket) —
        guarantees ≤ num_buckets files per partition key while keeping
        each (key, bucket) in exactly one task (no tiny-file explosion).
      - else: repartition on partition_on → exactly one file per key
        (the reference's one-value-per-file primary-index guarantee).
    The pack/compress-payload-before-shuffle trick of the reference is
    unnecessary on Spark (Tungsten binary rows + lz4 shuffle compression).

    File discovery: the job writes into a unique per-commit staging
    prefix ``<uuid>/.staging/<commit-id>/`` (hive layout), then each
    file is renamed into ``<uuid>/table/`` with the commit id prefixed
    to its name. Listing touches ONLY the staging prefix — O(new
    files), never O(dataset files) — and concurrent writers can never
    claim each other's in-flight files (they stage under different
    commit ids). Mirrors the reference's track-what-each-task-wrote
    protocol (plateau/io_components/write.py:148-233).

    Driver-time bound: the staged→final renames are pure metadata ops
    with no ordering requirement (nothing references a staged key until
    the commit file is written afterwards), so they run through a
    thread pool — driver wall-time is O(new files / pool width) rather
    than a serial O(new files) loop, which matters on object stores
    where "move" is a copy+delete round-trip. Any rename failure aborts
    the whole write before commit, leaving only invisible staged files.
    """
    import uuid as _uuid

    commit_id = _uuid.uuid4().hex[:16]
    staging = f"{dataset_uuid}/{naming.STAGING_DIR}/{commit_id}"
    partition_on = list(partition_on)
    sort_by = list(sort_partitions_by or [])
    bucketed = bool(num_buckets and bucket_by)
    try:
        if driver_write(
            df, partition_on, sort_by, file_format=file_format, bucketed=bucketed,
            repartition=repartition,
        ):
            table = _constraint_guard(df, constraints).toArrow()
            if sort_by:
                table = _sort_arrow(table, sort_by)
            write_staged(table, store.pyarrow_location(staging), partition_on)
        else:
            write_staged(
                _shuffled(df, partition_on, sort_by, num_buckets if bucketed else None,
                          bucket_by, repartition, constraints),
                store.url(staging), partition_on, file_format=file_format,
                compress=compress,
            )
    except Exception as e:  # noqa: BLE001 — classify then re-raise
        msg = str(e)
        if _CHECK_MARKER in msg:
            store.delete(staging)
            # slice our raise_error payload out of the Py4J stack noise
            # (drop the machine sentinel, keep the prose that follows)
            detail = (
                msg[msg.index(_CHECK_MARKER) + len(_CHECK_MARKER) :]
                .splitlines()[0]
                .strip()
            )
            raise ConstraintViolationError(
                f"{detail} — nothing was committed; staged files were removed."
            ) from e
        raise

    key_types = {f.name: f.dataType for f in df.schema.fields if f.name in partition_on}
    staged = sorted(store.iter_keys(staging + "/"))
    if any(HIVE_NULL_DIR in key for key in staged):
        _raise_null_partition_keys(store, staging, partition_on)

    def _promote(key: str) -> Partition:
        rel = key[len(staging) + 1 :]
        dirname = posixpath.dirname(rel)
        final_rel = posixpath.join(dirname, f"{commit_id}-{posixpath.basename(rel)}")
        final_key = _table_prefix(dataset_uuid) + final_rel
        store.move(key, final_key)
        key_values = (
            decode_partition_label(dirname, partition_on, key_types)
            if partition_on
            else {}
        )
        return Partition(label=final_rel, file=final_key, key_values=key_values)

    payload_keys = [k for k in staged if is_payload_file(k)]
    # renames are order-independent pre-commit; pool them so driver
    # wall-time is O(files / width), not a serial O(files) loop
    with ThreadPoolExecutor(max_workers=min(32, max(1, len(payload_keys)))) as pool:
        partitions = list(pool.map(_promote, payload_keys))
    store.delete(staging)  # leftover _SUCCESS marker etc.
    return partitions


def _shuffled(
    df: DataFrame, partition_on: list, sort_by: list, num_buckets: int | None,
    bucket_by, repartition: bool, constraints: dict | None,
) -> DataFrame:
    """The Spark placement's frame: shuffled per ``_write_files``'
    strategy, sorted within partitions, constraint-guarded."""
    out = df
    if num_buckets:
        out = out.withColumn(
            "__bucket__", F.pmod(F.xxhash64(*[F.col(c) for c in bucket_by]), F.lit(num_buckets))
        )
        # explicit partition count (REPARTITION_BY_NUM): AQE must not
        # coalesce the shuffle — the writer emits one file per key per
        # TASK, so coalescing distinct (key, bucket) groups into one task
        # silently collapses the bucket split the caller asked for.
        # num_buckets is a CAP, not an exact count: two buckets of one
        # key can still hash-collide into the same task and merge; the
        # 32× headroom over num_buckets makes that rare (p ≈ g²/2n for
        # g groups over n tasks) without guaranteeing it — an exact
        # split would need a custom RDD partitioner.
        _n = max(_shuffle_partitions_conf(out.sparkSession), int(num_buckets) * 32)
        out = out.repartition(_n, *(partition_on + ["__bucket__"])) if partition_on else out.repartition(
            num_buckets, "__bucket__"
        )
        out = out.drop("__bucket__")
    elif partition_on and repartition:
        out = out.repartition(*partition_on)
    if sort_by:
        # disjoint row-group stats for better pushdown
        # (sort_values_categorical, plateau/io_components/utils.py:399-410).
        # The keys lead: a partitioned write sorts its rows by them, and
        # the optimizer drops a local sort beneath that one.
        out = out.sortWithinPartitions(*partition_on, *sort_by)
    return _constraint_guard(out, constraints)


def _in_commit_order(df: DataFrame, schema, file_format: str) -> DataFrame:
    """``df`` with a CSV payload's columns in commit-schema order: CSV is
    read positionally under that schema. Evolution only appends fields,
    so a CSV file written before it still reads as a prefix."""
    return df.select(*schema.names) if file_format == "csv" and schema else df


def _resolve_metadata(md):
    """Metadata arguments may be callables, evaluated only AFTER the
    write job — so Dataset Observations collected during the write can
    land in the same atomic commit without a second data pass."""
    return md() if callable(md) else md


def _declare_blooms(
    meta: DatasetMetadata,
    columns: Sequence[str] | None,
    n_bits: int | None = None,
    k: int | None = None,
) -> list[str]:
    """Give each of ``columns`` without a ``meta.blooms`` entry a keyless
    one with ``n_bits``/``k`` (the defaults when None); returns those
    columns, whose sidecars are still to be built."""
    from plateau_spark.plans.blooms import HASH_FAMILY, K_DEFAULT, N_BITS_DEFAULT

    new = [c for c in dict.fromkeys(columns or ()) if c not in meta.blooms]
    for c in new:
        meta.blooms[c] = {
            "key": None,
            "n_bits": N_BITS_DEFAULT if n_bits is None else int(n_bits),
            "k": K_DEFAULT if k is None else int(k),
            "hash": HASH_FAMILY,
        }
    return new


def _harvest_request(
    meta: DatasetMetadata, stats: Sequence[str], index: Sequence[str], bloom: Sequence[str]
) -> Request:
    """What the commit harvest reads from a file: zone maps of ``stats``,
    the pairs of the payload columns of ``index`` (a partition-key index
    takes its pairs from key_values) and the words of ``bloom``."""
    return Request(
        tuple(stats),
        tuple(c for c in index if c not in meta.partition_keys),
        tuple((c, int(meta.blooms[c]["n_bits"]), int(meta.blooms[c]["k"])) for c in bloom),
    )


def _refresh_indices(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    harvested: Harvest,
    partitions: Sequence[Partition],
    columns: Sequence[str],
    removed: Sequence[str] = (),
) -> None:
    """Refresh the index sidecar of each of ``columns`` in
    ``meta.indices``: the (value, label) pairs of ``partitions`` plus the
    column's current sidecar minus the ``removed`` labels, aggregated to
    (value, sorted label array) under a new key (the old key becomes
    garbage for GC). A column with no sidecar yet is a build over
    ``partitions``; its reference-embedded inline copy, if any, is
    superseded. Reference: update_indices_from_partitions +
    merge_indices (plateau/io_components/write.py:93-118,
    plateau/core/index.py:760-791).

    The new pairs come from the commit harvest ``harvested``; a
    partition-key index takes them from the commit file's key_values.
    The fold stays on the driver (``_index_pairs_driver``,
    ``persist_index_dict``: zero Spark jobs) for a driver-placed harvest
    of integer or string values over parquet files whose old sidecar
    fits ``sidecar_fits_driver``; otherwise ONE Spark job unions the new
    pairs with the old sidecar's and aggregates once. Non-parquet files,
    which the harvest cannot open, are scanned by that job.
    """
    parts = list(partitions)
    columns = list(dict.fromkeys(columns))
    rm = {str(x) for x in removed}
    key_cols = set(meta.partition_keys)
    others = [p for p in parts if not p.file.endswith(".parquet")]
    for col in columns:
        old_key = meta.indices.get(col)
        new = _key_pairs(parts, col) if col in key_cols else harvested.index_pairs(col)
        pairs = None
        if isinstance(new, pa.Table) and (col in key_cols or not others):
            pairs = _index_pairs_driver(store, meta, new, col, old_key, rm)
        if pairs is not None:
            key = persist_index_dict(pairs, store, meta.uuid, col)
        else:
            schema = T.StructType(
                [meta.schema[col], T.StructField(LABEL_COL, T.StringType())]
            )
            if col in key_cols:
                pairs = spark.createDataFrame(
                    [(p.key_values[col], p.label) for p in parts], schema
                )
            else:
                pairs = new
                if isinstance(new, pa.Table):
                    pairs = spark.createDataFrame(new, schema)
                for p in others:
                    pairs = pairs.unionByName(
                        _read_committed_files(
                            spark, store, meta.uuid, meta.schema, [p]
                        )
                        .where(F.col(col).isNotNull())
                        .select(F.col(col), F.lit(p.label).alias(LABEL_COL))
                    )
            if old_key is not None:
                old = spark.read.parquet(store.url(old_key))
                # reference-written sidecars name the posting list "partition"
                plist = "partitions" if "partitions" in old.columns else "partition"
                old = old.select(F.col(col), F.explode(plist).alias(LABEL_COL))
                if rm:
                    old = old.where(~F.col(LABEL_COL).isin(sorted(rm)))
                pairs = old.unionByName(pairs)
            key = persist_index_dataframe(
                SecondaryIndex.build_dataframe(pairs, col), store, meta.uuid, col
            )
        meta.indices[col] = key
        meta.embedded_indices.pop(col, None)


def _key_pairs(partitions: list[Partition], column: str) -> "pa.Table | None":
    """The ``(column, LABEL_COL)`` pairs of a partition-key index, one per
    label from key_values, or None when the key values have NULLs or no
    single Arrow type (the Spark fold takes them)."""
    try:
        pairs = pa.table({
            column: [p.key_values[column] for p in partitions],
            LABEL_COL: pa.array([p.label for p in partitions], pa.string()),
        })
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return None  # key values of mixed or out-of-range Python types
    return None if pairs.column(column).null_count else pairs


def _index_pairs_driver(
    store: Store,
    meta: DatasetMetadata,
    new: "pa.Table",
    column: str,
    old_key: str | None,
    removed: set[str],
):
    """The driver fold's input: the refreshed sidecar's distinct
    ``(column, LABEL_COL)`` pairs as one Arrow table — the ``new`` pairs
    plus the old sidecar's — or None when the column takes the Spark
    fold. The value type is the old sidecar's (a merge) or the schema's
    (a build); it must be integer or string, and the new values of the
    same kind, so Arrow equality matches Spark groupBy equality. The old
    sidecar is flattened to pairs with ``list_flatten`` /
    ``list_parent_indices`` and the removed labels dropped with
    ``is_in``."""
    from pyspark.sql.pandas.types import to_arrow_type

    if old_key is None:
        try:
            value_type = to_arrow_type(meta.schema[column].dataType)
        except Exception:  # noqa: BLE001 — unsupported type → Spark fold
            return None
        if index_value_kind(value_type) is None:
            return None
    old = None
    if old_key is not None:
        if not sidecar_fits_driver(store, old_key):
            return None
        try:
            table = store.read_parquet(old_key)
        except OSError:
            return None
        if column not in table.column_names:
            return None
        value_type = table.schema.field(column).type
        if index_value_kind(value_type) is None:
            return None
        # reference-written sidecars name the posting list "partition"
        plist = "partitions" if "partitions" in table.column_names else "partition"
        postings = table.column(plist).combine_chunks()
        labels = pc.list_flatten(postings).cast(pa.string())
        values = table.column(column).combine_chunks().take(
            pc.list_parent_indices(postings)
        )
        # the Spark fold drops NULL values and the removed labels alike
        keep = pc.is_valid(values)
        if removed:
            keep = pc.and_(
                keep, pc.invert(pc.is_in(labels, value_set=pa.array(sorted(removed))))
            )
        old = pa.table({column: values.filter(keep), LABEL_COL: labels.filter(keep)})
    if len(new) and index_value_kind(new.schema.field(column).type) is not (
        index_value_kind(value_type)
    ):
        return None
    new = new.cast(pa.schema([(column, value_type), (LABEL_COL, pa.string())]))
    return new if old is None else pa.concat_tables([old, new])


def _refresh_blooms(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    harvested: Harvest,
    columns: Sequence[str],
    removed: Sequence[str] = (),
) -> None:
    """Refresh the Bloom sidecar of each of ``columns`` in
    ``meta.blooms``: the (word, label, bits) rows the commit harvest
    ``harvested`` took from the files that asked for the column, plus
    the column's current sidecar rows minus the ``removed`` labels,
    under a new key (the old key becomes garbage for GC). A column with
    no sidecar yet (``_declare_blooms``, or an entry whose key was
    dropped by ``_drop_sidecar_keys``) is a build with its entry's
    ``n_bits``/``k`` (plans/blooms.py).

    For a driver-placed harvest whose old sidecar fits
    ``sidecar_fits_driver`` (any size when ``spark`` is None), the old
    sidecar table, filtered by label with ``is_in``, and the new rows
    are concatenated as Arrow tables (zero Spark jobs). Otherwise ONE
    Spark job unions the new rows with the old sidecar's (labels never
    repeat, so there is nothing to aggregate)."""
    from plateau_spark.plans.blooms import (
        persist_bloom_dataframe,
        persist_bloom_rows,
        read_bloom_table,
        remove_labels_from_bloom_df,
    )

    rm = {str(x) for x in removed}
    for col in dict.fromkeys(columns):
        info = meta.blooms[col]
        old_key = info["key"]
        new = harvested.bloom_rows(col)
        rows = new if isinstance(new, pa.Table) else None
        if rows is not None and old_key is not None:
            old = None
            if spark is None or sidecar_fits_driver(store, old_key):
                try:
                    old = read_bloom_table(store, old_key)
                except OSError:
                    pass
            if old is not None and rm:
                old = old.filter(
                    pc.invert(pc.is_in(old["label"], value_set=pa.array(sorted(rm))))
                )
            rows = None if old is None else pa.concat_tables([old, rows])
        if rows is not None:
            key = persist_bloom_rows(rows, store, meta.uuid, col)
        else:
            bloom_df = spark.createDataFrame(new) if isinstance(new, pa.Table) else new
            if old_key is not None:
                old = spark.read.parquet(store.url(old_key))
                bloom_df = remove_labels_from_bloom_df(old, rm).unionByName(bloom_df)
            key = persist_bloom_dataframe(bloom_df, store, meta.uuid, col)
        meta.blooms[col] = {**info, "key": key}


def _drop_sidecar_keys(meta: DatasetMetadata) -> None:
    """Forget every sidecar's key, keeping each Bloom column's ``n_bits``
    and ``k``, so the next ``_commit_files`` builds each sidecar over its
    new files — for rewrites that replace every partition."""
    meta.indices = dict.fromkeys(meta.indices)
    meta.blooms = {c: {**info, "key": None} for c, info in meta.blooms.items()}


def _validate_declared_columns(
    schema,
    partition_keys: Sequence[str],
    dataset_uuid: str,
    *,
    index_columns: Sequence[str] | None = None,
    bloom_columns: Sequence[str] | None = None,
    zone_map_columns: Sequence[str] | None = None,
) -> None:
    """Reject declared index, Bloom and zone-map columns the schema
    cannot serve BEFORE any write job, so a bad call stages nothing. A
    missing index column raises the reference's error shape
    (plateau/io_components/metapartition.py:1025) instead of a Spark
    AnalysisException from inside the build job."""
    from plateau_spark.plans.blooms import validate_bloom_columns
    from plateau_spark.plans.zonemaps import validate_zone_map_columns

    known = {f.name for f in (schema or [])} | set(partition_keys)
    for col in index_columns or ():
        if known and col not in known:
            raise RuntimeError(
                f"Column `{col}` could not be found in the dataset "
                f"`{dataset_uuid}`. Please check for any typos and "
                f"validate your dataset."
            )
    if bloom_columns:
        validate_bloom_columns(schema, bloom_columns, partition_keys)
    if zone_map_columns:
        validate_zone_map_columns(schema, zone_map_columns)


def _commit_files(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    base: dict | None,
    new_partitions: Sequence[Partition],
    *,
    removed: Sequence[str] = (),
    index_columns: Sequence[str] | None = (),
    bloom_columns: Sequence[str] | None = (),
    bloom_n_bits: int | None = None,
    bloom_k: int | None = None,
    zone_map_columns: Sequence[str] | None = (),
    metadata=None,
    override_metadata=None,
) -> DatasetMetadata:
    """The one commit step of every mutating API — the reference's
    update_dataset_from_partitions (plateau/io_components/update.py:20-54)
    and store_dataset_from_partitions (write.py:103-134). In order:

    1. swap: drop the ``removed`` labels, add ``new_partitions``;
    2. one harvest (``plans/harvest.py``) opens each file once: the new
       files give the zone maps of ``zone_map_columns`` plus every
       column a partition live before the change tracks (within the
       schema: a commit never leaves new files unprunable where old
       files prune) and the pairs and words of every sidecar column;
       the other live files give those of the newly declared columns;
    3. refresh every existing index and Bloom sidecar: the new files'
       entries in, the removed labels' out (nothing to do when the
       commit adds and removes no file);
    4. build newly declared ``index_columns`` / ``bloom_columns`` and
       reference-embedded indices (never written back inline) over all
       live partitions;
    5. resolve ``metadata`` / ``override_metadata`` callables — after
       the write job, so write-time Observation values land in this
       commit — and commit: one put when ``base`` is None (creation),
       else ``_commit_update_with_merge`` against the ``base`` snapshot
       (a commit that removes labels, or an overwrite, raises
       ConcurrentCommitError on a concurrent commit instead of silently
       dropping it).

    ``spark`` is None where no session exists (the DataSource writers'
    commit hook runs in a Python worker): every step then runs on the
    driver — the harvest opens every new file and a Bloom merge reads
    the old sidecar, whatever their size.
    """
    new_partitions = list(new_partitions)
    tracked = {c for p in meta.partitions.values() for c in p.stats}
    for label in removed:
        del meta.partitions[label]
    for p in new_partitions:
        if p.label in meta.partitions:
            raise RuntimeError(f"Duplicate partition label in commit: {p.label}")
        meta.partitions[p.label] = p

    names = {f.name for f in (meta.schema or [])}
    zm_cols = sorted(
        c for c in {*(zone_map_columns or ()), *tracked} if c in names and new_partitions
    )
    refresh = bool(new_partitions or removed)
    indices = list(meta.indices) if refresh else []
    blooms = list(meta.blooms) if refresh else []
    new_indices = [
        c for c in dict.fromkeys([*meta.embedded_indices, *(index_columns or ())])
        if c not in meta.indices
    ]
    new_blooms = _declare_blooms(meta, bloom_columns, bloom_n_bits, bloom_k)
    live = list(meta.partitions.values())
    # one harvest: the new files give everything, the other live files
    # only the newly declared columns
    fresh = {p.label for p in new_partitions}
    requests = (
        _harvest_request(meta, zm_cols, indices + new_indices, blooms + new_blooms),
        _harvest_request(meta, (), new_indices, new_blooms),
    )
    harvested = harvest(spark, store, meta.schema, [
        (p, requests[p.label not in fresh]) for p in live
    ])
    try:
        if zm_cols:
            stats = collect_partition_stats(harvested)
            for p in new_partitions:
                p.stats = stats.get(p.label, {})
        if refresh:
            meta.explicit_partitions = True
            _refresh_indices(
                spark, store, meta, harvested, new_partitions, indices, removed
            )
            _refresh_blooms(spark, store, meta, harvested, blooms, removed)
        _refresh_blooms(spark, store, meta, harvested, new_blooms)
        _refresh_indices(spark, store, meta, harvested, live, new_indices)
    finally:
        harvested.release()

    metadata = _resolve_metadata(metadata)
    override_metadata = _resolve_metadata(override_metadata)
    if base is None:
        meta.metadata.update(metadata or {})
        _deep_override(meta.metadata, override_metadata or {})
        meta.commit(store)
        return meta
    return _commit_update_with_merge(
        store, meta, new_partitions=new_partitions, removed=removed,
        extra_metadata=metadata, override_metadata=override_metadata, **base,
    )


def _create_preamble(
    store: Store | str,
    dataset_uuid: str | None,
    metadata_version: int,
    overwrite: bool,
) -> tuple[Store, str, DatasetMetadata | None]:
    """Checks shared by the store paths and the header: metadata
    version, dataset uuid (generated when None) and the overwrite rule.
    Returns ``(store, dataset_uuid, old)``, ``old`` being the existing
    dataset's commit loaded once, or None. An existing dataset raises
    unless ``overwrite=True``; the caller then commits its new files
    over ``old`` (``_overwrite_base``), so the replaced generation stays
    readable whatever fails before the commit."""
    naming.verify_metadata_version(metadata_version)
    if dataset_uuid is None:
        dataset_uuid = naming.gen_uuid()
    naming.validate_dataset_uuid(dataset_uuid)
    store = _ensure_store(store)
    old = DatasetMetadata.load_if_exists(store, dataset_uuid)
    if old is not None and not overwrite:
        raise RuntimeError(
            f"Dataset `{dataset_uuid}` already exists and overwrite is not permitted"
        )
    return store, dataset_uuid, old


def _checked_frame(
    meta: DatasetMetadata,
    df: DataFrame,
    *,
    append: bool,
    schema_evolution: bool = False,
    file_format: str = "parquet",
) -> DataFrame:
    """The per-frame step before ``_write_files``: ``df`` normalized and
    checked against ``meta.schema`` — identical (``validate_compatible``),
    or with ``schema_evolution`` merged into it additively. An append's
    payload columns take commit-schema order (``_in_commit_order``)."""
    df = normalize_dataframe(df, meta.partition_keys)
    if schema_evolution:
        if file_format != "parquet":
            raise ValueError(
                "schema_evolution requires parquet payloads (CSV files "
                "cannot be read under a widened schema)"
            )
        meta.schema = merge_schemas_for_evolution(meta.schema, df.schema)
    else:
        validate_compatible(meta.schema, df.schema)
    return _in_commit_order(df, meta.schema, file_format) if append else df


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "zone_map_columns", "bloom_filter_columns")
def _store_frames(
    spark: SparkSession,
    store: Store,
    dataset_uuid: str,
    frames,
    old: DatasetMetadata | None,
    *,
    replace: bool = False,
    delete_scope: Sequence[dict[str, Any]] | None = None,
    partition_on: Sequence[str] | None = None,
    secondary_indices: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    num_buckets: int | None = None,
    bucket_by: Sequence[str] | None = None,
    metadata=None,
    override_metadata=None,
    file_format: str = "parquet",
    compress: bool = True,
    repartition: bool = True,
    schema_evolution: bool = False,
    zone_map_columns: Sequence[str] | None = None,
    bloom_filter_columns: Sequence[str] | None = None,
    bloom_n_bits: int | None = None,
    bloom_k: int | None = None,
    check_constraints: dict[str, str] | None = None,
) -> DatasetMetadata:
    """The one write-then-commit body of the store and update APIs and
    the stream-batch commit: write each of ``frames`` (an iterable, each
    frame written by its own job as it is drawn) and commit them all in
    one ``_commit_files`` call over ``old``, the loaded commit or None.

    With ``old`` None or ``replace`` (a store overwrite) the target is a
    new document typed by the first normalized frame, declaring
    ``partition_on`` and ``check_constraints`` (which commit as its
    override metadata), committed over ``old`` by ``_overwrite_base``;
    creating from no frame raises. Otherwise the frames append to
    ``old`` under its partition keys and persisted CHECK constraints,
    and ``delete_scope`` names the labels the same commit removes.
    Declared index, Bloom and zone-map columns are validated once,
    after the first frame's schema check and before its write job."""
    frames = iter(frames)
    create = old is None or replace
    if create:
        try:
            first = next(frames)
        except StopIteration:
            raise ValueError("Cannot store a dataset from an empty generator") from None
        naming.validate_dataset_uuid(dataset_uuid)
        raise_if_indices_overlap(partition_on, secondary_indices)
        partition_on = list(partition_on or [])
        meta = DatasetMetadata(
            uuid=dataset_uuid, partition_keys=partition_on,
            schema=normalize_dataframe(first, partition_on).schema,
        )
        base, constraints = _overwrite_base(meta, old), check_constraints
        if check_constraints:
            override_metadata = {"constraints": dict(check_constraints)}
        frames = itertools.chain([first], frames)
    else:
        validate_partition_keys(old.partition_keys, partition_on)
        meta, base = old, _commit_base_snapshot(old)
        # CHECK constraints declared at store time gate every append
        constraints = old.metadata.get("constraints")

    checked = (
        _checked_frame(
            meta, df, append=not create, schema_evolution=schema_evolution,
            file_format=file_format,
        )
        for df in frames
    )
    # the first frame's check may widen the schema the declared columns
    # are validated against
    pending = list(itertools.islice(checked, 1))
    _validate_declared_columns(
        meta.schema, meta.partition_keys, dataset_uuid,
        index_columns=secondary_indices, bloom_columns=bloom_filter_columns,
        zone_map_columns=zone_map_columns,
    )
    partitions = [
        p
        for df in itertools.chain(pending, checked)
        for p in _write_files(
            df, store, dataset_uuid, meta.partition_keys,
            sort_partitions_by=sort_partitions_by, num_buckets=num_buckets,
            bucket_by=bucket_by, repartition=repartition, file_format=file_format,
            compress=compress, constraints=constraints,
        )
    ]
    removed = () if create else _resolve_delete_scope(meta, store, delete_scope)
    # a callable ``metadata`` resolves AFTER the write jobs — so values a
    # Dataset Observation collected DURING a write (e.g. the BM25 index's
    # token totals) land in the same atomic commit without a second pass
    return _commit_files(
        spark, store, meta, base, partitions, removed=removed,
        index_columns=secondary_indices, bloom_columns=bloom_filter_columns,
        bloom_n_bits=bloom_n_bits, bloom_k=bloom_k,
        zone_map_columns=zone_map_columns,
        metadata=metadata, override_metadata=override_metadata,
    )


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by", "zone_map_columns", "bloom_filter_columns")
def store_dataframe_as_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None,
    df: DataFrame,
    *,
    metadata_version: int = naming.METADATA_VERSION,
    partition_on: Sequence[str] | None = None,
    secondary_indices: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    num_buckets: int | None = None,
    bucket_by: Sequence[str] | None = None,
    overwrite: bool = False,
    metadata: dict[str, Any] | None = None,
    file_format: str = "parquet",
    compress: bool = True,
    repartition: bool = True,
    zone_map_columns: Sequence[str] | None = None,
    bloom_filter_columns: Sequence[str] | None = None,
    bloom_n_bits: int | None = None,
    bloom_k: int | None = None,
    check_constraints: dict[str, str] | None = None,
) -> DatasetMetadata:
    """Create a new dataset from a DataFrame (one write job + one commit).

    ``check_constraints``: Delta-style CHECK constraints — a dict of
    ``name -> SQL boolean expression`` validated against the incoming
    data INSIDE the write job (a codegen ``raise_error`` filter, zero
    extra passes; a row violates only when the expression is FALSE —
    NULL passes, standard SQL CHECK). Violations raise
    ``ConstraintViolationError``; staged files are removed and nothing
    is committed. The constraints are persisted in the commit metadata
    and re-enforced on EVERY subsequent write path — appends (plain and
    ``__iter``), ``merge_upsert_into_dataset``, the two-phase
    ``write_single_partition`` protocol, and the streaming sinks (which
    route through the append path per micro-batch). Extension beyond
    the reference (which has no constraint surface).

    ``bloom_filter_columns``: build a per-file Bloom sidecar for these
    integer/string columns (plans/blooms.py) — ==/IN predicates then
    prune files driver-side even on hash-scattered layouts. SIZE IT:
    ``bloom_n_bits`` should be ~10x the expected DISTINCT values per
    file (default 8192 suits ~800 distinct/file; a saturated bloom
    prunes nothing, it never returns wrong rows).

    ``zone_map_columns``: harvest per-file (min, max, null_count) for
    these numeric/date/timestamp columns from the parquet footers (one
    distributed footer job) into the commit file — the planner then
    prunes whole files on range predicates over them with zero store
    I/O (plans/zonemaps.py). Pair with a range-clustered write
    (``sort_partitions_by`` or a pre-``repartitionByRange`` input with
    ``repartition=False``) for real selectivity.

    ``repartition=True`` (default) shuffles on the partition keys first,
    giving the reference's one-file-per-key guarantee. At large scale
    with low-cardinality keys pass ``repartition=False`` to skip the
    shuffle: every input task writes its own file per key it holds
    (more files, full write parallelism; pair with num_buckets for a
    bounded file count).

    ``overwrite=True`` replaces an existing dataset in one commit,
    generation N+1 over its N. The schema, partition keys, indices,
    Blooms, zone maps and metadata come from this call alone; the
    replaced files become garbage for ``garbage_collect_dataset``, and
    time travel to generation N works until GC. A failure before the
    commit leaves generation N as it was, and a commit that lands
    between this call's load and its commit raises
    ``ConcurrentCommitError``.

    Reference: store_dataframes_as_dataset
    (/root/reference/plateau/io/eager.py:449-491) + write_partition
    (plateau/io_components/write.py:38-79).
    """
    store, dataset_uuid, old = _create_preamble(
        store, dataset_uuid, metadata_version, overwrite
    )
    return _store_frames(
        spark, store, dataset_uuid, [df], old, replace=True,
        partition_on=partition_on, secondary_indices=secondary_indices,
        sort_partitions_by=sort_partitions_by, num_buckets=num_buckets,
        bucket_by=bucket_by, metadata=metadata, file_format=file_format,
        compress=compress, repartition=repartition,
        zone_map_columns=zone_map_columns, bloom_filter_columns=bloom_filter_columns,
        bloom_n_bits=bloom_n_bits, bloom_k=bloom_k, check_constraints=check_constraints,
    )


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def store_dataframes_as_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None,
    dfs: Sequence[DataFrame] | DataFrame,
    **kwargs: Any,
) -> DatasetMetadata:
    """Create a dataset from a LIST of DataFrames — each list element is
    written by its own job (its rows stay in its own files), all files
    land in ONE atomic commit. Reference: store_dataframes_as_dataset
    (/root/reference/plateau/io/eager.py:449-491), where each list
    element becomes its own partition set. ``dataset_uuid=None``
    auto-generates a uuid (reference io/testing/write.py
    test_store_dataframes_as_dataset_auto_uuid); read it back from the
    returned metadata's ``uuid``.
    """
    if isinstance(dfs, DataFrame):
        dfs = [dfs]
    return store_dataframes_as_dataset__iter(spark, store, dataset_uuid, iter(dfs), **kwargs)


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def store_dataframes_as_dataset__iter(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None,
    df_generator,
    *,
    partition_on: Sequence[str] | None = None,
    secondary_indices: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    overwrite: bool = False,
    metadata: dict[str, Any] | None = None,
    file_format: str = "parquet",
    compress: bool = True,
    metadata_version: int = naming.METADATA_VERSION,
    check_constraints: dict[str, str] | None = None,
) -> DatasetMetadata:
    """Generator-driven bounded-memory ingestion: each yielded DataFrame
    is written immediately (one job per element, its staging files
    renamed into place), nothing is retained but partition entries;
    ONE commit at exhaustion. Readers see nothing until that commit.

    ``check_constraints``: same contract as
    :func:`store_dataframe_as_dataset` — enforced inside each element's
    write job; a violation in ANY element aborts before the commit, so
    earlier elements' files stay invisible (GC-reclaimable staging
    leftovers only).

    ``overwrite=True``: same contract as :func:`store_dataframe_as_dataset`
    — one commit of generation N+1; a failure in any element leaves
    generation N as it was.

    Reference: store_dataframes_as_dataset__iter
    (/root/reference/plateau/io/iter.py:166-245).
    """
    store, dataset_uuid, old = _create_preamble(
        store, dataset_uuid, metadata_version, overwrite
    )
    return _store_frames(
        spark, store, dataset_uuid, df_generator, old, replace=True,
        partition_on=partition_on, secondary_indices=secondary_indices,
        sort_partitions_by=sort_partitions_by, metadata=metadata,
        file_format=file_format, compress=compress, check_constraints=check_constraints,
    )


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def update_dataset_from_dataframes__iter(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    df_generator,
    *,
    delete_scope: Sequence[dict[str, Any]] | None = None,
    partition_on: Sequence[str] | None = None,
    secondary_indices: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    metadata: dict[str, Any] | None = None,
    file_format: str = "parquet",
    compress: bool = True,
) -> DatasetMetadata:
    """Generator-driven update: write each yielded DataFrame as it
    arrives, apply delete_scope, commit once at the end (reference:
    update_dataset_from_dataframes__iter, plateau/io/iter.py:248-314).
    A first-time update CREATES the dataset (reference semantics), with
    ``partition_on`` / ``secondary_indices`` applied at creation.
    """
    store = _ensure_store(store)
    return _store_frames(
        spark, store, dataset_uuid, df_generator,
        DatasetMetadata.load_if_exists(store, dataset_uuid),
        delete_scope=delete_scope, partition_on=partition_on,
        secondary_indices=secondary_indices, sort_partitions_by=sort_partitions_by,
        metadata=metadata, file_format=file_format, compress=compress,
    )


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def create_empty_dataset_header(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    schema,
    *,
    partition_on: Sequence[str] | None = None,
    overwrite: bool = False,
) -> DatasetMetadata:
    """Schema-only dataset (reference: plateau/io/eager.py:494-552).

    ``overwrite=True`` replaces an existing dataset in one commit,
    generation N+1 (time travel to N works until GC). A header lists no
    partitions (``explicit_partitions`` False), and GC reclaims table
    files only from a dataset that lists them, so the files a header
    overwrite replaces are reclaimed by the first GC after the next
    explicit commit (``commit_dataset``, an update)."""
    from plateau_spark.core.schema import normalize_schema

    store, dataset_uuid, old = _create_preamble(
        store, dataset_uuid, naming.METADATA_VERSION, overwrite
    )
    meta = DatasetMetadata(
        uuid=dataset_uuid,
        partition_keys=list(partition_on or []),
        schema=normalize_schema(schema),
        explicit_partitions=False,
    )
    return _commit_files(spark, store, meta, _overwrite_base(meta, old), [])


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def read_dataset_as_dataframe(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None = None,
    *,
    columns: Sequence[str] | None = None,
    predicates: Predicates | None = None,
    dispatch_by: Sequence[str] | None = None,
    filter_query: str | None = None,
    categories: Sequence[str] | None = None,
    dates_as_object: bool | None = None,
    predicate_pushdown_to_io: bool = True,
    generation: int | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Pruned scan → one distributed DataFrame.

    ``as_of``: wall-clock time travel — an ISO-8601 timestamp (or
    ``datetime``); the read plans against the latest commit whose
    ``committed_at`` is at or before it (resolved via
    :func:`generation_at_timestamp`). Mutually exclusive with
    ``generation``.

    Planning (driver, O(1) store calls): metadata GET → partition-key +
    secondary-index pruning → explicit path list. Execution (executors):
    native parquet scan with Catalyst filter/projection pushdown on the
    residual predicate.

    Reference lifecycle: read_table / read_dataset_as_ddf traced in
    SURVEY.md §3.1-3.2 (plateau/io/eager.py:211-292,
    plateau/io_components/read.py:17-126,
    plateau/io_components/metapartition.py:588-722).

    ``dispatch_by`` repartitions the result so each group of the given
    columns is co-located in one task — the Spark analog of the
    reference's logical regrouping (plateau/io_components/read.py:66-95).

    ``store`` may be a ``DatasetFactory`` (then ``dataset_uuid`` is
    taken from it): repeated reads through one factory share a single
    commit-file GET and cached index loads — the reference's
    O(1)-store-calls pattern (plateau/core/factory.py).
    """
    if categories:
        # The reference reads selected columns as pandas categoricals
        # (/root/reference/plateau/serialization/_parquet.py:129-143) —
        # a PANDAS-output contract. A Spark DataFrame has no categorical
        # dtype (low-cardinality strings are dictionary-encoded in
        # parquet and Tungsten already), so on THIS surface the kwarg is
        # a typed error pointing at the surface that honors it:
        # ``read_table_as_pandas(categories=...)``.
        raise NotImplementedError(
            "categories= has no meaning on the Spark DataFrame surface "
            "(no categorical dtype; parquet dictionary encoding covers "
            "the storage/scan benefit natively). Use "
            "read_table_as_pandas(categories=...), which returns the "
            "reference's pandas-categorical contract."
        )
    if dates_as_object is False:
        # The reference's legacy dates_as_object=False returned date
        # columns as datetime64 (timestamps) and now deprecation-warns
        # (/root/reference/plateau/io_components/metapartition.py:629-634);
        # mirrored exactly: warn, and cast DateType columns to timestamp
        # so the pandas materialization is datetime64[ns] — the legacy
        # dtype — instead of object datetime.date.
        import warnings

        warnings.warn(
            "The argument `date_as_object` is set to False. This argument "
            "will be deprecated and the future behaviour will be as if the "
            "parameter was set to `True`. Please migrate your code "
            "accordingly ahead of time.",
            DeprecationWarning,
            stacklevel=2,
        )
    # dates_as_object=True (the reference's DEFAULT,
    # /root/reference/plateau/io_components/metapartition.py:596) is the
    # natural Spark contract already: DateType rows materialize as
    # datetime.date on collect()/toPandas() (object dtype) — accepted as
    # a no-op so ported reader code runs verbatim.
    # predicate_pushdown_to_io=False (the reference's per-read debugging
    # escape hatch, /root/reference/plateau/serialization/_parquet.py:
    # 208-210) is honored per-read since round 7: the residual predicate
    # is applied post-scan via a non-pushable composition (see
    # apply_predicates) instead of being pushed into the parquet reader.
    # Driver-side partition/zone-map/index pruning still applies — the
    # reference's flag likewise only bypasses row-group pushdown.
    if predicates is not None and filter_query is not None:
        raise ValueError("Cannot use both `predicates` and `filter_query`")
    factory, store, dataset_uuid = _resolve_factory(store, dataset_uuid)
    if as_of is not None:
        if generation is not None:
            raise ValueError("Cannot use both `generation` and `as_of`")
        generation = generation_at_timestamp(store, dataset_uuid, as_of)
    if generation is not None:
        # time travel: plan against the requested commit snapshot
        # (valid until garbage_collect_dataset reclaims it). Index-based
        # pruning uses the snapshot's own index keys — still present
        # until GC for the same reason the old payload files are.
        meta = DatasetMetadata.load(store, dataset_uuid, generation=generation)
    else:
        meta = factory.metadata
    check_predicates(predicates)

    if columns is not None and meta.schema is not None:
        known = {f.name for f in meta.schema.fields}
        missing = [c for c in columns if c not in known]
        if missing:
            raise ValueError(f"Columns not found in dataset: {missing}")

    surviving = plan_scan(
        meta, store, predicates,
        # a snapshot read must consult the SNAPSHOT's index files, not
        # the factory's cache of the current commit's
        index_loader=None if generation is not None else factory.secondary_index,
    )

    df = _scan_partitions(spark, store, dataset_uuid, meta, surviving)
    df = apply_predicates(df, predicates, pushdown_to_io=predicate_pushdown_to_io)
    if filter_query:
        df = df.where(filter_query)
    if columns is not None:
        df = df.select(*[c for c in normalized_column_order(columns, meta.partition_keys) if c in columns])
    if dates_as_object is False:
        from pyspark.sql import types as T

        df = df.select(
            *[
                F.col(f.name).cast("timestamp").alias(f.name)
                if isinstance(f.dataType, T.DateType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    if dispatch_by:
        df = df.repartition(*dispatch_by)
    return df


# Alias matching the reference's primary entry point name.
def generation_at_timestamp(
    store: Store | str, dataset_uuid: str, as_of
) -> int:
    """Resolve a wall-clock timestamp to the dataset generation that was
    current at that moment: the LATEST generation whose ``committed_at``
    commit stamp is <= ``as_of`` (ISO-8601 string or tz-aware
    ``datetime``; naive datetimes are taken as UTC).

    Driver-side O(generations) metadata GETs, thread-pooled (the same
    access pattern as :func:`dataset_history`). Generations committed
    before commit stamping existed (no ``committed_at``) are skipped;
    raises ``KeyError`` when no stamped generation is old enough.
    """
    import datetime as _dt
    from concurrent.futures import ThreadPoolExecutor

    store = _ensure_store(store)
    if isinstance(as_of, str):
        ts = _dt.datetime.fromisoformat(as_of)
    else:
        ts = as_of
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    latest = DatasetMetadata.load(store, dataset_uuid)
    gens = list(range(1, latest.generation + 1))

    def _stamp(g: int):
        try:
            m = DatasetMetadata.load(store, dataset_uuid, generation=g)
        except KeyError:
            return None
        stamp = m.metadata.get("committed_at")
        if stamp is None:
            return None
        return (g, _dt.datetime.fromisoformat(stamp))

    with ThreadPoolExecutor(max_workers=min(32, max(1, len(gens)))) as pool:
        stamped = [s for s in pool.map(_stamp, gens) if s is not None]
    eligible = [g for g, t in stamped if t <= ts]
    if not eligible:
        raise KeyError(
            f"Dataset {dataset_uuid!r} has no commit stamped at or before "
            f"{ts.isoformat()} (earliest stamped: "
            f"{min((t for _, t in stamped), default=None)})"
        )
    return max(eligible)


read_table = read_dataset_as_dataframe


def read_table_as_pandas(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None = None,
    *,
    dates_as_object: bool = True,
    categories: Sequence[str] | None = None,
    **kwargs,
):
    """The reference's pandas-returning read surface: one pandas
    DataFrame with the reference's dtype contract
    (/root/reference/plateau/io/eager.py read_table →
    io_components/metapartition.py:596 ``dates_as_object: bool = True``).

    ``dates_as_object=True`` (reference default): date columns come back
    as object arrays of ``datetime.date`` — which is exactly what
    Spark's Arrow ``toPandas()`` produces for DateType, so the default
    costs nothing. ``dates_as_object=False`` replays the reference's
    deprecated legacy behavior (DeprecationWarning + datetime64[ns]
    date columns).

    ``categories``: the named columns come back as
    ``pandas.Categorical`` — the reference's ``categories=`` contract
    (/root/reference/plateau/serialization/_parquet.py:129-143). The
    reference's cross-partition category alignment
    (io_components/utils.py:296-396) is satisfied by construction here:
    the frame is materialized as ONE pandas object, so every partition
    shares one category set. Scan/transfer stays Arrow-dictionary-
    encoded; the astype is a driver-side view change.

    All other kwargs (columns/predicates/filter_query/generation/...)
    pass through to ``read_table``. Driver-memory surface — the result
    must fit on the driver, same as the reference's eager reader; use
    ``read_table`` for distributed work.
    """
    df = read_dataset_as_dataframe(
        spark, store, dataset_uuid, dates_as_object=dates_as_object, **kwargs
    )
    pdf = df.toPandas()
    if categories:
        categories = [categories] if isinstance(categories, str) else list(categories)
        missing = [c for c in categories if c not in pdf.columns]
        if missing:
            raise ValueError(f"categories columns not in result: {missing}")
        for c in categories:
            pdf[c] = pdf[c].astype("category")
    return pdf


def register_dataset_as_view(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    view_name: str | None = None,
    *,
    predicates: Predicates | None = None,
) -> str:
    """Expose a stored dataset to ``spark.sql`` as a temp view.

    The view wraps the same pruned scan as ``read_table`` (metadata GET
    → partition/index pruning → explicit file list), so SQL filters on
    top still reach the parquet scan via Catalyst pushdown; predicates
    given here additionally prune whole files at registration time.
    Returns the view name (defaults to the dataset uuid).

    The reference has no SQL surface — this is the Spark-native way to
    let every downstream SQL/BI tool query a plateau-style dataset.
    """
    name = view_name or dataset_uuid
    read_dataset_as_dataframe(
        spark, store, dataset_uuid, predicates=predicates
    ).createOrReplaceTempView(name)
    return name


def read_dataset_as_dataframe_iterator(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    **kwargs: Any,
):
    """Bounded-memory row iterator (reference: plateau/io/iter.py:101-163
    → Spark ``toLocalIterator``, one partition in flight at a time)."""
    return read_dataset_as_dataframe(spark, store, dataset_uuid, **kwargs).toLocalIterator()


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def read_dataset_as_dataframe_groups(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None = None,
    dispatch_by: Sequence[str] = (),
    *,
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
):
    """Grouped read with attached logical conjunctions: yields
    ``(group_values, DataFrame)`` per distinct combination of the
    ``dispatch_by`` columns — each group's DataFrame carries the
    residual AND-predicate ``col == value ∀ dispatch_by`` on top of the
    caller's predicates, so every group reads exactly its own rows
    through the normal pruned-scan path.

    This is the reference's dispatch_by + logical_conjunction contract
    (plateau/io_components/read.py:66-95,
    plateau/io_components/metapartition.py:85-96): dispatch columns must
    be partition keys or indexed, group membership is decided from
    *metadata* (key values / inverted index), never a data scan.

    SCALE NOTE: each yielded group is its own Spark plan — the right
    shape when the consumer drives groups one at a time (the
    reference's generator contract), but at 10⁴+ distinct combos that
    is 10⁴ sequential jobs. For high-cardinality dispatch use
    ``read_dataset_as_grouped_dataframe`` (ONE job, groups co-located)
    and process groups with ``applyInPandas``/``mapInPandas``.
    """
    factory, store, dataset_uuid = _resolve_factory(store, dataset_uuid)
    meta = factory.metadata
    dispatch_by = list(dispatch_by)
    if not dispatch_by:
        raise ValueError("dispatch_by must name at least one column")
    for col in dispatch_by:
        if col not in meta.partition_keys and not meta.has_index(col):
            raise RuntimeError(
                f"Dispatch columns must be indexed or partition keys, got {col!r}"
            )

    # per-column value → partition-label map, from metadata only; a
    # multi-column combo is dispatched ONLY if some partition carries all
    # its values (the reference's dispatch_by yields observed group
    # combinations, not the cartesian product of per-column values — a
    # product combo with an empty surviving partition set would run a
    # full pruned-scan read just to yield an empty frame)
    per_col_labels: list[dict[Any, set[str]]] = []
    for col in dispatch_by:
        if col in meta.partition_keys:
            by_value: dict[Any, set[str]] = {}
            for label, p in meta.partitions.items():
                by_value.setdefault(p.key_values[col], set()).add(label)
        else:
            idx = factory.secondary_index(col)
            by_value = {v: idx.query(v) for v in idx.observed_values()}
        per_col_labels.append(by_value)

    import itertools

    base_predicates = predicates if predicates is not None else [[]]
    for combo in itertools.product(*(sorted(m) for m in per_col_labels)):
        surviving: set[str] | None = None
        for value, labels in zip(combo, per_col_labels):
            surviving = labels[value] if surviving is None else surviving & labels[value]
            if not surviving:
                break
        if not surviving:
            continue
        conjunction = [(c, "==", v) for c, v in zip(dispatch_by, combo)]
        combo_predicates = [list(conj) + conjunction for conj in base_predicates]
        # route through the factory: N groups share ONE metadata GET and
        # the cached index loads instead of N of each
        df = read_dataset_as_dataframe(
            spark, factory, predicates=combo_predicates, columns=columns
        )
        yield dict(zip(dispatch_by, combo)), df


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def read_dataset_as_grouped_dataframe(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None = None,
    dispatch_by: Sequence[str] = (),
    *,
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Single-plan twin of ``read_dataset_as_dataframe_groups``: ONE
    pruned scan, hash-repartitioned on ``dispatch_by`` so every group is
    co-located in exactly one task. Same rows, same groups — proven by
    the conformance tests — but the job count is O(1) instead of
    O(distinct combos), which is the only scale-safe shape when the
    dispatch column has thousands of values. Process per-group logic
    with ``df.groupBy(*dispatch_by).applyInPandas(...)`` (each pandas
    group is exactly one dispatch group) or ``mapInPandas`` over the
    co-located partitions.
    """
    dispatch_by = list(dispatch_by)
    if not dispatch_by:
        raise ValueError("dispatch_by must name at least one column")
    if columns is not None:
        missing = [c for c in dispatch_by if c not in columns]
        columns = list(columns) + missing
    return read_dataset_as_dataframe(
        spark,
        store,
        dataset_uuid,
        predicates=predicates,
        columns=columns,
        dispatch_by=dispatch_by,
    )


# ---------------------------------------------------------------------------
# update / commit
# ---------------------------------------------------------------------------


def _resolve_delete_scope(
    meta: DatasetMetadata, store: Store, delete_scope: Sequence[dict[str, Any]] | None
) -> set[str]:
    """delete_scope = list of {col: value} dicts → partition labels to drop.

    Key columns match against stored key_values; indexed columns resolve
    through the secondary index. Reference:
    plateau/io_components/update.py:12-42, plateau/core/dataset.py:324-354.
    """
    if not delete_scope:
        return set()
    to_remove: set[str] = set()
    for scope in delete_scope:
        if not scope:
            continue
        candidate: set[str] | None = None
        for col, value in scope.items():
            if col in meta.partition_keys:
                labels = {
                    l for l, p in meta.partitions.items() if p.key_values.get(col) == value
                }
            elif meta.has_index(col):
                idx = meta.secondary_index(store, col, literals=[("==", value)])
                labels = idx.query(value) & set(meta.partitions)
            else:
                raise ValueError(
                    f"delete_scope column {col!r} is neither a partition key nor indexed"
                )
            candidate = labels if candidate is None else (candidate & labels)
        if candidate:
            to_remove.update(candidate)
    return to_remove


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by", "zone_map_columns", "bloom_filter_columns")
def update_dataset_from_dataframe(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    df: DataFrame | None = None,
    *,
    delete_scope: Sequence[dict[str, Any]] | None = None,
    partition_on: Sequence[str] | None = None,
    secondary_indices: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    num_buckets: int | None = None,
    bucket_by: Sequence[str] | None = None,
    metadata: dict[str, Any] | None = None,
    override_metadata: dict[str, Any] | None = None,
    file_format: str = "parquet",
    compress: bool = True,
    schema_evolution: bool = False,
    zone_map_columns: Sequence[str] | None = None,
    bloom_filter_columns: Sequence[str] | None = None,
    bloom_n_bits: int | None = None,
    bloom_k: int | None = None,
) -> DatasetMetadata:
    """Add partitions and/or delete partitions in ONE atomic commit.

    ``metadata`` merges under the reference's user-metadata rule
    (conflicting leaves are DROPPED — combine_metadata);
    ``override_metadata`` instead deep-overrides, for system-owned
    markers that must advance on update (streaming batch ids, the BM25
    index's corpus stats). Both land in the same atomic commit.

    A first-time update CREATES the dataset (reference semantics:
    update on a nonexistent uuid is a store —
    /root/reference/plateau/io/testing/update.py
    ``test_update_first_time_with_secondary_indices``); there too
    ``override_metadata`` wins over a conflicting ``metadata`` leaf.
    ``secondary_indices`` names index columns: on creation they are
    built as usual; on an existing dataset any NOT-yet-indexed column
    is built over all partitions in the same commit (already-indexed
    columns just refresh, as always).

    ``schema_evolution=True`` permits ADDITIVE evolution: the new data
    may append nullable columns (it must still carry every existing
    column with an identical type). The merged schema lands in the same
    atomic commit as the new files; pre-evolution files read as NULL for
    the added columns because every scan uses the commit-file schema
    explicitly. Parquet payloads only (a CSV file read under a wider
    schema would misparse). The reference is strictly schema-stable —
    this is an opt-in Spark-native extension.

    Reference: update_dataset_from_dataframes
    (/root/reference/plateau/io/eager.py:629-704) +
    update_dataset_from_partitions (plateau/io_components/update.py:20-54).
    """
    store = _ensure_store(store)
    old = DatasetMetadata.load_if_exists(store, dataset_uuid)
    if old is None and df is None:
        raise ValueError(
            f"Dataset {dataset_uuid!r} does not exist and no data was "
            "given — a delete-only update needs an existing dataset"
        )
    return _store_frames(
        spark, store, dataset_uuid, [] if df is None else [df], old,
        delete_scope=delete_scope, partition_on=partition_on,
        secondary_indices=secondary_indices, sort_partitions_by=sort_partitions_by,
        num_buckets=num_buckets, bucket_by=bucket_by, metadata=metadata,
        override_metadata=override_metadata, file_format=file_format,
        compress=compress, schema_evolution=schema_evolution,
        zone_map_columns=zone_map_columns, bloom_filter_columns=bloom_filter_columns,
        bloom_n_bits=bloom_n_bits, bloom_k=bloom_k,
    )


@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def write_single_partition(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    df: DataFrame,
    *,
    partition_on: Sequence[str] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    file_format: str = "parquet",
    compress: bool = True,
) -> list[Partition]:
    """Write files WITHOUT touching metadata — pair with ``commit_dataset``
    for concurrent-writer workflows (reference:
    plateau/io/eager.py:555-626). Uncommitted files are invisible to
    readers (explicit-path scans) and reclaimable by GC.

    When the dataset already exists, the staged frame is validated
    BEFORE staging against the dataset's committed contract — schema
    compatibility (the reference validates every staged partition's
    schema at commit, plateau/io_components/write.py:103-134; failing
    at stage time is the cheaper end of the same guarantee — and
    ``commit_dataset`` independently re-checks staged parquet footers,
    closing the drifted-concurrent-writer hole) and CHECK constraints
    (folded into the write job). A not-yet-created dataset defers both
    to ``commit_dataset``, which requires an explicit ``schema``."""
    store = _ensure_store(store)
    partition_on = list(partition_on or [])
    meta = DatasetMetadata.load_if_exists(store, dataset_uuid)
    if meta is None:
        df, constraints = normalize_dataframe(df, partition_on), None
    else:
        df = _checked_frame(meta, df, append=True, file_format=file_format)
        constraints = meta.metadata.get("constraints")
    return _write_files(
        df, store, dataset_uuid, partition_on,
        sort_partitions_by=sort_partitions_by,
        file_format=file_format, compress=compress,
        constraints=constraints,
    )


def _validate_staged_schemas(
    store: Store, meta: DatasetMetadata, new_partitions: Sequence[Partition]
) -> None:
    """Commit-time schema gate for the two-phase protocol — reference
    parity: ``store_dataset_from_partitions`` validates every staged
    partition's schema against the dataset schema before the swap
    (/root/reference/plateau/io_components/write.py:103-134). Here the
    staged files' parquet FOOTERS are read (never row data — O(new
    files) metadata round-trips, thread-pooled like the staged-rename
    loop) and each is `validate_compatible`d against the commit-file
    schema, so a concurrent writer whose frame drifted fails AT COMMIT
    with a schema diff instead of committing files that surface later
    as scan failures or null-filled columns. Hive-partitioned files
    omit the partition-key columns (they live in directory names), so
    the expectation is the payload schema. Non-parquet payloads carry
    no footer — for those ``write_single_partition``'s pre-staging
    validation is the guard (documented format bound)."""
    if meta.schema is None or not new_partitions:
        return
    import pyarrow.parquet as _pq

    from pyspark.sql.pandas.types import from_arrow_schema

    from plateau_spark.core.schema import SchemaValidationError
    from plateau_spark.operators.dataflow import _pyarrow_location

    pk = set(meta.partition_keys)
    expected = T.StructType([f for f in meta.schema.fields if f.name not in pk])

    def _fold_ntz(exp: T.DataType, act: T.DataType) -> T.DataType:
        """A parquet footer cannot distinguish Spark's TIMESTAMP_NTZ
        from a tz-naive TIMESTAMP (pyarrow reports a tz-less timestamp
        for both, INT96 included), so from_arrow_schema's choice of
        TimestampType must not fail a dataset whose declared field is
        TimestampNTZType (or vice versa): where the ONLY difference is
        NTZ-ness, adopt the expected type. Recurses through
        struct/array/map so nested timestamps fold too."""
        ts = (T.TimestampType, T.TimestampNTZType)
        if isinstance(exp, ts) and isinstance(act, ts):
            return exp
        if isinstance(exp, T.StructType) and isinstance(act, T.StructType):
            by_name = {f.name: f for f in exp.fields}
            return T.StructType([
                T.StructField(
                    f.name,
                    _fold_ntz(by_name[f.name].dataType, f.dataType)
                    if f.name in by_name else f.dataType,
                    f.nullable,
                )
                for f in act.fields
            ])
        if isinstance(exp, T.ArrayType) and isinstance(act, T.ArrayType):
            return T.ArrayType(
                _fold_ntz(exp.elementType, act.elementType), act.containsNull
            )
        if isinstance(exp, T.MapType) and isinstance(act, T.MapType):
            return T.MapType(
                _fold_ntz(exp.keyType, act.keyType),
                _fold_ntz(exp.valueType, act.valueType),
                act.valueContainsNull,
            )
        return act

    def _check(p: Partition) -> None:
        if not p.file.endswith(".parquet"):
            return
        footer = _pq.read_schema(_pyarrow_location(store.url(p.file)))
        try:
            actual = from_arrow_schema(footer)
        except Exception as e:  # unconvertible arrow type = drift by definition
            raise SchemaValidationError(
                f"Staged partition {p.label!r}: parquet footer schema "
                f"{footer} cannot map onto the dataset schema ({e})"
            ) from e
        actual = _fold_ntz(expected, actual)
        try:
            validate_compatible(expected, actual)
        except SchemaValidationError as e:
            raise SchemaValidationError(
                f"Staged partition {p.label!r} drifted from the dataset "
                f"schema — refusing to commit:\n{e}"
            ) from e

    with ThreadPoolExecutor(
        max_workers=min(32, max(1, len(new_partitions)))
    ) as pool:
        list(pool.map(_check, new_partitions))


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def commit_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    *,
    new_partitions: Sequence[Partition] | None = None,
    delete_scope: Sequence[dict[str, Any]] | None = None,
    metadata: dict[str, Any] | None = None,
    schema=None,
    partition_on: Sequence[str] | None = None,
) -> DatasetMetadata:
    """Attach pre-written partitions / delete / add metadata atomically.

    Reference: commit_dataset (/root/reference/plateau/io/eager.py:295-420).
    Creates the dataset if it does not exist yet (requires ``schema``).
    """
    store = _ensure_store(store)
    _base = None
    meta = DatasetMetadata.load_if_exists(store, dataset_uuid)
    if meta is not None:
        _base = _commit_base_snapshot(meta)
    else:
        if schema is None:
            raise ValueError("Committing a new dataset requires `schema`")
        from plateau_spark.core.schema import normalize_schema

        meta = DatasetMetadata(
            uuid=dataset_uuid,
            partition_keys=list(partition_on or []),
            schema=normalize_schema(schema),
        )

    # refuse drifted staged files BEFORE any mutation (reference parity:
    # io_components/write.py:103-134) — on failure the staged files stay
    # invisible and GC-reclaimable, and the commit file is untouched
    new_partitions = list(new_partitions or [])
    _validate_staged_schemas(store, meta, new_partitions)
    removed = _resolve_delete_scope(meta, store, delete_scope)
    # the two-phase API exists FOR concurrent writers: an existing
    # dataset commits through the merge path (append-only races merge,
    # anything else fails loudly)
    return _commit_files(
        spark, store, meta, _base, new_partitions, removed=removed, metadata=metadata
    )


# ---------------------------------------------------------------------------
# indexes / lifecycle
# ---------------------------------------------------------------------------


@_invalidates_factory
@normalize_args("partition_on", "secondary_indices", "sort_partitions_by", "bucket_by", "columns", "dispatch_by")
def build_dataset_indices(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    columns: Sequence[str],
) -> DatasetMetadata:
    """Post-hoc secondary index build; partitions untouched.

    Reference: build_dataset_indices (/root/reference/plateau/io/eager.py:707-741).
    A column missing from the dataset schema fails fast driver-side with
    the reference's error shape (plateau/io_components/metapartition.py:1025)
    instead of surfacing a Spark AnalysisException from inside the job.
    """
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    _validate_declared_columns(
        meta.schema, meta.partition_keys, dataset_uuid, index_columns=columns
    )
    # a rebuild starts from no sidecar: drop the current ones first. An
    # index built over a stale partition list must not be committed over
    # a concurrent append (the new files would be invisibly missing from
    # it) — the merge path raises on any concurrent commit here because
    # our indices diverged from the base snapshot
    for col in columns:
        meta.indices.pop(col, None)
    return _commit_files(spark, store, meta, _base, [], index_columns=columns)


def read_dataset_as_dataframes(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str | None = None,
    **kwargs,
) -> DataFrame:
    """Reference-spelled alias of ``read_dataset_as_dataframe``.

    The reference's eager ``read_dataset_as_dataframes``
    (/root/reference/plateau/io/eager.py) returns a LIST of per-partition
    pandas frames; the Spark-native shape is ONE distributed DataFrame
    (documented design divergence, SURVEY §1.4 — per-partition iteration
    is ``read_dataset_as_dataframe_iterator``). Provided so the
    reference's import spelling works verbatim when porting.
    """
    return read_dataset_as_dataframe(spark, store, dataset_uuid, **kwargs)


def update_dataset_from_dataframes(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    dfs: DataFrame | Sequence[DataFrame] | None = None,
    **kwargs,
) -> DatasetMetadata:
    """Reference-spelled alias of ``update_dataset_from_dataframe``
    (/root/reference/plateau/io/eager.py — plural form takes a list of
    new-chunk frames): a list/tuple is unioned by name into the single
    appended DataFrame, a bare DataFrame passes through.
    """
    if isinstance(dfs, (list, tuple)):
        df = None
        for d in dfs:
            df = d if df is None else df.unionByName(d)
    else:
        df = dfs
    return update_dataset_from_dataframe(spark, store, dataset_uuid, df, **kwargs)


@_invalidates_factory
def delete_rows_from_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    predicates: Predicates,
    *,
    compress: bool = True,
) -> DatasetMetadata:
    """ROW-level delete (GDPR/right-to-be-forgotten at scale) as
    partition-granular copy-on-write — an extension beyond the
    reference, whose finest delete unit is the partition
    (``delete_scope``; plateau/io_components/update.py:1-54).

    Semantics: rows where the DNF ``predicates`` evaluates TRUE are
    removed; FALSE and NULL rows are kept (SQL DELETE WHERE semantics).

    Plan shape, and why it scales:
      1. ``plan_scan(predicates)`` selects the files that MAY hold
         matching rows — partition keys, zone maps, and Bloom sidecars
         all prune here, so a delete keyed to one user/tenant rewrites
         O(matching files), never the corpus.
      2. ONE Spark job reads only those files, keeps the complement
         (``NOT coalesce(pred, false)`` — codegen), and writes
         replacement files through the normal staging protocol.
      3. ONE atomic commit swaps candidates for replacements (schema,
         zone maps, indices and blooms refreshed for the touched
         labels). Readers see either every old row or exactly the
         post-delete state. Old files are reclaimed by
         ``garbage_collect_dataset`` after in-flight readers drain.

    Files whose rows ALL match simply drop (no empty-file litter).
    Returns the new metadata; no-op (0 candidate files) returns the
    current metadata untouched.
    """
    check_predicates(predicates)
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    candidates = plan_scan(meta, store, predicates)
    if not candidates:
        return meta

    from plateau_spark.core.predicates import dnf_to_column

    df = _read_committed_files(spark, store, dataset_uuid, meta.schema, candidates)
    keep = df.where(~F.coalesce(dnf_to_column(predicates), F.lit(False)))
    new_partitions = _write_files(
        keep, store, dataset_uuid, meta.partition_keys, compress=compress
    )
    return _commit_files(
        spark, store, meta, _base, new_partitions,
        removed=[p.label for p in candidates],
    )


@_invalidates_factory
def merge_upsert_into_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    updates: DataFrame,
    key_columns: Sequence[str] | str,
    *,
    compress: bool = True,
) -> DatasetMetadata:
    """Keyed UPSERT (MERGE: update-or-insert by ``key_columns``) as
    partition-granular copy-on-write — the lakehouse MERGE INTO shape
    over the plain commit-file format (extension beyond the reference).

    Semantics: a dataset row whose key tuple appears in ``updates`` is
    REPLACED by the update row; update rows with unseen keys are
    INSERTED. One atomic commit; readers see pre- or post-merge state.

    Scale shape:
      1. Candidate pruning WITHOUT touching data: the updates' per-key
         min/max bounds (one tiny agg job → 2 literals per key column)
         become a range conjunction for ``plan_scan`` — files whose
         zone maps / partition keys provably exclude every update key
         are never read or rewritten. (Track the merge key with
         ``zone_map_columns`` or ``partition_on`` to make this bite;
         untracked keys degrade to a full rewrite, loudly visible in
         the commit diff.)
      2. ONE job: candidates LEFT-ANTI-join updates on the key (drops
         the superseded rows — hash join on fixed-width keys), union
         ALL update rows, staged write.
      3. One swap commit (indices/blooms/zone maps refreshed for the
         touched labels), old files reclaimable by GC.

    ``updates`` must carry the dataset's full schema and at most one
    row per key tuple (enforced; duplicate update keys would make the
    result order-dependent).
    """
    key_columns = [key_columns] if isinstance(key_columns, str) else list(key_columns)
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    updates = normalize_dataframe(updates, meta.partition_keys)
    validate_compatible(meta.schema, updates.schema)
    for c in key_columns:
        if meta.schema is not None and c not in {f.name for f in meta.schema}:
            raise ValueError(f"merge key column {c!r} not in dataset schema")

    # one probe: duplicate-key check + key bounds → pruning conjunction
    candidates = _merge_key_candidates(
        meta, store, updates, key_columns, null_keys_match=True,
        duplicate_error="updates carry duplicate merge-key tuples",
    )

    # CHECK constraints gate the INCOMING rows only (kept rows were
    # validated when first written; after restore_dataset's documented
    # escape hatch they may predate a constraint, and a MERGE must not
    # spuriously fail on rows it merely rewrites unchanged)
    updates = _constraint_guard(updates, meta.metadata.get("constraints"))
    keep = None
    if candidates:
        existing = _read_committed_files(
            spark, store, dataset_uuid, meta.schema, candidates
        )
        keep = existing.join(updates.select(*key_columns), key_columns, "left_anti")
    merged = updates if keep is None else keep.unionByName(updates)
    new_partitions = _write_files(
        merged, store, dataset_uuid, meta.partition_keys, compress=compress
    )
    return _commit_files(
        spark, store, meta, _base, new_partitions,
        removed=[p.label for p in candidates],
    )


def _merge_key_candidates(
    meta: DatasetMetadata,
    store: Store,
    source: DataFrame,
    key_columns,
    *,
    null_keys_match: bool,
    duplicate_error: str,
):
    """Candidate files for a keyed MERGE, after ONE probe of the source:
    a ``groupBy(keys).count()`` feeding one aggregation that yields the
    largest key-tuple count (> 1 raises ``ValueError(duplicate_error)``)
    and each key column's min/max. The bounds (2 driver literals per key
    column) become a range conjunction for ``plan_scan`` — files whose
    zone maps / partition values provably exclude every source key are
    never read or rewritten. ``null_keys_match=False`` exempts key
    tuples with a NULL component from the duplicate check (ANSI MERGE:
    NULL never matches, so such rows cannot collide)."""
    n = F.col("count")
    if not null_keys_match:
        non_null = functools.reduce(
            lambda a, b: a & b, [F.col(k).isNotNull() for k in key_columns]
        )
        n = F.when(non_null, n)
    probe = source.groupBy(*key_columns).count().agg(
        F.max(n).alias("__dup__"),
        *[F.min(c).alias(f"__lo_{c}__") for c in key_columns],
        *[F.max(c).alias(f"__hi_{c}__") for c in key_columns],
    ).first()
    if (probe["__dup__"] or 0) > 1:
        raise ValueError(duplicate_error)
    conj = []
    for c in key_columns:
        lo, hi = probe[f"__lo_{c}__"], probe[f"__hi_{c}__"]
        if lo is not None:
            conj.append((c, ">=", lo))
        if hi is not None:
            conj.append((c, "<=", hi))
    return plan_scan(meta, store, [conj] if conj else None)


@_invalidates_factory
def merge_into_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    source: DataFrame,
    key_columns: Sequence[str] | str,
    *,
    when_matched_update: str | None = "true",
    when_matched_delete: str | None = None,
    when_not_matched_insert: str | None = "true",
    compress: bool = True,
) -> DatasetMetadata:
    """Full MERGE INTO over a plateau dataset (ANSI/Delta-shaped
    conditional merge; extension beyond the reference, which stops at
    append/delete — ``merge_upsert_into_dataset`` is the
    unconditional fast path of this operator).

    For every dataset row whose key tuple matches a ``source`` row:
      1. ``when_matched_delete`` (SQL boolean over aliases ``t`` =
         target row, ``s`` = source row) — row is DROPPED;
      2. else ``when_matched_update`` — row is REPLACED by the source
         row;
      3. else the target row is kept unchanged.
    Source rows with no key match are INSERTED when
    ``when_not_matched_insert`` (over ``s``) holds. Each clause may be
    None (= never fires). Defaults reproduce plain upsert.

    NULL merge keys follow ANSI/Delta MERGE semantics: NULL never
    matches anything (not even another NULL), so a NULL-key target row
    is always kept unchanged and a NULL-key source row is handled by
    the not-matched insert clause.

    Scale shape: candidate files pruned by the source's key bounds
    (zone maps / partition values — untouched files are never read);
    ONE shuffle of candidates against the source on the key (hash
    join); one staged write + one atomic optimistic-concurrency swap
    commit. ``source`` must carry the dataset's full schema and unique
    key tuples.
    """
    key_columns = [key_columns] if isinstance(key_columns, str) else list(key_columns)
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    source = normalize_dataframe(source, meta.partition_keys)
    validate_compatible(meta.schema, source.schema)
    schema_cols = [f.name for f in meta.schema or source.schema]
    for c in key_columns:
        if c not in schema_cols:
            raise ValueError(f"merge key column {c!r} not in dataset schema")
    # NULL keys never match (ANSI MERGE), so rows with a NULL key component
    # can't collide with each other — only non-NULL key tuples must be unique.
    candidates = _merge_key_candidates(
        meta, store, source, key_columns, null_keys_match=False,
        duplicate_error="source carries duplicate merge-key tuples",
    )

    delete_cond = (
        F.expr(when_matched_delete) if when_matched_delete else F.lit(False)
    )
    update_cond = (
        F.expr(when_matched_update) if when_matched_update else F.lit(False)
    )
    insert_cond = (
        F.expr(when_not_matched_insert) if when_not_matched_insert else F.lit(False)
    )

    src = source.alias("s")
    pieces = []
    if candidates:
        existing = _read_committed_files(
            spark, store, dataset_uuid, meta.schema, candidates
        ).alias("t")
        # ANSI/Delta MERGE semantics: NULL never matches. Plain (null-unsafe)
        # equality here keeps all three joins consistent — a NULL-key target
        # row is "unmatched" (kept via the anti join below) and a NULL-key
        # source row is "not matched" (insert clause), never both.
        key_eq = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_columns]
        matched = existing.join(src, key_eq, "inner")
        survivors = matched.where(~F.coalesce(delete_cond, F.lit(False)))
        updated = survivors.where(
            F.coalesce(update_cond, F.lit(False))
        ).select([F.col(f"s.{c}").alias(c) for c in schema_cols])
        kept_matched = survivors.where(
            ~F.coalesce(update_cond, F.lit(False))
        ).select([F.col(f"t.{c}").alias(c) for c in schema_cols])
        unmatched_target = existing.join(
            src.select(*[F.col(f"s.{k}").alias(k) for k in key_columns]),
            key_columns,
            "left_anti",
        ).select(*schema_cols)
        # incoming (source-derived) rows pass the CHECK constraints; kept
        # target rows were validated when first written
        updated = _constraint_guard(updated, meta.metadata.get("constraints"))
        pieces += [kept_matched, unmatched_target, updated]
        inserts_base = src.join(
            existing.select(
                *[F.col(f"t.{k}").alias(k) for k in key_columns]
            ),
            key_columns,
            "left_anti",
        )
    else:
        inserts_base = src
    inserts = (
        inserts_base.where(F.coalesce(insert_cond, F.lit(False)))
        .select([F.col(c) for c in schema_cols])
    )
    inserts = _constraint_guard(inserts, meta.metadata.get("constraints"))
    pieces.append(inserts)
    merged = pieces[0]
    for p in pieces[1:]:
        merged = merged.unionByName(p)
    new_partitions = _write_files(
        merged, store, dataset_uuid, meta.partition_keys, compress=compress
    )
    return _commit_files(
        spark, store, meta, _base, new_partitions,
        removed=[p.label for p in candidates],
    )


def read_datasets_weighted(
    spark: SparkSession,
    store: Store | str,
    weights: dict[str, float],
    *,
    key_col: str,
    source_col: str = "__source__",
    salt: str = "mix",
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Multi-corpus training-mix reader: one DataFrame over SEVERAL
    datasets, each independently downsampled to its mixture weight —
    the multi-dataset composition of ``mixture_sample`` (there the
    source is a column; here each source is its own dataset with its
    own commit/pruning/indexes).

    ``weights`` maps dataset_uuid → keep probability in (0, 1]. Row
    fate is a pure md5 hash of ``key_col`` (salted per dataset), so the
    mix is deterministic across reruns, engines, and corpus growth
    within a source. ``predicates``/``columns`` push into EVERY member
    read (each dataset prunes with its own metadata). The source uuid
    rides along in ``source_col`` for downstream per-source accounting.

    100 TB shape: per-dataset pruned scans unioned under one plan — no
    shuffle is introduced by the union or the sampling filter (both are
    narrow); schemas must be union-compatible (columns are aligned by
    name; use ``columns=`` for a shared projection).
    """
    from plateau_spark.operators.sampling import _hash_unit

    if not weights:
        raise ValueError("weights must name at least one dataset")
    parts = []
    for uuid, keep_p in weights.items():
        if not 0 < keep_p <= 1 + 1e-9:
            raise ValueError(f"weight for {uuid!r} must be in (0, 1], got {keep_p}")
        df = read_dataset_as_dataframe(
            spark, store, uuid, predicates=predicates, columns=columns
        )
        u = _hash_unit(key_col, f"{salt}:{uuid}")
        parts.append(
            df.where(u < F.lit(float(keep_p))).withColumn(source_col, F.lit(uuid))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_invalidates_factory
def garbage_collect_dataset(
    store: Store | str, dataset_uuid: str, *, keep_staging: bool = False
) -> list[str]:
    """Delete store keys not referenced by the current commit (old index
    files, superseded time-travel snapshots, files from
    failed/uncommitted writes).

    Reference: garbage_collect_dataset (/root/reference/plateau/io/eager.py:744-769,
    plateau/io_components/gc.py:8-52). Matching the reference's
    ``explicit_partitions`` guard, table data files are only reclaimed
    once the dataset has an explicit partition list — a header-only
    dataset with files staged via ``write_single_partition`` keeps its
    pending files.

    Concurrency: the commit lock is held across the sweep, and the
    delete-candidate listing is snapshotted BEFORE the referenced set
    is loaded — so (a) a commit that lands before GC acquires the lock
    is fully respected, (b) one racing GC blocks on the lock until the
    sweep finishes and its metadata is never half-read, and (c) any
    file a concurrent writer creates after the listing is not a
    candidate at all, whether or not its commit has landed. The
    residual window is a writer that renamed files into the table dir
    BEFORE GC's listing but commits after the sweep: those files are
    unreferenced for the whole sweep and indistinguishable from a
    crashed write without a retention clock — the reference has the
    same contract (don't run default-mode GC concurrently with an
    in-flight write). ``keep_staging=True`` makes GC additionally skip
    the ``.staging/`` prefix (pre-rename writers are then safe too).
    A sweep longer than a waiter's lock timeout makes that waiter's
    commit raise ``TimeoutError`` rather than interleave (honest
    serialization); the lock's mtime is refreshed through the sweep so
    a waiter's stale-break can never unlink it mid-hold and re-open
    the race.
    """
    store = _ensure_store(store)
    staging_prefix = f"{dataset_uuid}/{naming.STAGING_DIR}/"
    removed = []
    with store.commit_lock(dataset_uuid) as _refresh_lock:
        candidates = list(store.iter_keys(f"{dataset_uuid}/"))
        meta = DatasetMetadata.load(store, dataset_uuid)
        referenced = meta.referenced_keys()
        table_prefix = _table_prefix(dataset_uuid)
        # index "files" are directories when written by Spark — keep their contents
        for i, key in enumerate(candidates):
            if i % 256 == 0:
                _refresh_lock()  # stay younger than any waiter's stale-break
            if key in referenced:
                continue
            if key.endswith("/.commit.lock"):
                continue  # transient commit mutex (store.commit_lock)
            if keep_staging and key.startswith(staging_prefix):
                continue  # in-flight writers' staging area
            if any(key.startswith(ref.rstrip("/") + "/") for ref in referenced):
                continue  # member of a referenced directory-parquet
            if not meta.explicit_partitions and key.startswith(table_prefix):
                continue  # pending write_single_partition files (gc.py:24-31)
            removed.append(key)
            store.delete(key)
    return removed


def copy_dataset(
    src_store: Store | str,
    dataset_uuid: str,
    target_store: Store | str | None = None,
    target_uuid: str | None = None,
) -> DatasetMetadata:
    """Copy a committed dataset (data files + indexes + commit file),
    optionally renaming it — metadata-file keys are rewritten for the
    new UUID; data bytes are copied verbatim.

    Reference: copy_dataset / copy_keys
    (/root/reference/plateau/utils/store.py:176-210,
    plateau/io/eager.py copy_dataset). Data copied last, commit file
    last of all, so a crashed copy never yields a readable half-dataset.
    """
    src_store = _ensure_store(src_store)
    target_store = src_store if target_store is None else _ensure_store(target_store)
    target_uuid = target_uuid or dataset_uuid
    naming.validate_dataset_uuid(target_uuid)
    if src_store is target_store and target_uuid == dataset_uuid:
        raise ValueError("Cannot copy a dataset onto itself")
    if DatasetMetadata.exists(target_store, target_uuid):
        raise RuntimeError(f"Dataset `{target_uuid}` already exists in target store")

    meta = DatasetMetadata.load(src_store, dataset_uuid)

    def _rekey(key: str) -> str:
        assert key.startswith(f"{dataset_uuid}/")
        return f"{target_uuid}/{key[len(dataset_uuid) + 1:]}"

    data_keys = set()
    for p in meta.partitions.values():
        data_keys.add(p.file)
    for idx_key in meta.indices.values():
        # Spark-written indexes are directories; copy member files
        members = [k for k in src_store.iter_keys(idx_key) if not k.endswith(".crc")]
        data_keys.update(members or [idx_key])
    for info in meta.blooms.values():
        members = [
            k for k in src_store.iter_keys(info["key"]) if not k.endswith(".crc")
        ]
        data_keys.update(members or [info["key"]])
    for key in sorted(data_keys):
        target_store.put_bytes(_rekey(key), src_store.get_bytes(key))

    new_meta = DatasetMetadata(
        uuid=target_uuid,
        partitions={
            label: Partition(
                label=label, file=_rekey(p.file), key_values=dict(p.key_values),
                row_count=p.row_count,
            )
            for label, p in meta.partitions.items()
        },
        partition_keys=list(meta.partition_keys),
        schema=meta.schema,
        indices={c: _rekey(k) for c, k in meta.indices.items()},
        blooms={
            c: {**info, "key": _rekey(info["key"])}
            for c, info in meta.blooms.items()
        },
        metadata=dict(meta.metadata),
        explicit_partitions=meta.explicit_partitions,
    )
    new_meta.commit(target_store)
    return new_meta


@_invalidates_factory
def compact_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    *,
    target_files_per_key: int = 1,
    gc: bool = False,
    zorder_by: Sequence[str] | None = None,
) -> DatasetMetadata:
    """Merge a fragmented dataset's many small files into at most
    ``target_files_per_key`` files per partition-key combination —
    the maintenance pass every incrementally-updated dataset needs
    (each ``update_dataset_from_dataframes`` append adds files; small
    files ruin scan throughput and driver planning at scale).

    Incremental: only the key groups holding MORE than
    ``target_files_per_key`` files are rewritten. Every other group
    keeps its files, labels and zone-map stats, so the pass costs
    O(fragmented data), not O(dataset). One read job over the
    over-target groups (an explicit-path scan of exactly their files in
    the loaded commit) + one write job (the same shuffle shape as a
    bucketed store: repartition on the keys, or on (keys ⊕ hash-bucket)
    for ``target_files_per_key > 1``), then index and Bloom sidecars are
    MERGED like any other commit (rewritten labels dropped, new files'
    entries added — never rebuilt over the whole dataset) and ONE
    atomic commit swaps the rewritten labels. Superseded files are NOT
    reclaimed by default: readers holding the previous commit keep
    working until an explicit ``garbage_collect_dataset`` runs after
    in-flight readers drain (exactly the reference's GC contract);
    pass ``gc=True`` to reclaim immediately when no concurrent readers
    exist. No-op (no write, no commit) when no key group exceeds the
    target file count. Keyless datasets are one group: rewritten whole.

    ``zorder_by`` turns the pass into the OPTIMIZE shape: the rewritten
    data is Morton-z-order clustered on the given columns
    (plans/zorder.py) into ``target_files_per_key`` range-disjoint
    files, and those columns join the zone-map set — multi-column box
    predicates prune files driver-side afterwards. Keyless datasets
    only (z-ordering WITHIN hive partitions would fragment the
    per-key file guarantee); runs even when file counts are already at
    target (re-clustering is the point).

    Not in the reference (its datasets get compacted by full rewrite);
    north-star lifecycle extension, SURVEY.md §2.7.
    """
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    if zorder_by and meta.partition_keys:
        raise ValueError(
            "zorder_by compaction applies to keyless datasets (hive keys "
            "already cluster the layout); drop partition_on or zorder_by"
        )
    # z-order columns join the zone-map set
    _validate_declared_columns(
        meta.schema, meta.partition_keys, dataset_uuid, zone_map_columns=zorder_by
    )

    groups: dict[tuple, list[Partition]] = {}
    for p in meta.partitions.values():
        k = tuple(sorted((c, str(v)) for c, v in p.key_values.items()))
        groups.setdefault(k, []).append(p)
    over = [g for g in groups.values() if len(g) > target_files_per_key]
    if not zorder_by and not over:
        return meta

    # scan exactly the loaded partitions of the rewritten groups
    if zorder_by:
        over = list(groups.values())
    df = _scan_partitions(
        spark, store, dataset_uuid, meta, [p for g in over for p in g]
    )
    if zorder_by:
        from plateau_spark.plans.zorder import cluster_by_zorder

        clustered = cluster_by_zorder(
            df, list(zorder_by), num_partitions=max(int(target_files_per_key), 1)
        )
        partitions = _write_files(clustered, store, dataset_uuid, [])
    elif meta.partition_keys:
        # bucket on the NON-key columns so the hash varies within a key —
        # hash(partition_keys) is constant per key directory and would
        # collapse target_files_per_key back to one file per key
        _data_cols = _hashable_data_cols(meta.schema, meta.partition_keys)
        _split = target_files_per_key > 1 and bool(_data_cols)
        if target_files_per_key > 1 and not _data_cols:
            import warnings

            warnings.warn(
                f"target_files_per_key={target_files_per_key} requested but "
                "every non-key column contains a MapType (not hashable by "
                "Spark) — writing one file per partition key instead.",
                UserWarning,
                stacklevel=2,
            )
        partitions = _write_files(
            df,
            store,
            dataset_uuid,
            meta.partition_keys,
            num_buckets=target_files_per_key if _split else None,
            bucket_by=_data_cols if _split else None,
        )
    else:
        # keyless dataset: full shuffle down to the target file count
        # (repartition, not coalesce — keeps the read parallel)
        partitions = _write_files(
            df.repartition(target_files_per_key), store, dataset_uuid, []
        )

    meta = _commit_files(
        spark, store, meta, _base, partitions,
        removed=sorted(p.label for g in over for p in g), zone_map_columns=zorder_by,
    )
    if gc:
        garbage_collect_dataset(store, dataset_uuid)
    return meta


@_invalidates_factory
def repartition_dataset(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    *,
    partition_on: Sequence[str],
    num_buckets: int | None = None,
    gc: bool = False,
) -> DatasetMetadata:
    """Partition-layout evolution: rewrite the dataset under NEW hive
    partition keys (or ``partition_on=[]`` to flatten) in one atomic
    swap — the lakehouse answer to "we partitioned by ingest date but
    every query filters by language".

    The reference fixes ``partition_on`` at dataset creation
    (plateau/io_components/write.py) — changing layout means a manual
    copy-everything migration with a window where readers see neither
    layout. This maintenance op is the compact_dataset shape with a
    key change: one pruned read, one bucketed write under the new
    keys, zone maps re-harvested for every previously-tracked column,
    secondary indices and Bloom sidecars rebuilt over the new files,
    ONE optimistic commit swapping the entire partition set (so a
    concurrent commit raises instead of being reverted). Readers hold
    the old snapshot until the commit lands; time travel to
    pre-evolution generations keeps working; superseded files are
    reclaimed by ``garbage_collect_dataset`` (or ``gc=True``) once
    in-flight readers drain.

    NULL values in a new key column fail the write (the same staging
    hard error as any partitioned store — a silent
    ``__HIVE_DEFAULT_PARTITION__`` would corrupt pruning).
    """
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    partition_on = list(partition_on)
    schema_cols = {f.name for f in meta.schema or []}
    missing = [c for c in partition_on if c not in schema_cols]
    if missing:
        raise ValueError(f"partition_on columns not in dataset schema: {missing}")
    # every Bloom sidecar is rebuilt under the new keys
    _validate_declared_columns(
        meta.schema, partition_on, dataset_uuid, bloom_columns=list(meta.blooms)
    )

    df = _scan_partitions(
        spark, store, dataset_uuid, meta, list(meta.partitions.values())
    )
    if partition_on:
        # bucket on the NON-key columns: the bucket hash must vary WITHIN
        # a partition key or num_buckets silently degenerates to one file
        # per key (hash(partition_on) is constant inside a key directory)
        _data_cols = _hashable_data_cols(meta.schema, partition_on)
        if num_buckets and not _data_cols:
            import warnings

            warnings.warn(
                f"num_buckets={num_buckets} requested but every non-key "
                "column contains a MapType (not hashable by Spark) — "
                "writing one file per partition key instead.",
                UserWarning,
                stacklevel=2,
            )
        partitions = _write_files(
            df,
            store,
            dataset_uuid,
            partition_on,
            num_buckets=num_buckets if _data_cols else None,
            bucket_by=_data_cols if (num_buckets and _data_cols) else None,
        )
    else:
        # flattening: num_buckets degenerates to a plain target file
        # count (repartition keeps the write parallel; no key to bucket)
        flat = df.repartition(num_buckets) if num_buckets else df
        partitions = _write_files(flat, store, dataset_uuid, [])
    removed = sorted(meta.partitions)
    meta.partition_keys = partition_on
    _drop_sidecar_keys(meta)
    meta = _commit_files(spark, store, meta, _base, partitions, removed=removed)
    if gc:
        garbage_collect_dataset(store, dataset_uuid)
    return meta


@_invalidates_factory
def restore_dataset(
    store: Store | str, dataset_uuid: str, generation: int
) -> DatasetMetadata:
    """Delta-RESTORE-style rollback: re-commit snapshot ``generation``'s
    content (partitions, schema, indices, blooms) as a NEW generation —
    history stays monotonic, so the pre-restore state remains time-
    travel-readable and a restore can itself be restored away. Purely a
    metadata operation: no data is rewritten; the snapshot's files are
    simply referenced again.

    Fails loudly when the snapshot is unavailable (reclaimed by GC —
    the VACUUM contract) or when any file it references was garbage-
    collected after a later commit superseded it; and, because a
    restore usually REMOVES partitions relative to the current state,
    a concurrent commit during the restore raises
    ``ConcurrentCommitError`` instead of being silently reverted
    (the same optimistic-concurrency path every rewrite commit uses).

    USER METADATA — INCLUDING CHECK CONSTRAINTS — IS NOT RESTORED: the
    latest commit's ``metadata`` (constraints, user annotations) is
    kept while the CONTENT (partitions, schema, indices, blooms) rolls
    back — the same choice Delta makes (RESTORE keeps table
    properties). Consequence, documented as the escape hatch: restoring
    to a generation written BEFORE a constraint was declared can
    resurrect rows that violate it — restore re-references files, it
    never re-reads them, and re-validating terabytes of history would
    make rollback a data job instead of a metadata op. Every
    subsequent WRITE still enforces the constraint; run a
    ``read → filter → overwrite`` pass if restored history must
    conform.

    The existence validation is O(referenced keys) driver-side HEADs,
    thread-pooled like the staged-rename loop (wall-time O(keys /
    pool width) — on an object store each HEAD is a round-trip) —
    RESTORE is a maintenance operation; at very large partition counts
    run it from a node close to the store.
    """
    store = _ensure_store(store)
    snap = DatasetMetadata.load(store, dataset_uuid, generation=generation)
    latest = DatasetMetadata.load(store, dataset_uuid)
    if generation == latest.generation:
        return latest  # restoring to the present is a no-op
    base = _commit_base_snapshot(latest)
    to_check = [
        k
        for k in snap.referenced_keys()
        if k != naming.history_key(dataset_uuid, generation)
    ]
    with ThreadPoolExecutor(max_workers=min(32, max(1, len(to_check)))) as pool:
        exists = list(pool.map(store.exists, to_check))
    missing = sorted(k for k, ok in zip(to_check, exists) if not ok)
    if missing:
        raise RuntimeError(
            f"Dataset {dataset_uuid!r}: cannot restore generation "
            f"{generation} — {len(missing)} referenced file(s) were "
            f"garbage-collected (first: {missing[0]!r}). Snapshots older "
            f"than the last GC are metadata-only."
        )
    removed = [l for l in latest.partitions if l not in snap.partitions]
    added = [p for l, p in snap.partitions.items() if l not in latest.partitions]
    latest.partitions = dict(snap.partitions)
    latest.partition_keys = list(snap.partition_keys)
    latest.schema = snap.schema
    latest.indices = dict(snap.indices)
    latest.blooms = {k: dict(v) for k, v in snap.blooms.items()}
    return _commit_update_with_merge(
        store,
        latest,
        **base,
        new_partitions=added,
        removed=removed,
        extra_metadata=None,
        override_metadata={"restored_from_generation": generation},
    )


def dataset_history(spark, store: Store | str, dataset_uuid: str):
    """DESCRIBE-HISTORY: one row per generation up to the current one —
    whether its snapshot is still readable (GC reclaims old ones: the
    VACUUM contract), its partition/column counts, and the
    ``restored_from`` marker a :func:`restore_dataset` commit carries.
    Driver-side O(generations) metadata GETs, thread-pooled (each GET
    is an object-store round-trip; a 10⁵-commit history would otherwise
    take minutes serially — a maintenance query, like RESTORE); returns
    a small DataFrame so it composes with SQL.
    """
    store = _ensure_store(store)
    latest = DatasetMetadata.load(store, dataset_uuid)
    gens = list(range(1, latest.generation + 1))

    def _row(g: int):
        try:
            m = DatasetMetadata.load(store, dataset_uuid, generation=g)
        except KeyError:
            return (g, False, None, None, None)
        return (
            g,
            True,
            len(m.partitions),
            len(m.schema.fields) if m.schema is not None else None,
            m.metadata.get("restored_from_generation"),
        )

    with ThreadPoolExecutor(max_workers=min(32, max(1, len(gens) or 1))) as pool:
        rows = list(pool.map(_row, gens))
    return spark.createDataFrame(
        rows,
        "generation int, available boolean, n_partitions int, "
        "n_columns int, restored_from int",
    )


def read_dataset_changes(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    *,
    from_generation: int,
    to_generation: int | None = None,
    change_col: str = "_change_type",
) -> DataFrame:
    """Row-level changes between two time-travel snapshots — a
    change-data-feed over the commit history (Delta CDF analog, derived
    rather than logged): rows present in ``to`` but not ``from`` are
    tagged ``insert``, rows present in ``from`` but not ``to`` are
    tagged ``delete``. An updated row (partition-level CoW rewrite)
    appears as its delete + insert pair. Multiset semantics
    (``exceptAll``): duplicate rows diff by count.

    Scale shape — the part that matters on a long-lived 100 TB dataset:
    partitions are immutable, so a label present in BOTH snapshots
    contributes identical rows to both sides and cancels; the diff
    therefore reads ONLY the partitions added or removed between the
    two snapshots — O(changed files), never the corpus. The label
    comparison itself is two metadata GETs. Additive schema evolution
    between the snapshots is handled by NULL-filling the older side
    (same contract as reading evolved datasets).

    Both snapshots must still be readable (GC reclaims old ones — the
    VACUUM contract; a reclaimed ``from_generation`` raises the same
    typed error as time travel).
    """
    store = _ensure_store(store)
    meta_a = DatasetMetadata.load(store, dataset_uuid, generation=from_generation)
    meta_b = DatasetMetadata.load(store, dataset_uuid, generation=to_generation)

    schema = meta_b.schema if meta_b.schema is not None else meta_a.schema
    labels_a, labels_b = set(meta_a.partitions), set(meta_b.partitions)

    def _side(meta, labels):
        parts = [meta.partitions[label] for label in sorted(labels)]
        if not parts:
            return spark.createDataFrame([], schema=schema)
        df = _read_committed_files(spark, store, dataset_uuid, meta.schema, parts)
        # align evolved schemas: NULL-fill columns the snapshot predates
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    removed_df = _side(meta_a, labels_a - labels_b)
    added_df = _side(meta_b, labels_b - labels_a)
    inserts = added_df.exceptAll(removed_df).withColumn(change_col, F.lit("insert"))
    deletes = removed_df.exceptAll(added_df).withColumn(change_col, F.lit("delete"))
    return inserts.unionByName(deletes)


def dataset_generation_diff(
    spark: SparkSession,
    store: Store | str,
    dataset_uuid: str,
    *,
    from_generation: int,
    to_generation: int | None = None,
) -> DataFrame:
    """Partition-level diff between two snapshots — the metadata-only
    tier of :func:`read_dataset_changes` (two metadata GETs, zero file
    reads): one row per partition label added or removed, with its
    payload file key. The pre-flight a maintenance job runs before
    deciding whether the row-level diff is worth reading."""
    store = _ensure_store(store)
    meta_a = DatasetMetadata.load(store, dataset_uuid, generation=from_generation)
    meta_b = DatasetMetadata.load(store, dataset_uuid, generation=to_generation)
    rows = [
        (label, "added", meta_b.partitions[label].file)
        for label in sorted(set(meta_b.partitions) - set(meta_a.partitions))
    ] + [
        (label, "removed", meta_a.partitions[label].file)
        for label in sorted(set(meta_a.partitions) - set(meta_b.partitions))
    ]
    return spark.createDataFrame(
        rows, "partition_label string, change string, file string"
    )


@_invalidates_factory
def delete_dataset(store: Store | str, dataset_uuid: str) -> None:
    """Delete a dataset: indices → payload files → metadata file, ordered
    for crash consistency (reference: plateau/io/eager.py:63-93).

    A missing dataset is a no-op — but leftover payload keys WITHOUT a
    commit file (a delete that crashed after removing the metadata, or
    a half-copied dataset) are still swept, so a crashed delete is
    resumable by re-running it (the reference's
    test_delete_missing_dataset contract, extended to the commit file
    itself)."""
    store = _ensure_store(store)
    if not DatasetMetadata.exists(store, dataset_uuid):
        if next(iter(store.iter_keys(f"{dataset_uuid}/")), None) is None:
            return
    store.delete(f"{dataset_uuid}/indices")
    store.delete(f"{dataset_uuid}/blooms")
    store.delete(f"{dataset_uuid}/{naming.TABLE_NAME}")
    store.delete(dataset_uuid)
    store.delete(naming.metadata_key(dataset_uuid))
    store.delete(naming.msgpack_metadata_key(dataset_uuid))


def dataset_size_bytes(store: Store | str, dataset_uuid: str) -> int:
    """Exact on-store byte size of a dataset's current generation —
    thread-pooled file stats over the committed file list (metadata-
    scale driver work, no data read, no Spark job)."""
    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid)
    files = [p.file for p in meta.partitions.values()]
    if not files:
        return 0
    with ThreadPoolExecutor(max_workers=min(32, len(files))) as pool:
        return sum(pool.map(st.size, files))


def join_datasets(
    spark: SparkSession,
    store: Store | str,
    left_uuid: str,
    right_uuid: str,
    on,
    *,
    how: str = "inner",
    broadcast_threshold_bytes: int = 64 * 1024 * 1024,
    left_kwargs: dict | None = None,
    right_kwargs: dict | None = None,
) -> DataFrame:
    """Join two datasets with METADATA-DRIVEN broadcast planning: the
    commit metadata knows each side's exact on-store byte size
    (:func:`dataset_size_bytes` — thread-pooled stats, no data read),
    so the smaller side is broadcast-hinted BEFORE the plan is built
    whenever it fits under ``broadcast_threshold_bytes``.

    Why not leave it to Spark: the static estimator inflates many-
    small-file datasets past ``autoBroadcastJoinThreshold`` (per-file
    overhead) and explicit-path scans of pruned reads can carry no
    size at all, so the static planner picks a sort-merge join; AQE
    can recover it, but only AFTER the first shuffle of both sides has
    been written. Exact sizes from the commit turn that into a pre-
    plan decision — at 100 TB, skipping one full shuffle of the big
    side is the single largest join win available.

    ``left_kwargs`` / ``right_kwargs`` pass through to
    ``read_dataset_as_dataframe`` (predicates, columns, ...) — note
    the size check is of the COMMITTED dataset, the conservative bound
    for a predicate-pruned read (pruning only shrinks it).
    """
    st = _ensure_store(store)
    left = read_dataset_as_dataframe(spark, st, left_uuid, **(left_kwargs or {}))
    right = read_dataset_as_dataframe(spark, st, right_uuid, **(right_kwargs or {}))
    lsize = dataset_size_bytes(st, left_uuid)
    rsize = dataset_size_bytes(st, right_uuid)
    if min(lsize, rsize) <= broadcast_threshold_bytes:
        from pyspark.sql.functions import broadcast as _broadcast

        if rsize <= lsize:
            right = _broadcast(right)
        else:
            left = _broadcast(left)
    return left.join(right, on, how)
