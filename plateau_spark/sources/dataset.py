"""Dataset CRUD: store / read / update / commit / delete / GC.

The Spark-first re-expression of the reference's io layer
(/root/reference/plateau/io/eager.py, plateau/io_components/write.py,
plateau/io_components/update.py). The execution substrate is the Spark
DataFrame — writes are ``df.write.partitionBy(...).parquet`` jobs, reads
are ``spark.read.parquet(*pruned_paths)`` — while dataset state lives in
one JSON commit file (core/metadata.py) whose single atomic put IS the
commit (docs/spec/format_specification.rst:34-54).

Write protocol (store_dataset_from_partitions,
plateau/io_components/write.py:148-233):
  1. executors write parquet files under ``<uuid>/table/`` (hive dirs)
  2. driver enumerates the new files, builds partitions + indexes
  3. driver puts the metadata JSON — readers never see step 1-2 state.

Update semantics (plateau/io_components/update.py:1-54): adding new
partitions and deleting existing partitions (via ``delete_scope``);
never in-place mutation of a partition — partition-level copy-on-write.
"""

from __future__ import annotations

import functools
import posixpath
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_spark.core import naming
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
    is_payload_file,
    read_files,
    write_staged,
)
from plateau_spark.plans.index import (
    SecondaryIndex,
    merge_index_dataframes,
    persist_index_dataframe,
    remove_partitions_from_index_df,
)
from plateau_spark.plans.pruning import plan_scan


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


def _ensure_store(store: Store | str) -> Store:
    from plateau_spark.core.factory import DatasetFactory

    if isinstance(store, DatasetFactory):
        return store.store
    return store if isinstance(store, Store) else Store(store)


def _invalidate_if_factory(store_arg) -> None:
    """Mutating APIs accept a DatasetFactory in the store position; the
    commit they perform invalidates its cached metadata/indices."""
    from plateau_spark.core.factory import DatasetFactory

    if isinstance(store_arg, DatasetFactory):
        store_arg.invalidate()


def _resolve_factory(store, dataset_uuid: str | None):
    """Accept a Store/root-path + uuid, or a DatasetFactory in the store
    position (the reference's factory-or-store argument convention,
    plateau/io_components/utils.py). Returns (factory, store, uuid);
    a plain store gets a fresh single-call factory (uncached behavior)."""
    from plateau_spark.core.factory import DatasetFactory

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
    writer's commit (which is what a blind read-modify-write does).

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
        bool(removed)
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


_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


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
    """One Spark write job; returns the new Partition entries.

    ``constraints``: CHECK constraints folded into the write job as a
    ``raise_error`` filter (``_constraint_guard``) — a violation aborts
    the job, the staging prefix is deleted, and
    :class:`ConstraintViolationError` is raised before any commit.
    EVERY dataset write path routes through here, so passing the loaded
    ``meta.metadata["constraints"]`` gives each path enforcement with
    zero extra jobs.

    Shuffle strategy (shuffle_store_dask_partitions,
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

    out = df
    partition_on = list(partition_on)
    if num_buckets and bucket_by:
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
    if sort_partitions_by:
        # disjoint row-group stats for better pushdown
        # (sort_values_categorical, plateau/io_components/utils.py:399-410)
        out = out.sortWithinPartitions(*sort_partitions_by)
    out = _constraint_guard(out, constraints)

    try:
        write_staged(
            out, store.url(staging), partition_on, file_format=file_format, compress=compress
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
    if any(_HIVE_NULL_DIR in key for key in staged):
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


def _resolve_metadata(md):
    """Metadata arguments may be callables, evaluated only AFTER the
    write job — so Dataset Observations collected during the write can
    land in the same atomic commit without a second data pass."""
    return md() if callable(md) else md


def _empty_index_df(
    spark: SparkSession, metadata: DatasetMetadata, column: str
) -> DataFrame:
    from pyspark.sql import types as T

    value_field = metadata.schema[column] if metadata.schema is not None else T.StructField(column, T.StringType())
    schema = T.StructType(
        [
            T.StructField(column, value_field.dataType),
            T.StructField("partitions", T.ArrayType(T.StringType())),
        ]
    )
    return spark.createDataFrame([], schema=schema)


def _build_index_dataframes(
    spark: SparkSession,
    store: Store,
    metadata: DatasetMetadata,
    partitions: Sequence[Partition],
    columns: Sequence[str],
) -> dict[str, DataFrame]:
    """Distributed index build over the given partitions' files — each
    result is a (column value, sorted label array) DataFrame; nothing
    touches the driver (the round-1 `.collect()` is gone).

    One Spark aggregation per indexed column: scan only that column
    (column pruning hits the parquet scan), map file → label with a
    broadcast lookup, groupBy value. Reference:
    MetaPartition.build_indices
    (plateau/io_components/metapartition.py:1005-1045).
    """
    out: dict[str, DataFrame] = {}
    key_cols = set(metadata.partition_keys)
    df = None
    mapping = None
    for col in columns:
        if col in key_cols:
            # primary index — derivable from commit-file key_values
            # (one pair per partition: metadata-scale, not data-scale)
            out[col] = SecondaryIndex.from_pairs(
                col, [(p.key_values[col], p.label) for p in partitions]
            ).to_dataframe(spark) if partitions else _empty_index_df(spark, metadata, col)
            continue
        if not partitions:
            out[col] = _empty_index_df(spark, metadata, col)
            continue
        if df is None:
            file_to_label = {store.url(p.file): p.label for p in partitions}
            df = _read_committed_files(
                spark, store, metadata.uuid, metadata.schema, partitions
            )
            mapping = spark.createDataFrame(
                list(file_to_label.items()), "___file string, __label__ string"
            )
        # no dropDuplicates pre-pass: the downstream collect_set agg
        # dedups map-side already, so the extra exchange bought nothing
        pairs = (
            df.select(F.col(col), F.input_file_name().alias("___file"))
            .where(F.col(col).isNotNull())
            .join(F.broadcast(mapping), "___file")
            .select(col, "__label__")
        )
        out[col] = SecondaryIndex.build_dataframe(pairs, col)
    return out


def _persist_indices_tiered(
    spark: SparkSession,
    store: Store,
    meta_obj: DatasetMetadata,
    partitions: Sequence[Partition],
    columns: Sequence[str],
) -> dict[str, str]:
    """Build + persist index sidecars for ``columns``: the size-gated
    DRIVER tier first (zero Spark jobs — plans/index.py, the bloom
    discipline), the distributed build for whatever remains. Returns
    {column: sidecar key}."""
    cols = list(columns)
    if not cols:
        return {}
    out = _build_indices_driver(store, meta_obj, list(partitions), cols)
    rest = [c for c in cols if c not in out]
    if rest:
        built = _build_index_dataframes(
            spark, store, meta_obj, list(partitions), rest
        )
        for col, idx_df in built.items():
            out[col] = persist_index_dataframe(
                idx_df, store, meta_obj.uuid, col
            )
    return out


def _build_indices_driver(
    store: Store,
    ds: DatasetMetadata,
    partitions: Sequence[Partition],
    columns: Sequence[str],
) -> dict[str, str]:
    """Driver-tier initial index builds for a KB-scale commit (the
    bloom-sidecar discipline, plans/index.py): {column: sidecar key}
    for the columns whose data fits the driver budget and whose value
    type the tier supports; others take the Spark build."""
    if not columns:
        return {}
    from plateau_spark.plans.index import (
        build_index_pairs_driver,
        index_value_type_ok,
        persist_index_dict,
    )

    try:
        from pyspark.sql.pandas.types import to_arrow_type
    except ImportError:  # pragma: no cover
        return {}
    import pyarrow as pa

    key_cols = set(ds.partition_keys)
    out: dict[str, str] = {}
    for col in columns:
        try:
            vt = to_arrow_type(ds.schema[col].dataType)
        except Exception:  # noqa: BLE001 — unsupported type → Spark path
            continue
        if not index_value_type_ok(vt):
            continue
        want = int if pa.types.is_integer(vt) else str
        if col in key_cols:
            dct: dict | None = {}
            for p in partitions:
                dct.setdefault(p.key_values[col], set()).add(p.label)
        else:
            dct = build_index_pairs_driver(store, partitions, col)
        if dct is None or not all(type(v) is want for v in dct):
            continue
        out[col] = persist_index_dict(dct, store, ds.uuid, col, vt)
    return out


def _build_index_pair_dataframes(
    spark: SparkSession,
    store: Store,
    metadata: DatasetMetadata,
    partitions: Sequence[Partition],
    columns: Sequence[str],
) -> dict[str, DataFrame]:
    """Like ``_build_index_dataframes`` but returns the PRE-aggregation
    (value, label) pair frames, so a commit-time merge can fold new
    pairs and the old index into ONE aggregation instead of
    aggregate-then-explode-then-re-aggregate."""
    out: dict[str, DataFrame] = {}
    key_cols = set(metadata.partition_keys)
    df = None
    mapping = None
    for col in columns:
        if col in key_cols or not partitions:
            rows = [(p.key_values[col], p.label) for p in partitions] if col in key_cols else []
            out[col] = (
                spark.createDataFrame(rows).toDF(col, "__label__")
                if rows
                else _empty_index_df(spark, metadata, col).select(
                    F.col(col), F.explode("partitions").alias("__label__")
                )
            )
            continue
        if df is None:
            file_to_label = {store.url(p.file): p.label for p in partitions}
            df = _read_committed_files(
                spark, store, metadata.uuid, metadata.schema, partitions
            )
            mapping = spark.createDataFrame(
                list(file_to_label.items()), "___file string, __label__ string"
            )
        out[col] = (
            df.select(F.col(col), F.input_file_name().alias("___file"))
            .where(F.col(col).isNotNull())
            .join(F.broadcast(mapping), "___file")
            .select(col, "__label__")
        )
    return out


def _merge_committed_indices(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    new_partitions: Sequence[Partition],
    removed: set[str],
) -> None:
    """Refresh every index for a commit: build over the new partitions,
    drop removed labels from the old index, merge, persist — all as
    Spark jobs over the small index relations (never driver dicts).
    Reference: update_indices_from_partitions + merge_indices
    (plateau/io_components/write.py:93-118, plateau/core/index.py:760-791).

    Reference-written indices embedded inline in the commit file
    (``embedded_indices``) are converted here: each is built as an
    external sidecar over every live partition and the inline copy is
    dropped — the commit document never writes inline indices back, so
    without the conversion the first commit would silently lose them.
    """
    if meta.indices:
        _merge_external_indices(spark, store, meta, new_partitions, removed)
    if meta.embedded_indices:
        meta.indices.update(
            _persist_indices_tiered(
                spark, store, meta, list(meta.partitions.values()),
                sorted(meta.embedded_indices),
            )
        )
        meta.embedded_indices.clear()


def _merge_external_indices(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    new_partitions: Sequence[Partition],
    removed: set[str],
) -> None:
    # driver tier first (plans/index.py): a KB-scale commit merges each
    # index entirely with pyarrow + a Python dict — zero Spark jobs per
    # column — producing the identical (value, sorted labels) rows; the
    # distributed pair-level merge below is the fallback and the
    # corpus-scale path
    done = _merge_indices_driver(store, meta, list(new_partitions), removed)
    remaining = [c for c in meta.indices if c not in done]
    meta.indices.update(done)
    if not remaining:
        return
    built = _build_index_pair_dataframes(
        spark, store, meta, list(new_partitions), remaining
    )
    for col in remaining:
        key = meta.indices[col]
        # merge at the PAIR level: old index exploded + new pairs feed
        # ONE collect_set aggregation (the former shape aggregated the
        # new pairs, exploded the result and re-aggregated — two wide
        # exchanges per indexed column per commit for nothing)
        old_pairs = spark.read.parquet(store.url(key)).select(
            F.col(col), F.explode("partitions").alias("__label__")
        )
        if removed:
            old_pairs = old_pairs.where(
                ~F.col("__label__").isin(sorted(set(removed)))
            )
        merged = SecondaryIndex.build_dataframe(
            old_pairs.unionByName(built[col]), col
        )
        meta.indices[col] = persist_index_dataframe(merged, store, meta.uuid, col)


def _merge_indices_driver(
    store: Store,
    meta: DatasetMetadata,
    new_partitions: list[Partition],
    removed: set[str],
) -> dict[str, str]:
    """Driver-tier index merges for the columns whose new pairs AND old
    sidecar fit the driver budget; returns {column: new sidecar key} for
    the columns handled (others take the Spark path)."""
    from plateau_spark.plans.index import (
        _driver_index_budget,
        build_index_pairs_driver,
        index_value_type_ok,
        persist_index_dict,
    )
    from plateau_spark.plans.blooms import _key_bytes

    key_cols = set(meta.partition_keys)
    out: dict[str, str] = {}
    for col, key in list(meta.indices.items()):
        if col in key_cols:
            new_dct: dict | None = {}
            for p in new_partitions:
                new_dct.setdefault(p.key_values[col], set()).add(p.label)
        else:
            new_dct = build_index_pairs_driver(store, new_partitions, col)
        if new_dct is None:
            continue
        old_bytes = _key_bytes(store, key)
        if old_bytes is None or old_bytes > _driver_index_budget():
            continue
        try:
            table = store.read_parquet(key)
        except OSError:
            continue
        if col not in table.column_names:
            continue
        vt = table.schema.field(col).type
        # type gate: Python equality must match Spark groupBy equality
        # for both the stored values and the incoming ones (bool is an
        # int subclass — excluded to keep key-value coercion exact)
        if not index_value_type_ok(vt):
            continue
        import pyarrow as pa

        want = int if pa.types.is_integer(vt) else str
        if not all(type(v) is want for v in new_dct):
            continue
        plist = (
            "partitions" if "partitions" in table.column_names else "partition"
        )
        dct = {
            v: set(pl)
            for v, pl in zip(
                table.column(col).to_pylist(), table.column(plist).to_pylist()
            )
        }
        if removed:
            rm = {str(x) for x in removed}
            dct = {v: s - rm for v, s in dct.items()}
            dct = {v: s for v, s in dct.items() if s}
        for v, s in new_dct.items():
            dct.setdefault(v, set()).update(s)
        out[col] = persist_index_dict(dct, store, meta.uuid, col, vt)
    return out


def _attach_zone_maps(
    spark: SparkSession,
    store: Store,
    schema,
    partitions: Sequence[Partition],
    columns: Sequence[str] | None,
) -> None:
    """Harvest footer stats for the given columns onto the new
    partitions (in place). No-op for empty columns/partitions."""
    if not columns or not partitions:
        return
    from plateau_spark.plans.zonemaps import (
        collect_partition_stats,
        validate_zone_map_columns,
    )

    cols = validate_zone_map_columns(schema, columns)
    stats = collect_partition_stats(spark, store, partitions, cols)
    for p in partitions:
        p.stats = stats.get(p.label, {})


def _build_blooms(
    spark: SparkSession,
    store: Store,
    schema,
    partition_keys: Sequence[str],
    dataset_uuid: str,
    partitions: Sequence[Partition],
    columns: Sequence[str] | None,
    *,
    n_bits: int | None = None,
    k: int | None = None,
) -> dict[str, dict]:
    """Build + persist per-file Bloom sidecars for the given columns
    over the given partitions; returns the ``DatasetMetadata.blooms``
    entries (plans/blooms.py). KB-scale commits (streaming micro-
    batches, small appends) take the size-gated DRIVER tier — pyarrow
    read + the bit-identical Python hash twin, zero Spark jobs; larger
    builds pay one scan job per column, projection-pruned to that
    column."""
    if not columns:
        return {}
    from plateau_spark.plans.blooms import (
        HASH_FAMILY,
        K_DEFAULT,
        N_BITS_DEFAULT,
        build_bloom_dataframe,
        build_bloom_rows_driver,
        persist_bloom_dataframe,
        persist_bloom_rows,
        validate_bloom_columns,
    )

    n_bits = N_BITS_DEFAULT if n_bits is None else int(n_bits)
    k = K_DEFAULT if k is None else int(k)
    cols = validate_bloom_columns(schema, columns, partition_keys)
    dtypes = {f.name: f.dataType for f in schema.fields}
    out: dict[str, dict] = {}
    for col in cols:
        rows = build_bloom_rows_driver(
            store, partitions, col, n_bits=n_bits, k=k
        )
        if rows is not None:
            key = persist_bloom_rows(rows, store, dataset_uuid, col)
        else:
            bdf = build_bloom_dataframe(
                spark, store, partitions, col, n_bits=n_bits, k=k,
                dtype=dtypes[col],
            )
            key = persist_bloom_dataframe(bdf, store, dataset_uuid, col)
        out[col] = {
            "key": key,
            "n_bits": n_bits,
            "k": k,
            "hash": HASH_FAMILY,
        }
    return out


def _merge_committed_blooms(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    new_partitions: Sequence[Partition],
    removed: set[str],
) -> None:
    """Refresh every bloom sidecar for a commit: rows for the new
    partitions appended, removed labels dropped, one new sidecar key
    per column (old keys become unreferenced → GC). When both the new
    files AND the old sidecar sit under the driver byte budget the
    whole refresh is driver-side pyarrow work (bit-identical hash twin,
    zero Spark jobs) — the shape every streaming micro-batch commit
    hits; anything bigger falls back to the distributed merge."""
    if not meta.blooms:
        return
    from plateau_spark.plans.blooms import (
        _driver_bloom_budget,
        _key_bytes,
        build_bloom_dataframe,
        build_bloom_rows_driver,
        persist_bloom_dataframe,
        persist_bloom_rows,
        read_bloom_rows,
        remove_labels_from_bloom_df,
    )

    for col, info in list(meta.blooms.items()):
        new_rows_py = build_bloom_rows_driver(
            store, list(new_partitions), col,
            n_bits=int(info["n_bits"]), k=int(info["k"]),
        )
        old_bytes = _key_bytes(store, info["key"])
        if (
            new_rows_py is not None
            and old_bytes is not None
            and old_bytes <= _driver_bloom_budget()
        ):
            try:
                old_rows = read_bloom_rows(store, info["key"])
            except OSError:
                old_rows = None
            if old_rows is not None:
                if removed:
                    rm = {str(x) for x in removed}
                    old_rows = [r for r in old_rows if r[1] not in rm]
                meta.blooms[col] = {
                    **info,
                    "key": persist_bloom_rows(
                        old_rows + new_rows_py, store, meta.uuid, col
                    ),
                }
                continue
        old = spark.read.parquet(store.url(info["key"]))
        if removed:
            old = remove_labels_from_bloom_df(old, removed)
        dtypes = {f.name: f.dataType for f in (meta.schema or [])}
        new_rows = build_bloom_dataframe(
            spark, store, list(new_partitions), col,
            n_bits=int(info["n_bits"]), k=int(info["k"]),
            dtype=dtypes.get(col),
        )
        merged = old.unionByName(new_rows)
        meta.blooms[col] = {
            **info,
            "key": persist_bloom_dataframe(merged, store, meta.uuid, col),
        }


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

    Reference: store_dataframes_as_dataset
    (/root/reference/plateau/io/eager.py:449-491) + write_partition
    (plateau/io_components/write.py:38-79).
    """
    naming.verify_metadata_version(metadata_version)
    if dataset_uuid is None:
        dataset_uuid = naming.gen_uuid()
    naming.validate_dataset_uuid(dataset_uuid)
    raise_if_indices_overlap(partition_on, secondary_indices)
    store = _ensure_store(store)
    if DatasetMetadata.exists(store, dataset_uuid):
        if not overwrite:
            raise RuntimeError(
                f"Dataset `{dataset_uuid}` already exists and overwrite is not permitted"
            )
        delete_dataset(store, dataset_uuid)

    partition_on = list(partition_on or [])
    df = normalize_dataframe(df, partition_on)

    partitions = _write_files(
        df,
        store,
        dataset_uuid,
        partition_on,
        sort_partitions_by=sort_partitions_by,
        num_buckets=num_buckets,
        bucket_by=bucket_by,
        file_format=file_format,
        compress=compress,
        repartition=repartition,
        constraints=check_constraints,
    )
    _attach_zone_maps(spark, store, df.schema, partitions, zone_map_columns)

    # a callable defers metadata to AFTER the write job — so values a
    # Dataset Observation collected DURING the write (e.g. the BM25
    # index's token totals) can land in the same atomic commit without
    # a second data pass
    metadata = _resolve_metadata(metadata)
    if check_constraints:
        metadata = dict(metadata or {})
        metadata["constraints"] = dict(check_constraints)
    ds = DatasetMetadata(
        uuid=dataset_uuid,
        partitions={p.label: p for p in partitions},
        partition_keys=partition_on,
        schema=df.schema,
        metadata=metadata or {},
    )
    ds.blooms = _build_blooms(
        spark, store, df.schema, partition_on, dataset_uuid, partitions,
        bloom_filter_columns, n_bits=bloom_n_bits, k=bloom_k,
    )
    ds.indices.update(
        _persist_indices_tiered(
            spark, store, ds, partitions, list(secondary_indices or [])
        )
    )
    ds.commit(store)
    return ds


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

    Reference: store_dataframes_as_dataset__iter
    (/root/reference/plateau/io/iter.py:166-245).
    """
    naming.verify_metadata_version(metadata_version)
    if dataset_uuid is None:
        dataset_uuid = naming.gen_uuid()
    naming.validate_dataset_uuid(dataset_uuid)
    raise_if_indices_overlap(partition_on, secondary_indices)
    store = _ensure_store(store)
    if DatasetMetadata.exists(store, dataset_uuid):
        if not overwrite:
            raise RuntimeError(
                f"Dataset `{dataset_uuid}` already exists and overwrite is not permitted"
            )
        delete_dataset(store, dataset_uuid)

    partition_on = list(partition_on or [])
    if check_constraints:
        metadata = dict(metadata or {})
        metadata["constraints"] = dict(check_constraints)
    partitions: list[Partition] = []
    schema = None
    for df in df_generator:
        df = normalize_dataframe(df, partition_on)
        if schema is None:
            schema = df.schema
        else:
            validate_compatible(schema, df.schema)
        partitions.extend(
            _write_files(
                df,
                store,
                dataset_uuid,
                partition_on,
                sort_partitions_by=sort_partitions_by,
                file_format=file_format,
                compress=compress,
                constraints=check_constraints,
            )
        )
    if schema is None:
        raise ValueError("Cannot store a dataset from an empty generator")

    ds = DatasetMetadata(
        uuid=dataset_uuid,
        partitions={p.label: p for p in partitions},
        partition_keys=partition_on,
        schema=schema,
        metadata=metadata or {},
    )
    ds.indices.update(
        _persist_indices_tiered(
            spark, store, ds, partitions, list(secondary_indices or [])
        )
    )
    ds.commit(store)
    return ds


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
    _store_arg = store
    store = _ensure_store(store)
    if not DatasetMetadata.exists(store, dataset_uuid):
        out = store_dataframes_as_dataset__iter(
            spark,
            store,
            dataset_uuid,
            df_generator,
            partition_on=partition_on,
            secondary_indices=secondary_indices,
            sort_partitions_by=sort_partitions_by,
            metadata=metadata,
            file_format=file_format,
            compress=compress,
        )
        _invalidate_if_factory(_store_arg)
        return out
    meta = DatasetMetadata.load(store, dataset_uuid)
    validate_partition_keys(meta.partition_keys, partition_on)
    _base = _commit_base_snapshot(meta)

    new_partitions: list[Partition] = []
    for df in df_generator:
        df = normalize_dataframe(df, meta.partition_keys)
        validate_compatible(meta.schema, df.schema)
        new_partitions.extend(
            _write_files(
                df,
                store,
                dataset_uuid,
                meta.partition_keys,
                sort_partitions_by=sort_partitions_by,
                file_format=file_format,
                compress=compress,
                # persisted CHECK constraints gate the __iter append too
                constraints=meta.metadata.get("constraints"),
            )
        )

    removed = _resolve_delete_scope(meta, store, delete_scope)
    for label in removed:
        del meta.partitions[label]
    dupes = [p.label for p in new_partitions if p.label in meta.partitions]
    if dupes:
        raise RuntimeError(f"Duplicate partition labels in commit: {dupes}")
    for p in new_partitions:
        meta.partitions[p.label] = p

    _merge_committed_indices(spark, store, meta, new_partitions, removed)
    new_idx_cols = [c for c in (secondary_indices or []) if c not in meta.indices]
    if new_idx_cols:
        meta.indices.update(
            _persist_indices_tiered(
                spark, store, meta, list(meta.partitions.values()), new_idx_cols
            )
        )
    meta.explicit_partitions = True
    meta = _commit_update_with_merge(
        store, meta, new_partitions=new_partitions, removed=removed,
        extra_metadata=metadata, **_base,
    )
    _invalidate_if_factory(_store_arg)
    return meta


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
    """Schema-only dataset (reference: plateau/io/eager.py:494-552)."""
    store = _ensure_store(store)
    if not overwrite and DatasetMetadata.exists(store, dataset_uuid):
        raise RuntimeError(f"Dataset `{dataset_uuid}` already exists")
    from plateau_spark.core.schema import normalize_schema

    ds = DatasetMetadata(
        uuid=dataset_uuid,
        partition_keys=list(partition_on or []),
        schema=normalize_schema(schema),
        explicit_partitions=False,
    )
    ds.commit(store)
    return ds


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

    if not surviving:
        if meta.schema is None:
            raise ValueError(
                f"Dataset {dataset_uuid!r}: no partitions survive pruning and "
                "the commit file carries no schema to type an empty result"
            )
        df = spark.createDataFrame([], schema=meta.schema)
    else:
        df = _read_committed_files(spark, store, dataset_uuid, meta.schema, surviving)
        # canonical column order (partition keys first, payload alphabetical)
        df = df.select(*normalized_column_order(df.columns, meta.partition_keys))

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
    ``test_update_first_time_with_secondary_indices``).
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
    _store_arg = store
    store = _ensure_store(store)
    if not DatasetMetadata.exists(store, dataset_uuid):
        if df is None:
            raise ValueError(
                f"Dataset {dataset_uuid!r} does not exist and no data was "
                "given — a delete-only update needs an existing dataset"
            )
        out = store_dataframe_as_dataset(
            spark,
            store,
            dataset_uuid,
            df,
            partition_on=partition_on,
            secondary_indices=secondary_indices,
            sort_partitions_by=sort_partitions_by,
            num_buckets=num_buckets,
            bucket_by=bucket_by,
            # first-time create: no existing leaves to conflict with, so
            # the override degrades to a plain merge; deferred via a
            # callable so write-time Observations stay resolvable
            metadata=lambda: combine_metadata(
                _resolve_metadata(metadata) or {},
                _resolve_metadata(override_metadata) or {},
            ),
            file_format=file_format,
            compress=compress,
            zone_map_columns=zone_map_columns,
            bloom_filter_columns=bloom_filter_columns,
            bloom_n_bits=bloom_n_bits,
            bloom_k=bloom_k,
        )
        _invalidate_if_factory(_store_arg)
        return out
    meta = DatasetMetadata.load(store, dataset_uuid)
    validate_partition_keys(meta.partition_keys, partition_on)
    _base = _commit_base_snapshot(meta)

    new_partitions: list[Partition] = []
    if df is not None:
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
        new_partitions = _write_files(
            df,
            store,
            dataset_uuid,
            meta.partition_keys,
            sort_partitions_by=sort_partitions_by,
            num_buckets=num_buckets,
            bucket_by=bucket_by,
            file_format=file_format,
            compress=compress,
            # CHECK constraints declared at store time gate every append
            constraints=meta.metadata.get("constraints"),
        )
        # zone maps: requested columns ∪ columns existing partitions
        # already track (an update must not silently leave new files
        # unprunable where old files prune)
        carried = {c for p in meta.partitions.values() for c in p.stats}
        zm_cols = sorted(set(zone_map_columns or []) | carried)
        zm_cols = [c for c in zm_cols if c in {f.name for f in df.schema.fields}]
        _attach_zone_maps(spark, store, df.schema, new_partitions, zm_cols)

    removed = _resolve_delete_scope(meta, store, delete_scope)

    # commit: drop removed, add new, refresh indexes, single put
    for label in removed:
        del meta.partitions[label]
    dupes = [p.label for p in new_partitions if p.label in meta.partitions]
    if dupes:
        raise RuntimeError(f"Duplicate partition labels in commit: {dupes}")
    for p in new_partitions:
        meta.partitions[p.label] = p

    _merge_committed_indices(spark, store, meta, new_partitions, removed)
    _merge_committed_blooms(spark, store, meta, new_partitions, removed)
    # newly-declared bloom columns: build over ALL partitions, same commit
    new_bloom_cols = [
        c for c in (bloom_filter_columns or []) if c not in meta.blooms
    ]
    if new_bloom_cols:
        meta.blooms.update(
            _build_blooms(
                spark, store, meta.schema, meta.partition_keys, dataset_uuid,
                list(meta.partitions.values()), new_bloom_cols,
                n_bits=bloom_n_bits, k=bloom_k,
            )
        )
    # newly-declared index columns: build over ALL partitions, same commit
    new_idx_cols = [c for c in (secondary_indices or []) if c not in meta.indices]
    if new_idx_cols:
        meta.indices.update(
            _persist_indices_tiered(
                spark, store, meta, list(meta.partitions.values()), new_idx_cols
            )
        )
    meta.explicit_partitions = True
    meta = _commit_update_with_merge(
        store, meta, new_partitions=new_partitions, removed=removed,
        # callables resolve here, AFTER the write job, so metadata can
        # carry write-time Observation values (e.g. BM25 token totals)
        extra_metadata=_resolve_metadata(metadata),
        override_metadata=_resolve_metadata(override_metadata),
        **_base,
    )
    _invalidate_if_factory(_store_arg)
    return meta


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
    df = normalize_dataframe(df, partition_on)
    constraints = None
    if DatasetMetadata.exists(store, dataset_uuid):
        meta = DatasetMetadata.load(store, dataset_uuid)
        validate_compatible(meta.schema, df.schema)
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
    _store_arg = store
    store = _ensure_store(store)
    _base = None
    if DatasetMetadata.exists(store, dataset_uuid):
        meta = DatasetMetadata.load(store, dataset_uuid)
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
    _validate_staged_schemas(store, meta, list(new_partitions or []))

    removed = _resolve_delete_scope(meta, store, delete_scope)
    for label in removed:
        del meta.partitions[label]
    for p in new_partitions or []:
        if p.label in meta.partitions:
            raise RuntimeError(f"Duplicate partition label in commit: {p.label}")
        meta.partitions[p.label] = p
    if new_partitions:
        meta.explicit_partitions = True

    _merge_committed_indices(spark, store, meta, list(new_partitions or []), removed)
    if _base is None:
        if metadata:
            meta.metadata = combine_metadata(meta.metadata, metadata)
        meta.commit(store)
    else:
        # the two-phase API exists FOR concurrent writers — merge
        # append-only races, fail loudly otherwise
        meta = _commit_update_with_merge(
            store, meta, new_partitions=list(new_partitions or []),
            removed=removed, extra_metadata=metadata, **_base,
        )
    _invalidate_if_factory(_store_arg)
    return meta


# ---------------------------------------------------------------------------
# indexes / lifecycle
# ---------------------------------------------------------------------------


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
    known = {f.name for f in (meta.schema or [])} | set(meta.partition_keys)
    for col in columns:
        if known and col not in known:
            raise RuntimeError(
                f"Column `{col}` could not be found in the dataset "
                f"`{dataset_uuid}`. Please check for any typos and "
                f"validate your dataset."
            )
    parts = list(meta.partitions.values())
    meta.indices.update(
        _persist_indices_tiered(spark, store, meta, parts, list(columns))
    )
    # an index built over a stale partition list must not be committed
    # over a concurrent append (the new files would be invisibly missing
    # from the index) — the merge helper raises on any concurrent commit
    # here because our indices diverged from the base snapshot
    meta = _commit_update_with_merge(
        store, meta, new_partitions=[], removed=[], extra_metadata=None, **_base,
    )
    return meta


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
    _store_arg = store
    store = _ensure_store(store)
    meta = DatasetMetadata.load(store, dataset_uuid)
    _base = _commit_base_snapshot(meta)
    candidates = plan_scan(meta, store, predicates)
    if not candidates:
        return meta

    from plateau_spark.core.predicates import dnf_to_column

    df = _read_committed_files(spark, store, dataset_uuid, meta.schema, candidates)
    keep = df.where(~F.coalesce(dnf_to_column(predicates), F.lit(False)))
    meta = _cow_swap_commit(
        spark, store, meta, keep, candidates, compress=compress, base=_base
    )
    _invalidate_if_factory(_store_arg)
    return meta


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
    _store_arg = store
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
    meta = _cow_swap_commit(
        spark, store, meta, merged, candidates, compress=compress, base=_base
    )
    _invalidate_if_factory(_store_arg)
    return meta


def _cow_swap_commit(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    merged: DataFrame,
    candidates,
    *,
    compress: bool,
    base: dict,
) -> DatasetMetadata:
    """Shared copy-on-write tail of row deletes and MERGE-shaped
    mutations: stage the rewritten candidate rows, carry zone maps, swap
    the candidate labels for the new ones in ONE optimistic commit."""
    new_partitions = _write_files(
        merged, store, meta.uuid, meta.partition_keys, compress=compress
    )
    carried = sorted({c for p in candidates for c in p.stats})
    carried = [c for c in carried if c in {f.name for f in meta.schema or []}]
    if carried:
        _attach_zone_maps(spark, store, merged.schema, new_partitions, carried)
    return _swap_commit(
        spark, store, meta, new_partitions, [p.label for p in candidates], base=base
    )


def _swap_commit(
    spark: SparkSession,
    store: Store,
    meta: DatasetMetadata,
    new_partitions: Sequence[Partition],
    removed: Sequence[str],
    *,
    base: dict,
) -> DatasetMetadata:
    """Commit tail of every rewrite (row delete, MERGE, compaction): swap
    the ``removed`` labels for ``new_partitions``, merge the index and
    Bloom sidecars for exactly those labels, and commit through the
    optimistic-concurrency path. The rewrite job runs for minutes at
    scale, so a blind commit would silently drop any append committed
    in that window; with ``removed`` non-empty the merge helper raises
    ConcurrentCommitError instead (a pure insert with ``removed == []``
    still merges append-vs-append races)."""
    for label in removed:
        del meta.partitions[label]
    for p in new_partitions:
        if p.label in meta.partitions:
            raise RuntimeError(f"Duplicate partition label in commit: {p.label}")
        meta.partitions[p.label] = p
    _merge_committed_indices(spark, store, meta, new_partitions, removed)
    _merge_committed_blooms(spark, store, meta, new_partitions, removed)
    meta.explicit_partitions = True
    return _commit_update_with_merge(
        store, meta, new_partitions=new_partitions, removed=removed,
        extra_metadata=None, **base,
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
    _store_arg = store
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
    meta = _cow_swap_commit(
        spark, store, meta, merged, candidates, compress=compress, base=_base
    )
    _invalidate_if_factory(_store_arg)
    return meta


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
    over-target groups (a partition-key DNF prunes the scan) + one
    write job (the same shuffle shape as a bucketed store: repartition
    on the keys, or on (keys ⊕ hash-bucket) for
    ``target_files_per_key > 1``), then index and Bloom sidecars are
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

    groups: dict[tuple, list[Partition]] = {}
    for p in meta.partitions.values():
        k = tuple(sorted((c, str(v)) for c, v in p.key_values.items()))
        groups.setdefault(k, []).append(p)
    over = [g for g in groups.values() if len(g) > target_files_per_key]
    if not zorder_by and not over:
        return meta

    # a partition-key DNF reads only the over-target groups; no predicate
    # when every group is rewritten (keyless and zorder_by included), and
    # none for a NaN key (driver-side == would prune its own group)
    rewrite_all = zorder_by or len(over) == len(groups) or any(
        v != v for g in over for v in g[0].key_values.values()
    )
    if rewrite_all:
        over = list(groups.values())
        df = read_dataset_as_dataframe(spark, store, dataset_uuid)
    else:
        df = read_dataset_as_dataframe(
            spark, store, dataset_uuid,
            predicates=[
                [(c, "==", v) for c, v in sorted(g[0].key_values.items())]
                for g in over
            ],
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

    # recollect zone maps over the compacted files for every column the
    # old partitions tracked (compaction must not silently drop pruning)
    zm_cols = sorted(
        {c for p in meta.partitions.values() for c in p.stats} | set(zorder_by or [])
    )
    _attach_zone_maps(spark, store, meta.schema, partitions, zm_cols)

    meta = _swap_commit(
        spark, store, meta, partitions,
        sorted(p.label for g in over for p in g), base=_base,
    )
    if gc:
        garbage_collect_dataset(store, dataset_uuid)
    return meta


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

    df = read_dataset_as_dataframe(spark, store, dataset_uuid)
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
    zm_cols = sorted({c for p in meta.partitions.values() for c in p.stats})
    if zm_cols:
        _attach_zone_maps(spark, store, meta.schema, partitions, zm_cols)
    new_meta = DatasetMetadata(
        uuid=dataset_uuid,
        partitions={p.label: p for p in partitions},
        partition_keys=partition_on,
        schema=meta.schema,
        metadata=dict(meta.metadata),
        # same dataset, next generation (see compact_dataset)
        generation=meta.generation,
    )
    indexed_cols = sorted(set(meta.indices) | set(meta.embedded_indices))
    new_meta.indices.update(
        _persist_indices_tiered(spark, store, new_meta, partitions, indexed_cols)
    )
    for col, info in meta.blooms.items():
        new_meta.blooms.update(
            _build_blooms(
                spark, store, meta.schema, partition_on, dataset_uuid,
                partitions, [col], n_bits=info["n_bits"], k=info["k"],
            )
        )
    new_meta = _commit_update_with_merge(
        store, new_meta, new_partitions=partitions,
        removed=sorted(meta.partitions), extra_metadata=None, **_base,
    )
    if gc:
        garbage_collect_dataset(store, dataset_uuid)
    return new_meta


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
    mp_key = naming.msgpack_metadata_key(dataset_uuid)
    if store.exists(mp_key):
        store.delete(mp_key)


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
