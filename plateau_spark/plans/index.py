"""Secondary inverted indexes: value → sorted list of partition labels.

Reference semantics: ExplicitSecondaryIndex
(/root/reference/plateau/core/index.py:567-728) — built by a pass over
the data, persisted as a parquet file ``(column, partition: list<str>)``
under ``<uuid>/indices/<col>/<ts>.by-dataset-index.parquet``; queried at
plan time to prune partitions (docs/spec/indexing.rst:9-18), maintained
incrementally on commit (plateau/core/index.py:280-403).

Lifecycle — one refresh per commit (``sources/dataset.py``
``_refresh_indices``; reference update_indices_from_partitions +
merge_indices, plateau/io_components/write.py:93-118):

  refresh — the (value, label) pairs of the new partitions (the commit
            harvest, ``plans/harvest.py``: ``pc.unique`` per file), plus
            the old sidecar's pairs minus the removed labels, folded to
            (value, sorted label array) and written as a new sidecar
            sorted by value. A build is a refresh with no old sidecar.
            The fold is ``persist_index_dict`` on the driver, else one
            Spark job (``SecondaryIndex.build_dataframe``,
            ``persist_index_dataframe``).
  load    — driver-side pyarrow read of ONE small parquet, restricted
            via row-group filters to the literals of the current query
            (SecondaryIndex.load with ``literals=``), matching the
            reference's O(1)-GETs-per-plan design goal.
"""

from __future__ import annotations

import datetime
from typing import Any, Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plateau_spark.core import naming
from plateau_spark.core.predicates import evaluate_literal
from plateau_spark.core.store import Store

LABEL_COL = "__label__"


def _utc_ts() -> str:
    return datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H%M%S.%f")


def _literal_to_arrow_filter(column: str, op: str, val: Any):
    """One DNF literal → a pyarrow.compute filter over the index table,
    or None when not expressible (caller falls back to a full read).

    The filter may be BROADER than the literal — safe, because
    eval_operator re-evaluates exactly over whatever was loaded; it must
    never be NARROWER.
    """
    f = pc.field(column)
    if op in ("==", "="):
        return None if val is None else (f == val)
    if op == "!=":
        return None if val is None else (f != val)
    if op == "<=":
        return f <= val
    if op == ">=":
        return f >= val
    if op == "<":
        return f < val
    if op == ">":
        return f > val
    if op == "in":
        vals = [v for v in val if v is not None]
        return f.isin(vals)
    # 'not in' / 'is distinct from' → nearly the whole domain anyway
    return None


def literals_to_arrow_filter(column: str, literals: Sequence[tuple[str, Any]]):
    """OR of per-literal filters; None if any literal is untranslatable."""
    exprs = []
    for op, val in literals:
        e = _literal_to_arrow_filter(column, op, val)
        if e is None:
            return None
        exprs.append(e)
    if not exprs:
        return None
    out = exprs[0]
    for e in exprs[1:]:
        out = out | e
    return out


class SecondaryIndex:
    """Driver-side *view* of an index: ``column`` + dict value → labels.

    Only ever materialized for the values matching the query's literals
    (``load(..., literals=)``) — the persistent, full form is parquet and
    is maintained by the sidecar refresh (``sources/dataset.py``
    ``_refresh_indices``), never by this class.
    """

    def __init__(self, column: str, index_dct: dict[Any, set[str]] | None = None):
        self.column = column
        self.index_dct: dict[Any, set[str]] = index_dct or {}

    # -- construction -------------------------------------------------------
    @staticmethod
    def build_dataframe(
        df: DataFrame, column: str, label_col: str = LABEL_COL
    ) -> DataFrame:
        """Distributed index build: (column value, sorted label array).

        Reference: MetaPartition.build_indices
        (plateau/io_components/metapartition.py:1005-1045) — but as ONE
        Spark aggregation instead of a per-partition pass + driver merge.
        """
        return (
            df.select(F.col(column), F.col(label_col))
            .where(F.col(column).isNotNull())
            .groupBy(column)
            .agg(F.sort_array(F.collect_set(label_col)).alias("partitions"))
        )

    @classmethod
    def from_pairs(cls, column: str, pairs: Iterable[tuple[Any, str]]) -> "SecondaryIndex":
        dct: dict[Any, set[str]] = {}
        for value, label in pairs:
            dct.setdefault(value, set()).add(label)
        return cls(column, dct)

    def to_dataframe(self, spark: SparkSession, value_type: str = "string") -> DataFrame:
        """Driver dict → index DataFrame (used for tiny primary-key
        indexes derived from partition key_values; payload indexes go
        through build_dataframe and never touch the driver)."""
        rows = [(v, sorted(labels)) for v, labels in sorted(self.index_dct.items())]
        if rows:
            return spark.createDataFrame(rows).toDF(self.column, "partitions")
        return spark.createDataFrame(
            [], schema=f"`{self.column}` {value_type}, partitions array<string>"
        )

    @classmethod
    def load(
        cls,
        store: Store,
        key: str,
        column: str,
        literals: Sequence[tuple[str, Any]] | None = None,
    ) -> "SecondaryIndex":
        """Driver-side load restricted to the query's literals.

        ``literals`` = [(op, value), ...] touching ``column``; translated
        to pyarrow row-group filters so a point lookup on a
        high-cardinality index reads O(matching row groups), not the
        whole index. ``literals=None`` (maintenance) loads everything.
        Reads go through the Store abstraction, so the same code works
        on object stores (reference: plateau/core/index.py:567-650).
        """
        filters = (
            literals_to_arrow_filter(column, literals) if literals is not None else None
        )
        table = store.read_parquet(key, filters=filters)
        values = table.column(column).to_pylist()
        # reference-written index files name the posting-list column
        # "partition" (singular — plateau/core/index.py:34,927); ours
        # use "partitions". Accept both, or every reference-interop
        # dataset with an external secondary index crashes at plan time.
        plist_col = "partitions" if "partitions" in table.column_names else "partition"
        parts = table.column(plist_col).to_pylist()
        return cls(column, {v: set(p) for v, p in zip(values, parts)})

    # -- queries ---------------------------------------------------------------
    def observed_values(self) -> list[Any]:
        """Reference: plateau/core/index.py:137-147."""
        return sorted(self.index_dct.keys())

    def eval_operator(self, op: str, value: Any) -> set[str]:
        """Labels of partitions that may contain rows matching
        ``column <op> value``. Reference: plateau/core/index.py:213-250."""
        out: set[str] = set()
        for v, labels in self.index_dct.items():
            if evaluate_literal(v, op, value):
                out.update(labels)
        return out

    def query(self, value: Any) -> set[str]:
        """Exact-value lookup. Reference: plateau/core/index.py:252-271.

        Delegates to ``eval_operator`` so the date/datetime alignment
        applied everywhere else (``evaluate_literal``) holds here too —
        a raw dict lookup made ``query(datetime(...))`` on a DATE-typed
        index silently miss (the delete_scope path would then delete 0
        partitions while a read of the same predicate matched). The
        loaded dict is literal-restricted, so the scan is tiny."""
        return self.eval_operator("==", value)


# ---------------------------------------------------------------------------
# Sidecar writers and the driver fold
# ---------------------------------------------------------------------------


def persist_index_dataframe(
    index_df: DataFrame, store: Store, dataset_uuid: str, column: str
) -> str:
    """Persist a (column, partitions) index DataFrame; returns the store
    key. One small file by design — plan-time loads must be one GET
    (docs/spec/indexing.rst:9-18) — sorted by value like the driver
    fold's ``persist_index_dict``, so a value-filtered
    ``SecondaryIndex.load`` prunes row groups. repartition(1), NOT
    coalesce(1): coalesce removes the post-shuffle parallelism so the
    whole index aggregation would run in a single reduce task; the extra
    exchange funnels only the finished index rows."""
    key = naming.index_key(dataset_uuid, column, _utc_ts())
    (
        index_df.repartition(1)
        .sortWithinPartitions(column)
        .write.mode("overwrite")
        .parquet(store.url(key))
    )
    return key


def index_value_kind(arrow_type) -> "type | None":
    """``int`` or ``str`` for the value types the driver fold may merge,
    else None: Arrow equality must provably match Spark groupBy equality
    (floats normalize NaN, nested types have no total order, a bool is
    not an integer). Widths of one kind (int32 and int64, string and
    large_string) hold the same values and cast into each other."""
    if pa.types.is_integer(arrow_type):
        return int
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return str
    return None


def build_index_pairs_driver(
    uniques: Sequence[tuple[str, "pa.Array"]], column: str, value_type
) -> "pa.Table":
    """The ``(column, LABEL_COL)`` pairs of a driver-placed harvest as
    one Arrow table: each ``(label, distinct non-null values)`` of a
    file (``plans/harvest.py`` ``harvest_file``), the values cast to
    ``value_type``. Pairs are distinct: each file's values are unique
    under its own label."""
    uniques = [(label, u.cast(value_type)) for label, u in uniques if len(u)]
    labels = pa.array([label for label, _ in uniques], pa.string())
    file_of = np.repeat(np.arange(len(uniques)), [len(u) for _, u in uniques])
    return pa.table(
        {
            column: (
                pa.concat_arrays([u for _, u in uniques])
                if uniques else pa.array([], value_type)
            ),
            LABEL_COL: labels.take(file_of),
        }
    )


def persist_index_dict(
    pairs: "pa.Table", store: Store, dataset_uuid: str, column: str
) -> str:
    """Driver twin of ``persist_index_dataframe``: folds the distinct
    ``(column, LABEL_COL)`` pairs into the same (value, sorted label
    array) rows — one ``sort_by(value, label)``, one posting list per
    run of equal values — sorted by value (row-group pruning), one
    small parquet file; returns the store key. The value column keeps
    the pairs' type. The pairs are distinct by construction: a file's
    values are ``pc.unique`` under its own label, a partition key gives
    one pair per label, and the old sidecar only labels outside the
    commit."""
    import io

    import pyarrow.parquet as pqt

    ordered = pairs.sort_by([(column, "ascending"), (LABEL_COL, "ascending")])
    runs = pc.run_end_encode(ordered.column(column).combine_chunks())
    offsets = pa.concat_arrays([pa.array([0], pa.int32()), runs.run_ends])
    labels = ordered.column(LABEL_COL).combine_chunks()
    table = pa.table(
        {column: runs.values, "partitions": pa.ListArray.from_arrays(offsets, labels)}
    )
    key = naming.index_key(dataset_uuid, column, _utc_ts())
    buf = io.BytesIO()
    pqt.write_table(table, buf)
    store.put_bytes(key, buf.getvalue())
    return key


def merge_index_dataframes(column: str, dfs: Sequence[DataFrame]) -> DataFrame:
    """Merge N index DataFrames — explode to pairs, union, re-aggregate.
    One Spark shuffle over the distinct values; reference:
    merge_indices (plateau/core/index.py:760-791). Commits do not call
    it: ``_refresh_indices`` unions the pairs before its one
    aggregation."""
    pairs = [
        df.select(F.col(column), F.explode("partitions").alias(LABEL_COL)) for df in dfs
    ]
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out.groupBy(column).agg(
        F.sort_array(F.collect_set(LABEL_COL)).alias("partitions")
    )


def remove_values_from_index_df(
    index_df: DataFrame, column: str, values: Iterable[Any]
) -> DataFrame:
    """Drop entire value entries from an index DataFrame.

    NULL-safe: a bare ``~isin([...None...])`` evaluates to NULL for
    every non-matching row (SQL three-valued logic) and the filter
    would wipe the ENTIRE index instead of one entry — None in
    ``values`` drops the NULL-value entry explicitly, and non-matching
    rows are kept via coalesce."""
    vals = list(values)
    non_null = [v for v in vals if v is not None]
    drop = F.col(column).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in vals):
        drop = drop | F.col(column).isNull()
    return index_df.where(~F.coalesce(drop, F.lit(False)))


# ---------------------------------------------------------------------------
# Index views (reference: plateau/core/index.py:428-531 as_flat_series,
# plateau/core/dataset.py:356-423 get_indices_as_dataframe)
# ---------------------------------------------------------------------------


def index_as_flat_dataframe(
    spark: SparkSession,
    store: Store,
    meta,
    column: str,
    *,
    compact: bool = False,
    partitions_as_index: bool = False,
) -> DataFrame:
    """The index as a DataFrame — ``as_flat_series`` re-expressed.

    Default: one row per (value, partition). ``compact=True``: one row
    per value with the sorted label list. ``partitions_as_index=True``:
    inverted — one row per (partition, value).
    """
    df = load_index_dataframe(spark, store, meta, column)
    if compact:
        return df
    flat = df.select(F.col(column), F.explode("partitions").alias("partition"))
    if partitions_as_index:
        return flat.select("partition", column)
    return flat


def load_index_dataframe(
    spark: SparkSession, store: Store, meta, column: str
) -> DataFrame:
    """(column, partitions) DataFrame for one index — secondary from its
    parquet (reference-written files name the posting list "partition",
    singular — normalized here), embedded (reference commit-file form)
    from the metadata dict, partition-key derived from commit-file
    key_values (tiny: one row per partition; reference
    load_partition_indices, plateau/core/dataset.py:888-921)."""
    if column in meta.indices:
        df = spark.read.parquet(store.url(meta.indices[column]))
        if "partitions" not in df.columns and "partition" in df.columns:
            df = df.withColumnRenamed("partition", "partitions")
        return df
    value_type = next(
        (f.dataType.simpleString() for f in (meta.schema or []) if f.name == column),
        "string",
    )
    if column in getattr(meta, "embedded_indices", {}):
        idx = SecondaryIndex(
            column,
            {v: set(lbls) for v, lbls in meta.embedded_indices[column].items()},
        )
        return idx.to_dataframe(spark, value_type=value_type)
    if column in meta.partition_keys:
        idx = SecondaryIndex.from_pairs(
            column, [(p.key_values[column], p.label) for p in meta.partitions.values()]
        )
        # empty datasets still get the SCHEMA's value type — a string
        # default would poison later unionByName merges to string
        return idx.to_dataframe(spark, value_type=value_type)
    raise ValueError(f"Column {column!r} is neither indexed nor a partition key")


def get_indices_as_dataframe(
    spark: SparkSession,
    store: Store,
    meta,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """One row per (partition, value-combination): partition label plus
    one column per index, outer-joined on the partition label —
    reference get_indices_as_dataframe (plateau/core/dataset.py:356-423).
    """
    if columns is None:
        columns = sorted(
            set(meta.indices)
            | set(getattr(meta, "embedded_indices", {}))
            | set(meta.partition_keys)
        )
    if not columns:
        raise ValueError("Dataset has no indices")
    out: DataFrame | None = None
    for col in columns:
        flat = index_as_flat_dataframe(
            spark, store, meta, col, partitions_as_index=True
        )
        out = flat if out is None else out.join(flat, "partition", "outer")
    return out.select("partition", *columns)
