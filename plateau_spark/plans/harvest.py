"""One commit harvest: the zone maps, index pairs and Bloom words of a
commit's new parquet files, from one open of each file — the reference's
per-partition ``MetaPartition.build_indices`` pass
(plateau/io_components/metapartition.py:1005-1045).

``harvest_file`` is the one kernel: from an open ``pq.ParquetFile`` it
takes the footer zone-map stats, each index column's distinct values and
each Bloom column's bitmap words, reading each needed column once.
``driver_files`` is the one gate between its two placements:

  driver — at most ``DRIVER_MAX_FILES`` files and, when data columns are
           read, ``DRIVER_MAX_BYTES`` and ``DRIVER_MAX_ROWS``: each file
           is opened once through ``Store.open_parquet``, and a
           micro-batch commit pays zero Spark jobs for its sidecars;
  Spark  — anything larger: one ``mapInArrow`` job runs the same kernel
           and its cached rows feed the zone maps, index folds and Bloom
           writes.

The write before the harvest has the same two placements, chosen by
``driver_write`` from the same ``DRIVER_MAX_BYTES``: a keyed parquet
write whose frame the optimizer sizes within it is collected once with
``toArrow`` (one job, no shuffle) and staged by pyarrow, one file per
key — the reference's in-process ``MetaPartition.store_dataframes``.
Flat, bucketed, ``repartition=False`` and non-parquet writes, and keys
of float, timestamp or decimal type (no canonical directory text), stay
one Spark shuffle and write job.

A Spark job per sidecar column costs a ~0.2-0.3 s scheduling floor; the
row cap sits where a per-value Python fold (~6-9 us per value) met it,
and the columnar fold takes ~1.3 us per value for a Bloom and ~0.9-1.6
us for an index (one pinned core, 48,000 distinct int64 or string values
in 8 files), so the cap is conservative. The fold into posting lists and
the merge with the old sidecar (``sources/dataset.py``) stay on the
driver for a driver-placed harvest whose old sidecar passes
``sidecar_fits_driver``; otherwise one Spark job per column does both.
"""

from __future__ import annotations

import contextlib
import os
from typing import Any, NamedTuple, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from plateau_spark.core.caching import estimated_bytes
from plateau_spark.core.store import Store
from plateau_spark.plans.blooms import (
    _K_MAX,
    bloom_position_array,
    build_bloom_dataframe,
    build_bloom_rows_driver,
)
from plateau_spark.plans.index import (
    LABEL_COL,
    build_index_pairs_driver,
    index_value_kind,
)
from plateau_spark.plans.zonemaps import footer_stats, repr_stat

DRIVER_MAX_FILES = 64
DRIVER_MAX_BYTES = 8 << 20
DRIVER_MAX_ROWS = 50_000


class Request(NamedTuple):
    """What a commit asks of one file: zone-map columns, index columns
    and ``(column, n_bits, k)`` per Bloom column."""

    stats: tuple = ()
    index: tuple = ()
    bloom: tuple = ()


def _decoded(values: pa.Array) -> pa.Array:
    return values.dictionary_decode() if pa.types.is_dictionary(values.type) else values


def harvest_file(pf, request: Request) -> tuple[dict, dict, dict]:
    """``(stats, uniques, words)`` of one open parquet file: ``{column:
    [min, max, null_count]}`` and ``{column: distinct non-null values}``
    for the zone-map and index columns its footer holds, and ``{column:
    uint64 bitmap words}`` for every Bloom column — all zero when the
    file predates the column or holds only NULLs; none for values of
    neither integer nor string kind, so the file is never pruned."""
    names = set(pf.schema_arrow.names)
    stats = footer_stats(pf, [c for c in request.stats if c in names])
    index = [c for c in request.index if c in names]
    words = {c: np.zeros((n_bits + 63) >> 6, np.uint64) for c, n_bits, _ in request.bloom}
    blooms = [(c, n_bits, k) for c, n_bits, k in request.bloom if c in names]
    chunks: dict[str, list] = {c: [] for c in index}
    read = list(dict.fromkeys([*index, *(c for c, _, _ in blooms)]))
    for batch in pf.iter_batches(columns=read) if read else ():
        for c in index:
            chunks[c].append(pc.unique(_decoded(batch.column(c)).drop_null()))
        for c, n_bits, k in blooms:
            values = _decoded(batch.column(c)).drop_null() if c in words else []
            if not len(values):
                continue
            if index_value_kind(values.type) is None:
                del words[c]
                continue
            pos = bloom_position_array(values, n_bits, k).ravel()
            np.bitwise_or.at(
                words[c], (pos >> np.uint64(6)).astype(np.intp),
                np.uint64(1) << (pos & np.uint64(63)),
            )
    uniques = {c: pc.unique(pa.concat_arrays(v)) for c, v in chunks.items() if v}
    return stats, uniques, words


def driver_files(
    store: Store, items: Sequence, opened: contextlib.ExitStack
) -> "list | None":
    """The placement gate: the open ``pq.ParquetFile`` of each
    ``(partition, request)`` when the harvest fits the driver, else None
    (the harvest runs as a Spark job). It fits at most
    ``DRIVER_MAX_FILES`` files; when data columns are read, the files
    that read them also fit ``DRIVER_MAX_BYTES`` on disk and
    ``DRIVER_MAX_ROWS`` rows, counted from the footers. An unreadable
    file takes the Spark placement. ``opened`` closes the files."""
    if len(items) > DRIVER_MAX_FILES:
        return None
    reading = [i for i, (_, r) in enumerate(items) if r.index or r.bloom]
    try:
        if reading and (
            sum(store.size(items[i][0].file) for i in reading) > DRIVER_MAX_BYTES
        ):
            return None
        files = [opened.enter_context(store.open_parquet(p.file)) for p, _ in items]
    except (OSError, pa.ArrowException):
        return None
    rows = sum(  # a file that predates every column it is asked for reads none
        pf.metadata.num_rows for pf, (_, r) in zip(files, items)
        if {*r.index, *(c for c, _, _ in r.bloom)} & set(pf.schema_arrow.names)
    )
    return None if rows > DRIVER_MAX_ROWS else files


def driver_write(
    df, partition_on: Sequence[str], sort_by: Sequence[str] = (), *,
    file_format: str, bucketed: bool, repartition: bool,
) -> bool:
    """The write placement gate: True when ``_write_files`` stages the
    frame's files on the driver from one Arrow collect. That needs a
    parquet write with partition keys, no buckets and
    ``repartition=True`` (one file per key either way), keys of integral,
    string, date or boolean type, a column besides them, sort columns
    Arrow can order (not nested) and an optimizer size estimate of at most
    ``DRIVER_MAX_BYTES``; an unknown estimate takes the Spark write."""
    if file_format != "parquet" or not partition_on or bucketed or not repartition:
        return False
    types = {f.name: f.dataType for f in df.schema.fields}
    keys = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
            T.DateType, T.BooleanType)
    nested = (T.ArrayType, T.MapType, T.StructType)
    if len(types) <= len(partition_on):  # Spark refuses a file with no columns
        return False
    if not all(isinstance(types.get(c), keys) for c in partition_on):
        return False
    if not all(c in types and not isinstance(types[c], nested) for c in sort_by):
        return False
    size = estimated_bytes(df)
    return size is not None and size <= DRIVER_MAX_BYTES


def sidecar_fits_driver(store: Store, key: str) -> bool:
    """True iff the sidecar at ``key`` (a file, or a directory of part
    files as the Spark writer lays them out) is at most
    ``DRIVER_MAX_BYTES``, so the driver may merge it whole."""
    try:
        if getattr(store, "_is_local", False) and os.path.isdir(store.path(key)):
            size = sum(store.size(k) for k in store.iter_keys(key.rstrip("/") + "/"))
        else:
            size = store.size(key)
    except OSError:
        return False
    return size <= DRIVER_MAX_BYTES


class Harvest:
    """The results of one ``harvest``: per-file Arrow arrays and numpy
    words (``files``) for the driver placement, or the cached rows of
    the Spark job (``frame``, index column ``slots[i]``'s values in
    ``__v{i}``). ``release`` drops the cache."""

    def __init__(self, schema, files=(), frame=None, slots=()):
        self.fields = {f.name: f.dataType for f in (schema or [])}
        self.files = files
        self.frame = frame
        self.slots = list(slots)

    @property
    def on_driver(self) -> bool:
        return self.frame is None

    def index_pairs(self, column: str):
        """The ``(column, LABEL_COL)`` pairs of the files that asked for
        ``column``: an Arrow table, or a DataFrame for a Spark harvest.
        Values take the schema's type."""
        if column in self.slots:
            return self.frame.where(
                (F.col("kind") == "index") & (F.col("col") == column)
            ).select(
                F.col(f"__v{self.slots.index(column)}").alias(column),
                F.col("label").alias(LABEL_COL),
            )
        return build_index_pairs_driver(
            [(label, u[column]) for label, _, u, _ in self.files if column in u],
            column, to_arrow_type(self.fields[column]),
        )

    def bloom_rows(self, column: str):
        """The Bloom sidecar rows of the files that asked for ``column``:
        a ``BLOOM_SCHEMA`` table, or a DataFrame for a Spark harvest."""
        if self.on_driver:
            return build_bloom_rows_driver(
                [(label, w[column]) for label, _, _, w in self.files if column in w]
            )
        return build_bloom_dataframe(self.frame, column)

    def release(self) -> None:
        if self.frame is not None:
            self.frame.unpersist()


def harvest(spark, store: Store, schema, items: Sequence) -> Harvest:
    """Run the kernel over ``(partition, Request)`` items in the placement
    ``driver_files`` picks. Non-parquet files and empty requests are
    skipped: such files get no zone map, no index pairs and no Bloom
    rows (they are never pruned by a Bloom)."""
    items = [(p, r) for p, r in items if p.file.endswith(".parquet") and any(r)]
    bad = [k for _, r in items for _, _, k in r.bloom if k > _K_MAX]
    if bad:
        raise ValueError(f"k must be <= {_K_MAX}, got {bad[0]}")
    with contextlib.ExitStack() as opened:
        files = driver_files(store, items, opened)
        if files is not None:
            return Harvest(schema, files=[
                (p.label, *harvest_file(pf, r)) for pf, (p, r) in zip(files, items)
            ])
    slots = list(dict.fromkeys(c for _, r in items for c in r.index))
    frame = _spark_harvest(spark, store, items, {c: schema[c].dataType for c in slots})
    return Harvest(schema, frame=frame, slots=slots)


def _rows(schema: pa.Schema, n: int, **columns: Any) -> pa.RecordBatch:
    """``n`` rows of ``schema``; a str value repeats, a missing column is NULL."""
    return pa.RecordBatch.from_arrays([
        pa.nulls(n, f.type) if f.name not in columns
        else pa.array([columns[f.name]] * n, f.type) if isinstance(columns[f.name], str)
        else pa.array(columns[f.name]).cast(f.type)
        for f in schema
    ], schema=schema)


def _spark_harvest(spark, store: Store, items: Sequence, value_types: dict):
    """The Spark placement: one ``mapInArrow`` job runs ``harvest_file``
    per file and emits one row layout for the three results (``kind``
    stats, bloom or index; the i-th index column of ``value_types``
    puts its values in ``__v{i}``, of its Spark type). The result is
    persisted: the zone maps and each sidecar column read it once."""
    requests = list(dict.fromkeys(r for _, r in items))
    rows = [
        (p.label, store.pyarrow_location(p.file), requests.index(r)) for p, r in items
    ]
    out_schema = T.StructType.fromDDL(
        "label string, kind string, col string, word int, bits long,"
        " mn string, mx string, nulls long"
    )
    for i, dtype in enumerate(value_types.values()):
        out_schema.add(f"__v{i}", dtype)
    arrow_schema = to_arrow_schema(out_schema)
    slots = {c: f"__v{i}" for i, c in enumerate(value_types)}

    def run(batches):
        import pyarrow.parquet as pq

        for batch in batches:
            for label, location, r in zip(*batch.to_pydict().values()):
                with pq.ParquetFile(location) as pf:
                    stats, uniques, words = harvest_file(pf, requests[r])
                yield _rows(
                    arrow_schema, len(stats), label=label, kind="stats", col=list(stats),
                    mn=[repr_stat(s[0]) for s in stats.values()],
                    mx=[repr_stat(s[1]) for s in stats.values()],
                    nulls=[s[2] for s in stats.values()],
                )
                for c, w in words.items():
                    t = build_bloom_rows_driver([(label, w)])
                    yield _rows(arrow_schema, len(t), label=label, kind="bloom", col=c,
                                word=t["word"], bits=t["bits"])
                for c, u in uniques.items():
                    yield _rows(arrow_schema, len(u), label=label, kind="index", col=c,
                                **{slots[c]: u})

    return (
        spark.createDataFrame(rows, "label string, location string, request int")
        .repartition(min(len(rows), 256))
        .mapInArrow(run, out_schema)
        .persist()
    )
