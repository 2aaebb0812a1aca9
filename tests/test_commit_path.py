"""One commit path (sources/dataset.py ``_commit_files``): every mutating
API leaves the same contract behind. After each operation the Bloom
sidecars name exactly the live files, the index sidecars name no dead
file and cover every live value, every live file carries stats for each
tracked zone-map column, and a point lookup prunes every new file that
does not hold the value. Declared columns are validated before the
write job, so a bad call stages nothing. An overwrite is one more
commit: it never deletes first, and it never merges with a concurrent
commit."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import plateau_spark.plans.harvest as harvest_mod
import plateau_spark.sources.dataset as ds_mod
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.operators.sketches import (
    build_histogram_stats,
    consolidate_statistics,
)
from plateau_spark.plans.blooms import read_bloom_table
from plateau_spark.plans.pruning import explain_scan
from plateau_spark.streaming.events import commit_stream_batch
from plateau_spark.sources.dataset import (
    ConcurrentCommitError,
    build_dataset_indices,
    commit_dataset,
    compact_dataset,
    create_empty_dataset_header,
    delete_rows_from_dataset,
    merge_into_dataset,
    merge_upsert_into_dataset,
    read_table,
    repartition_dataset,
    store_dataframe_as_dataset,
    store_dataframes_as_dataset__iter,
    update_dataset_from_dataframe,
    update_dataset_from_dataframes__iter,
    write_single_partition,
)
from plateau_spark.sources.datasource import register_plateau_datasource

UUID = "d"


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("num"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("tag"),
    )


def _fixture(spark, store):
    """4 files (one per ``p``), an index on ``tag``, a Bloom sidecar on
    ``k`` and zone maps on ``num``."""
    store_dataframe_as_dataset(
        spark, store, UUID, _rows(spark, 0, 300), partition_on=["p"],
        secondary_indices=["tag"], bloom_filter_columns=["k"],
        zone_map_columns=["num"],
    )


def _stats_fixture(spark, store):
    """A histogram statistics dataset with an index, a Bloom sidecar and
    zone maps, declared by an update that appends all-zero counts."""
    build_histogram_stats(spark, store, UUID, _rows(spark, 0, 300), ["tag"], "num", width=50.0)
    zeros = read_table(spark, store, UUID).withColumn("cnt", F.col("cnt") * 0)
    update_dataset_from_dataframe(
        spark, store, UUID, zeros, secondary_indices=["tag"],
        bloom_filter_columns=["bucket"], zone_map_columns=["bucket"],
    )


def _commit(spark, store):
    parts = write_single_partition(spark, store, UUID, _rows(spark, 300, 400), partition_on=["p"])
    commit_dataset(spark, store, UUID, new_partitions=parts, delete_scope=[{"p": 0}])


def _compact(spark, store):
    update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 300, 400))
    compact_dataset(spark, store, UUID)


OPS = {
    "store": lambda spark, store: None,
    "store_iter": lambda spark, store: store_dataframes_as_dataset__iter(
        spark, store, UUID, iter([_rows(spark, 0, 150), _rows(spark, 150, 300)]),
        partition_on=["p"], secondary_indices=["tag"], overwrite=True,
    ),
    "update": lambda spark, store: update_dataset_from_dataframe(
        spark, store, UUID, _rows(spark, 300, 400), delete_scope=[{"p": 0}]
    ),
    "update_iter": lambda spark, store: update_dataset_from_dataframes__iter(
        spark, store, UUID, iter([_rows(spark, 300, 400)]), delete_scope=[{"p": 0}]
    ),
    "commit": _commit,
    "build_indices": lambda spark, store: build_dataset_indices(spark, store, UUID, ["tag"]),
    "delete_rows": lambda spark, store: delete_rows_from_dataset(
        spark, store, UUID, [[("k", "<", 40)]]
    ),
    "upsert": lambda spark, store: merge_upsert_into_dataset(
        spark, store, UUID, _rows(spark, 280, 320), "k"
    ),
    "merge_into": lambda spark, store: merge_into_dataset(
        spark, store, UUID, _rows(spark, 280, 320), "k", when_matched_delete="s.k % 2 = 0"
    ),
    "compact": _compact,
    "repartition": lambda spark, store: repartition_dataset(
        spark, store, UUID, partition_on=[], num_buckets=3
    ),
    "consolidate": lambda spark, store: consolidate_statistics(spark, store, UUID),
}


def _file_values(store, meta, label, column):
    table = pq.ParquetFile(store.path(meta.partitions[label].file)).read(columns=[column])
    return [v for v in table.column(column).to_pylist() if v is not None]


def _assert_contract(store, before: set[str]) -> None:
    meta = DatasetMetadata.load(store, UUID)
    live = set(meta.partitions)
    for col, info in meta.blooms.items():
        assert set(read_bloom_table(store, info["key"])["label"].to_pylist()) == live, col
    for col, key in meta.indices.items():
        table = store.read_parquet(key)
        plist = "partitions" if "partitions" in table.column_names else "partition"
        posting = dict(zip(table.column(col).to_pylist(), table.column(plist).to_pylist()))
        assert set().union(*posting.values()) <= live, col
        for label in live:
            for v in set(_file_values(store, meta, label, col)):
                assert label in posting.get(v, []), (col, label, v)
    tracked = {c for p in meta.partitions.values() for c in p.stats}
    for label, p in meta.partitions.items():
        assert tracked <= set(p.stats), (label, p.stats)
    new = sorted(live - before)
    if not (new and meta.blooms):
        return
    col = sorted(meta.blooms)[0]
    value = _file_values(store, meta, new[0], col)[0]
    for r in explain_scan(meta, store, [[(col, "==", value)]]):
        if value in _file_values(store, meta, r["label"], col):
            assert r["scanned"], r
        elif r["label"] in new:
            assert not r["scanned"] and {"bloom", "zone_map"} & set(r["pruned_by"]), r


@pytest.mark.parametrize(
    "op, tier",
    [(op, "driver") for op in OPS] + [("update_iter", "spark"), ("commit", "spark")],
)
def test_every_mutating_api_keeps_the_contract(spark, store, monkeypatch, op, tier):
    if tier == "spark":
        monkeypatch.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
    (_stats_fixture if op == "consolidate" else _fixture)(spark, store)
    before = set(DatasetMetadata.load(store, UUID).partitions)
    OPS[op](spark, store)
    _assert_contract(store, set() if op == "store" else before)


BAD_COLUMNS = [
    ({"bloom_filter_columns": ["nope"]}, ValueError, "not in schema"),
    ({"zone_map_columns": ["nope"]}, ValueError, "not in schema"),
    ({"secondary_indices": ["nope"]}, RuntimeError, "could not be found"),
]


@pytest.mark.parametrize("kwargs, error, match", BAD_COLUMNS)
def test_store_rejects_bad_columns_before_writing(spark, store, kwargs, error, match):
    with pytest.raises(error, match=match):
        store_dataframe_as_dataset(spark, store, "bad", _rows(spark, 0, 20), **kwargs)
    assert list(store.iter_keys("bad/")) == []


@pytest.mark.parametrize("kwargs, error, match", BAD_COLUMNS)
def test_update_rejects_bad_columns_before_writing(spark, store, kwargs, error, match):
    """A zone-map column missing from the schema raises on update as it
    does on store."""
    store_dataframe_as_dataset(spark, store, UUID, _rows(spark, 0, 20), partition_on=["p"])
    keys = sorted(store.iter_keys(f"{UUID}/"))
    with pytest.raises(error, match=match):
        update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 20, 40), **kwargs)
    assert sorted(store.iter_keys(f"{UUID}/")) == keys


def _raising(spark):
    """A frame whose write job raises inside a Python UDF."""
    boom = F.udf(lambda k: k // 0, "long")
    return _rows(spark, 0, 20).withColumn("num", boom("k"))


FAILED_OVERWRITES = {
    "bad_column": (ValueError, "not in schema", lambda spark, store: store_dataframe_as_dataset(
        spark, store, UUID, _rows(spark, 0, 20), overwrite=True,
        bloom_filter_columns=["nope"],
    )),
    "udf_store": (Exception, "ZeroDivisionError", lambda spark, store: store_dataframe_as_dataset(
        spark, store, UUID, _raising(spark), overwrite=True,
    )),
    "udf_store_iter": (Exception, "ZeroDivisionError", lambda spark, store: (
        store_dataframes_as_dataset__iter(
            spark, store, UUID, iter([_rows(spark, 0, 20), _raising(spark)]), overwrite=True,
        )
    )),
}


def test_failed_overwrite_keeps_the_existing_dataset(spark, store):
    """An overwrite that fails before its commit — a declared column the
    new data lacks, or a write job that raises, in the store and the
    ``__iter`` store — leaves generation N readable with its rows."""
    _fixture(spark, store)
    update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 300, 310))
    before = DatasetMetadata.load(store, UUID)
    for failure, (error, match, overwrite) in FAILED_OVERWRITES.items():
        with pytest.raises(error, match=match):
            overwrite(spark, store)
        after = DatasetMetadata.load(store, UUID)
        assert after.generation == before.generation == 2, failure
        assert after.partitions.keys() == before.partitions.keys(), failure
        got = sorted(r.k for r in read_table(spark, store, UUID).collect())
        assert got == list(range(310)), failure


def _write_overwrite(spark, store, df):
    register_plateau_datasource(spark)
    df.write.format("plateau").option("store", store.root).option(
        "dataset", UUID
    ).mode("overwrite").save()


OVERWRITES = {
    "store": lambda spark, store: store_dataframe_as_dataset(
        spark, store, UUID, _rows(spark, 100, 104), partition_on=["k"], overwrite=True,
    ),
    "store_iter": lambda spark, store: store_dataframes_as_dataset__iter(
        spark, store, UUID, iter([_rows(spark, 100, 102), _rows(spark, 102, 104)]),
        partition_on=["k"], overwrite=True,
    ),
    "header": lambda spark, store: create_empty_dataset_header(
        spark, store, UUID, _rows(spark, 0, 1).schema, partition_on=["k"], overwrite=True,
    ),
    "writer": lambda spark, store: _write_overwrite(spark, store, _rows(spark, 100, 104)),
}


@pytest.mark.parametrize("op", list(OVERWRITES))
def test_overwrite_commits_the_next_generation(spark, store, op):
    """After 3 generations an overwrite commits generation 4 whose
    document carries only what the overwrite declared; time travel to 3
    still reads the replaced rows, and the next commit is generation 5."""
    store_dataframe_as_dataset(
        spark, store, UUID, _rows(spark, 0, 10), partition_on=["p"],
        secondary_indices=["tag"], bloom_filter_columns=["k"],
        zone_map_columns=["num"], metadata={"owner": "etl"},
    )
    for lo in (10, 20):
        update_dataset_from_dataframe(spark, store, UUID, _rows(spark, lo, lo + 10))
    OVERWRITES[op](spark, store)
    meta = DatasetMetadata.load(store, UUID)
    assert meta.generation == 4
    assert meta.partition_keys == ([] if op == "writer" else ["k"])
    assert not (meta.indices or meta.blooms or "owner" in meta.metadata)
    assert not any(p.stats for p in meta.partitions.values())
    new = [] if op == "header" else list(range(100, 104))
    assert sorted(r.k for r in read_table(spark, store, UUID).collect()) == new
    old = read_table(spark, store, UUID, generation=3).collect()
    assert sorted(r.k for r in old) == list(range(30))
    nxt = update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 200, 202))
    assert nxt.generation == 5


@pytest.mark.parametrize(
    "op, old", [("store", "full"), ("store", "header"), ("store_iter", "full"), ("header", "full")]
)
def test_overwrite_raises_on_a_concurrent_commit(spark, store, monkeypatch, op, old):
    """A commit that lands between an overwrite's load and its commit
    makes the overwrite raise — never a merge, also when the replaced
    dataset is a header with no partitions — and the concurrent commit
    stands."""
    if old == "header":
        create_empty_dataset_header(spark, store, UUID, _rows(spark, 0, 1).schema, partition_on=["p"])
    else:
        store_dataframe_as_dataset(spark, store, UUID, _rows(spark, 0, 10), partition_on=["p"])
    real = ds_mod._commit_files
    armed = [True]

    def racing(*args, **kwargs):
        if armed:
            armed.pop()
            update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 50, 60))
        return real(*args, **kwargs)

    monkeypatch.setattr(ds_mod, "_commit_files", racing)
    with pytest.raises(ConcurrentCommitError):
        OVERWRITES[op](spark, store)
    monkeypatch.undo()
    assert DatasetMetadata.load(store, UUID).generation == 2
    got = sorted(r.k for r in read_table(spark, store, UUID).collect())
    assert got == (list(range(50, 60)) if old == "header" else [*range(10), *range(50, 60)])


def _append(spark, store):
    update_dataset_from_dataframe(spark, store, UUID, _rows(spark, 300, 400))


# op -> (untraced preparation, traced mutation)
OPEN_ONCE = {
    "store": (None, lambda spark, store: store_dataframe_as_dataset(
        spark, store, UUID, _rows(spark, 0, 300), partition_on=["p"],
        secondary_indices=["tag"], bloom_filter_columns=["k"],
        zone_map_columns=["num"], overwrite=True,
    )),
    "update": (None, OPS["update"]),
    "stream_batch": (None, lambda spark, store: commit_stream_batch(
        spark, store, UUID, _rows(spark, 300, 400), 1, partition_on=["p"]
    )),
    "upsert": (None, OPS["upsert"]),
    "delete_rows": (None, OPS["delete_rows"]),
    "compact": (_append, lambda spark, store: compact_dataset(spark, store, UUID)),
}


@pytest.mark.parametrize("op", list(OPEN_ONCE))
def test_driver_placement_opens_each_new_file_once(spark, store, monkeypatch, op):
    """A KB-scale commit of a dataset with an index, a Bloom sidecar and
    zone maps harvests all three from ONE open of each new parquet file:
    every pyarrow open or read of a data file during the mutation is
    counted, and each new file is opened exactly once."""
    import collections

    prepare, mutate = OPEN_ONCE[op]
    _fixture(spark, store)
    if prepare is not None:
        prepare(spark, store)
    before = set(DatasetMetadata.load(store, UUID).partitions)
    opened: collections.Counter = collections.Counter()
    real_init, real_read = pq.ParquetFile.__init__, pq.read_table

    def init(self, source, *args, **kw):
        opened[str(source)] += 1
        return real_init(self, source, *args, **kw)

    def read_table(source, *args, **kw):
        opened[str(source)] += 1
        return real_read(source, *args, **kw)

    monkeypatch.setattr(pq.ParquetFile, "__init__", init)
    monkeypatch.setattr(pq, "read_table", read_table)
    mutate(spark, store)
    monkeypatch.undo()
    meta = DatasetMetadata.load(store, UUID)
    new = [meta.partitions[label].file for label in sorted(set(meta.partitions) - before)]
    assert new, op
    assert {f: opened[store.path(f)] for f in new} == {f: 1 for f in new}
    data = {k: n for k, n in opened.items() if f"/{UUID}/table/" in k}
    assert set(data) == {store.path(f) for f in new}, data
