"""DatasetFactory: cached metadata/index loads across composed reads.

Reference: plateau/core/factory.py (the factory caches the loaded
dataset across API calls) and the O(1)-store-calls design target
(docs/spec/format_specification.rst:25-26). The tests count actual
store accesses: N reads through one factory must cost ONE commit-file
GET, and a commit through the factory must invalidate it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import plateau_spark.sources.dataset as ds_mod
from plateau_spark.core.factory import DatasetFactory
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.sources.dataset import (
    build_dataset_indices,
    compact_dataset,
    read_dataset_as_dataframe_groups,
    read_table,
    repartition_dataset,
    restore_dataset,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)


class CountingStore(Store):
    def __init__(self, root):
        super().__init__(root)
        self.counts = {"get_json": 0, "read_parquet": 0}

    def get_json(self, key):
        self.counts["get_json"] += 1
        return super().get_json(key)

    def read_parquet(self, key, filters=None):
        self.counts["read_parquet"] += 1
        return super().read_parquet(key, filters=filters)


@pytest.fixture()
def counting_store(spark, tmp_path):
    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 3, i % 4) for i in range(24)], "k long, P long, L long"
    )
    store_dataframe_as_dataset(
        spark, store, "ds", df, partition_on=["P"], secondary_indices=["L"]
    )
    return CountingStore(store)


def test_factory_one_metadata_get_across_reads(spark, counting_store):
    st = counting_store
    factory = DatasetFactory(st, "ds")
    a = read_table(spark, factory, predicates=[[("L", "==", 1)]])
    b = read_table(spark, factory, predicates=[[("L", "==", 1)]])
    c = read_table(spark, factory, columns=["k", "P"])
    assert a.count() + b.count() + c.count() > 0
    # one commit-file GET for all three plans
    assert st.counts["get_json"] == 1
    # identical literal lookups share one index read
    assert st.counts["read_parquet"] == 1


def test_factory_full_index_subsumes_point_lookups(spark, counting_store):
    st = counting_store
    factory = DatasetFactory(st, "ds")
    factory.secondary_index("L")  # full load
    assert st.counts["read_parquet"] == 1
    read_table(spark, factory, predicates=[[("L", "==", 2)]]).count()
    read_table(spark, factory, predicates=[[("L", "==", 3)]]).count()
    # restricted lookups are served from the cached full index
    assert st.counts["read_parquet"] == 1


def test_factory_invalidated_by_update(spark, counting_store):
    st = counting_store
    factory = DatasetFactory(st, "ds")
    before = read_table(spark, factory).count()
    assert before == 24
    extra = factory.store  # same store, out-of-band handle
    df2 = read_table(spark, factory).sparkSession.createDataFrame(
        [(100, 9, 0)], "k long, P long, L long"
    )
    update_dataset_from_dataframe(df2.sparkSession, factory, "ds", df2)
    # the commit through the factory dropped its cache: fresh metadata
    after = read_table(spark, factory).count()
    assert after == 25
    assert extra is st


def _append(spark, factory):
    """A second file under the key P=0, so compaction rewrites it."""
    df = spark.createDataFrame([(100, 0, 0)], "k long, P long, L long")
    update_dataset_from_dataframe(spark, factory, "ds", df)


# op -> (preparation through the factory, mutation through it, rows after)
MAINTENANCE = {
    "compact_gc": (_append, lambda spark, f: compact_dataset(spark, f, "ds", gc=True), 25),
    "repartition_gc": (None, lambda spark, f: repartition_dataset(
        spark, f, "ds", partition_on=[], gc=True
    ), 24),
    "build_indices": (None, lambda spark, f: build_dataset_indices(spark, f, "ds", ["k"]), 24),
    "store_overwrite": (None, lambda spark, f: store_dataframe_as_dataset(
        spark, f, "ds", spark.createDataFrame([(1, 1, 1)], "k long, P long, L long"),
        overwrite=True,
    ), 1),
    "restore": (_append, lambda spark, f: restore_dataset(f, "ds", 1), 24),
}


@pytest.mark.parametrize("op", list(MAINTENANCE))
def test_factory_invalidated_by_maintenance(spark, counting_store, op):
    """Compaction and repartition with GC, an index build, a store
    overwrite and a restore through a factory invalidate it like an
    update does: the next read sees the new generation (a stale factory
    would scan files the GC removed)."""
    prepare, mutate, rows = MAINTENANCE[op]
    factory = DatasetFactory(counting_store, "ds")
    if prepare is not None:
        prepare(spark, factory)
    assert read_table(spark, factory).count() == (24 if prepare is None else 25)
    mutate(spark, factory)
    assert factory.metadata.generation == DatasetMetadata.load(counting_store, "ds").generation
    assert read_table(spark, factory).count() == rows


def test_factory_invalidated_when_the_call_fails(spark, counting_store, monkeypatch):
    """A compaction that commits and then fails in its GC still leaves
    the factory invalidated."""
    factory = DatasetFactory(counting_store, "ds")
    _append(spark, factory)
    assert read_table(spark, factory).count() == 25

    def failing_gc(*args, **kwargs):
        raise OSError("gc failed")

    monkeypatch.setattr(ds_mod, "garbage_collect_dataset", failing_gc)
    with pytest.raises(OSError, match="gc failed"):
        compact_dataset(spark, factory, "ds", gc=True)
    assert factory.metadata.generation == DatasetMetadata.load(counting_store, "ds").generation


def test_factory_uuid_mismatch_rejected(spark, counting_store):
    factory = DatasetFactory(counting_store, "ds")
    with pytest.raises(ValueError, match="bound to"):
        read_table(spark, factory, "other")


def test_groups_share_one_metadata_get(spark, counting_store):
    st = counting_store
    factory = DatasetFactory(st, "ds")
    groups = list(read_dataset_as_dataframe_groups(spark, factory, dispatch_by=["L"]))
    assert len(groups) == 4
    total = sum(df.count() for _, df in groups)
    assert total == 24
    assert st.counts["get_json"] == 1
    # one full index load serves the group enumeration AND every
    # per-group restricted lookup
    assert st.counts["read_parquet"] == 1
