"""Incremental compaction: only partition-key groups holding more than
``target_files_per_key`` files are rewritten; every other group keeps its
files, labels and zone-map stats, and the index / Bloom sidecars are merged
(rewritten labels out, new files in) rather than rebuilt."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

import plateau_spark.sources.dataset as ds_mod
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.predicates import dnf_to_column
from plateau_spark.core.store import Store
from plateau_spark.plans.pruning import explain_scan
from plateau_spark.sources.dataset import (
    compact_dataset,
    read_dataset_as_dataframe,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)

SCHEMA = "k long, g string, c long, v double"


def _rows(spark, lo, hi, groups):
    return spark.createDataFrame(
        [(i, groups[i % len(groups)], i % 7, float(i)) for i in range(lo, hi)], SCHEMA
    )


def _fragmented(spark, store, uuid="inc", appends_to_a=3):
    """Groups a/b/c with one file each, then ``appends_to_a`` appends that
    land only in group ``a``; index on ``c``, zone map on ``v``, Bloom on
    ``k``."""
    store_dataframe_as_dataset(
        spark, store, uuid, _rows(spark, 0, 90, ["a", "b", "c"]),
        partition_on=["g"], secondary_indices=["c"],
        zone_map_columns=["v"], bloom_filter_columns=["k"],
    )
    for j in range(appends_to_a):
        update_dataset_from_dataframe(
            spark, store, uuid, _rows(spark, 100 + 20 * j, 120 + 20 * j, ["a"])
        )
    return DatasetMetadata.load(store, uuid)


def _by_group(meta):
    return Counter(p.key_values.get("g") for p in meta.partitions.values())


def test_under_target_groups_keep_labels_files_and_stats(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    before = _fragmented(spark, store)
    assert _by_group(before) == {"a": 4, "b": 1, "c": 1}
    after = compact_dataset(spark, store, "inc")
    assert _by_group(after) == {"a": 1, "b": 1, "c": 1}
    for label, p in before.partitions.items():
        if p.key_values["g"] == "a":
            assert label not in after.partitions
            continue
        q = after.partitions[label]
        assert (q.file, q.key_values, q.row_count, q.stats) == (
            p.file, p.key_values, p.row_count, p.stats,
        )
    (new_a,) = [p for p in after.partitions.values() if p.key_values["g"] == "a"]
    assert set(new_a.stats) == {"v"}  # zone maps re-harvested on the new file
    assert after.generation == before.generation + 1
    assert read_dataset_as_dataframe(spark, store, "inc").count() == 150


def test_over_target_groups_bucketed(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    before = _fragmented(spark, store, appends_to_a=4)
    assert _by_group(before)["a"] == 5
    after = compact_dataset(spark, store, "inc", target_files_per_key=2)
    per = _by_group(after)
    assert per["a"] <= 2 and per["b"] == per["c"] == 1, per
    untouched = {l for l, p in before.partitions.items() if p.key_values["g"] != "a"}
    assert untouched <= set(after.partitions)
    out = read_dataset_as_dataframe(spark, store, "inc")
    assert sorted(r["k"] for r in out.collect()) == list(range(90)) + list(range(100, 180))


def test_nothing_over_target_is_a_no_op(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    before = _fragmented(spark, store, appends_to_a=1)  # a: 2 files
    keys = sorted(store.iter_keys("inc/"))
    out = compact_dataset(spark, store, "inc", target_files_per_key=2)
    assert out.generation == before.generation
    assert out.to_json() == before.to_json()
    assert sorted(store.iter_keys("inc/")) == keys  # nothing written


def test_reads_only_over_target_groups(spark, tmp_path, monkeypatch):
    """A partial compaction reads through a partition-key DNF of the
    over-target groups; a full one passes no predicate at all."""
    store = Store(str(tmp_path / "store"))
    _fragmented(spark, store)
    update_dataset_from_dataframe(spark, store, "inc", _rows(spark, 300, 310, ["b"]))
    calls = []
    real = ds_mod.read_dataset_as_dataframe

    def spy(spark_, store_, uuid_, **kw):
        calls.append(kw)
        return real(spark_, store_, uuid_, **kw)

    monkeypatch.setattr(ds_mod, "read_dataset_as_dataframe", spy)
    compact_dataset(spark, store, "inc")  # a: 4 files, b: 2, c: 1
    assert calls == [{"predicates": [[("g", "==", "a")], [("g", "==", "b")]]}]
    update_dataset_from_dataframe(spark, store, "inc", _rows(spark, 400, 430, ["a", "b", "c"]))
    calls.clear()
    compact_dataset(spark, store, "inc")  # every group at 2 files
    assert calls == [{}]
    assert _by_group(DatasetMetadata.load(store, "inc")) == {"a": 1, "b": 1, "c": 1}


def test_keyless_and_zorder_rewrite_everything(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    for uuid in ("flat", "zo"):
        store_dataframe_as_dataset(
            spark, store, uuid,
            spark.range(0, 300).select(
                F.col("id").alias("k"), (F.col("id") % 17).cast("double").alias("x")
            ).repartition(3),
            secondary_indices=["k"], bloom_filter_columns=["k"],
        )
    before = DatasetMetadata.load(store, "flat")
    after = compact_dataset(spark, store, "flat", target_files_per_key=2)
    assert len(after.partitions) == 2
    assert not set(before.partitions) & set(after.partitions)

    before = DatasetMetadata.load(store, "zo")
    after = compact_dataset(spark, store, "zo", target_files_per_key=3, zorder_by=["x"])
    assert len(after.partitions) == 3  # at target already, still reclustered
    assert not set(before.partitions) & set(after.partitions)
    assert all("x" in p.stats for p in after.partitions.values())
    for uuid in ("flat", "zo"):
        got = read_dataset_as_dataframe(spark, store, uuid, predicates=[[("k", "==", 123)]])
        assert [r["k"] for r in got.collect()] == [123]
        assert read_dataset_as_dataframe(spark, store, uuid).count() == 300


def test_nan_key_group_is_not_lost(spark, tmp_path):
    """A NaN partition key never equals itself driver-side, so a
    partition-key DNF would select none of its files: compaction falls
    back to rewriting every group instead of dropping the NaN rows."""
    store = Store(str(tmp_path / "store"))
    mk = lambda rows: spark.createDataFrame(rows, "k long, x double")  # noqa: E731
    store_dataframe_as_dataset(
        spark, store, "nan", mk([(0, 1.0), (1, float("nan"))]), partition_on=["x"]
    )
    update_dataset_from_dataframe(spark, store, "nan", mk([(2, float("nan"))]))
    meta = compact_dataset(spark, store, "nan")
    assert len(meta.partitions) == 2
    out = read_dataset_as_dataframe(spark, store, "nan")
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2]


PREDICATES = {
    "index": [[("c", "==", 3)]],
    "bloom": [[("k", "in", [5, 101, 137])]],
    "zone_map": [[("v", ">=", 100.0), ("v", "<", 115.0)]],
    "partition_key": [[("g", "==", "a")], [("g", "==", "c"), ("c", "==", 1)]],
}


def _read(spark, store, preds):
    return sorted(
        tuple(r) for r in read_dataset_as_dataframe(
            spark, store, "inc", predicates=preds, columns=["k", "g", "c", "v"]
        ).collect()
    )


def test_pruned_reads_unchanged_and_no_false_negatives(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    _fragmented(spark, store)
    want = {name: _read(spark, store, preds) for name, preds in PREDICATES.items()}
    assert all(want.values())
    meta = compact_dataset(spark, store, "inc")
    assert _by_group(meta) == {"a": 1, "b": 1, "c": 1}

    label_of = {store.url(p.file): p.label for p in meta.partitions.values()}
    files = read_dataset_as_dataframe(spark, store, "inc").withColumn(
        "__file__", F.input_file_name()
    )
    for name, preds in PREDICATES.items():
        assert _read(spark, store, preds) == want[name], name
        report = {r["label"]: r for r in explain_scan(meta, store, preds)}
        matching = {
            label_of[r["__file__"]]
            for r in files.where(dnf_to_column(preds)).select("__file__").distinct().collect()
        }
        assert matching and all(report[l]["scanned"] for l in matching), (name, report)

    # the merged index maps each value to exactly the files holding it
    idx = meta.secondary_index(store, "c")
    truth: dict = {}
    for r in files.select("c", "__file__").distinct().collect():
        truth.setdefault(r["c"], set()).add(label_of[r["__file__"]])
    assert {v: set(idx.query(v)) for v in idx.observed_values()} == truth
    # ...and the Bloom sidecar covers every live label, stale ones dropped
    from plateau_spark.plans.blooms import read_bloom_rows

    bloom_labels = {row[1] for row in read_bloom_rows(store, meta.blooms["k"]["key"])}
    assert bloom_labels == set(meta.partitions)
