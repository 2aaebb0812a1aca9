"""One sidecar refresh per kind (sources/dataset.py ``_refresh_indices``
and ``_refresh_blooms``): both tiers write the same rows, a build on one
tier merges on the other, both write index sidecars sorted by value,
and a KB-scale mutation never reaches the Spark tier."""

from __future__ import annotations

import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import plateau_spark.plans.index as index_mod
import plateau_spark.sources.dataset as ds_mod
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.plans.blooms import read_bloom_table
from plateau_spark.plans.index import SecondaryIndex
from plateau_spark.sources.dataset import (
    delete_rows_from_dataset,
    merge_upsert_into_dataset,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)

SPARK_TIER = (
    ("plateau_spark.plans.index", "persist_index_dataframe"),
    ("plateau_spark.plans.blooms", "build_bloom_dataframe"),
    ("plateau_spark.plans.blooms", "persist_bloom_dataframe"),
)


def _spy(monkeypatch, targets=SPARK_TIER) -> list[str]:
    """Record every call to ``targets`` under each name any
    plateau_spark module binds them to; returns the call log."""
    calls: list[str] = []
    for module_name, name in targets:
        real = getattr(sys.modules[module_name], name)

        def spy(*args, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(*args, **kw)

        for mod_name, mod in list(sys.modules.items()):
            if mod is not None and mod_name.startswith("plateau_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is real:
                        monkeypatch.setattr(mod, attr, spy)
    return calls


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("grp"),
        ((F.col("id") * 7) % 23).alias("num"),
        F.concat(F.lit("t"), (F.col("id") % 13).cast("string")).alias("tag"),
    )


def _index_values(store, key, column):
    return pq.read_table(store.path(key), columns=[column]).column(column).to_pylist()


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_index_sidecar_sorted_by_value(spark, store, monkeypatch, tier):
    """Both tiers write an index sidecar sorted by value, the order
    value-filtered ``SecondaryIndex.load`` relies on to prune row
    groups — after the build and after the merge."""
    if tier == "spark":
        monkeypatch.setattr(index_mod, "DRIVER_MAX_BYTES", 0)
    calls = _spy(monkeypatch)
    store_dataframe_as_dataset(
        spark, store, "srt", _frame(spark, 0, 200), partition_on=["grp"],
        secondary_indices=["num", "tag"],
    )
    built = DatasetMetadata.load(store, "srt")
    update_dataset_from_dataframe(
        spark, store, "srt", _frame(spark, 200, 300), partition_on=["grp"]
    )
    merged = DatasetMetadata.load(store, "srt")
    want = 4 if tier == "spark" else 0
    assert calls.count("persist_index_dataframe") == want
    for meta in (built, merged):
        for col in ("num", "tag"):
            values = _index_values(store, meta.indices[col], col)
            assert values == sorted(values), (col, values)
            assert len(values) == len(set(values))


def _bloom_rows(store, key) -> set[tuple[int, str, int]]:
    """A Bloom sidecar's (word, label, bits) rows."""
    table = read_bloom_table(store, key)
    return set(zip(*(table.column(c).to_pylist() for c in table.column_names)))


def _refresh_both(spark, store, meta, parts, columns, removed=()):
    ds_mod._refresh_indices(spark, store, meta, parts, columns["index"], removed)
    ds_mod._refresh_blooms(spark, store, meta, parts, columns["bloom"], removed)


def _edge_frame(spark, lo, hi):
    """Small integer types with negatives, empty and non-ASCII strings,
    NULLs, and values repeated within and across files."""
    words = F.array(*[F.lit(w) for w in ("", "ü", "naïve", "日本語", "a", "Z")])
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).alias("grp"),
        (F.lit(60) - F.col("id") % 121).cast("tinyint").alias("b"),
        ((F.col("id") * 37) % 1001 - 500).cast("smallint").alias("s"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 4 - 2).alias("n"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.element_at(words, (F.col("id") % 5 + 1).cast("int")))
        .alias("u"),
    )


def _case_base(spark, store):
    store_dataframe_as_dataset(
        spark, store, "xt", _frame(spark, 0, 240), partition_on=["grp"]
    )
    parts = sorted(
        DatasetMetadata.load(store, "xt").partitions.values(), key=lambda p: p.label
    )
    first, second = parts[:4], parts[4:]
    return first, second, [first[0].label]


def _case_edge(spark, store):
    store_dataframe_as_dataset(
        spark, store, "xt", _edge_frame(spark, 0, 240), partition_on=["grp"]
    )
    update_dataset_from_dataframe(
        spark, store, "xt", _edge_frame(spark, 240, 300), partition_on=["grp"]
    )
    parts = sorted(
        DatasetMetadata.load(store, "xt").partitions.values(), key=lambda p: p.label
    )
    first, second = parts[:7], parts[7:]
    return first, second, [first[0].label, first[3].label, first[5].label]


def _case_evolved(spark, store):
    """The build covers files written before column ``extra`` existed."""
    store_dataframe_as_dataset(
        spark, store, "xt", _frame(spark, 0, 120), partition_on=["grp"]
    )
    first = list(DatasetMetadata.load(store, "xt").partitions.values())
    update_dataset_from_dataframe(
        spark, store, "xt",
        _frame(spark, 120, 240).withColumn(
            "extra", F.concat(F.lit("é"), (F.col("k") % 9).cast("string"))
        ),
        partition_on=["grp"], schema_evolution=True,
    )
    labels = {p.label for p in first}
    second = [
        p for p in DatasetMetadata.load(store, "xt").partitions.values()
        if p.label not in labels
    ]
    return first, second, [first[0].label]


# case -> (setup, sidecar columns, an indexed column with a value in
# every file, whose posting lists must cover every live label)
CROSS_TIER_CASES = {
    "base": (
        _case_base, {"index": ["num", "tag", "grp"], "bloom": ["k", "tag"]}, "tag"
    ),
    "edge": (
        _case_edge,
        {"index": ["b", "s", "n", "u", "grp"], "bloom": ["b", "s", "n", "u"]},
        "s",
    ),
    "evolved": (
        _case_evolved, {"index": ["extra", "grp"], "bloom": ["extra"]}, "grp"
    ),
}


@pytest.mark.parametrize(
    "tiers, case",
    [
        # the base case keeps its original ids, tiers0 and tiers1
        pytest.param(tiers, case, id=f"tiers{i}" + ("" if case == "base" else f"-{case}"))
        for case in CROSS_TIER_CASES
        for i, tiers in enumerate([("spark", "driver"), ("driver", "spark")])
    ],
)
def test_cross_tier_build_then_merge_equals_driver_only(
    spark, store, monkeypatch, tiers, case
):
    """A sidecar built on one tier and merged on the other equals the
    all-driver sidecar: the same index dict per column (payload and
    partition-key indices) and the same Bloom row set — for small and
    negative integers, empty and non-ASCII strings, NULLs, repeated
    values, several removed labels and a file that lacks an evolved
    column."""
    make, columns, covering = CROSS_TIER_CASES[case]
    first, second, removed = make(spark, store)
    parts = first + second

    def run(build_tier, merge_tier):
        meta = DatasetMetadata.load(store, "xt")
        for tier, step in ((build_tier, "build"), (merge_tier, "merge")):
            monkeypatch.setattr(
                index_mod, "DRIVER_MAX_BYTES", 0 if tier == "spark" else 8 << 20
            )
            calls = _spy(monkeypatch)
            if step == "build":
                _refresh_both(spark, store, meta, first, columns)
            else:
                _refresh_both(spark, store, meta, second, columns, removed)
            monkeypatch.undo()
            # the partition-key index takes its pairs from key_values, so
            # only the payload columns prove the tier
            assert ("build_bloom_dataframe" in calls) == (tier == "spark")
            assert ("persist_index_dataframe" in calls) == (tier == "spark")
        return (
            {
                col: SecondaryIndex.load(store, meta.indices[col], col).index_dct
                for col in columns["index"]
            },
            {
                col: _bloom_rows(store, meta.blooms[col]["key"])
                for col in columns["bloom"]
            },
        )

    expected = run("driver", "driver")
    live = {p.label for p in parts} - set(removed)
    assert {l for ls in expected[0][covering].values() for l in ls} == live
    for col in columns["bloom"]:
        assert {r[1] for r in expected[1][col]} == live, col
    assert run(*tiers) == expected


def test_kb_scale_mutations_stay_on_driver_tier(spark, store, monkeypatch):
    """An update, an upsert and a row delete on a small indexed,
    Bloom-filtered dataset refresh every sidecar on the driver tier:
    no Spark-tier sidecar function runs."""
    store_dataframe_as_dataset(
        spark, store, "kb", _frame(spark, 0, 300), partition_on=["grp"],
        secondary_indices=["num", "tag"], bloom_filter_columns=["k"],
    )
    calls = _spy(monkeypatch)
    update_dataset_from_dataframe(
        spark, store, "kb", _frame(spark, 300, 360), partition_on=["grp"]
    )
    merge_upsert_into_dataset(spark, store, "kb", _frame(spark, 350, 380), ["k"])
    delete_rows_from_dataset(spark, store, "kb", [[("k", "<", 40)]])
    assert calls == []
    meta = DatasetMetadata.load(store, "kb")
    idx = SecondaryIndex.load(store, meta.indices["tag"], "tag")
    assert {l for ls in idx.index_dct.values() for l in ls} == set(meta.partitions)
    bloom_labels = set(read_bloom_table(store, meta.blooms["k"]["key"])["label"].to_pylist())
    assert bloom_labels == set(meta.partitions)


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_reference_named_sidecar_merges_on_both_tiers(
    spark, store, monkeypatch, tier
):
    """A reference-written index sidecar names its posting list
    "partition"; both tiers merge it into the same index."""
    import io

    import pyarrow as pa

    store_dataframe_as_dataset(
        spark, store, "ref", _frame(spark, 0, 120), partition_on=["grp"],
        secondary_indices=["num"],
    )
    meta = DatasetMetadata.load(store, "ref")
    items = sorted(
        SecondaryIndex.load(store, meta.indices["num"], "num").index_dct.items()
    )
    table = pa.table({
        "num": pa.array([v for v, _ in items], pa.int64()),
        "partition": pa.array([sorted(ls) for _, ls in items], pa.list_(pa.string())),
    })
    buf = io.BytesIO()
    pq.write_table(table, buf)
    store.put_bytes(meta.indices["num"], buf.getvalue())
    if tier == "spark":
        monkeypatch.setattr(index_mod, "DRIVER_MAX_BYTES", 0)
    calls = _spy(monkeypatch)
    update_dataset_from_dataframe(
        spark, store, "ref", _frame(spark, 120, 180), partition_on=["grp"]
    )
    assert ("persist_index_dataframe" in calls) == (tier == "spark")
    meta = DatasetMetadata.load(store, "ref")
    got = SecondaryIndex.load(store, meta.indices["num"], "num").index_dct
    want: dict = {}
    for p in meta.partitions.values():
        for v in pq.read_table(store.path(p.file), columns=["num"])["num"].to_pylist():
            want.setdefault(v, set()).add(p.label)
    assert got == want
