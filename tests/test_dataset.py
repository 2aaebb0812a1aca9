from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.schema import SchemaValidationError
from plateau_spark.sources.dataset import (
    build_dataset_indices,
    commit_dataset,
    delete_dataset,
    garbage_collect_dataset,
    read_dataset_as_dataframe,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
    write_single_partition,
)


def test_store_and_read_roundtrip(spark, store, cluster_df):
    ds = store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"]
    )
    assert ds.partition_keys == ["P"]
    assert len(ds.partitions) == 2
    # key_values recovered and typed
    kvs = sorted(p.key_values["P"] for p in ds.partitions.values())
    assert kvs == [1, 2]

    out = read_dataset_as_dataframe(spark, store, "ds")
    assert out.columns == ["P", "DATE", "L", "TARGET"]  # keys first, payload alpha
    rows = out.orderBy("P").collect()
    assert [r.P for r in rows] == [1, 2]
    assert rows[0].DATE == datetime.date(2010, 1, 1)


def test_normalization_applied(spark, store):
    df = spark.createDataFrame([(1, 2.5)], "i int, f float")
    ds = store_dataframe_as_dataset(spark, store, "norm", df)
    assert dict((f.name, f.dataType) for f in ds.schema.fields) == {
        "f": T.DoubleType(),
        "i": T.LongType(),
    }


def test_overwrite_guard(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df)
    with pytest.raises(RuntimeError, match="already exists"):
        store_dataframe_as_dataset(spark, store, "ds", cluster_df)
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, overwrite=True)


def test_null_partition_key_rejected(spark, store):
    df = spark.createDataFrame([(1, "a"), (None, "b")], "p long, x string")
    with pytest.raises(ValueError, match="null values in partition columns"):
        store_dataframe_as_dataset(spark, store, "ds", df, partition_on=["p"])


def test_predicate_pruning_reads_fewer_files(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    out = read_dataset_as_dataframe(
        spark, store, "ds", predicates=[[("P", "==", 1)]]
    )
    # pruning happens at plan time: only one file in the scan
    assert out.count() == 1
    files = out.inputFiles()
    assert len(files) == 1 and "P=1" in files[0]


def test_predicates_and_columns(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    out = read_dataset_as_dataframe(
        spark,
        store,
        "ds",
        predicates=[[("L", ">=", 2)]],
        columns=["P", "L"],
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].asDict() == {"P": 2, "L": 2}
    with pytest.raises(ValueError, match="Columns not found"):
        read_dataset_as_dataframe(spark, store, "ds", columns=["nope"])


def test_empty_result_keeps_schema(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("P", "==", 99)]])
    assert out.count() == 0
    assert out.columns == ["P", "DATE", "L", "TARGET"]


def test_update_add_and_delete_scope(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    new = spark.createDataFrame(
        [(3, 3, 3, datetime.date(2011, 1, 1))], "P long, L long, TARGET long, DATE date"
    )
    meta = update_dataset_from_dataframe(
        spark, store, "ds", new, delete_scope=[{"P": 1}]
    )
    vals = sorted(p.key_values["P"] for p in meta.partitions.values())
    assert vals == [2, 3]
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert sorted(r.P for r in out.collect()) == [2, 3]


def test_update_schema_mismatch_rejected(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    bad = spark.createDataFrame([(1, "oops")], "P long, L string")
    with pytest.raises(SchemaValidationError):
        update_dataset_from_dataframe(spark, store, "ds", bad)


def test_secondary_index_pruning(spark, store):
    df = spark.createDataFrame(
        [("A", i, f"pay{i}") for i in range(5)] + [("B", i, f"pay{i}") for i in range(3, 8)],
        "part string, indexed long, payload string",
    )
    store_dataframe_as_dataset(
        spark, store, "ds", df, partition_on=["part"], secondary_indices=["indexed"]
    )
    # value 0 exists only in partition A -> index prunes partition B's file
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("indexed", "==", 0)]])
    files = out.inputFiles()
    assert len(files) == 1 and "part=A" in files[0]
    assert out.count() == 1
    # value 4 is in both partitions
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("indexed", "==", 4)]])
    assert len(out.inputFiles()) == 2
    assert out.count() == 2


def test_build_indices_post_hoc(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    meta = build_dataset_indices(spark, store, "ds", ["TARGET"])
    assert "TARGET" in meta.indices
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("TARGET", "==", 2)]])
    assert len(out.inputFiles()) == 1
    assert out.count() == 1


def test_write_single_partition_then_commit(spark, store, cluster_df):
    parts = write_single_partition(spark, store, "ds", cluster_df, partition_on=["P"])
    assert len(parts) == 2
    # not yet visible
    assert not DatasetMetadata.exists(store, "ds")
    commit_dataset(
        spark, store, "ds", new_partitions=parts,
        schema=cluster_df.schema, partition_on=["P"],
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert out.count() == 2


def test_garbage_collect(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    # orphan write (never committed)
    write_single_partition(spark, store, "ds", cluster_df, partition_on=["P"])
    before = set(store.iter_keys("ds/"))
    removed = garbage_collect_dataset(store, "ds")
    assert removed
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert out.count() == 2  # committed data untouched
    after = set(store.iter_keys("ds/"))
    assert after < before


def test_delete_dataset(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    delete_dataset(store, "ds")
    assert not DatasetMetadata.exists(store, "ds")
    assert list(store.iter_keys("ds/")) == []


def test_metadata_query(spark, store, cluster_df):
    ds = store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P", "L"])
    labels = ds.query(P=1)
    assert len(labels) == 1 and "P=1" in labels[0]


def test_bucketed_write_caps_files_per_key(spark, store, lineitem):
    store_dataframe_as_dataset(
        spark,
        store,
        "li",
        lineitem,
        partition_on=["l_returnflag"],
        num_buckets=4,
        bucket_by=["l_orderkey"],
    )
    meta = DatasetMetadata.load(store, "li")
    from collections import Counter

    per_key = Counter(p.key_values["l_returnflag"] for p in meta.partitions.values())
    assert all(n <= 4 for n in per_key.values())
    out = read_dataset_as_dataframe(spark, store, "li")
    assert out.count() == lineitem.count()


def test_null_predicate_on_indexed_column(spark, store):
    """ADVICE r1 (high): secondary indexes only store non-null values, so
    IS-NULL-matching literals must not constrain pruning — otherwise the
    partitions holding the null rows get pruned and the residual filter
    can never recover them."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "b", 30), (4, None, 40)],
        "id long, tag string, grp long",
    )
    store_dataframe_as_dataset(
        spark, store, "ds", df, partition_on=["grp"], secondary_indices=["tag"]
    )
    # == None → IS NULL: must see both null rows
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("tag", "==", None)]])
    assert sorted(r.id for r in out.collect()) == [2, 4]
    # in [v, None] → value-or-null
    out = read_dataset_as_dataframe(
        spark, store, "ds", predicates=[[("tag", "in", ["a", None])]]
    )
    assert sorted(r.id for r in out.collect()) == [1, 2, 4]
    # is distinct from 'a' → matches nulls too
    out = read_dataset_as_dataframe(
        spark, store, "ds", predicates=[[("tag", "is distinct from", "a")]]
    )
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]
    # != None → IS NOT NULL stays index-constrained and correct
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("tag", "!=", None)]])
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_many_file_staged_commit_pooled_renames(spark, store):
    """The staged→final rename fan-out runs through a thread pool; a
    100-key write must produce the identical Partition list (labels,
    key_values, one file per key) and a fully-consistent read."""
    df = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "v long, g long"
    )
    meta = store_dataframe_as_dataset(spark, store, "many", df, partition_on=["g"])
    assert len(meta.partitions) == 100
    # every partition decoded its key from the hive path and the file
    # landed under the final table prefix (no staging leftovers)
    for p in meta.partitions.values():
        assert p.key_values["g"] == int(p.label.split("=")[1].split("/")[0])
        assert "/.staging/" not in p.file
    staged_left = [k for k in store.iter_keys("many/") if "/.staging/" in k]
    assert staged_left == []
    out = read_dataset_as_dataframe(spark, store, "many")
    assert out.count() == 2000
    assert sorted(r["v"] for r in out.collect()) == list(range(2000))


def test_index_driver_tier_matches_spark_tier(spark, store, monkeypatch):
    """KB-scale commits build/merge index sidecars driver-side (zero
    Spark jobs); the sidecar CONTENT must be identical to the Spark
    aggregation's — same values, same sorted label arrays — or pruning
    would depend on commit size."""
    from plateau_spark.core.store import Store
    from plateau_spark.plans.index import SecondaryIndex

    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("tag"),
    )
    store_dataframe_as_dataset(
        spark, store, "ix", df, partition_on=["grp"], secondary_indices=["tag"]
    )
    update_dataset_from_dataframe(
        spark, store, "ix",
        spark.range(300, 400).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp"),
            F.concat(F.lit("t"), (F.col("id") % 11).cast("string")).alias("tag"),
        ),
        partition_on=["grp"],
    )
    meta = DatasetMetadata.load(store, "ix")
    driver_idx = SecondaryIndex.load(store, meta.indices["tag"], "tag")

    import plateau_spark.plans.harvest as harvest_mod
    import plateau_spark.sources.dataset as ds_mod

    # force the Spark tier through the one driver-tier gate, and prove
    # the Spark-tier writer ran for the build and for the merge
    monkeypatch.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
    spark_tier = []
    real_persist = ds_mod.persist_index_dataframe

    def spy(*args, **kw):
        spark_tier.append(args[3])
        return real_persist(*args, **kw)

    monkeypatch.setattr(ds_mod, "persist_index_dataframe", spy)
    store2 = Store(str(store.path("") ).rstrip("/") + "_spark")
    store_dataframe_as_dataset(
        spark, store2, "ix", df, partition_on=["grp"], secondary_indices=["tag"]
    )
    update_dataset_from_dataframe(
        spark, store2, "ix",
        spark.range(300, 400).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp"),
            F.concat(F.lit("t"), (F.col("id") % 11).cast("string")).alias("tag"),
        ),
        partition_on=["grp"],
    )
    monkeypatch.undo()
    assert spark_tier == ["tag", "tag"]
    meta2 = DatasetMetadata.load(store2, "ix")
    spark_idx = SecondaryIndex.load(store2, meta2.indices["tag"], "tag")
    # label SETS must agree per value (labels embed partition uuids, so
    # compare structure: same values, same per-value label count over
    # the same grp prefixes)
    assert sorted(driver_idx.index_dct) == sorted(spark_idx.index_dct)
    for v in driver_idx.index_dct:
        a = sorted(l.split("/")[0] for l in driver_idx.index_dct[v])
        b = sorted(l.split("/")[0] for l in spark_idx.index_dct[v])
        assert a == b, v
    # and the driver-tier index serves a real indexed read
    out = read_dataset_as_dataframe(
        spark, store, "ix", predicates=[[("tag", "==", "t3")]]
    )
    rows = out.collect()
    assert rows and all(r["tag"] == "t3" for r in rows)
