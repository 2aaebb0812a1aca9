"""Round-2 surface: CSV serializer, multi-DF / iterator stores,
dispatch_by grouped reads with logical conjunctions, index views,
dataset copy, recursive metadata merge, GC guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.utils import combine_metadata, validate_partition_keys
from plateau_spark.plans.index import get_indices_as_dataframe, index_as_flat_dataframe
from plateau_spark.sources.dataset import (
    copy_dataset,
    create_empty_dataset_header,
    garbage_collect_dataset,
    read_dataset_as_dataframe,
    read_dataset_as_dataframe_groups,
    store_dataframe_as_dataset,
    store_dataframes_as_dataset,
    store_dataframes_as_dataset__iter,
    update_dataset_from_dataframe,
    update_dataset_from_dataframes__iter,
    write_single_partition,
)


# -- CSV serializer ----------------------------------------------------------


def test_csv_roundtrip(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], file_format="csv"
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert all(f.endswith(".csv.gz") for f in out.inputFiles())
    assert sorted((r.P, r.L) for r in out.collect()) == [(1, 1), (2, 2)]
    # schema survives the text round-trip (from the commit file)
    assert dict(out.dtypes)["DATE"] == "date"


def test_csv_uncompressed_and_mixed_formats(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"],
        file_format="csv", compress=False,
    )
    update_dataset_from_dataframe(
        spark, store, "ds",
        cluster_df.withColumn("P", F.col("P") + 10),
        file_format="parquet",
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    suffixes = {f.rsplit(".", 1)[-1] for f in out.inputFiles()}
    assert suffixes == {"csv", "parquet"}
    assert out.count() == 4
    # predicates still prune partitions and filter rows across formats
    pruned = read_dataset_as_dataframe(
        spark, store, "ds", predicates=[[("P", "in", [1, 11])]]
    )
    assert sorted(r.P for r in pruned.collect()) == [1, 11]


@pytest.mark.parametrize("append", ["update", "update_iter", "two_phase"])
def test_csv_append_after_schema_evolution_reads_by_name(spark, store, append):
    """A CSV file is read positionally under the commit schema, so an
    append after an additive evolution (commit order ``k, v, a``) must
    not come back shifted from its canonical frame order (``a, k, v``);
    a CSV file from before the evolution reads ``a`` as NULL."""
    from plateau_spark.sources.dataset import commit_dataset

    store_dataframe_as_dataset(
        spark, store, "ev", spark.createDataFrame([(1, 10)], "k long, v long"),
        file_format="csv",
    )
    update_dataset_from_dataframe(
        spark, store, "ev", spark.createDataFrame([(3, 30, "x")], "k long, v long, a string"),
        schema_evolution=True,
    )
    new = spark.createDataFrame([(6, 60, "y"), (7, 70, "z")], "k long, v long, a string")
    if append == "update":
        update_dataset_from_dataframe(spark, store, "ev", new, file_format="csv")
    elif append == "update_iter":
        update_dataset_from_dataframes__iter(spark, store, "ev", [new], file_format="csv")
    else:
        staged = write_single_partition(spark, store, "ev", new, file_format="csv")
        commit_dataset(spark, store, "ev", new_partitions=staged)
    got = read_dataset_as_dataframe(spark, store, "ev")
    assert sorted((r.k, r.v, r.a) for r in got.collect()) == [
        (1, 10, None), (3, 30, "x"), (6, 60, "y"), (7, 70, "z"),
    ]


def test_unsupported_format_rejected(spark, store, cluster_df):
    with pytest.raises(ValueError, match="file_format"):
        store_dataframe_as_dataset(
            spark, store, "ds", cluster_df, file_format="avro"
        )


# -- multi-DF and iterator stores -------------------------------------------


def test_store_dataframes_list(spark, store, cluster_df):
    half1 = cluster_df.where("P = 1")
    half2 = cluster_df.where("P = 2")
    ds = store_dataframes_as_dataset(
        spark, store, "ds", [half1, half2], partition_on=["P"]
    )
    # each list element wrote its own files
    assert len(ds.partitions) == 2
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert out.count() == 2


def test_store_iter_generator(spark, store, cluster_df):
    def gen():
        yield cluster_df.where("P = 1")
        yield cluster_df.where("P = 2")

    ds = store_dataframes_as_dataset__iter(
        spark, store, "ds", gen(), partition_on=["P"], secondary_indices=["L"]
    )
    assert len(ds.partitions) == 2
    assert "L" in ds.indices
    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("L", "==", 2)]])
    assert [r.P for r in out.collect()] == [2]


def test_store_iter_empty_generator_rejected(spark, store):
    with pytest.raises(ValueError, match="empty generator"):
        store_dataframes_as_dataset__iter(spark, store, "ds", iter([]))


def test_update_iter(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])

    def gen():
        yield cluster_df.withColumn("P", F.col("P") + 10)

    meta = update_dataset_from_dataframes__iter(
        spark, store, "ds", gen(), delete_scope=[{"P": 1}]
    )
    assert len(meta.partitions) == 3  # 2 - 1 deleted + 2 added
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert sorted(r.P for r in out.collect()) == [2, 11, 12]


# -- dispatch_by grouped reads ----------------------------------------------


def test_dispatch_by_groups_partition_key(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    groups = list(read_dataset_as_dataframe_groups(spark, store, "ds", ["P"]))
    assert [g[0] for g in groups] == [{"P": 1}, {"P": 2}]
    for key, df in groups:
        rows = df.collect()
        assert len(rows) == 1 and rows[0].P == key["P"]


def test_dispatch_by_groups_indexed_column(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    groups = list(
        read_dataset_as_dataframe_groups(
            spark, store, "ds", ["L"], predicates=[[("TARGET", ">", 0)]]
        )
    )
    assert [g[0] for g in groups] == [{"L": 1}, {"L": 2}]
    # the residual conjunction keeps only the group's own rows
    for key, df in groups:
        assert [r.L for r in df.collect()] == [key["L"]]


def test_dispatch_by_multi_column_only_observed_combos(spark, store, cluster_df):
    """Multi-column dispatch must yield observed group combinations only
    — not the cartesian product of per-column values (reference
    dispatch_by contract). cluster_df only has (P=1,L=1) and (P=2,L=2);
    the product combos (1,2)/(2,1) exist in no partition and must be
    skipped without running a read."""
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    groups = list(read_dataset_as_dataframe_groups(spark, store, "ds", ["P", "L"]))
    assert [g[0] for g in groups] == [{"P": 1, "L": 1}, {"P": 2, "L": 2}]
    for key, df in groups:
        rows = df.collect()
        assert len(rows) == 1 and rows[0].P == key["P"] and rows[0].L == key["L"]


def test_dispatch_by_requires_indexed_column(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    with pytest.raises(RuntimeError, match="indexed or partition keys"):
        list(read_dataset_as_dataframe_groups(spark, store, "ds", ["TARGET"]))


def test_grouped_dataframe_matches_generator(spark, store, cluster_df):
    """Single-plan grouped read returns the same rows/groups as the
    per-group generator (conformance between the two dispatch modes)."""
    from plateau_spark.sources.dataset import read_dataset_as_grouped_dataframe

    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    gen_rows = sorted(
        (key["L"], r.P, r.L)
        for key, df in read_dataset_as_dataframe_groups(spark, store, "ds", ["L"])
        for r in df.collect()
    )
    single = read_dataset_as_grouped_dataframe(spark, store, "ds", ["L"])
    single_rows = sorted((r.L, r.P, r.L) for r in single.collect())
    assert gen_rows == single_rows


def test_grouped_dataframe_high_cardinality_one_plan(spark, tmp_path):
    """1000 dispatch groups: the generator shape would be 1000 Spark
    jobs; the single-plan variant is ONE scan with every group
    co-located in exactly one task."""
    from pyspark.sql import functions as F
    from plateau_spark.sources.dataset import read_dataset_as_grouped_dataframe

    store = str(tmp_path / "store")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("G"), (F.col("id") % 7).alias("v")
    )
    store_dataframe_as_dataset(spark, store, "ds", df, secondary_indices=["G"])
    out = read_dataset_as_grouped_dataframe(spark, store, "ds", ["G"])
    assert out.count() == 2000  # one action, one plan — not 1000 jobs
    # co-location: every group lives in exactly one partition
    spread = (
        out.withColumn("__pid__", F.spark_partition_id())
        .groupBy("G")
        .agg(F.countDistinct("__pid__").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert spread == 1


# -- index views --------------------------------------------------------------


def test_index_as_flat_dataframe(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    meta = DatasetMetadata.load(store, "ds")
    flat = index_as_flat_dataframe(spark, store, meta, "L")
    rows = [(r.L, r.partition) for r in flat.collect()]
    assert len(rows) == 2 and all(f"P={l}" in p for l, p in rows)
    compact = index_as_flat_dataframe(spark, store, meta, "L", compact=True)
    assert compact.columns == ["L", "partitions"]
    inverted = index_as_flat_dataframe(
        spark, store, meta, "L", partitions_as_index=True
    )
    assert inverted.columns == ["partition", "L"]


def test_get_indices_as_dataframe(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    meta = DatasetMetadata.load(store, "ds")
    view = get_indices_as_dataframe(spark, store, meta)
    assert view.columns == ["partition", "L", "P"]
    rows = view.collect()
    assert len(rows) == 2
    assert all(r.L == r.P for r in rows)  # fixture has L == P per partition


def test_reference_written_index_file_interop(spark, store, cluster_df):
    """Reference-written external index parquet names the posting-list
    column "partition" (singular — /root/reference/plateau/core/index.py:34,927).
    Both the plan-time loader and the index views must accept it, or
    every reference-interop dataset with an external secondary index
    crashes at plan time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    meta = DatasetMetadata.load(store, "ds")
    # rewrite the index file the way the reference writes it
    old = meta.secondary_index(store, "L")
    ref_key = "ds/indices/L/ref.by-dataset-index.parquet"
    tbl = pa.Table.from_pydict(
        {
            "L": list(old.index_dct.keys()),
            "partition": [sorted(v) for v in old.index_dct.values()],
        }
    )
    import io

    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    store.put_bytes(ref_key, buf.getvalue())
    meta.indices["L"] = ref_key
    meta.commit(store)

    out = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("L", "==", 1)]])
    assert [r.P for r in out.collect()] == [1]
    flat = index_as_flat_dataframe(spark, store, DatasetMetadata.load(store, "ds"), "L")
    assert sorted(r.L for r in flat.collect()) == [1, 2]


def test_embedded_index_views(spark, store, cluster_df):
    """Embedded (commit-file) indices — the reference's loaded form —
    must be served by the index views, not just the planner (regression:
    load_index_dataframe raised 'neither indexed nor a partition key'
    and get_indices_as_dataframe omitted them from its default set)."""
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    meta = DatasetMetadata.load(store, "ds")
    labels = sorted(meta.partitions)
    meta.embedded_indices["L"] = {1: [labels[0]], 2: [labels[1]]}
    flat = index_as_flat_dataframe(spark, store, meta, "L")
    assert sorted((r.L, r.partition) for r in flat.collect()) == [
        (1, labels[0]),
        (2, labels[1]),
    ]
    view = get_indices_as_dataframe(spark, store, meta)  # default column set
    assert view.columns == ["partition", "L", "P"]
    assert all(r.L == r.P for r in view.collect())


def test_remove_values_from_index_df_null_safe(spark):
    """~isin with a None in values is NULL for every non-matching row —
    the filter wiped the whole index instead of one entry (SQL
    three-valued logic). The twin must match dict-side remove_values."""
    from plateau_spark.plans.index import remove_values_from_index_df

    idx = spark.createDataFrame(
        [("a", ["p1"]), ("b", ["p2"]), (None, ["p3"])],
        "c string, partitions array<string>",
    )
    out = remove_values_from_index_df(idx, "c", ["a", None])
    assert [(r.c, r.partitions) for r in out.collect()] == [("b", ["p2"])]
    # no None requested: NULL-value entry is kept
    out2 = remove_values_from_index_df(idx, "c", ["a"])
    assert sorted((r.c is None, r.c) for r in out2.collect()) == [
        (False, "b"), (True, None),
    ]


def test_secondary_index_query_aligns_temporals():
    """query() must apply the same date/datetime alignment as
    eval_operator — a raw dict lookup made delete_scope silently match
    nothing where a read of the same predicate matched."""
    import datetime as dt

    from plateau_spark.plans.index import SecondaryIndex

    idx = SecondaryIndex("d", {dt.date(2026, 1, 5): {"p1"}})
    assert idx.query(dt.datetime(2026, 1, 5)) == {"p1"}
    assert idx.query(dt.date(2026, 1, 5)) == {"p1"}
    assert idx.query(dt.datetime(2026, 1, 5, 12)) == set()


def test_empty_partition_key_index_keeps_schema_type(spark, store):
    """An EMPTY dataset's partition-key index view must carry the
    schema's value type, not a string default (string would poison a
    later unionByName merge and point lookups then match nothing)."""
    store_dataframes_as_dataset(
        spark, store, "e", [spark.createDataFrame([], "P long, S string")],
        partition_on=["P"],
    )
    from plateau_spark.plans.index import load_index_dataframe

    meta = DatasetMetadata.load(store, "e")
    df = load_index_dataframe(spark, store, meta, "P")
    assert dict(df.dtypes)["P"] == "bigint"
    assert df.count() == 0


def test_plan_scan_skips_index_load_for_null_only_literals(spark, store, cluster_df):
    """IS-NULL-form literals can't be constrained by the (non-NULL-only)
    inverted index — the planner must not load the index at all for
    them (regression: it loaded the ENTIRE index unfiltered and never
    consulted it)."""
    from plateau_spark.plans.pruning import plan_scan

    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    meta = DatasetMetadata.load(store, "ds")
    calls = []

    def loader(col, lits):
        calls.append((col, tuple(lits)))
        return meta.secondary_index(store, col, literals=lits)

    plan_scan(meta, store, [[("L", "==", None)]], index_loader=loader)
    assert calls == []  # nothing constrainable: no load
    surviving = plan_scan(
        meta, store, [[("L", "==", None)], [("L", "==", 1)]], index_loader=loader
    )
    assert calls == [("L", (("==", 1),))]
    assert len(surviving) == 2  # NULL conjunction keeps both partitions


# -- copy ----------------------------------------------------------------------


def test_copy_dataset_rename(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "src", cluster_df, partition_on=["P"], secondary_indices=["L"]
    )
    copy_dataset(store, "src", target_uuid="dst")
    out = read_dataset_as_dataframe(spark, store, "dst", predicates=[[("L", "==", 1)]])
    assert [r.P for r in out.collect()] == [1]
    # commit-file keys rewritten to the new uuid
    meta = DatasetMetadata.load(store, "dst")
    assert all(p.file.startswith("dst/") for p in meta.partitions.values())
    assert all(k.startswith("dst/") for k in meta.indices.values())


def test_copy_dataset_guards(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "src", cluster_df)
    with pytest.raises(ValueError, match="onto itself"):
        copy_dataset(store, "src")
    copy_dataset(store, "src", target_uuid="src2")
    with pytest.raises(RuntimeError, match="already exists"):
        copy_dataset(store, "src", target_uuid="src2")


# -- metadata merge / partition-key validation / GC guard ---------------------


def test_combine_metadata_recursive():
    merged = combine_metadata(
        {"a": {"x": 1}, "tags": ["t1"], "same": "v", "clash": 1},
        {"a": {"y": 2}, "tags": ["t2"], "same": "v", "clash": 2},
    )
    assert merged["a"] == {"x": 1, "y": 2}
    assert merged["tags"] == ["t1", "t2"]
    assert merged["same"] == "v"
    assert "clash" not in merged  # irreconcilable scalars dropped


def test_validate_partition_keys():
    assert validate_partition_keys(["a"], None) == ["a"]
    assert validate_partition_keys(["a"], ["a"]) == ["a"]
    with pytest.raises(ValueError, match="Incompatible partition keys"):
        validate_partition_keys(["a"], ["b"])


def test_update_metadata_merges_recursively(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, metadata={"pipeline": {"stage": "raw"}}
    )
    meta = update_dataset_from_dataframe(
        spark, store, "ds", metadata={"pipeline": {"owner": "etl"}}
    )
    assert meta.metadata["pipeline"] == {"stage": "raw", "owner": "etl"}


def test_gc_keeps_pending_files_for_header_only_dataset(spark, store, cluster_df):
    create_empty_dataset_header(
        spark, store, "hdr", cluster_df.schema, partition_on=["P"]
    )
    parts = write_single_partition(
        spark, store, "hdr", cluster_df, partition_on=["P"]
    )
    removed = garbage_collect_dataset(store, "hdr")
    assert not any(k.endswith(".parquet") and "/table/" in k for k in removed)
    # files still attachable after GC
    from plateau_spark.sources.dataset import commit_dataset

    commit_dataset(spark, store, "hdr", new_partitions=parts)
    assert read_dataset_as_dataframe(spark, store, "hdr").count() == 2


def test_no_staging_leftovers(spark, store, cluster_df):
    store_dataframe_as_dataset(spark, store, "ds", cluster_df, partition_on=["P"])
    update_dataset_from_dataframe(
        spark, store, "ds", cluster_df.withColumn("P", F.col("P") + 10)
    )
    assert not list(store.iter_keys("ds/.staging/"))


def test_register_dataset_as_view(spark, store):
    from pyspark.sql import functions as F

    from plateau_spark.sources.dataset import (
        register_dataset_as_view,
        store_dataframe_as_dataset,
    )

    sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    store_dataframe_as_dataset(
        spark, store, "supplier", sup, partition_on=["s_nationkey"]
    )
    name = register_dataset_as_view(
        spark, store, "supplier", "sup_view", predicates=[[("s_nationkey", "==", 3)]]
    )
    assert name == "sup_view"
    got = spark.sql("SELECT COUNT(*) AS n FROM sup_view").first().n
    want = sup.where(F.col("s_nationkey") == 3).count()
    assert got == want > 0
    # registration-time predicate pruned to one hive partition
    files = spark.sql("SELECT * FROM sup_view").inputFiles()
    assert all("s_nationkey=3" in f for f in files)


def test_normalize_args_bare_strings(spark, store, cluster_df):
    """normalize_args canonicalization: a bare string is a one-element
    list on every API (reference io_components/utils.py:156-278) — not
    a character sequence."""
    from plateau_spark.sources.dataset import read_table

    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df,
        partition_on="P", secondary_indices="L", sort_partitions_by="DATE",
    )
    out = read_table(spark, store, "ds", columns="L", predicates=[[("P", "==", 1)]])
    assert out.columns == ["L"]
    groups = list(read_dataset_as_dataframe_groups(spark, store, "ds", "P"))
    assert [g[0] for g in groups] == [{"P": 1}, {"P": 2}]


# -- JSON-lines serializer (extension beyond the reference) ------------------


def test_json_roundtrip_typed(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], file_format="json"
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert all(f.endswith(".json.gz") for f in out.inputFiles())
    assert sorted((r.P, r.L) for r in out.collect()) == [(1, 1), (2, 2)]
    # schema survives the stringly round-trip (from the commit file)
    assert dict(out.dtypes)["DATE"] == "date"


def test_json_uncompressed_and_three_format_mix(spark, store, cluster_df):
    """One dataset mixing parquet + csv + json partitions reads as one
    DataFrame with per-format scan groups unioned."""
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"],
        file_format="json", compress=False,
    )
    update_dataset_from_dataframe(
        spark, store, "ds",
        cluster_df.withColumn("P", F.col("P") + 10),
        file_format="csv",
    )
    update_dataset_from_dataframe(
        spark, store, "ds",
        cluster_df.withColumn("P", F.col("P") + 20),
        file_format="parquet",
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    from plateau_spark.sources.serializers import format_of

    formats = {format_of(f) for f in out.inputFiles()}
    assert formats == {"json", "csv", "parquet"}
    assert any(f.endswith(".json") for f in out.inputFiles())  # uncompressed
    assert out.count() == 6
    pruned = read_dataset_as_dataframe(
        spark, store, "ds", predicates=[[("P", "in", [1, 11, 21])]]
    )
    assert sorted(r.P for r in pruned.collect()) == [1, 11, 21]
    assert all(r.L == 1 for r in pruned.collect())


# -- ORC serializer (extension beyond the reference) -------------------------


def test_orc_roundtrip_typed_and_pushdown(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], file_format="orc"
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    assert all(f.endswith(".orc") for f in out.inputFiles())
    assert sorted((r.P, r.L) for r in out.collect()) == [(1, 1), (2, 2)]
    assert dict(out.dtypes)["DATE"] == "date"
    # content predicates reach the vectorized ORC scan
    pred = read_dataset_as_dataframe(spark, store, "ds", predicates=[[("L", "==", 2)]])
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "L" in plan.split("PushedFilters: [", 1)[1][:80]
    assert [r.P for r in pred.collect()] == [2]


def test_orc_mixes_with_parquet_in_one_dataset(spark, store, cluster_df):
    store_dataframe_as_dataset(
        spark, store, "ds", cluster_df, partition_on=["P"], file_format="orc",
        compress=False,
    )
    update_dataset_from_dataframe(
        spark, store, "ds",
        cluster_df.withColumn("P", F.col("P") + 10),
        file_format="parquet",
    )
    out = read_dataset_as_dataframe(spark, store, "ds")
    from plateau_spark.sources.serializers import format_of

    assert {format_of(f) for f in out.inputFiles()} == {"orc", "parquet"}
    assert out.count() == 4
