"""Per-file Bloom-filter sidecars: equality/IN file pruning on
hash-scattered columns (plans/blooms.py) — build, plan-time consult,
lifecycle (update/delete_scope/copy/compact/GC), safety invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.plans.blooms import bloom_positions
from plateau_spark.sources.dataset import (
    compact_dataset,
    copy_dataset,
    garbage_collect_dataset,
    read_dataset_as_dataframe,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)


def _spark_positions(column: str, n_bits: int, k: int):
    """The hash format in Spark SQL, the reference that pins the
    on-disk bits: ``pmod(h1 + i*h2, n_bits)`` with h1 and h2 the first
    two 15-hex-digit slices of the value's md5, h2 forced odd."""
    h = F.md5(F.encode(F.col(column).cast("string"), "UTF-8"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 16, 15), 16, 10).cast("long").bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(int(n_bits))) for i in range(k)]


def test_python_and_spark_hash_positions_agree(spark):
    """The planner hashes in Python and the build in numpy — both must
    be bit-identical to Spark's own md5/conv/pmod for integers of every
    width (negatives included) and strings (empty and non-ASCII
    included), down to positions on bit 63 of a word, which the sidecar
    stores as a negative ``bits``."""
    import pyarrow as pa

    from plateau_spark.plans.blooms import bloom_position_array

    cases = [
        ("long", pa.int64(), [5, -17, 999999999999, 0, -(2**63), 2**63 - 1]
         + list(range(-40, 40))),
        ("int", pa.int32(), [-(2**31), 2**31 - 1, -1, 7]),
        ("smallint", pa.int16(), [-32768, 32767, -300, 12]),
        ("tinyint", pa.int8(), [-128, 127, -1, 0, 64]),
        ("string", pa.string(), ["hello", "", "naïve — ünïcode", "日本語", "a" * 300]
         + [f"v{i}" for i in range(40)]),
    ]
    on_bit_63 = 0
    for spark_type, arrow_type, values in cases:
        for n_bits, k in ((8192, 5), (4096, 3), (1000, 7)):
            df = spark.createDataFrame([(v,) for v in values], f"v {spark_type}").select(
                "v", F.array(*_spark_positions("v", n_bits, k)).alias("pos")
            )
            jvm = {r["v"]: r["pos"] for r in df.collect()}
            vec = bloom_position_array(pa.array(values, arrow_type), n_bits, k)
            assert vec.shape == (len(values), k)
            for v, row in zip(values, vec.tolist()):
                assert row == bloom_positions(v, n_bits, k) == jvm[v], (spark_type, v)
            on_bit_63 += int((vec % 64 == 63).sum())
    assert on_bit_63 > 0


@pytest.fixture()
def bloom_store(spark, tmp_path):
    """8 keyless files, event_id hash-scattered (each file holds a
    random slice, NOT a range) — the zone-map-hostile layout."""
    store = Store(str(tmp_path / "store"))
    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("v"),
        )
        .repartition(8, "event_id")  # hash-scatter
    )
    store_dataframe_as_dataset(
        spark, store, "ev", df, partition_on=[], repartition=False,
        bloom_filter_columns=["event_id"],
    )
    return store


def test_bloom_metadata_recorded(spark, bloom_store):
    meta = DatasetMetadata.load(bloom_store, "ev")
    assert set(meta.blooms) == {"event_id"}
    info = meta.blooms["event_id"]
    assert info["n_bits"] == 8192 and info["k"] == 5
    assert info["key"].startswith("ev/blooms/event_id/")
    assert info["key"] in meta.referenced_keys()


def test_bloom_point_lookup_prunes_files(spark, bloom_store):
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "==", 1234)]]
    )
    # the value lives in exactly one file; false positives may add a
    # couple more, but most of the 8 files must be proven empty
    assert 1 <= len(out.inputFiles()) <= 3
    assert [r["event_id"] for r in out.collect()] == [1234]


def test_bloom_in_lookup_prunes_and_is_exact(spark, bloom_store):
    vals = [10, 999, 3777]
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "in", vals)]]
    )
    assert len(out.inputFiles()) <= 6
    assert sorted(r["event_id"] for r in out.collect()) == sorted(vals)


def test_bloom_absent_value_prunes_everything(spark, bloom_store):
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "==", 999_999)]]
    )
    assert out.count() == 0
    # overwhelmingly likely all 8 files are pruned (5 independent bits)
    assert len(out.inputFiles()) <= 1


def test_bloom_never_constrains_range_or_null(spark, bloom_store):
    """Only ==/in literals consult the bloom; ranges and IS NULL must
    not prune (a bloom can't answer them)."""
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", ">", 3990)]]
    )
    assert len(out.inputFiles()) == 8
    assert out.count() == 9
    out2 = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "==", None)]]
    )
    assert len(out2.inputFiles()) == 8
    assert out2.count() == 0


def test_bloom_update_append_and_delete_scope(spark, bloom_store):
    extra = spark.range(4000, 4500).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("v")
    ).repartition(2, "event_id")
    update_dataset_from_dataframe(spark, bloom_store, "ev", extra)
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "==", 4321)]]
    )
    assert [r["event_id"] for r in out.collect()] == [4321]
    assert len(out.inputFiles()) <= 3  # new files are covered too
    meta = DatasetMetadata.load(bloom_store, "ev")
    assert len(meta.partitions) == 10


def test_bloom_uncovered_files_never_pruned(spark, tmp_path):
    """Files without bloom rows (csv partitions, non-bloom formats)
    must always survive pruning — absence of evidence is not pruning
    evidence."""
    store = Store(str(tmp_path / "store"))
    a = spark.range(100).select(F.col("id").alias("k"), F.lit("a").alias("s"))
    store_dataframe_as_dataset(
        spark, store, "mix", a.repartition(2, "k"), partition_on=[],
        repartition=False, bloom_filter_columns=["k"],
    )
    b = spark.range(100, 200).select(F.col("id").alias("k"), F.lit("b").alias("s"))
    update_dataset_from_dataframe(spark, store, "mix", b, file_format="csv")
    out = read_dataset_as_dataframe(
        spark, store, "mix", predicates=[[("k", "==", 150)]]
    )
    # 150 lives in the csv partition, which has no bloom coverage
    assert [r["k"] for r in out.collect()] == [150]
    csv_files = [f for f in out.inputFiles() if ".csv" in f]
    assert csv_files  # the uncovered file was scanned, not pruned


def test_bloom_copy_and_gc(spark, bloom_store):
    copy_dataset(bloom_store, "ev", target_uuid="ev2")
    out = read_dataset_as_dataframe(
        spark, bloom_store, "ev2", predicates=[[("event_id", "==", 77)]]
    )
    assert [r["event_id"] for r in out.collect()] == [77]
    assert len(out.inputFiles()) <= 3  # sidecar copied and consulted

    # an update supersedes the old sidecar; GC reclaims it, keeps the new
    meta_before = DatasetMetadata.load(bloom_store, "ev")
    old_key = meta_before.blooms["event_id"]["key"]
    extra = spark.range(9000, 9100).select(
        F.col("id").alias("event_id"), F.lit(0).cast("long").alias("v")
    )
    update_dataset_from_dataframe(spark, bloom_store, "ev", extra)
    removed = garbage_collect_dataset(bloom_store, "ev")
    assert any(k.startswith(old_key) for k in removed)
    out2 = read_dataset_as_dataframe(
        spark, bloom_store, "ev", predicates=[[("event_id", "==", 9050)]]
    )
    assert [r["event_id"] for r in out2.collect()] == [9050]


def test_bloom_survives_compaction(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    df = spark.range(500).select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
    store_dataframe_as_dataset(
        spark, store, "c", df.repartition(4, "k"), partition_on=[],
        repartition=False, bloom_filter_columns=["k"],
    )
    for lo in (500, 600):
        update_dataset_from_dataframe(
            spark, store, "c",
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("g")
            ),
        )
    compact_dataset(spark, store, "c", target_files_per_key=2)
    meta = DatasetMetadata.load(store, "c")
    assert len(meta.partitions) == 2
    assert set(meta.blooms) == {"k"}
    out = read_dataset_as_dataframe(
        spark, store, "c", predicates=[[("k", "==", 650)]]
    )
    assert [r["k"] for r in out.collect()] == [650]
    assert len(out.inputFiles()) <= 1  # rebuilt blooms still prune


def test_bloom_validation_errors(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    df = spark.createDataFrame(
        [(1, 1.5, "a")], "k long, x double, p string"
    )
    with pytest.raises(ValueError, match="partition keys"):
        store_dataframe_as_dataset(
            spark, store, "bad1", df, partition_on=["p"],
            bloom_filter_columns=["p"],
        )
    with pytest.raises(ValueError, match="integer or string"):
        store_dataframe_as_dataset(
            spark, store, "bad2", df, bloom_filter_columns=["x"]
        )
    with pytest.raises(ValueError, match="not in schema"):
        store_dataframe_as_dataset(
            spark, store, "bad3", df, bloom_filter_columns=["nope"]
        )


def test_bloom_string_column_and_disjunction(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    df = spark.range(1000).select(
        F.concat(F.lit("user-"), F.col("id")).alias("uid"),
        F.col("id").alias("n"),
    )
    store_dataframe_as_dataset(
        spark, store, "u", df.repartition(8, "uid"), partition_on=[],
        repartition=False, bloom_filter_columns=["uid"],
    )
    out = read_dataset_as_dataframe(
        spark, store, "u",
        predicates=[[("uid", "==", "user-500")], [("uid", "==", "user-7")]],
    )
    assert sorted(r["uid"] for r in out.collect()) == ["user-500", "user-7"]
    assert len(out.inputFiles()) <= 4  # OR of two point lookups


def test_bloom_on_evolved_column_prunes_pre_evolution_files(spark, tmp_path):
    """Declaring a bloom on a column added by schema evolution must not
    crash on pre-evolution files — they read NULL for the column, get a
    coverage marker with zero bits, and are therefore (correctly)
    pruned for every non-null literal: no row in them can match."""
    store = Store(str(tmp_path / "store"))
    v1 = spark.range(100).select(F.col("id").alias("k"))
    store_dataframe_as_dataset(spark, store, "ev", v1, partition_on=[])
    v2 = spark.range(100, 200).select(
        F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id")).alias("extra")
    )
    update_dataset_from_dataframe(
        spark, store, "ev", v2, schema_evolution=True,
        bloom_filter_columns=["extra"],
    )
    out = read_dataset_as_dataframe(
        spark, store, "ev", predicates=[[("extra", "==", "u150")]]
    )
    assert [r["k"] for r in out.collect()] == [150]
    # the pre-evolution file was pruned by its zero-bit bloom
    assert len(out.inputFiles()) == 1


def test_driver_tier_rows_match_spark_tier(spark, bloom_store, monkeypatch):
    """KB-scale commits build their sidecars driver-side (zero Spark
    jobs); the rows must be IDENTICAL to the Spark build's — same words,
    same bits, same coverage markers — or pruning semantics would
    depend on commit size."""
    import plateau_spark.plans.harvest as harvest_mod
    from plateau_spark.plans.blooms import K_DEFAULT, N_BITS_DEFAULT
    from plateau_spark.plans.harvest import Request, harvest

    meta = DatasetMetadata.load(bloom_store, "ev")
    request = Request(bloom=(("event_id", N_BITS_DEFAULT, K_DEFAULT),))
    items = [(p, request) for p in meta.partitions.values()]
    on_driver = harvest(spark, bloom_store, meta.schema, items)
    assert on_driver.on_driver  # small fixture → driver tier fires
    driver_table = on_driver.bloom_rows("event_id")
    driver_rows = list(
        zip(*(driver_table.column(c).to_pylist() for c in ("word", "label", "bits")))
    )
    monkeypatch.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
    on_spark = harvest(spark, bloom_store, meta.schema, items)
    assert not on_spark.on_driver
    spark_rows = on_spark.bloom_rows("event_id").collect()
    on_spark.release()
    assert sorted(driver_rows) == sorted(
        (r["word"], r["label"], r["bits"]) for r in spark_rows
    )


def test_driver_tier_budget_zero_falls_back_to_spark(
    spark, tmp_path, monkeypatch
):
    """With the driver byte budget forced to 0 every build/merge takes
    the distributed tier — lookups must be unaffected (the two tiers
    are interchangeable)."""
    import plateau_spark.plans.harvest as harvest_mod

    # force the Spark tier through the one driver-tier gate, and prove
    # the Spark-tier builder ran for the build and for the merge
    monkeypatch.setattr(harvest_mod, "DRIVER_MAX_BYTES", 0)
    spark_tier = []
    real_build = harvest_mod.build_bloom_dataframe

    def spy(*args, **kw):
        spark_tier.append(args[1])
        return real_build(*args, **kw)

    monkeypatch.setattr(harvest_mod, "build_bloom_dataframe", spy)
    store = Store(str(tmp_path / "store"))
    df = spark.range(500).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("v")
    ).repartition(4, "event_id")
    store_dataframe_as_dataset(
        spark, store, "ev0", df, partition_on=[], repartition=False,
        bloom_filter_columns=["event_id"],
    )
    update_dataset_from_dataframe(
        spark, store, "ev0",
        spark.range(500, 600).select(
            F.col("id").alias("event_id"), (F.col("id") % 3).alias("v")
        ),
    )
    out = read_dataset_as_dataframe(
        spark, store, "ev0", predicates=[[("event_id", "==", 550)]]
    )
    assert [r["event_id"] for r in out.collect()] == [550]
    assert len(out.inputFiles()) == 1
    assert spark_tier == ["event_id", "event_id"]
