"""Reference-interop: zstd-msgpack commit files.

The reference engine stores dataset metadata either as JSON or as
``<uuid>.by-dataset-metadata.msgpack.zstd`` (zstd-compressed msgpack,
/root/reference/plateau/core/naming.py:12-13) and its loader falls back
from JSON to msgpack (/root/reference/plateau/core/dataset.py:556-569).
These tests prove a reference-layout msgpack dataset opens here: codec
round-trip, loader fallback, reference field names
(``dataset_metadata_version``), label-decoded key values with no inline
schema, and embedded {value: [labels]} indices.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from plateau_spark.core import naming
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.msgpack_codec import packb, unpackb, pack_zstd, unpack_zstd
from plateau_spark.core.store import Store
from plateau_spark.sources.dataset import (
    delete_dataset,
    read_table,
    store_dataframe_as_dataset,
)


def test_msgpack_codec_roundtrip():
    doc = {
        "dataset_uuid": "ds",
        "dataset_metadata_version": 4,
        "nil": None,
        "flags": [True, False],
        "ints": [0, 127, 128, 255, 256, 65535, 65536, 2**32, 2**63 - 1,
                 -1, -32, -33, -128, -129, -32768, -32769, -(2**31), -(2**63)],
        "float": 3.25,
        "text": "partition=wert/füße",
        "long_text": "x" * 70000,
        "bin": b"\x00\x01\xff",
        "big_list": list(range(20)),
        "nested": {"a": {"b": [1, {"c": None}]}},
        17: ["int-keyed map", "msgpack-only"],
    }
    assert unpackb(packb(doc)) == doc
    assert unpack_zstd(pack_zstd(doc)) == doc


def test_msgpack_codec_rejects_garbage():
    with pytest.raises(ValueError, match="not a zstd frame"):
        unpack_zstd(b"definitely not zstd")
    with pytest.raises(TypeError, match="unsupported type"):
        packb({"x": object()})


@pytest.fixture()
def nation_like(spark):
    return spark.createDataFrame(
        [(i, f"NATION{i}", i % 3) for i in range(12)],
        "n_nationkey long, n_name string, n_regionkey long",
    )


def _reference_style_doc(st: Store, uuid: str) -> dict:
    """Rewrite our commit file the way the reference writes it: the
    dataset_metadata_version field name, files-only partitions (no
    key_values), no inline schema, the index embedded inline."""
    meta = DatasetMetadata.load(st, uuid)
    idx = meta.secondary_index(st, "n_name")
    return {
        "dataset_metadata_version": meta.metadata_version,
        "dataset_uuid": meta.uuid,
        "partition_keys": meta.partition_keys,
        "partitions": {
            label: {"files": {naming.TABLE_NAME: p.file}}
            for label, p in meta.partitions.items()
        },
        "indices": {"n_name": {v: sorted(idx.query(v)) for v in idx.observed_values()}},
    }


def test_reference_msgpack_dataset_opens(spark, tmp_path, nation_like):
    store = str(tmp_path / "store")
    store_dataframe_as_dataset(
        spark, store, "ds", nation_like,
        partition_on=["n_regionkey"], secondary_indices=["n_name"],
    )
    st = Store(store)
    doc = _reference_style_doc(st, "ds")
    st.put_bytes(naming.msgpack_metadata_key("ds"), pack_zstd(doc))
    st.delete(naming.metadata_key("ds"))

    meta = DatasetMetadata.load(st, "ds")
    assert meta.metadata_version == 4
    # key values revived from the hive labels with canonical-int typing
    assert {p.key_values["n_regionkey"] for p in meta.partitions.values()} == {0, 1, 2}
    assert meta.has_index("n_name") and "n_name" in meta.embedded_indices

    # full read round-trips
    out = read_table(spark, store, "ds")
    assert out.count() == 12

    # typed partition-key pruning + embedded-index pruning both work
    pruned = read_table(
        spark, store, "ds",
        predicates=[[("n_regionkey", ">=", 1), ("n_name", "==", "NATION4")]],
    )
    rows = pruned.collect()
    assert [(r.n_nationkey, r.n_regionkey) for r in rows] == [(4, 1)]
    # pruning evidence: only one partition file is scanned
    assert len(pruned.inputFiles()) == 1


def test_msgpack_commit_format_and_delete(spark, tmp_path, nation_like):
    store = str(tmp_path / "store")
    store_dataframe_as_dataset(spark, store, "ds", nation_like)
    st = Store(store)
    meta = DatasetMetadata.load(st, "ds")
    meta.commit(st, storage_format="msgpack")
    # msgpack replaces JSON (a stale JSON commit would shadow it)
    assert not st.exists(naming.metadata_key("ds"))
    assert st.exists(naming.msgpack_metadata_key("ds"))
    assert read_table(spark, store, "ds").count() == 12
    # committing JSON again removes the msgpack file
    meta2 = DatasetMetadata.load(st, "ds")
    meta2.commit(st)
    assert st.exists(naming.metadata_key("ds"))
    assert not st.exists(naming.msgpack_metadata_key("ds"))
    # delete removes whichever commit file exists
    DatasetMetadata.load(st, "ds").commit(st, storage_format="msgpack")
    delete_dataset(store, "ds")
    assert not DatasetMetadata.exists(st, "ds")


def test_untyped_label_decode_inference():
    from plateau_spark.core.urlencode import _infer_untyped

    assert _infer_untyped("7") == 7
    assert _infer_untyped("-12") == -12
    assert _infer_untyped("007") == "007"  # non-canonical stays string
    assert _infer_untyped("1.5") == "1.5"  # floats stay strings
    assert _infer_untyped("2024-05-17") == datetime.date(2024, 5, 17)
    assert _infer_untyped("2024-05-17T10:00:00") == datetime.datetime(2024, 5, 17, 10)
    assert _infer_untyped("BUILDING") == "BUILDING"


def test_embedded_index_survives_first_commit(spark, tmp_path, nation_like):
    """A reference-written inline index used to vanish on the first
    commit (the commit document never writes inline indices back):
    has_index was True before an update and False after it. The commit
    now converts it into an external sidecar over every live partition,
    and the index still prunes afterwards."""
    from plateau_spark.plans.pruning import explain_scan
    from plateau_spark.sources.dataset import update_dataset_from_dataframe

    store = str(tmp_path / "store")
    store_dataframe_as_dataset(
        spark, store, "ds", nation_like,
        partition_on=["n_regionkey"], secondary_indices=["n_name"],
    )
    st = Store(store)
    doc = DatasetMetadata.load(st, "ds").to_json()
    doc["indices"] = _reference_style_doc(st, "ds")["indices"]
    st.put_json(naming.metadata_key("ds"), doc)
    before = DatasetMetadata.load(st, "ds")
    assert before.has_index("n_name") and "n_name" in before.embedded_indices

    update_dataset_from_dataframe(
        spark, store, "ds",
        spark.createDataFrame(
            [(12, "NATION12", 1), (13, "NATION4", 2)],
            "n_nationkey long, n_name string, n_regionkey long",
        ),
    )
    after = DatasetMetadata.load(st, "ds")
    assert after.has_index("n_name") and not after.embedded_indices
    assert "n_name" in after.indices
    pred = [[("n_name", "==", "NATION4")]]
    rows = read_table(spark, store, "ds", predicates=pred).collect()
    assert sorted((r.n_nationkey, r.n_regionkey) for r in rows) == [(4, 1), (13, 2)]
    report = explain_scan(after, st, pred)
    assert sum(r["scanned"] for r in report) == 2  # of 5 files
    assert all(r["pruned_by"] == ["index"] for r in report if not r["scanned"])
