"""Generative delete/GC conformance grid.

Mirrors the reference's shared delete/GC suites
(/root/reference/plateau/io/testing/delete.py,
/root/reference/plateau/io/testing/gc.py) and its delete ordering
(/root/reference/plateau/io/eager.py:63-93) as ONE generative grid over
the lifecycle interaction surface the targeted tests in
test_conformance_lifecycle.py do not cross:

  op (delete_dataset / garbage_collect_dataset)
  x pre-op state (clean 2-commit / crashed staged write with orphan
    files / post-compact / post-repartition)
  x time-travel snapshots (live / already GC'd)
  x secondary indices + bloom + zone maps (on / off)

Every case checks the EXACT store-key inventory after the op against a
pure-Python model built from the RAW commit-file JSON (independent of
DatasetMetadata.referenced_keys), that GC never touches a readable
snapshot's files (current-generation read + time travel stay
bit-identical), that reclaimed generations fail loudly, and that both
ops are idempotent. Targeted tests cover delete-under-missing-keys
(reference test_delete_missing_dataset), store isolation
(test_delete_only_dataset / test_delete_single_dataset), and
GC-vs-concurrent-commit serialization via the commit lock.
"""

from __future__ import annotations

import itertools
import json

import pytest

from plateau_spark.core import naming
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.sources.dataset import (
    compact_dataset,
    delete_dataset,
    garbage_collect_dataset,
    read_dataset_as_dataframe,
    repartition_dataset,
    restore_dataset,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)

SCHEMA = "P long, L long, S string, X double"
COLS = ["P", "L", "S", "X"]
CHUNK1 = [(1, 1, "a", 10.0), (1, 2, "b", 20.0), (2, 2, "a", 30.0)]
CHUNK2 = [(2, 3, "c", 40.0), (3, 1, "b", 60.0)]  # P=2 fragments for compact
CHUNK3 = [(1, 3, "d", 70.0), (2, 4, "a", 80.0)]

OPS = ["delete", "gc"]
STATES = ["clean", "crashed_staged", "post_compact", "post_repartition"]
SNAPSHOTS = ["live", "pregc"]
INDICES = [False, True]

GRID = [
    pytest.param(
        op, state, snap, idx,
        id=f"{op}|{state}|{snap}|{'idx' if idx else 'noidx'}",
    )
    for op, state, snap, idx in itertools.product(OPS, STATES, SNAPSHOTS, INDICES)
]


def _rows(df):
    out = []
    for r in df.collect():
        d = r.asDict()
        out.append(tuple(d.get(c) for c in COLS))
    return sorted(out)


def _inventory(store: Store, uuid: str) -> set[str]:
    """Every store key belonging to the dataset (payload prefix + the
    root commit files), minus the transient commit mutex."""
    keys = set(store.iter_keys(f"{uuid}/"))
    for k in (naming.metadata_key(uuid), naming.msgpack_metadata_key(uuid)):
        if store.exists(k):
            keys.add(k)
    return {k for k in keys if not k.endswith("/.commit.lock")}


def _model_referenced(store: Store, uuid: str) -> tuple[set[str], set[str]]:
    """The Python store-key model: what the CURRENT commit references,
    built from the raw commit-file JSON (deliberately NOT via
    DatasetMetadata.referenced_keys, so the test is independent of the
    implementation under test). Returns (exact keys, directory
    prefixes) — Spark-written index/bloom 'files' are directories."""
    raw = json.loads(bytes(store.get_bytes(naming.metadata_key(uuid))))
    gen = int(raw.get("generation", 0))
    exact = {naming.metadata_key(uuid), naming.history_key(uuid, gen)}
    prefixes = set()
    for pj in raw.get("partitions", {}).values():
        f = pj["files"]["table"]
        exact.add(f)
        prefixes.add(f.rstrip("/") + "/")
    for v in (raw.get("indices") or {}).values():
        if isinstance(v, str):
            exact.add(v)
            prefixes.add(v.rstrip("/") + "/")
    for b in (raw.get("blooms") or {}).values():
        exact.add(b["key"])
        prefixes.add(b["key"].rstrip("/") + "/")
    if store.exists(naming.msgpack_metadata_key(uuid)):
        exact.add(naming.msgpack_metadata_key(uuid))
    return exact, prefixes


def _build(spark, store, uuid, *, state: str, indices: bool) -> list[tuple]:
    """Two commits (so generation >= 2 and superseded index/history keys
    exist), then the state mutation. Returns the expected row model."""
    kw = {}
    if indices:
        kw = dict(
            secondary_indices=["S"],
            bloom_filter_columns=["S"],
            zone_map_columns=["X"],
        )
    df1 = spark.createDataFrame(CHUNK1, SCHEMA)
    df2 = spark.createDataFrame(CHUNK2, SCHEMA)
    store_dataframe_as_dataset(spark, store, uuid, df1, partition_on=["P"], **kw)
    update_dataset_from_dataframe(spark, store, uuid, df2)
    rows = CHUNK1 + CHUNK2
    if state == "crashed_staged":
        # a writer that died after staging / after renaming into the
        # table dir but before its commit: orphan bytes everywhere the
        # reference's gc suite plants trash (gc.py:20-24) plus our
        # staging prefix
        store.put_bytes(f"{uuid}/{naming.STAGING_DIR}/deadc0de/part-0.parquet", b"trash")
        store.put_bytes(f"{uuid}/{naming.TABLE_NAME}/trash.parquet", b"trash")
        store.put_bytes(f"{uuid}/indices/trash.parquet", b"trash")
    elif state == "post_compact":
        df3 = spark.createDataFrame(CHUNK3, SCHEMA)
        update_dataset_from_dataframe(spark, store, uuid, df3)
        rows = rows + CHUNK3
        compact_dataset(spark, store, uuid, target_files_per_key=1)
    elif state == "post_repartition":
        # L is neither bloomed nor secondary-indexed, so the rebuild
        # keeps the S index/bloom sidecars alive under the new layout
        repartition_dataset(spark, store, uuid, partition_on=["L"])
    return sorted(rows)


@pytest.mark.parametrize("op,state,snap,indices", GRID)
def test_delete_gc_grid(spark, tmp_path, op, state, snap, indices):
    store = Store(str(tmp_path / "store"))
    uuid = "g"
    model_rows = _build(spark, store, uuid, state=state, indices=indices)

    # a sibling dataset plus root keys that merely CONTAIN the uuid —
    # reference test_delete_only_dataset / test_delete_single_dataset
    sib = f"{uuid}2"
    store_dataframe_as_dataset(
        spark, store, sib, spark.createDataFrame(CHUNK1, SCHEMA)
    )
    store.put_bytes(f"prefix{uuid}", b"keepme")
    store.put_bytes(f"{uuid}-suffix", b"keepme")
    outside = _inventory(store, sib) | {f"prefix{uuid}", f"{uuid}-suffix"}

    if snap == "pregc":
        garbage_collect_dataset(store, uuid)

    before = _inventory(store, uuid)
    meta_before = DatasetMetadata.load(store, uuid)
    gen = meta_before.generation
    assert gen >= 2

    if op == "delete":
        delete_dataset(store, uuid)
        # exact inventory: every dataset key gone — including
        # unreferenced trash (reference
        # test_delete_dataset_unreferenced_files) — nothing else touched
        assert _inventory(store, uuid) == set()
        assert not DatasetMetadata.exists(store, uuid)
        all_keys = {
            k for k in store.iter_keys("") if not k.endswith("/.commit.lock")
        }
        assert all_keys == outside
        assert _rows(read_dataset_as_dataframe(spark, store, sib)) == sorted(CHUNK1)
        delete_dataset(store, uuid)  # idempotent no-op on a missing dataset
        return

    removed = garbage_collect_dataset(store, uuid)
    after = _inventory(store, uuid)

    # exact store-key inventory vs the raw-JSON model: GC keeps exactly
    # what the current commit references, and only that
    exact, prefixes = _model_referenced(store, uuid)
    model_keys = {
        k
        for k in before
        if k in exact or any(k.startswith(p) for p in prefixes)
    }
    assert after == model_keys
    assert set(removed) == before - after
    if snap == "pregc" and state != "crashed_staged":
        # second GC on an already-clean dataset removes nothing
        # (reference test_garbage_collect_idempotent); crashed_staged
        # plants trash AFTER the pre-GC, so there IS garbage again
        assert removed == []

    # GC never touches a READABLE snapshot's files: the current
    # generation still reads bit-identically, eagerly and via time
    # travel to its own generation
    assert _rows(read_dataset_as_dataframe(spark, store, uuid)) == model_rows
    assert (
        _rows(read_dataset_as_dataframe(spark, store, uuid, generation=gen))
        == model_rows
    )
    # an indexed-column predicate read exercises the index/bloom files
    # GC must have preserved
    got = _rows(
        read_dataset_as_dataframe(spark, store, uuid, predicates=[[("S", "==", "a")]])
    )
    assert got == [t for t in model_rows if t[2] == "a"]

    # superseded generations are reclaimed — the VACUUM contract: time
    # travel to them now fails loudly (KeyError names GC), and restore
    # refuses too
    assert naming.history_key(uuid, gen) in after
    for g in range(1, gen):
        assert naming.history_key(uuid, g) not in after
    with pytest.raises(KeyError, match="garbage_collect"):
        DatasetMetadata.load(store, uuid, generation=1)
    with pytest.raises(KeyError):
        restore_dataset(store, uuid, 1)

    # idempotence: a second sweep finds nothing
    assert garbage_collect_dataset(store, uuid) == []
    assert _inventory(store, uuid) == after


def test_delete_dataset_with_missing_keys(spark, tmp_path):
    """delete_dataset completes even when some keys were already removed
    (reference test_delete_missing_dataset): for each representative
    key class — data file, index dir, history snapshot, commit file
    itself — a fresh dataset with that key pre-removed still deletes to
    an empty store."""
    probes = ["data", "index", "history", "commit"]
    for probe in probes:
        store = Store(str(tmp_path / f"store-{probe}"))
        uuid = "g"
        store_dataframe_as_dataset(
            spark, store, uuid, spark.createDataFrame(CHUNK1, SCHEMA),
            partition_on=["P"], secondary_indices=["S"],
        )
        update_dataset_from_dataframe(
            spark, store, uuid, spark.createDataFrame(CHUNK2, SCHEMA)
        )
        meta = DatasetMetadata.load(store, uuid)
        if probe == "data":
            store.delete(next(iter(meta.partitions.values())).file)
        elif probe == "index":
            store.delete(next(iter(meta.indices.values())))
        elif probe == "history":
            store.delete(naming.history_key(uuid, meta.generation))
        elif probe == "commit":
            store.delete(naming.metadata_key(uuid))
        delete_dataset(store, uuid)
        left = {
            k for k in store.iter_keys("") if not k.endswith("/.commit.lock")
        }
        assert left == set(), (probe, left)


def test_gc_keep_staging_skips_inflight_writers(spark, tmp_path):
    """keep_staging=True leaves the .staging/ prefix for live writers
    while still reclaiming superseded snapshots and table-dir orphans;
    the default mode then reclaims the staging leftovers."""
    store = Store(str(tmp_path / "store"))
    uuid = "g"
    store_dataframe_as_dataset(
        spark, store, uuid, spark.createDataFrame(CHUNK1, SCHEMA), partition_on=["P"]
    )
    update_dataset_from_dataframe(
        spark, store, uuid, spark.createDataFrame(CHUNK2, SCHEMA)
    )
    staged = f"{uuid}/{naming.STAGING_DIR}/inflight01/part-0.parquet"
    store.put_bytes(staged, b"inflight")
    store.put_bytes(f"{uuid}/{naming.TABLE_NAME}/orphan.parquet", b"orphan")

    removed = garbage_collect_dataset(store, uuid, keep_staging=True)
    assert store.exists(staged)
    assert f"{uuid}/{naming.TABLE_NAME}/orphan.parquet" in removed
    assert naming.history_key(uuid, 1) in removed

    removed2 = garbage_collect_dataset(store, uuid)
    assert staged in removed2
    assert not store.exists(staged)


def test_gc_serializes_with_concurrent_commit(spark, tmp_path):
    """GC snapshots its delete-candidate listing BEFORE loading the
    referenced set and holds the commit lock across the sweep, so a
    writer racing it is safe once GC's listing is taken: every file the
    writer creates mid-sweep is not a candidate, and its commit
    serializes behind the lock. Without the listing-then-load ordering
    plus the lock, GC would reap the racing commit's freshly-renamed
    files (observed in development: the writer's P=1 file was deleted
    mid-sweep)."""
    import threading
    import time

    store = Store(str(tmp_path / "store"))
    uuid = "g"
    store_dataframe_as_dataset(
        spark, store, uuid, spark.createDataFrame(CHUNK1, SCHEMA), partition_on=["P"]
    )
    update_dataset_from_dataframe(
        spark, store, uuid, spark.createDataFrame(CHUNK2, SCHEMA)
    )

    writer_err: list = []

    def _writer():
        try:
            update_dataset_from_dataframe(
                spark, store, uuid, spark.createDataFrame(CHUNK3, SCHEMA)
            )
        except Exception as exc:  # noqa: BLE001 — surfaced in the assert
            writer_err.append(exc)

    orig_iter = store.iter_keys
    launched = threading.Event()
    t = threading.Thread(target=_writer)

    def _iter_then_launch(prefix=""):
        # materialize GC's candidate listing FIRST, then launch the
        # concurrent writer and give it time to stage + rename its
        # files and reach the commit lock while GC is still sweeping
        res = list(orig_iter(prefix))
        if not launched.is_set():
            launched.set()
            t.start()
            time.sleep(1.0)
        return iter(res)

    store.iter_keys = _iter_then_launch
    try:
        garbage_collect_dataset(store, uuid)
    finally:
        store.iter_keys = orig_iter
    t.join(timeout=120)
    assert not t.is_alive()
    assert not writer_err, writer_err

    # the racing commit is fully intact: every referenced file exists
    meta = DatasetMetadata.load(store, uuid)
    assert meta.generation == 3
    for p in meta.partitions.values():
        assert store.exists(p.file), p.file
    assert _rows(read_dataset_as_dataframe(spark, store, uuid)) == sorted(
        CHUNK1 + CHUNK2 + CHUNK3
    )


# ---------------------------------------------------------------------------
# Streaming sinks × crashed micro-batch × GC (round-13 grid extension):
# stream_to_dataset / stream_route_to_datasets abandon staged (or renamed-
# but-uncommitted) files when a micro-batch dies mid-write, exactly like a
# crashed batch writer — the same GC contract must hold around a killed
# stream, and the checkpoint + stream_batches watermark must then replay
# the batch to a complete, duplicate-free dataset (reference
# crash-consistency ordering analog: /root/reference/plateau/io/eager.py:63-93).
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "event_id long, event_type string, value double"


def _stream_rows(lo, n):
    return [(i, f"t{i % 2}", float(i)) for i in range(lo, lo + n)]


def _run_stream(spark, tmp_path, store, sink):
    """(Re)start the availableNow ingestion for whichever files exist."""
    from plateau_spark.streaming.events import (
        stream_route_to_datasets,
        stream_to_dataset,
    )

    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(str(tmp_path / "src"))
    if sink == "single":
        return stream_to_dataset(
            stream, store, "ing",
            checkpoint_dir=str(tmp_path / "ckpt"),
            partition_on=["event_type"], secondary_indices=["event_id"],
            available_now=True,
        )
    return stream_route_to_datasets(
        stream, store,
        {"accept": "value >= 0", "audit": "event_id % 2 = 0"},
        checkpoint_dir=str(tmp_path / "ckpt"),
        partition_on=["event_type"], available_now=True,
    )


# one representative combo stays in the fast (driver-verify) tier; the
# other three crash-point x sink combos run in the slow tier (pytest.ini)
@pytest.mark.parametrize(
    "sink", ["single", pytest.param("routed", marks=pytest.mark.slow)]
)
@pytest.mark.parametrize(
    "crash", ["pre_rename", pytest.param("post_rename", marks=pytest.mark.slow)]
)
def test_streaming_crashed_batch_gc_grid(spark, tmp_path, sink, crash, monkeypatch):
    """Kill micro-batch 1 of a running stream sink mid-write — before the
    staged→table renames (staging orphans) or after them but before the
    commit (table orphans) — then check the full GC contract and the
    exactly-once replay."""
    import plateau_spark.sources.dataset as ds_mod
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        garbage_collect_dataset,
        read_dataset_as_dataframe,
    )

    store = Store(str(tmp_path / "store"))
    uuids = ["ing"] if sink == "single" else ["accept", "audit"]
    src = str(tmp_path / "src")

    # batch 0: clean commit
    spark.createDataFrame(_stream_rows(0, 20), STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)
    _run_stream(spark, tmp_path, store, sink).awaitTermination()
    base_rows = {u: _rows_by_id(spark, store, u) for u in uuids}
    assert base_rows[uuids[0]]

    # batch 1: arm a one-shot crash in the chosen window, then stream
    spark.createDataFrame(_stream_rows(100, 20), STREAM_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)
    armed = {"live": True}
    if crash == "pre_rename":
        orig = ds_mod.write_staged

        def _boom_staged(df, url, partition_on, **kw):
            orig(df, url, partition_on, **kw)  # files land in .staging/
            if armed.pop("live", None):
                raise RuntimeError("injected crash before staged renames")

        monkeypatch.setattr(ds_mod, "write_staged", _boom_staged)
    else:
        orig_commit = DatasetMetadata.commit

        def _boom_commit(self, st, *a, **kw):
            if armed.pop("live", None):
                raise RuntimeError("injected crash before commit")
            return orig_commit(self, st, *a, **kw)

        monkeypatch.setattr(DatasetMetadata, "commit", _boom_commit)

    q = _run_stream(spark, tmp_path, store, sink)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    monkeypatch.undo()

    # the crash left orphans in the expected key class, every dataset
    # reads a CONSISTENT snapshot (its batch-0 state, or — for the
    # routed sink, whose per-route commits run concurrently — batch 1
    # fully committed on the route that won the race: per-dataset
    # exactly-once, not cross-dataset atomicity, the documented
    # contract a replay completes), and the crashed dataset's batch 1
    # is not in its commit watermark
    want = {"single": {"ing": _stream_rows(0, 20) + _stream_rows(100, 20)}}.get(
        sink
    ) or {
        "accept": _stream_rows(0, 20) + _stream_rows(100, 20),
        "audit": [t for t in _stream_rows(0, 20) + _stream_rows(100, 20) if t[0] % 2 == 0],
    }
    staging_keys = {
        u: [k for k in store.iter_keys(f"{u}/{naming.STAGING_DIR}/") if k]
        for u in uuids
    }
    if crash == "pre_rename":
        assert any(staging_keys[u] for u in uuids)
    else:
        assert all(not staging_keys[u] for u in uuids)  # renames completed
    committed1 = {
        u: "1"
        in DatasetMetadata.load(store, u).metadata.get("stream_batches", {})
        for u in uuids
    }
    assert not all(committed1.values()), "the injected crash committed anyway"
    if sink == "single":
        assert not committed1["ing"]
    expected = {
        u: sorted(want[u]) if committed1[u] else base_rows[u] for u in uuids
    }
    orphans_exist = False
    for u in uuids:
        exact, prefixes = _model_referenced(store, u)
        unref = {
            k
            for k in _inventory(store, u)
            if k not in exact and not any(k.startswith(p) for p in prefixes)
        }
        orphans_exist = orphans_exist or bool(unref)
        assert _rows_by_id(spark, store, u) == expected[u]
    assert orphans_exist  # the kill really abandoned bytes

    # keep_staging=True: the staging prefix survives (an in-flight
    # writer's area), everything else unreferenced is reclaimed
    for u in uuids:
        removed = garbage_collect_dataset(store, u, keep_staging=True)
        assert not any(f"/{naming.STAGING_DIR}/" in k for k in removed)
        assert _rows_by_id(spark, store, u) == expected[u]
        if staging_keys[u]:
            assert set(staging_keys[u]) <= set(store.iter_keys(f"{u}/"))

    # keep_staging=False: the abandoned staging files go too, and the
    # inventory collapses to exactly the Python model of the commit
    for u in uuids:
        garbage_collect_dataset(store, u)
        exact, prefixes = _model_referenced(store, u)
        assert _inventory(store, u) == {
            k
            for k in _inventory(store, u)
            if k in exact or any(k.startswith(p) for p in prefixes)
        }
        assert not list(store.iter_keys(f"{u}/{naming.STAGING_DIR}/"))
        assert _rows_by_id(spark, store, u) == expected[u]

    # restart from the same checkpoint: Spark replays batch 1, the sink
    # commits it exactly once (routes that already landed it no-op on
    # their batch markers), and the datasets are complete with no
    # duplicates (per-dataset exactly-once through the batch watermark)
    _run_stream(spark, tmp_path, store, sink).awaitTermination()
    for u in uuids:
        assert _rows_by_id(spark, store, u) == sorted(want[u])
        meta = DatasetMetadata.load(store, u)
        assert set(meta.metadata["stream_batches"]) >= {"0", "1"}
        # post-replay GC is a no-op modulo the replay's own superseded
        # generation/history — a second sweep finds nothing
        garbage_collect_dataset(store, u)
        assert garbage_collect_dataset(store, u) == []
        assert _rows_by_id(spark, store, u) == sorted(want[u])


def _rows_by_id(spark, store, uuid):
    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    out = []
    for r in read_dataset_as_dataframe(spark, store, uuid).collect():
        d = r.asDict()
        out.append((d["event_id"], d["event_type"], d["value"]))
    return sorted(out)


def test_iter_keys_walks_only_the_prefix(tmp_path, monkeypatch):
    """Listing one dataset's staging prefix walks that prefix only — a
    sibling dataset's directories are never visited — while the prefix
    semantics stay exact: a file-key prefix, a directory key without a
    trailing slash, and a missing directory (nothing)."""
    import os

    store = Store(str(tmp_path / "store"))
    for key in (
        "a/.staging/c1/x=1/part-0.parquet",
        "a/.staging/c1/_SUCCESS",
        "a/.staging/c10/part-0.parquet",
        "a/table/x=1/f.parquet",
        "ab/table/f.parquet",
        "b/.staging/c1/part-0.parquet",
        "b/table/f.parquet",
    ):
        store.put_bytes(key, b"x")
    visited = []
    real_walk = os.walk

    def spy(top, *a, **kw):
        for entry in real_walk(top, *a, **kw):
            visited.append(os.path.relpath(entry[0], store.root))
            yield entry

    monkeypatch.setattr(os, "walk", spy)
    staging = f"a/{naming.STAGING_DIR}/c1/"
    assert list(store.iter_keys(staging)) == [
        "a/.staging/c1/_SUCCESS", "a/.staging/c1/x=1/part-0.parquet",
    ]
    assert visited and all(v.startswith("a/.staging/c1") for v in visited), visited
    visited.clear()
    # a directory key without the slash is a plain string prefix
    assert list(store.iter_keys("a/.staging/c1")) == [
        "a/.staging/c1/_SUCCESS",
        "a/.staging/c1/x=1/part-0.parquet",
        "a/.staging/c10/part-0.parquet",
    ]
    assert not any(v.startswith(("b", "ab", "a/table")) for v in visited), visited
    assert list(store.iter_keys("a/table/x=1/f")) == ["a/table/x=1/f.parquet"]
    assert list(store.iter_keys("a")) == [
        "a/.staging/c1/_SUCCESS",
        "a/.staging/c1/x=1/part-0.parquet",
        "a/.staging/c10/part-0.parquet",
        "a/table/x=1/f.parquet",
        "ab/table/f.parquet",
    ]
    assert list(store.iter_keys("a/missing/")) == []
    assert list(store.iter_keys("zz")) == []
    assert len(list(store.iter_keys(""))) == 7
