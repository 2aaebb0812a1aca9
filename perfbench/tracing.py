"""Spans around the calls into each layer, recorded from outside the program.

``Tracer.install`` replaces the public entry points of each plateau_spark
module with timing wrappers (every module attribute bound to the same
function object is swapped, so ``from x import f`` call sites are covered
too) and ``uninstall`` puts the originals back. ``TracingStore`` is the
``Store`` subclass handed to the API in place of a plain ``Store``: it
counts and times every metadata-plane call. Spark jobs are read from the
engine's status store after each op; the job group is set per op, and
jobs submitted from library threads (which do not inherit the group) are
picked up as the ungrouped jobs not seen before.

Spans live in memory until ``write`` dumps them as JSON lines.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from plateau_spark.core.store import Store

# layer -> [(module, attribute path)]; an attribute path "Cls.meth" wraps a
# method (classmethods keep their binding).
ENTRY_POINTS = {
    "core.metadata": [
        ("plateau_spark.core.metadata", "DatasetMetadata.load"),
        ("plateau_spark.core.metadata", "DatasetMetadata.commit"),
    ],
    "plans.pruning": [
        ("plateau_spark.plans.pruning", "plan_scan"),
        ("plateau_spark.plans.pruning", "explain_scan"),
    ],
    "plans.index": [
        ("plateau_spark.plans.index", "SecondaryIndex.load"),
        ("plateau_spark.plans.index", "load_index_dataframe"),
        ("plateau_spark.plans.index", "build_index_pairs_driver"),
        ("plateau_spark.plans.index", "persist_index_dict"),
        ("plateau_spark.plans.index", "persist_index_dataframe"),
        ("plateau_spark.plans.index", "merge_index_dataframes"),
        ("plateau_spark.plans.index", "SecondaryIndex.build_dataframe"),
    ],
    "plans.zonemaps": [
        ("plateau_spark.plans.zonemaps", "collect_partition_stats"),
    ],
    "plans.blooms": [
        ("plateau_spark.plans.blooms", "build_bloom_rows_driver"),
        ("plateau_spark.plans.blooms", "build_bloom_dataframe"),
        ("plateau_spark.plans.blooms", "persist_bloom_rows"),
        ("plateau_spark.plans.blooms", "persist_bloom_dataframe"),
        ("plateau_spark.plans.blooms", "BloomConsult.allowed_labels"),
    ],
    "sources.dataset": [
        ("plateau_spark.sources.dataset", name)
        for name in (
            "read_dataset_as_dataframe",
            "store_dataframe_as_dataset",
            "update_dataset_from_dataframe",
            "merge_upsert_into_dataset",
            "delete_rows_from_dataset",
            "compact_dataset",
            "garbage_collect_dataset",
        )
    ],
    "streaming.events": [
        ("plateau_spark.streaming.events", "commit_stream_batch"),
    ],
    "operators.text": [
        ("plateau_spark.operators.text", "quality_score_col"),
        ("plateau_spark.operators.text", "fingerprint_col"),
    ],
    "operators.dedup": [
        ("plateau_spark.operators.dedup", name)
        for name in (
            "exact_dedup",
            "minhash_lsh_pairs_md5",
            "duplicate_clusters",
            "dedup_keep_representatives",
        )
    ],
    "operators.similarity": [
        ("plateau_spark.operators.similarity", "semantic_dedup_keep"),
    ],
}


class Tracer:
    """In-memory span recorder. Spans are recorded only while ``active``."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        """Record a span while active; yields its record (None if not)."""
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": stack[-1]["id"] if stack else None,
            "main": threading.get_ident() == self._main,
            "id": len(self.spans),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one benchmark op; sets the op's Spark job group."""
        self.op_id = op_id
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        try:
            with self.span(kind, "driver") as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.op_id = None

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for layer, targets in ENTRY_POINTS.items():
            for module_name, path in targets:
                module = importlib.import_module(module_name)
                owner_name, _, attr = path.rpartition(".")
                owner = getattr(module, owner_name) if owner_name else module
                raw = owner.__dict__[attr] if owner_name else getattr(module, attr)
                name = f"{layer.rsplit('.', 1)[-1]}.{attr}"
                if isinstance(raw, (classmethod, staticmethod)):
                    new = type(raw)(self._wrap(raw.__func__, name, layer))
                    self._patch(owner, attr, raw, new)
                elif owner_name:
                    self._patch(owner, attr, raw, self._wrap(raw, name, layer))
                else:
                    new = self._wrap(raw, name, layer)
                    # every name any plateau_spark module bound to the same
                    # function object (aliases such as read_table included)
                    for mod_name, mod in list(sys.modules.items()):
                        if mod is None or not mod_name.startswith("plateau_spark"):
                            continue
                        for key, value in list(vars(mod).items()):
                            if value is raw:
                                self._patch(mod, key, raw, new)

    def _patch(self, owner, attr, old, new) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, old))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

    # -- Spark jobs ----------------------------------------------------------
    def jobs_since(self, op_id: int) -> list[dict]:
        """Jobs of op ``op_id``: its job group plus new ungrouped jobs."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(f"perfbench-op-{op_id}"))
        ids |= set(tracker.getJobIdsForGroup(None))
        ids -= self._seen_jobs
        self._seen_jobs |= ids
        store = sc._jsc.sc().statusStore()
        out = []
        for jid in sorted(ids):
            data = store.job(jid)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            out.append({
                "job": jid,
                "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0,
                "tasks": data.numTasks(),
                "op": op_id,
            })
        return out

    def mark_seen_jobs(self) -> None:
        """Exclude every job launched so far (set-up, untraced ops)."""
        tracker = self.spark.sparkContext.statusTracker()
        self._seen_jobs |= set(tracker.getJobIdsForGroup(None))

    def write(self, path: str, jobs: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({"kind": "span", **rec}) + "\n")
            for rec in jobs:
                f.write(json.dumps({"kind": "job", **rec}) + "\n")


class TracingStore(Store):
    """A ``Store`` whose every call is a ``core.store`` span; reads and
    writes record their byte counts on the span."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def _bytes_at(self, key: str) -> int:
        path = self.path(key)
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
            )
        return os.path.getsize(path)

    def get_json(self, key):
        with self.tracer.span("store.get_json", "core.store") as rec:
            out = super().get_json(key)
            if rec is not None:
                rec["bytes_read"] = self._bytes_at(key)
            return out

    def get_bytes(self, key):
        with self.tracer.span("store.get_bytes", "core.store") as rec:
            out = super().get_bytes(key)
            if rec is not None:
                rec["bytes_read"] = len(out)
            return out

    def put_json(self, key, payload, *, atomic=True):
        with self.tracer.span("store.put_json", "core.store") as rec:
            super().put_json(key, payload, atomic=atomic)
            if rec is not None:
                rec["bytes_written"] = self._bytes_at(key)

    def put_bytes(self, key, data):
        with self.tracer.span("store.put_bytes", "core.store") as rec:
            super().put_bytes(key, data)
            if rec is not None:
                rec["bytes_written"] = len(data)

    def exists(self, key):
        with self.tracer.span("store.exists", "core.store"):
            return super().exists(key)

    def size(self, key):
        with self.tracer.span("store.size", "core.store"):
            return super().size(key)

    def delete(self, key):
        with self.tracer.span("store.delete", "core.store"):
            super().delete(key)

    def move(self, src_key, dst_key):
        with self.tracer.span("store.move", "core.store"):
            super().move(src_key, dst_key)

    def iter_keys(self, prefix=""):
        with self.tracer.span("store.iter_keys", "core.store"):
            keys = list(super().iter_keys(prefix))
        return iter(keys)

    def read_parquet(self, key, filters=None, columns=None):
        with self.tracer.span("store.read_parquet", "core.store") as rec:
            out = super().read_parquet(key, filters=filters, columns=columns)
            if rec is not None:
                rec["bytes_read"] = self._bytes_at(key)
            return out

    def parquet_schema(self, key):
        with self.tracer.span("store.parquet_schema", "core.store"):
            return super().parquet_schema(key)
