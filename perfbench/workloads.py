"""The benchmark's workloads: a closed loop with one client each.

A workload builds its fixture with ``setup`` and warms up with
``warm_up`` (both count in ``setup_s``), then the runner calls ``step``
in whole cycles of ``CYCLE`` until the measuring time is up and at
least ``MIN_CYCLES`` cycles are done, then ``finish`` (if any) once. A
step is one op; it returns its timed samples and whether every check
passed. All calls go through the public plateau_spark API, looked up on the
module at call time so the tracer's wrappers see them.
"""

from __future__ import annotations

import os
import re
import time
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from plateau_spark.core import caching, naming
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.operators import dedup, similarity, text
from plateau_spark.sources import dataset as ds
from plateau_spark.streaming import events
from pyspark.sql import functions as F

import data
import stats


class Sample(NamedTuple):
    """One timed call: ``kind`` is ``op`` (a mutating API call) or
    ``read`` (a read collected to exhaustion); ``py_cpu`` is the CPU time
    this Python process spent in it."""

    kind: str
    seconds: float
    py_cpu: float


def _timed(samples, kind, fn, *args, **kwargs):
    c0 = time.process_time()
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    samples.append(Sample(kind, time.perf_counter() - t0, time.process_time() - c0))
    return out


def _source_frame(spark, pdf: pd.DataFrame, path: str):
    """A Spark frame over ``pdf`` written as parquet to ``path`` (cheaper
    and steadier than ``createDataFrame``)."""
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return spark.read.parquet(f"file://{path}")


_OPS = {
    "==": lambda s, v: s == v,
    "in": lambda s, v: s.isin(v),
    ">=": lambda s, v: s >= v,
    "<": lambda s, v: s < v,
    ">": lambda s, v: s > v,
}


def dnf_mask(pdf: pd.DataFrame, predicates) -> np.ndarray:
    """Rows of ``pdf`` where the DNF ``predicates`` hold (pandas twin of
    the program's predicate evaluation, for the ops this benchmark uses)."""
    if predicates is None:
        return np.ones(len(pdf), dtype=bool)
    mask = np.zeros(len(pdf), dtype=bool)
    for conj in predicates:
        m = np.ones(len(pdf), dtype=bool)
        for col, op, val in conj:
            m &= _OPS[op](pdf[col], val).to_numpy()
        mask |= m
    return mask


def stored_bytes(store: Store, uuid: str) -> tuple[int, int]:
    """(bytes under the dataset's keys, payload bytes the commit references)."""
    root = store.path("")
    prefix_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(os.path.join(root, uuid)) for f in files
    )
    for key in (naming.metadata_key(uuid), naming.msgpack_metadata_key(uuid)):
        if os.path.exists(store.path(key)):
            prefix_bytes += os.path.getsize(store.path(key))
    meta = DatasetMetadata.load(store, uuid)
    referenced = sum(os.path.getsize(store.path(p.file)) for p in meta.partitions.values())
    return prefix_bytes, referenced


class IngestMutate:
    """Mutating ops against one ``orders`` dataset, each followed by one
    pruned verification read checked against a pandas model.

    The dataset is partitioned by ``o_ordermonth`` with an index on
    ``o_custkey``, zone maps on ``o_totalprice`` and ``o_orderkey`` (keys
    grow with the month, so the key zone maps prune) and a Bloom sidecar on
    ``o_orderkey``. New orders land in the latest months, as in a live
    order feed. The verification reads go through every pruning tier:
    partition key (scope drops), Bloom (stream batches, upserts),
    index (row deletes by customer), zone map (key-range deletes) and a
    filtered scan of every file (after compaction).

    The fixture has 16 files, so set-up and every commit stay on the
    driver tier of the sidecar builders (index and Bloom builds move to a
    Spark job above 16 files, zone-map harvest above 64); see README.md
    for why the Spark tier is left out.
    """

    name = "ingest_mutate"
    OP_KIND = "op"  # the unit op is a mutating API call
    MIN_CYCLES = 3  # 24 op samples: the tail is their 58th percentile
    WARM_CYCLES = 1
    ROWS, MONTHS, CUSTOMERS, RECENT = 40_000, 16, 4_000, 3
    # Micro-batches are the most frequent op and sit in the middle of the
    # latency order (scope drops and the final GC below them, upserts,
    # customer deletes and compactions above), so the median is a typical
    # micro-batch commit. A micro-batch is an append (commit_stream_batch
    # calls update_dataset_from_dataframe), so there is no separate append.
    CYCLE = ("stream_batch", "upsert", "stream_batch", "delete_customer",
             "drop_month", "stream_batch", "delete_key_range", "compact")
    UUID = "orders"
    DATASETS = (UUID,)
    COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority", "o_ordermonth"]

    def __init__(self, spark, seed: int, make_store, workdir: str):
        self.spark = spark
        self.seed = seed
        self.make_store = make_store
        self.workdir = workdir
        self.source = data.orders(seed, rows=self.ROWS, months=range(self.MONTHS),
                                  customers=self.CUSTOMERS)
        self.space: dict = {}
        self.space_amp = None  # set after the first cycle
        self.reads: list = []  # (dataset, predicates) read by the last step

    def setup(self, root: str) -> None:
        self.store = self.make_store(root)
        df = _source_frame(self.spark, self.source, os.path.join(self.workdir, "orders.parquet"))
        ds.store_dataframe_as_dataset(
            self.spark, self.store, self.UUID, df,
            partition_on=["o_ordermonth"], secondary_indices=["o_custkey"],
            zone_map_columns=["o_totalprice", "o_orderkey"],
            bloom_filter_columns=["o_orderkey"],
        )
        self.model = self.source.pipe(_keyed)
        self.next_key = self.ROWS + 1
        self.rng = np.random.default_rng([self.seed, 10])

    # -- helpers -----------------------------------------------------------
    def _new_orders(self, n: int) -> pd.DataFrame:
        recent = range(self.MONTHS - self.RECENT, self.MONTHS)
        pdf = data.orders(self.seed, rows=n, months=recent, customers=self.CUSTOMERS,
                          first_key=self.next_key)
        self.next_key += n
        return pdf

    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf[self.COLUMNS])

    def _verify(self, samples, predicates) -> bool:
        """Read ``predicates`` to exhaustion and compare with the model."""
        got = _timed(
            samples, "read",
            lambda: ds.read_table(self.spark, self.store, self.UUID,
                                  columns=self.COLUMNS, predicates=predicates).toPandas(),
        )
        self.reads.append((self.UUID, predicates))
        want = self.model[dnf_mask(self.model, predicates)]
        return _same_rows(got, want, "o_orderkey", self.COLUMNS)

    def _pick(self, n: int, frame: pd.DataFrame | None = None) -> np.ndarray:
        keys = (self.model if frame is None else frame).index.to_numpy()
        return self.rng.choice(keys, size=min(n, len(keys)), replace=False)

    # -- the loop ----------------------------------------------------------
    def warm_up(self) -> bool:
        """One full read of the fixture, then ``WARM_CYCLES`` whole cycles
        with their reads, all checked: the JVM compiles the hottest write
        and read paths before the loop, which would otherwise time the
        steepest part of its warming."""
        self.reads = []
        ok = self._verify([], None)
        n = len(self.CYCLE)
        for j in range(self.WARM_CYCLES * n):
            # negative batch ids: distinct from the loop's, which count from 0
            ok = self._run(self.CYCLE[j % n], -1 - j)[2] and ok
        return ok

    def step(self, i: int):
        out = self._run(self.CYCLE[i % len(self.CYCLE)], i)
        if i == len(self.CYCLE) - 1:
            # after the first cycle, so it does not depend on the loop length
            self.space_amp = stats.space_amp(*stored_bytes(self.store, self.UUID))
        return out

    def _run(self, kind: str, batch_id: int):
        samples: list[Sample] = []
        self.reads = []
        spark, store, uuid = self.spark, self.store, self.UUID
        if kind == "stream_batch":
            new = self._new_orders(200)
            _timed(samples, "op", events.commit_stream_batch, spark, store, uuid,
                   self._frame(new), batch_id, partition_on=["o_ordermonth"])
            self.model = pd.concat([self.model, new.pipe(_keyed)])
            pred = [[("o_orderkey", "in", new["o_orderkey"].iloc[::10].tolist())]]
        elif kind == "upsert":
            # late corrections to recent orders, plus a few new ones
            recent = self.model[self.model["o_ordermonth"] >= self.MONTHS - self.RECENT]
            upd = self.model.loc[self._pick(30, recent)].copy()
            upd["o_totalprice"] = np.round(self.rng.uniform(900.0, 450_000.0, len(upd)), 2)
            upd["o_orderstatus"] = "P"
            rows = pd.concat([upd, self._new_orders(10)], ignore_index=True)
            _timed(samples, "op", ds.merge_upsert_into_dataset, spark, store, uuid,
                   self._frame(rows), "o_orderkey")
            self.model = pd.concat(
                [self.model.drop(index=rows["o_orderkey"], errors="ignore"), rows.pipe(_keyed)]
            )
            pred = [[("o_orderkey", "in", rows["o_orderkey"].tolist())]]
        elif kind == "delete_customer":
            cust = [int(c) for c in self.model.loc[self._pick(2), "o_custkey"]]
            _timed(samples, "op", ds.delete_rows_from_dataset, spark, store, uuid,
                   [[("o_custkey", "==", cust[0])]])
            self.model = self.model[self.model["o_custkey"] != cust[0]]
            pred = [[("o_custkey", "in", cust)]]
        elif kind == "drop_month":
            month = int(self.rng.integers(0, self.MONTHS - self.RECENT))
            _timed(samples, "op", ds.update_dataset_from_dataframe, spark, store, uuid,
                   None, delete_scope=[{"o_ordermonth": month}])
            self.model = self.model[self.model["o_ordermonth"] != month]
            pred = [[("o_ordermonth", "in", [month, month + 1])]]
        elif kind == "delete_key_range":
            lo = int(self._pick(1)[0])
            doomed = (self.model["o_orderkey"] >= lo) & (self.model["o_orderkey"] < lo + 50)
            _timed(samples, "op", ds.delete_rows_from_dataset, spark, store, uuid,
                   [[("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + 50)]])
            self.model = self.model[~doomed]
            pred = [[("o_orderkey", ">=", lo - 100), ("o_orderkey", "<", lo + 150)]]
        else:  # compact
            _timed(samples, "op", ds.compact_dataset, spark, store, uuid)
            pred = [[("o_orderstatus", "==", "F"), ("o_totalprice", ">", 400_000.0)]]
        ok = self._verify(samples, pred)
        return kind, samples, ok

    def finish(self):
        """Garbage-collect (a timed op) and check the whole dataset."""
        samples: list[Sample] = []
        self.reads = []
        before = stored_bytes(self.store, self.UUID)
        _timed(samples, "op", ds.garbage_collect_dataset, self.store, self.UUID)
        after = stored_bytes(self.store, self.UUID)
        self.space = {
            "space_amp_end": stats.space_amp(*before),
            "space_amp_gc": stats.space_amp(*after),
            "stored_bytes": before[0],
            "stored_bytes_gc": after[0],
            "payload_bytes": after[1],
        }
        ok = self._verify(samples, None)
        return "gc", samples, ok

    def detail(self) -> dict:
        return dict(self.space, rows=int(len(self.model)))


_TOKEN = re.compile(r"[^\w]+|_+", re.UNICODE)


def shingles(text_value: str, n: int = 3) -> set[str]:
    """Word n-gram shingles of lower-cased text (a doc with n words or
    fewer is one shingle)."""
    toks = [w for w in _TOKEN.split(text_value.strip().lower()) if w]
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class DedupScan:
    """Set-up runs the near-duplicate removal pipeline over a ``documents``
    corpus; the timed loop serves pruned reads of its output.

    The pipeline reads the corpus, drops low-quality docs, removes exact
    duplicates by fingerprint, collapses MinHash-LSH near-duplicate
    clusters to one representative, drops semantic duplicates by
    embedding cosine, and writes the kept docs partitioned by ``lang`` and
    a ``shard`` of the doc id range, with an index on ``source``, a zone
    map on ``doc_id`` and a Bloom sidecar on the fingerprint. Its output
    is checked against the duplicates injected into the corpus.

    A pass costs ~10 s on 4 cores, mostly fixed per-job cost, so a run
    holds too few passes for a steady per-pass figure: the pass is timed
    once as part of ``setup_s`` and traced for the operator layers. The
    loop is a fixed mix of reads collected to exhaustion, each checked
    against the verified output: shard point reads (one file, they set
    the median), fingerprint lookups (Bloom), source lookups (index),
    doc-id ranges (zone maps) and a filtered scan of every file (tail).
    """

    name = "dedup_scan"
    OP_KIND = "read"  # the unit op is a read
    MIN_CYCLES = 6  # 60 reads: the tail is their 83rd percentile
    WARM_CYCLES = 1
    DOCS, EXACT, NEAR, SEMANTIC, JUNK = 1_000, 30, 20, 20, 50
    SHARD_DOCS = 400  # 3 shards x 5 languages = 15 files
    NEAR_JACCARD = 0.8
    CYCLE = ("shard", "shard", "shard", "shard", "fingerprint", "fingerprint",
             "source", "doc_range", "doc_range", "wide")
    DATASETS = ("docs", "kept")
    COLUMNS = ["doc_id", "lang", "shard", "source", "n_chars", "fp"]

    def __init__(self, spark, seed: int, make_store, workdir: str):
        self.spark = spark
        self.make_store = make_store
        self.workdir = workdir
        self.rng = np.random.default_rng([seed, 20])
        self.corpus, self.injected = data.documents(
            seed, docs=self.DOCS, exact_groups=self.EXACT, near_pairs=self.NEAR,
            semantic_pairs=self.SEMANTIC, junk=self.JUNK,
        )
        texts = self.corpus.set_index("doc_id")["text"]
        self.near = [
            pair for pair in self.injected["near"]
            if jaccard(shingles(texts[pair[0]]), shingles(texts[pair[1]])) >= self.NEAR_JACCARD
        ]
        self.reads: list = []
        self.pipeline: dict = {}

    def setup(self, root: str) -> None:
        self.store = self.make_store(root)
        df = _source_frame(self.spark, self.corpus, os.path.join(self.workdir, "documents.parquet"))
        ds.store_dataframe_as_dataset(self.spark, self.store, "docs", df, partition_on=["lang"])

    def _pipeline(self) -> None:
        spark, store = self.spark, self.store
        docs = ds.read_table(spark, store, "docs")
        docs = docs.where(text.quality_score_col("text") >= 0.5).withColumn(
            "fp", text.fingerprint_col("text")
        )
        docs = dedup.exact_dedup(docs, ["fp"], tie_breaker="doc_id")
        pairs = dedup.minhash_lsh_pairs_md5(
            docs, "doc_id", "text", num_perm=16, bands=8, jaccard_threshold=0.5
        )
        kept = dedup.dedup_keep_representatives(docs, pairs, "doc_id")
        # four hyperplane tables: an injected pair (cosine > 0.99) is missed
        # with probability ~1e-6, so the check below can demand every one
        kept = similarity.semantic_dedup_keep(
            kept, id_col="doc_id", vec_col="embedding", threshold=0.95, dim=data.DIM,
            seeds=(7, 77, 777, 7777),
        )
        kept = kept.withColumn("shard", (F.col("doc_id") / self.SHARD_DOCS).cast("long"))
        ds.store_dataframe_as_dataset(
            spark, store, "kept", kept, partition_on=["lang", "shard"],
            secondary_indices=["source"], zone_map_columns=["doc_id"],
            bloom_filter_columns=["fp"], overwrite=True,
        )

    def warm_up(self) -> bool:
        """Run the pipeline once and check its output, then warm the reads."""
        t0 = time.perf_counter()
        self._pipeline()
        self.pipeline["pass_s"] = time.perf_counter() - t0
        self.pipeline["docs_per_s"] = len(self.corpus) / self.pipeline["pass_s"]
        self.pipeline["caching.shared_live"] = caching.shared_cache_count()
        self.space_amp = stats.space_amp(*stored_bytes(self.store, "kept"))
        got = ds.read_table(self.spark, self.store, "kept", columns=self.COLUMNS).toPandas()
        self.output = got.sort_values("doc_id").reset_index(drop=True)
        ok = self._check_dedup(got)
        # untimed cycles of reads: the JVM compiles the hottest read paths
        for i in range(self.WARM_CYCLES * len(self.CYCLE)):
            ok = self.step(i)[2] and ok
        return ok

    def _check_dedup(self, got: pd.DataFrame) -> bool:
        kept = set(got["doc_id"].tolist())
        one_each = all(
            len(kept.intersection(group)) == 1
            for group in self.injected["exact"] + self.near + self.injected["semantic"]
        )
        return (
            one_each
            and got["fp"].is_unique
            and not kept.intersection(self.injected["junk"])
            and kept == set(range(self.DOCS))
        )

    def step(self, i: int):
        kind = self.CYCLE[i % len(self.CYCLE)]
        out = self.output
        row = out.iloc[int(self.rng.integers(0, len(out)))]
        if kind == "shard":
            pred = [[("lang", "==", row["lang"]), ("shard", "==", int(row["shard"]))]]
        elif kind == "fingerprint":
            pred = [[("fp", "in", self.rng.choice(out["fp"].to_numpy(), 3).tolist())]]
        elif kind == "source":
            pred = [[("source", "==", row["source"])]]
        elif kind == "doc_range":
            lo = int(self.rng.integers(0, self.DOCS - 50))
            pred = [[("doc_id", ">=", lo), ("doc_id", "<", lo + 50)]]
        else:  # wide: every file, half of its rows
            pred = [[("n_chars", ">", int(out["n_chars"].median()))]]
        samples: list[Sample] = []
        got = _timed(
            samples, "read",
            lambda: ds.read_table(self.spark, self.store, "kept", columns=self.COLUMNS,
                                  predicates=pred).toPandas(),
        )
        self.reads = [("kept", pred)]
        want = out[dnf_mask(out, pred)]
        return kind, samples, _same_rows(got, want, "doc_id", self.COLUMNS)

    def detail(self) -> dict:
        return {
            "docs_in": int(len(self.corpus)),
            "docs_kept": int(len(self.output)),
            "near_pairs_checked": len(self.near),
            "pipeline": self.pipeline,
        }


def _keyed(pdf: pd.DataFrame) -> pd.DataFrame:
    """Orders indexed by their key (the column stays)."""
    return pdf.set_index("o_orderkey", drop=False).rename_axis(None)


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, key: str, columns) -> bool:
    if len(got) != len(want):
        return False
    a = got[columns].sort_values(key).reset_index(drop=True)
    b = want[columns].sort_values(key).reset_index(drop=True)
    return all(np.array_equal(a[c].to_numpy(), b[c].to_numpy()) for c in columns)


WORKLOADS = {w.name: w for w in (IngestMutate, DedupScan)}
