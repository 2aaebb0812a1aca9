"""Block-store lifecycle helpers for lazily checkpointed frames.

``localCheckpoint(eager=False)`` is the repo's standard cure for
union/iteration branches re-evaluating an expensive upstream plan
(BENCH_NOTES round 10) — but the persisted RDD blocks live until the
JVM ContextCleaner notices the RDD is unreachable, so a session running
many checkpoint-heavy operators accumulates executor storage memory and
shows GROWING run-to-run variance (dedup_lsh_quality measured
10.6–15.8 s across identical 4x runs, r11 verdict nit). Operators whose
result no longer depends on a checkpoint (driver-materialized reports,
superseded iteration frontiers) release it explicitly instead of
waiting for the cleaner.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame

# --- shared-cache registry -------------------------------------------------
#
# Operators that `persist()` an internal aggregate so several consumers of
# the RETURNED frame share one upstream computation (dsir, winnow, ccnet,
# bigram LM, PSI, retention — the round-13 scan-dedup batch) cannot
# unpersist before returning: the result frame still references the cache
# lazily. But a persist with no release accumulates CacheManager entries
# and disk-spilled blocks for the life of the session (LRU eviction covers
# executor MEMORY, not disk or the CacheManager entry) — on a long-lived
# session the winnow fingerprint frame alone is corpus-proportional
# (~1-2% of text bytes). So every such site registers its frame here:
# the registry keeps the most recent `_SHARED_CACHE_LIMIT` frames and
# unpersists the oldest beyond that. Eviction is ALWAYS correctness-safe —
# `unpersist` never breaks lineage, a consumer of an already-returned
# frame simply recomputes — so the bound trades recompute for storage,
# never wrong answers. Pipelines that want storage back immediately call
# `release_shared_caches()`.

def _limit_from_env(default: int = 8) -> int:
    # malformed env must not crash library import (every operator
    # module imports this one)
    try:
        return max(1, int(os.environ.get("PLATEAU_SPARK_SHARED_CACHE_LIMIT", default)))
    except (TypeError, ValueError):
        return default


_SHARED_CACHE_LIMIT = _limit_from_env()
_shared_caches: "OrderedDict[int, DataFrame]" = OrderedDict()
_shared_lock = threading.Lock()


_warned_bad_budget = False


def _bytes_budget() -> int | None:
    """Optional byte budget on the session's persisted storage
    (``PLATEAU_SPARK_SHARED_CACHE_BYTES``), read per call so pipelines
    can set it after import. The count limit bounds FRAMES; this bounds
    BYTES — one corpus-proportional frame (the winnow fingerprint frame
    is ~1-2% of text bytes, SCALING.md) can dwarf seven KB-scale ones,
    and at 100 TB eight such frames would pin ~10% of corpus bytes.
    A malformed value (e.g. "10GB" — the knob takes plain bytes) warns
    ONCE and disables the budget: silently ignoring it would reproduce
    exactly the unbounded-bytes failure the knob exists to prevent,
    while raising would crash every operator over a config typo."""
    global _warned_bad_budget
    v = os.environ.get("PLATEAU_SPARK_SHARED_CACHE_BYTES")
    if not v:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        if not _warned_bad_budget:
            _warned_bad_budget = True
            import warnings

            warnings.warn(
                f"PLATEAU_SPARK_SHARED_CACHE_BYTES={v!r} is not an integer "
                "byte count; the shared-cache byte budget is DISABLED",
                stacklevel=3,
            )
        return None


def _session_cached_bytes(df: DataFrame) -> "int | None":
    """Total memory+disk bytes of every persisted RDD in the session,
    from the JVM's storage status — ground truth for what the caches
    actually pin (a per-frame estimate would need either a
    materializing count, which breaks operator laziness, or fragile
    plan-to-RDD matching). None when the JVM query fails."""
    try:
        infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)
    except Exception:  # noqa: BLE001 — sizing is best-effort
        return None


def persist_shared(df: DataFrame) -> DataFrame:
    """``df.persist()`` plus registration in the bounded shared-cache
    registry. Use for operator-internal aggregates whose cache must
    outlive the operator call (the returned frame references it); the
    registry guarantees at most ``_SHARED_CACHE_LIMIT`` such frames stay
    pinned, unpersisting the oldest first, and — when
    ``PLATEAU_SPARK_SHARED_CACHE_BYTES`` is set — additionally evicts
    oldest-first while the session's total persisted bytes exceed the
    budget (so one oversized frame is released ahead of the count
    limit). Byte eviction sees a frame's size only once it has
    materialized, i.e. on a LATER registration — the just-registered
    frame is never evicted."""
    out = df.persist()
    evicted: list[DataFrame] = []
    with _shared_lock:
        # id(out) can repeat (persist() returns self): move a
        # re-registered frame to the LRU tail or it keeps its stale
        # position and a just-re-pinned frame evicts as the oldest
        _shared_caches[id(out)] = out
        _shared_caches.move_to_end(id(out))
        while len(_shared_caches) > _SHARED_CACHE_LIMIT:
            _, old = _shared_caches.popitem(last=False)
            evicted.append(old)
    for old in evicted:
        try:
            old.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
    budget = _bytes_budget()
    if budget is not None:
        _evict_over_byte_budget(out, budget)
    return out


def _evict_over_byte_budget(newest: DataFrame, budget: int) -> None:
    """Release registry frames oldest-first while the session's
    persisted bytes exceed ``budget``. The newest frame is exempt (its
    own blocks aren't materialized yet, and evicting it would undo the
    registration that triggered the check); non-registry caches count
    toward the total but are never touched — the shared frames are the
    release valve, and releasing them is always correctness-safe
    (consumers recompute). External-pressure guard: when an eviction
    fails to move the total (the over-budget bytes belong to
    NON-registry caches, e.g. a streaming sink's own micro-batch pins),
    stop — draining the rest of the registry cannot get under budget
    and would just defeat shared caching on every call while the
    external pressure lasts."""
    prev_total: "int | None" = None
    while True:
        total = _session_cached_bytes(newest)
        if total is None or total <= budget:
            return
        if prev_total is not None and total >= prev_total:
            return  # eviction isn't helping: the bytes are external
        with _shared_lock:
            if len(_shared_caches) <= 1:
                return
            _, old = _shared_caches.popitem(last=False)
        prev_total = total
        try:
            # blocking, so the next storage poll reflects the release
            old.unpersist(True)
        except Exception:  # noqa: BLE001 — release is best-effort
            return


def release_shared_caches() -> int:
    """Unpersist every registry-held shared cache now; returns how many
    frames were released. Safe at any time — later consumers of frames
    built on a released cache recompute instead of failing."""
    with _shared_lock:
        drained = list(_shared_caches.values())
        _shared_caches.clear()
    for df in drained:
        try:
            df.unpersist(False)
        except Exception:  # noqa: BLE001 — release is best-effort
            pass
    return len(drained)


def shared_cache_count() -> int:
    """Number of frames currently pinned by the shared-cache registry."""
    with _shared_lock:
        return len(_shared_caches)


def estimated_bytes(df: DataFrame) -> "int | None":
    """The optimizer's size estimate of ``df`` in bytes — plan
    statistics only, no job runs. None when the statistics are
    unavailable; each caller picks its own fallback."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are best-effort
        return None


def is_local_relation(df: DataFrame) -> bool:
    """True iff ``df``'s optimized plan is one ``LocalRelation``: rows
    the driver already holds, which Spark re-reads for free."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getName().endswith(".LocalRelation")
    except Exception:  # noqa: BLE001 — plan inspection is best-effort
        return False


def release_local_checkpoint(*dfs: DataFrame) -> None:
    """Free the persisted blocks behind ``df.localCheckpoint(...)``
    frames.

    Safe no-op for frames that are not checkpoint-backed (the analyzed
    plan is only a ``LogicalRDD`` for checkpointed/RDD-backed frames)
    and for any JVM-side surprise — releasing cache is an optimization,
    never worth failing the operator. The caller must be DONE with the
    frame: after release, consuming it raises (the checkpoint is the
    plan's only lineage).
    """
    for df in dfs:
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getName().endswith(".LogicalRDD"):
                plan.rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — cache release is best-effort
            pass
