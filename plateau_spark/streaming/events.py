"""Structured Streaming operators over the events stream.

The reference has NO streaming surface (SURVEY.md §2.7); this is
north-star extension work built directly on Structured Streaming:
``readStream`` → watermarked windowed aggregation / stream dedup →
sink. The batch-equivalent helpers below run the same plan with
``trigger(availableNow=True)`` into an in-memory sink, which is how the
driver's oracle can check streaming results against plain SQL: with
availableNow over a static source, watermarking drops nothing and the
final aggregate equals the batch aggregate.

At scale the same code runs continuously against Kafka/files with the
watermark bounding state (late events beyond the horizon are dropped,
state store evicts closed windows).
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_spark.core.caching import is_local_relation, persist_shared


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling- (default) or sliding-window (``slide=`` shorter than
    ``window``) per-event-type aggregate with late-data watermark. A
    sliding window emits one row per (window_start, event_type) with
    each event counted in window/slide overlapping windows — state
    grows by that same factor, still watermark-bounded.

    Works on both a static and a streaming DataFrame (identical plan —
    that's the point of Structured Streaming).
    """
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_events(
    events: DataFrame, *, watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (state-store backed on a real stream).

    Uses ``dropDuplicatesWithinWatermark``: with plain
    ``dropDuplicates(["event_id"])`` the event-time column is not part
    of the dedup key, so Spark would keep every id's state FOREVER —
    unbounded state growth on a continuous stream. The WithinWatermark
    variant evicts an id once the watermark passes its first-seen time
    plus the delay, which is the bounded-state contract this operator
    promises (verified by the late-data tests). Batch callers get plain
    ``dropDuplicates`` — same result, no state store.
    """
    if not events.isStreaming:
        return events.dropDuplicates(["event_id"])
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize_events(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch sessionization: split each user's event sequence into
    sessions separated by > ``gap`` of inactivity.

    Pure window expressions (lag → new-session flag → running sum =
    session id → per-session aggregate): two window passes over the
    same (user, ts) ordering — one shuffle, whole-stage codegen, no
    Python. The streaming twin below (`sessionize_stream`) produces the
    same sessions incrementally with explicit state.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_expr = F.expr(f"INTERVAL {gap}")
    marked = events.withColumn(
        "__new__",
        F.when(
            F.lag(ts_col).over(w).isNull()
            | (F.col(ts_col) > F.lag(ts_col).over(w) + gap_expr),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = marked.withColumn("__sess__", F.sum("__new__").over(w))
    return (
        sess.groupBy(user_col, "__sess__")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(user_col, "session_start", "session_end", "n_events", "sum_value")
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)


def sessionize_stream(
    events: DataFrame,
    *,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming sessionization with explicit per-user state —
    ``applyInPandasWithState`` (the custom-stateful-operator surface:
    state = the open session per user; a session closes and is emitted
    when the event-time gap exceeds ``gap_seconds`` or the group times
    out past the watermark).

    State per user is O(1) (start/end/count/sum of the open session),
    so state-store size is bounded by the number of active users inside
    the watermark horizon.

    Late-data contract (Spark does NOT pre-filter late rows for
    arbitrary stateful ops): an out-of-order event landing INSIDE the
    open session joins it (``start``/``end`` clamp with min/max — the
    end never moves backwards); an event more than ``gap_seconds``
    BEFORE the open session's start is dropped as too late (merging it
    or emitting a synthetic singleton would both diverge from the batch
    twin). NULL ``value_col`` rows count toward ``n_events`` and are
    skipped by the sum; a session whose every value is NULL emits NULL
    ``sum_value`` — exact ``F.sum`` null semantics, matching the batch
    twin bit-for-bit. Each user's trailing session stays in state until
    the watermark passes its timeout — an availableNow harness run
    emits only the sessions the final watermark can close (the
    batch/stream equivalence test asserts subset equality for exactly
    this reason).

    The within-batch work is vectorized numpy (argsort + gap-diff
    segment split + ``reduceat`` segment sums); Python-scalar work is
    confined to merging the first chain of events into the carried
    state — O(sessions), not O(events), per micro-batch.

    ``user_col`` must be integer-typed (the output schema pins it to
    ``long``); ``value_col`` must be numeric.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = [user_col, "session_start", "session_end", "n_events", "sum_value"]

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                s, e, n, v = state.get
                state.remove()
                yield pd.DataFrame(
                    [(user_id, pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us"), n, v)],
                    columns=out_cols,
                )
            return
        rows = pd.concat(list(pdfs))
        # asi8 is int64 in the index's NATIVE unit (pandas 2.x) — pin
        # to ns before dividing, or a datetime64[us] arrow bridge would
        # silently make every gap comparison 1000x off
        idx = pd.DatetimeIndex(rows[ts_col])
        try:
            idx = idx.as_unit("ns")
        except AttributeError:  # pandas < 2: always ns already
            pass
        ts_us = idx.asi8 // 1000
        vals = pd.to_numeric(rows[value_col], errors="coerce").to_numpy("float64")
        order = np.argsort(ts_us, kind="stable")
        ts_us, vals = ts_us[order], vals[order]
        gap_us = gap_seconds * 1_000_000

        closed: list = []  # (start_us, end_us, n, sum_or_None)
        start0 = end0 = None
        n0, v0 = 0, None
        if state.exists:
            start0, end0, n0, v0 = state.get
            # beyond the open session's horizon: too late, drop
            lo = int(np.searchsorted(ts_us, start0 - gap_us, side="left"))
            ts_us, vals = ts_us[lo:], vals[lo:]

        if start0 is not None and len(ts_us):
            # longest event prefix chaining into the carried session:
            # event i merges iff ts_i <= e_{i-1} + gap where e_{i-1} =
            # max(end0, ts_{i-1}) (sorted prefix ⇒ the running end is
            # either the carried end or the previous event)
            chain = np.empty(len(ts_us), dtype=bool)
            chain[0] = ts_us[0] <= end0 + gap_us
            if len(ts_us) > 1:
                np.logical_or(
                    ts_us[1:] <= end0 + gap_us, np.diff(ts_us) <= gap_us, out=chain[1:]
                )
            idx = len(ts_us) if chain.all() else int(np.argmin(chain))
            if idx:
                # boundaries only ever widen (a late event must not
                # shrink session_end)
                start0 = min(start0, int(ts_us[0]))
                end0 = max(end0, int(ts_us[idx - 1]))
                n0 += idx
                if not bool(np.isnan(vals[:idx]).all()):
                    v0 = (0.0 if v0 is None else v0) + float(np.nansum(vals[:idx]))
                ts_us, vals = ts_us[idx:], vals[idx:]
            if len(ts_us):  # next event escapes the gap: session closes
                closed.append((start0, end0, n0, v0))
                start0 = None

        if len(ts_us):
            cuts = np.nonzero(np.diff(ts_us) > gap_us)[0] + 1
            seg_lo = np.concatenate(([0], cuts))
            seg_hi = np.concatenate((cuts, [len(ts_us)]))
            sums = np.add.reduceat(np.nan_to_num(vals, nan=0.0), seg_lo)
            seen = np.add.reduceat((~np.isnan(vals)).astype("int64"), seg_lo) > 0
            for i in range(len(seg_lo) - 1):  # all but the last close now
                closed.append(
                    (
                        int(ts_us[seg_lo[i]]),
                        int(ts_us[seg_hi[i] - 1]),
                        int(seg_hi[i] - seg_lo[i]),
                        float(sums[i]) if seen[i] else None,
                    )
                )
            last = len(seg_lo) - 1
            start0, end0 = int(ts_us[seg_lo[last]]), int(ts_us[-1])
            n0 = int(seg_hi[last] - seg_lo[last])
            v0 = float(sums[last]) if seen[last] else None

        if start0 is None:  # no state and an all-dropped/empty batch
            return
        state.update((start0, end0, n0, v0))
        # clamp to the watermark: a late event can land in a session
        # whose natural timeout (end + gap) is already BEHIND the
        # current watermark, and GroupState rejects a timeout earlier
        # than the watermark (query-killing error). wm+1 fires on the
        # next watermark advance — the session's gap has already
        # expired in event time, so "close at the first opportunity"
        # is exactly the timeout contract.
        timeout_ms = end0 // 1000 + gap_seconds * 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if closed:
            yield pd.DataFrame(
                [
                    (user_id, pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us"), cnt, sv)
                    for s, e, cnt, sv in closed
                ],
                columns=out_cols,
            )

    return (
        events.withWatermark(ts_col, f"{gap_seconds} seconds")
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"{user_col} long, session_start timestamp, session_end timestamp, "
                "n_events long, sum_value double"
            ),
            stateStructType="start long, end long, n long, v double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def open_parquet_stream(
    spark: SparkSession,
    source_parquet: str,
    *,
    ts_col: str = "ts",
    reader_options: "dict[str, str] | None" = None,
) -> DataFrame:
    """readStream over a parquet file or directory with the event-time
    column normalized to a watermark-capable TIMESTAMP, whatever the
    writer's physical encoding:

    - nanos-as-long (legacy TIMESTAMP(NANOS) under the session's
      nanosAsLong conf): ns → µs with integer division (a float divide
      would lose precision above 2^53 — see sources/tables.py)
    - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ, which
      ``withWatermark`` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
      cast is value-preserving under the fixed-UTC session timezone.
    """
    schema = spark.read.parquet(source_parquet).schema
    reader = spark.readStream.schema(schema)
    for k, v in (reader_options or {}).items():
        # e.g. maxFilesPerTrigger: rate-limit so availableNow drains in
        # several micro-batches (exercises cross-batch semantics)
        reader = reader.option(k, v)
    import os as _os

    if (
        source_parquet.endswith(".parquet")
        and "/" in source_parquet
        and not _os.path.isdir(source_parquet)
    ):
        # FileStreamSource requires a directory: stream the parent dir
        # filtered down to this file. A DIRECTORY named *.parquet (the
        # standard df.write.parquet layout) must NOT take this branch —
        # the glob matches leaf file names (part-*.parquet), so it would
        # silently produce an empty stream.
        import posixpath

        parent, fname = posixpath.split(source_parquet)
        reader = reader.option("pathGlobFilter", fname)
        stream = reader.parquet(parent)
    else:
        stream = reader.parquet(source_parquet)
    ts_dtype = dict(stream.dtypes).get(ts_col)
    if ts_dtype in ("bigint", "long"):
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    elif ts_dtype == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def run_stream_to_memory(
    spark: SparkSession,
    source_parquet: str,
    transform,
    *,
    ts_col: str = "ts",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Execute a streaming transform over a parquet dir with
    availableNow (process-everything-then-stop) into a memory sink and
    return the result as a batch DataFrame.

    This is the micro-batch test harness: same logical plan as the
    continuous stream, deterministic completion.

    ``shuffle_partitions`` sizes the stateful shuffle for THIS query
    (restored afterwards). A streaming aggregate instantiates one state
    store per shuffle partition, a per-partition fixed cost that
    dominates small availableNow runs (measured 5.9s at 32 partitions
    vs 1.3s at 8 for the same sf0.1 window count). A production
    continuous stream should size this to sustained throughput instead
    (state is repartition-locked once a checkpoint exists); pass None
    to leave the session setting untouched.
    """
    stream = open_parquet_stream(spark, source_parquet, ts_col=ts_col)
    out = transform(stream)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete" if out.isStreaming and _has_aggregation(out) else "append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    # cut the result loose from the memory sink and drop the temp view —
    # otherwise every harness invocation leaves its full result set
    # registered on the driver for the life of the session
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: a left/right row pair joins when
    the equality keys match AND ``right_ts`` falls in
    ``[left_ts + lower, left_ts + upper]``.

    The canonical funnel/attribution primitive (purchase within an hour
    of signup, error following a deploy). The time-range condition is
    REQUIRED for bounded state: with watermarks on both inputs plus the
    interval, Spark derives how long each side's rows stay joinable and
    evicts buffered state past that horizon — an equality-only
    stream-stream join would buffer both streams forever. At 100 TB/day
    the state store holds only ``upper + watermark`` of each stream per
    key, independent of stream length.

    Both sides must use distinct timestamp column names (rename before
    calling); the duplicated right-side equality-key columns are
    dropped from the result. Batch DataFrames run the identical plan
    (watermarks are skipped — they are streaming-only physics).
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    l, r = left.alias("l"), right.alias("r")
    cond = None
    for k in on:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    joined = l.join(r, cond, how)
    for k in on:
        joined = joined.drop(r[k])
    return joined


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static dimension enrichment: the static side is broadcast
    into every micro-batch task, so the join is stateless — no watermark,
    no state store, no shuffle of the stream. This is the 100 TB-safe
    way to attach dimension attributes to an event stream; Spark re-reads
    the static side per micro-batch, picking up dimension updates between
    batches."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def commit_stream_batch(
    spark: SparkSession,
    store,
    dataset_uuid: str,
    batch_df: DataFrame,
    batch_id: int,
    *,
    partition_on=None,
    secondary_indices=None,
    extra_metadata=None,
    assume_nonempty: bool = False,
    **write_kwargs,
) -> bool:
    """Idempotent micro-batch commit into a plateau-style dataset.

    ``assume_nonempty=True`` skips the ``isEmpty`` pre-check job — for
    sinks that already established the batch is non-empty (e.g. the
    near-dup sink probes its banded frame once and derives every
    committed frame from it), the probe is a redundant Spark job per
    batch per dataset, pure protocol floor.

    foreachBatch is at-least-once: after a sink failure Spark replays
    the batch with the SAME batch_id. Exactly-once visibility comes from
    the dataset commit protocol: each batch's files land in one atomic
    commit that also records the batch id in user metadata (as a
    ``stream_batches`` dict key — dict merges union, so the marker
    survives combine_metadata), and a replayed id is skipped before any
    write. A crash between write and commit leaves only invisible
    staging files (explicit-path reads; GC reclaims them).

    The commit file is loaded once: that load answers the replay check
    and is the commit the batch appends to (or, when None, the batch
    creates the dataset with ``secondary_indices``) through the store and
    update APIs' one write-then-commit body, ``sources/dataset.py``
    ``_store_frames`` — 2 ``exists`` + 2 ``get_json`` per micro-batch.

    The frame is persisted for the duration of the call (unless the
    caller already pinned it, or its optimized plan is a
    ``LocalRelation``): the ``isEmpty`` pre-check and the write would
    otherwise each execute the batch's full derivation (anti-joins,
    sketch aggregations, pruned dataset reads) once — shuffles can't
    short-circuit an emptiness probe. A local relation costs nothing to
    re-run, its ``isEmpty`` launches no job, and persisting it would
    cost a job of its own.

    Returns True if the batch was committed, False if it was a replay
    or empty.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, _store_frames

    store = _ensure_store(store)
    marker = {"stream_batches": {str(batch_id): True}}
    if extra_metadata:
        # sink-level metadata (e.g. sketch/histogram parameters) rides
        # every commit; the batch marker wins on key collision
        marker = {**extra_metadata, **marker}
    pinned = False
    if not batch_df.is_cached and not is_local_relation(batch_df):
        batch_df = batch_df.persist()
        pinned = True
    try:
        meta = DatasetMetadata.load_if_exists(store, dataset_uuid)
        if meta is not None and str(batch_id) in meta.metadata.get("stream_batches", {}):
            return False
        if not assume_nonempty and batch_df.isEmpty():
            return False
        # the commit just loaded is the one the batch appends to
        _store_frames(
            spark, store, dataset_uuid, [batch_df], meta,
            partition_on=partition_on,
            secondary_indices=secondary_indices if meta is None else None,
            metadata=marker, **write_kwargs,
        )
        return True
    finally:
        if pinned:
            batch_df.unpersist()


def stream_to_dataset(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    *,
    checkpoint_dir: str,
    partition_on=None,
    secondary_indices=None,
    available_now: bool = False,
):
    """Continuous ingestion: Structured Streaming → plateau dataset.

    ``foreachBatch`` + ``commit_stream_batch``: every micro-batch
    becomes one atomic dataset commit, readers always see a consistent
    snapshot, and replays are no-ops (exactly-once visibility). The
    checkpoint dir carries Spark's source offsets; the dataset's
    ``stream_batches`` metadata carries the sink's commit watermark —
    together they survive driver restarts. Pair with
    ``compact_dataset`` on a schedule: micro-batches produce many small
    files by design.

    Returns the started StreamingQuery (``available_now=True`` for the
    drain-everything-then-stop harness mode).
    """
    spark = stream.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(
            spark, store, dataset_uuid, batch_df, batch_id,
            partition_on=partition_on, secondary_indices=secondary_indices,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_route_to_datasets(
    stream: DataFrame,
    store,
    routes: "dict[str, Column | str]",
    *,
    checkpoint_dir: str,
    partition_on=None,
    available_now: bool = False,
):
    """Quality-gate routing: split a stream by predicate into several
    plateau datasets (accept/reject/quarantine...), each with its own
    exactly-once batch commits.

    ``routes`` maps dataset_uuid → boolean predicate (Column or SQL
    string); each micro-batch is filtered once per route and committed
    through ``commit_stream_batch`` (idempotent per (dataset, batch_id),
    so a replayed batch that already committed to SOME routes finishes
    the remaining ones without duplicating the first — per-dataset
    exactly-once, not cross-dataset atomicity; consistent with the
    reference's one-commit-file-per-dataset model, where no multi-
    dataset transaction exists).

    Routes may overlap or under-cover by design (a row matching no
    predicate is dropped; matching two goes to both) — the caller
    states the policy in the predicates.

    Scale shape: one filter job per route per batch over the SAME
    cached micro-batch; the predicate is codegen; per-route commit cost
    is the dataset write. State is Spark's source offsets plus one
    metadata key per (dataset, batch). The route commits run
    CONCURRENTLY (bounded pool): they target disjoint datasets, are
    each idempotent per (dataset, batch_id), and read nothing back —
    so any crash-replay interleaving just finishes the routes whose
    markers are missing while the landed ones no-op (unlike the
    near-dup sink there is no read-your-own-commit hazard to
    neutralize). Serial commits left each route's driver-side
    metadata/commit phase idling the cluster per route per batch
    (the r14 near-dup overlap finding).
    """
    spark = stream.sparkSession
    routes = {u: (F.expr(p) if isinstance(p, str) else p) for u, p in routes.items()}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        batch_df = batch_df.persist()
        try:
            with ThreadPoolExecutor(
                max_workers=min(4, max(1, len(routes)))
            ) as pool:
                futs = [
                    pool.submit(
                        commit_stream_batch,
                        spark, store, uuid, batch_df.where(pred), batch_id,
                        partition_on=partition_on,
                    )
                    for uuid, pred in routes.items()
                ]
            # pool exit joins every commit; surface the first failure
            for f in futs:
                f.result()
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_key_predicates(
    batch_df: DataFrame, key_cols, *, in_cap: int = 512, with_empty: bool = False
):
    """Turn a micro-batch's dedup-key values into a pruning conjunction
    for the dataset read, at O(1) driver cost regardless of batch size.

    Soundness bar: the anti-join is exact as long as the predicate
    retains every committed row whose key tuple some batch row could
    EQUAL. Since the anti-join's equality is null-unsafe (a NULL batch
    key never matches anything, so those rows always survive), only the
    batch's NON-NULL key values matter, and any superset of them — a
    per-column cross product, a per-column value range — is safe.

    Two tiers, decided by ONE aggregation job (distinct-tuple count +
    per-column min/max/has-null in a single row — never a large
    ``collect``):

    - ``≤ in_cap`` distinct, null-free keys → per-column IN-lists.
      Prunes via bloom filters, zone maps, secondary indexes AND
      partition keys. Capped because a ``Column.isin`` with N Python
      literals costs O(N) Py4J plan construction (measured ~39 s at
      100k literals — the round-8 regression); the reference's own
      guidance caps IN-lists at ~100 values
      (/root/reference/docs/spec/efficient_querying.rst:57-60).
    - otherwise → per-column min/max range conjunctions
      ``[(c, ">=", mn), (c, "<=", mx)]``. O(1) plan size at any batch
      size; zone maps and partition keys prune ranges exactly as well
      as IN-lists for range-clustered files. All-NULL columns carry no
      range (no committed row can match on them anyway).

    Returns ``None`` (full-scan fallback) only when no column yields a
    usable constraint (e.g. every key column all-NULL, or an empty
    batch). ``with_empty=True`` returns ``(is_empty, predicates)``
    instead — the exact row count rides the SAME aggregation row, so a
    sink that needs an emptiness probe anyway (e.g. the near-dup
    ingest) gets it without a separate Spark job.
    """
    key_cols = list(key_cols)
    # approx is sound for a TIER decision: both tiers are exact; an
    # off-by-5% estimate only moves the IN/range cutoff slightly, and
    # HLL partials skip the distinct-shuffle an exact count would pay
    aggs = [
        F.approx_count_distinct(F.struct(*key_cols)).alias("__n"),
        F.count(F.lit(1)).alias("__cnt"),
    ]
    for i, c in enumerate(key_cols):
        aggs.append(F.min(c).alias(f"__mn{i}"))
        aggs.append(F.max(c).alias(f"__mx{i}"))
        aggs.append(F.max(F.col(c).isNull().cast("int")).alias(f"__nul{i}"))
    stats = batch_df.agg(*aggs).collect()[0]
    if with_empty and not stats["__cnt"]:
        return True, None
    has_null = any(stats[f"__nul{i}"] for i in range(len(key_cols)))
    if 0 < stats["__n"] <= in_cap and not has_null:
        rows = batch_df.select(*key_cols).distinct().collect()
        preds = [[(c, "in", sorted({r[c] for r in rows})) for c in key_cols]]
        return (False, preds) if with_empty else preds
    conj = []
    for i, c in enumerate(key_cols):
        mn, mx = stats[f"__mn{i}"], stats[f"__mx{i}"]
        if mn is None:  # all-NULL column: constrains nothing
            continue
        conj.append((c, ">=", mn))
        conj.append((c, "<=", mx))
    preds = [conj] if conj else None
    return (False, preds) if with_empty else preds


def _auto_key_stats_columns(schema, key_cols, partition_on):
    """Split the dedup key columns into (zone_map, bloom) declarations
    so the sink's own commits create the pruning substrate its per-batch
    reads consult — pruning must work BY DEFAULT, not only on datasets
    that declared stats externally.

    Policy: partition keys are already pruned exactly → no stats;
    numeric/date/timestamp/boolean keys → zone maps (footer-harvested,
    near-free, prune both the IN and the range predicate tier when
    ingest keys are range-clustered — the common monotonic-id case);
    remaining string/integer keys → per-file Bloom sidecars (the only
    thing that prunes hash-scattered keys; one map-side agg per batch).
    Unsupported types (e.g. binary) get no stats — reads stay correct,
    just unpruned.
    """
    from plateau_spark.plans.blooms import _BLOOM_OK_TYPES
    from plateau_spark.plans.zonemaps import _STATS_OK_TYPES

    part = set(partition_on or [])
    types = {f.name: f.dataType for f in schema.fields}
    zone, bloom = [], []
    for c in key_cols:
        if c in part:
            continue
        if isinstance(types[c], _STATS_OK_TYPES):
            zone.append(c)
        elif isinstance(types[c], _BLOOM_OK_TYPES):
            bloom.append(c)
    return zone, bloom


def stream_ingest_dedup(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    *,
    key_cols,
    checkpoint_dir: str,
    partition_on=None,
    key_stats: str | None = "auto",
    key_index_dataset: str | None = None,
    compact_key_index_every: int | None = 64,
    available_now: bool = False,
):
    """Online cross-batch exact dedup during ingestion: every
    micro-batch drops rows whose dedup key tuple is ALREADY COMMITTED
    to the target dataset (LEFT ANTI against a column-pruned key read),
    dedups within the batch, and commits the survivors atomically —
    the streaming twin of ``dedup_against_corpus`` where the dataset
    itself is the dedup state.

    Why not ``dropDuplicatesWithinWatermark``: its state is
    watermark-bounded BY DESIGN (a duplicate arriving after the
    watermark passes is let through). Here the committed dataset is
    the state, so dedup is exact over the full ingest history at any
    lateness, survives restarts via the commit protocol (replayed batch
    ids are no-ops), and costs no state store.

    Scale shape per batch: the batch's key values become a pruning
    conjunction for the dataset read — an IN-list for small null-free
    key sets, per-column min/max ranges otherwise (O(1) plan size at
    any batch size; see ``_batch_key_predicates``) — and the sink's own
    commits declare zone maps / Bloom sidecars on the key columns
    (``key_stats="auto"``, see ``_auto_key_stats_columns``; pass
    ``key_stats=None`` to skip), so the per-batch read prunes the file
    list to the files that could hold a colliding key BY DEFAULT —
    O(batch-relevant files) per batch, NOT O(corpus). The read projects
    ONLY the key columns (parquet column pruning), then one hash
    anti-join (batch side small), one atomic commit. For UNBOUNDED key
    domains where even bloomed files saturate, pass
    ``key_index_dataset``: the sink then maintains a NARROW side
    dataset holding only the key columns and anti-joins against THAT —
    its size is O(total keys) bytes independent of corpus row width,
    and the sink compacts it every ``compact_key_index_every`` batches
    (micro-batches accrete one file per batch; compaction is idempotent
    maintenance, so replays are harmless), keeping the per-batch read
    cheap at any corpus size. Exactly-once
    holds per dataset (each carries its own batch marker); a crash
    between the two commits replays the batch, whose main-dataset
    commit is then a no-op while the key-index commit completes —
    the anti-join state is the key index, so the recomputed survivor
    set is identical on replay.
    Within-batch duplicates keep one row per key via dropDuplicates —
    deterministic when duplicate rows are identical; for ordered picks
    (keep latest by timestamp) pre-aggregate in the stream.

    Returns the started StreamingQuery.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    spark = stream.sparkSession
    stats_kwargs = {}
    if key_stats == "auto":
        zone, bloom = _auto_key_stats_columns(stream.schema, key_cols, partition_on)
        if zone:
            stats_kwargs["zone_map_columns"] = zone
        if bloom:
            stats_kwargs["bloom_filter_columns"] = bloom
    elif key_stats is not None:
        raise ValueError(f"key_stats must be 'auto' or None, got {key_stats!r}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import functools as _ft

        from plateau_spark.sources.dataset import _ensure_store

        # ANSI NULL semantics, same contract as MERGE: a NULL key never
        # matches anything — NULL-keyed rows are never deduped (in-batch
        # OR cross-batch), so the committed dataset is a pure function
        # of the stream content, not of micro-batch boundaries (the
        # cross-batch anti-join and the batch-key pruning predicates are
        # both null-unsafe; a null-SAFE in-batch dropDuplicates would
        # disagree with them).
        _nn = _ft.reduce(
            lambda a, b: a & b, [F.col(k).isNotNull() for k in key_cols]
        )
        fresh = (
            batch_df.where(_nn)
            .dropDuplicates(key_cols)
            .unionByName(batch_df.where(~_nn))
        )
        st = _ensure_store(store)
        # the dedup state: the dataset itself, or the narrow key index
        state_uuid = key_index_dataset or dataset_uuid
        pinned = []
        try:
            if DatasetMetadata.exists(st, state_uuid):
                fresh = fresh.persist()  # read twice: key stats + anti-join
                pinned.append(fresh)
                preds = _batch_key_predicates(fresh, key_cols)
                seen = read_dataset_as_dataframe(
                    spark, st, state_uuid, columns=key_cols, predicates=preds
                )
                survivors = fresh.join(seen, key_cols, "left_anti")
            else:
                survivors = fresh
            if key_index_dataset:
                survivors = survivors.persist()  # two commits + isEmpty
                pinned.append(survivors)
            commit_stream_batch(
                spark, st, dataset_uuid, survivors, batch_id,
                partition_on=partition_on, **stats_kwargs,
            )
            if key_index_dataset:
                # second commit, own batch marker: a replay after a crash
                # between the two finishes this one while the first no-ops
                commit_stream_batch(
                    spark, st, key_index_dataset,
                    survivors.select(*key_cols), batch_id, **stats_kwargs,
                )
                if (
                    compact_key_index_every
                    and batch_id > 0
                    and batch_id % compact_key_index_every == 0
                ):
                    # micro-batches accrete one file per batch; without
                    # maintenance the side dataset's planning cost grows
                    # linearly in batches. Compaction is idempotent
                    # maintenance (atomic swap, generation-stamped), so a
                    # replayed trigger batch just re-compacts a no-op.
                    from plateau_spark.sources.dataset import compact_dataset

                    compact_dataset(
                        spark, st, key_index_dataset, target_files_per_key=1
                    )
        finally:
            for df in pinned:
                df.unpersist()

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _compact_fingerprints(spark, store, fingerprint_dataset: str) -> None:
    """Fingerprint-dataset compaction body for the near-dup sink. The
    cadence policy lives SOLELY in ``_schedule_fp_compaction`` (one
    owner); the exists guard covers streams whose first batches were
    all empty."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import compact_dataset

    if DatasetMetadata.exists(store, fingerprint_dataset):
        compact_dataset(spark, store, fingerprint_dataset, target_files_per_key=1)


# Background-maintenance slots, keyed by (store root, dataset) at
# MODULE scope — not per-sink-closure — so a sink restarted in the same
# process joins the previous instance's still-running compaction before
# touching the dataset (a closure-local slot would orphan that thread:
# its conflict-detected commit could then race the new stream's
# fingerprint appends, and any error it recorded would die with the
# closure instead of surfacing at the next join).
_PENDING_MAINT: "dict[tuple, dict]" = {}
_PENDING_MAINT_LOCK = threading.Lock()


def _maint_slot(store, dataset: str) -> dict:
    key = (getattr(store, "root", None) or str(store), dataset)
    with _PENDING_MAINT_LOCK:
        return _PENDING_MAINT.setdefault(key, {"thread": None, "error": None})


def _join_maintenance(store, dataset: str) -> None:
    """Wait for the dataset's pending background maintenance; re-raise
    its error here (the join point is always a batch body, so a failed
    compaction fails — and replays — that batch)."""
    slot = _maint_slot(store, dataset)
    t = slot["thread"]
    if t is not None:
        t.join()
        slot["thread"] = None
    err, slot["error"] = slot["error"], None
    if err is not None:
        raise err


def _schedule_fp_compaction(
    spark, store, dataset: str, batch_id: int, every: "int | None"
) -> None:
    """Kick the scheduled fingerprint compaction onto a background
    thread, overlapped with the NEXT batch's banding/probe/read jobs
    (safe: compaction's atomic swap never reclaims superseded files, so
    snapshot reads keep working) and joined before the next fingerprint
    COMMIT (an append landing between compaction's read and its swap is
    the one lost-update hazard; the swap is conflict-detected as a
    backstop). Keys on batch_id alone — an EMPTY micro-batch landing on
    the schedule must not postpone compaction. A process crash loses at
    most one pending compaction — idempotent maintenance, re-triggered
    at the next schedule; on a clean availableNow drain the final
    compaction may still be finishing when the query stops, which is
    safe for readers and joined by any same-process successor sink."""
    if not (every and batch_id > 0 and batch_id % every == 0):
        return
    _join_maintenance(store, dataset)  # never two concurrent compactions
    slot = _maint_slot(store, dataset)

    def _run() -> None:
        try:
            _compact_fingerprints(spark, store, dataset)
        except BaseException as e:  # noqa: BLE001 — re-raised at join
            slot["error"] = e

    t = threading.Thread(target=_run, name="plateau-fp-compact", daemon=True)
    slot["thread"] = t
    t.start()


def stream_ingest_neardup(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    *,
    id_col: str,
    text_col: str,
    checkpoint_dir: str,
    fingerprint_dataset: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    hash_family: str = "md5",
    partition_on=None,
    compact_fingerprint_every: int | None = 64,
    fingerprint_files_per_batch: int | None = 1,
    files_per_batch: int | None = None,
    available_now: bool = False,
):
    """Online cross-batch NEAR-duplicate dedup during ingestion — the
    fuzzy-content twin of ``stream_ingest_dedup``: every micro-batch
    drops documents whose MinHash-LSH band signature collides with any
    PREVIOUSLY SEEN document, dedups within the batch (earlier id
    wins), and commits the survivors atomically. The persisted
    ``fingerprint_dataset`` — the narrow (band, bandsig) frame from
    ``operators/dedup.py:md5_band_signatures`` — IS the dedup state:
    exact over the full ingest history at any lateness, restart-safe
    via the commit protocol, no state store.

    Semantics (the "seen index" contract): a document is dropped iff it
    shares ≥1 band signature with any document of earlier arrival order
    (earlier batch, or smaller ``id_col`` within the same batch) —
    KEPT OR DROPPED. Remembering dropped documents' fingerprints makes
    chains collapse to the first member (A~B dropped, C~B also drops
    even if C≁A, like a Bloom-style seen-filter) and, deliberately,
    makes the kept set a non-recursive pure function of arrival order —
    so it is oracle-checkable in ANSI SQL. Short documents (at most
    ``shingle_size`` tokens, including empty text) shingle to their
    whole token sequence, so exact-duplicate short docs still dedup and
    all empty docs collapse to the first.

    Scale shape per batch: band signatures are codegen min-aggs over
    the batch only (default ``hash_family="md5"`` is the
    oracle-portable tier at ~num_perm md5 calls per shingle; pass
    ``"siphash"`` for ~2× cheaper seeded-murmur3 banding in production
    where cross-engine replay isn't needed); the fingerprint read prunes with the batch's
    (band, bandsig) values via the same O(1)-plan predicate tier as
    exact ingest dedup (``_batch_key_predicates``) against the stats
    the sink itself declares (zone map on band, Bloom on bandsig); the
    collision check is one LEFT SEMI equi-join on (band, bandsig) —
    bucketed, never all-pairs. The fingerprint dataset is
    O(bands × documents-seen) narrow rows regardless of corpus row
    width, and the sink compacts it every
    ``compact_fingerprint_every`` batches (idempotent maintenance).

    ``fingerprint_files_per_batch`` (default 1): the fingerprint commit
    coalesces to this many files. The frames the commits pin are cached
    with the dedup shuffle's full width, and a cached plan's output
    partitioning is fixed — AQE never re-coalesces it — so without the
    cap every batch wrote one near-empty file per shuffle partition
    (32× the files: slower stats builds, slower pruned probes on every
    LATER batch, compaction pressure). The coalesce sits above the
    dedup exchange, so map-side banding stays parallel and only the
    KB-scale distinct (band, bandsig) rows funnel down; raise it for
    very large micro-batches. ``None`` keeps the shuffle width.

    ``files_per_batch`` (default ``None`` = keep the survivor frame's
    shuffle width) applies the same cap to the MAIN dataset commit —
    set it when micro-batches are small relative to a parquet file
    (the same cache-pins-the-width effect above applies to the pinned
    survivor frame); leave ``None`` for large batches where the
    parallel write is the point.

    Exactly-once holds per dataset (each carries its own batch
    marker), and the two commits run CONCURRENTLY — safe because the
    dedup decision reads only fingerprints of strictly earlier batches
    (every fingerprint row carries a ``__batch_id__``; the seen read
    filters ``__batch_id__ < batch_id``). A crash with either commit
    landed replays the batch deterministically: the seen read excludes
    the batch's own fingerprints even when the fingerprint commit won
    the race, the recomputed survivor set is identical, the landed
    commit no-ops on its batch marker, and the other completes. The
    stream's identity is the (checkpoint, datasets) tuple — reusing a
    fingerprint dataset under a FRESH checkpoint restarts batch ids at
    0 and is unsupported (same contract as the batch markers
    themselves). Fingerprint datasets committed before the
    ``__batch_id__`` tag existed keep working: the sink detects the
    missing column once per instance and falls back to untagged
    fingerprints with the serial commit order (survivors first), the
    pre-tag protocol whose ordering provided the same crash-replay
    guarantee.

    Returns the started StreamingQuery.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.operators.dedup import md5_band_signatures
    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    spark = stream.sparkSession
    band_cols = ["band", "bandsig"]
    stats_kwargs = {}
    zone, bloom = _auto_key_stats_columns(
        T.StructType(
            [
                T.StructField("band", T.IntegerType()),
                T.StructField("bandsig", T.StringType()),
            ]
        ),
        band_cols,
        None,
    )
    # __batch_id__ rides every fingerprint row so a REPLAYED batch can
    # exclude its own landed fingerprints from the seen read (see the
    # crash-replay note at the commit site); its zone map prunes those
    # files for free (one commit per batch → per-file constant column).
    # Legacy (pre-tag) fingerprint datasets commit without the column —
    # and without its zone-map declaration.
    stats_kwargs["zone_map_columns"] = [*zone, "__batch_id__"]
    legacy_stats_kwargs = {**stats_kwargs, "zone_map_columns": zone}
    if bloom:
        stats_kwargs["bloom_filter_columns"] = bloom
        legacy_stats_kwargs["bloom_filter_columns"] = bloom

    # legacy-mode probe, decided once per sink instance: a fingerprint
    # dataset committed by the pre-__batch_id__ sink has no tag column.
    # Resuming such a stream stays supported — the seen read skips the
    # self-excluding filter, fp rows commit untagged, and the two
    # commits run SERIALLY (survivors first), which is exactly the old
    # load-bearing order that made crash-replay safe without the tag.
    mode: dict = {"legacy": None}

    def _is_legacy(st) -> bool:
        if mode["legacy"] is None:
            meta = DatasetMetadata.load(st, fingerprint_dataset)
            mode["legacy"] = "__batch_id__" not in {f.name for f in meta.schema}
        return mode["legacy"]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from plateau_spark.sources.dataset import _ensure_store

        st = _ensure_store(store)
        banded = md5_band_signatures(
            batch_df,
            id_col,
            text_col,
            num_perm=num_perm,
            bands=bands,
            shingle_size=shingle_size,
            hash_family=hash_family,
        ).persist()  # consumed 3-4×: predicates, semi-join, self-join, index commit
        try:
            fp_exists = DatasetMetadata.exists(st, fingerprint_dataset)
            legacy = _is_legacy(st) if fp_exists else False
            # one emptiness probe on the shared frame: every doc yields
            # ≥1 band row, so an empty banded means an empty batch
            # (skip both commits — but NOT the scheduled compaction
            # below, which keys on batch_id alone), and a non-empty one
            # lets the fingerprint commit skip its own isEmpty job (the
            # survivors commit keeps its probe — all-dup batches commit
            # zero survivor rows but still append fingerprints). Once
            # the fingerprint dataset exists the probe rides the
            # predicate-stats aggregation (one job, not two — the exact
            # row count shares the stats row); only the very first
            # batch pays a dedicated isEmpty.
            preds = None
            if fp_exists:
                empty, preds = _batch_key_predicates(
                    banded, band_cols, with_empty=True
                )
            else:
                empty = banded.isEmpty()
            if empty:
                _schedule_fp_compaction(
                    spark, st, fingerprint_dataset, batch_id,
                    compact_fingerprint_every,
                )
                return
            # ALL batch docs' fingerprints (kept or dropped) join the seen
            # index — second commit, own batch marker (see exactly-once
            # note); the __batch_id__ tag is what lets a replay exclude
            # them from its seen read
            fp_rows = banded.select(*band_cols).dropDuplicates(band_cols)
            if not legacy:
                fp_rows = fp_rows.withColumn(
                    "__batch_id__", F.lit(int(batch_id)).cast("long")
                )
            if fingerprint_files_per_batch:
                fp_rows = fp_rows.coalesce(int(fingerprint_files_per_batch))
            # the two commits target INDEPENDENT datasets and are each
            # idempotent, so they overlap on two threads (concurrent
            # actions on one SparkSession are supported; both read the
            # shared banded cache, which is thread-safe). The overlap is
            # crash-safe ONLY because the seen read below is
            # self-excluding: if the fingerprint commit lands and the
            # survivors commit fails, the replay filters the batch's own
            # fingerprints out (__batch_id__ < batch_id), recomputes the
            # IDENTICAL survivor set, the fingerprint commit no-ops on
            # its batch marker, and the survivors commit completes.
            # Without that filter the serial order (survivors first) is
            # load-bearing — which is exactly why the LEGACY mode (pre-
            # tag fingerprint dataset) keeps it serial. Running the
            # commits serially left each commit's driver-side metadata /
            # stats phases idling the cluster (~1s/batch). The
            # fingerprint commit needs nothing but the banded cache, so
            # it launches FIRST and the survivor side's remaining
            # driver work (seen read planning, dup window construction)
            # overlaps the fingerprint write instead of preceding it.
            from concurrent.futures import ThreadPoolExecutor

            # a pending background compaction must finish before the
            # fingerprint APPEND below (lost-update hazard); everything
            # above — banding, probe, predicate aggs — overlapped it
            _join_maintenance(st, fingerprint_dataset)
            pool = None
            f_fp = None
            if not legacy:
                pool = ThreadPoolExecutor(max_workers=1)
                f_fp = pool.submit(
                    commit_stream_batch,
                    spark, st, fingerprint_dataset, fp_rows,
                    batch_id, assume_nonempty=True, **stats_kwargs,
                )
            try:
                # ONE pass over (batch bands ∪ pruned seen index): per
                # (band, bandsig) group a window computes whether any
                # SEEN row collides and the smallest batch id — a doc
                # is a dup iff some group of its carries an earlier
                # arrival (seen row, or smaller in-batch id). Replaces
                # the former self-join + left-semi pair: one exchange
                # instead of three, and a boilerplate-hot signature
                # costs O(group) window work instead of the self-join's
                # O(group²) rows.
                id_type = batch_df.schema[id_col].dataType
                cand = banded.select(
                    F.col(id_col).alias("__id__"),
                    *band_cols,
                    F.lit(False).alias("__seen__"),
                )
                if fp_exists:
                    # self-excluding seen read: only fingerprints of
                    # STRICTLY EARLIER batches count as seen. On first
                    # execution this filters nothing (all committed rows
                    # are earlier); on a crash-replay where this batch's
                    # OWN fingerprint commit already landed, it keeps the
                    # replay's dedup decision identical to the original
                    # run — without it every batch doc would collide with
                    # its own landed bands, survivors would come back
                    # empty, and the batch's kept docs would be silently
                    # lost (r14 advice, high). A pre-tag legacy dataset
                    # (no __batch_id__ column) skips the filter and takes
                    # the serial commit order instead.
                    if not legacy:
                        bterm = ("__batch_id__", "<", int(batch_id))
                        preds = (
                            [[*c, bterm] for c in preds] if preds else [[bterm]]
                        )
                    seen = read_dataset_as_dataframe(
                        spark, st, fingerprint_dataset,
                        columns=band_cols, predicates=preds,
                    )
                    cand = cand.unionByName(
                        seen.select(
                            F.lit(None).cast(id_type).alias("__id__"),
                            *band_cols,
                            F.lit(True).alias("__seen__"),
                        )
                    )
                w = Window.partitionBy(*band_cols)
                flagged = cand.select(
                    "__id__",
                    "__seen__",
                    F.max(F.col("__seen__").cast("int")).over(w).alias("__any_seen__"),
                    # min over batch rows only (seen rows carry NULL id,
                    # which aggregate min skips)
                    F.min("__id__").over(w).alias("__min_id__"),
                )
                dup_ids = flagged.where(
                    (~F.col("__seen__"))
                    & (
                        (F.col("__any_seen__") == 1)
                        | (F.col("__id__") > F.col("__min_id__"))
                    )
                ).select(F.col("__id__").alias(id_col))
                # anti-join tolerates duplicate ids on the right — no
                # distinct pass
                survivors = batch_df.join(dup_ids, id_col, "left_anti")
                if files_per_batch:
                    survivors = survivors.coalesce(int(files_per_batch))
                commit_stream_batch(
                    spark, st, dataset_uuid, survivors, batch_id,
                    partition_on=partition_on,
                )
                if legacy:
                    # pre-tag protocol: fingerprints strictly AFTER the
                    # survivors commit (the load-bearing order)
                    commit_stream_batch(
                        spark, st, fingerprint_dataset, fp_rows,
                        batch_id, assume_nonempty=True, **legacy_stats_kwargs,
                    )
            finally:
                if f_fp is not None:
                    f_fp.result()
                if pool is not None:
                    pool.shutdown()
            _schedule_fp_compaction(
                spark, st, fingerprint_dataset, batch_id,
                compact_fingerprint_every,
            )
        finally:
            banded.unpersist()

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_distinct_counts(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """EXACT distinct-key count per tumbling window (distinct active
    users per hour) as two chained stateful operators: watermarked
    ``dropDuplicates`` on (window, key) — state bounded by distinct
    keys inside the watermark horizon, evicted as the watermark
    advances — feeding a watermarked windowed count. Chained stateful
    operators are a Structured Streaming capability (Spark ≥3.5);
    exactness (vs an HLL ``approx_count_distinct``) keeps the result
    batch-equivalent and oracle-replayable as COUNT(DISTINCT).

    Works on a static frame with the identical plan (dropDuplicates →
    groupBy), which is the batch-equivalence bridge the harness uses.
    """
    w = F.window(ts_col, window)
    deduped = (
        events.withWatermark(ts_col, watermark)
        .select(w.alias("w"), F.col(ts_col), F.col(key_col))
        .dropDuplicates(["w", key_col])
    )
    return (
        deduped.groupBy("w")
        .agg(F.count("*").alias("n_distinct"))
        .select(F.col("w.start").alias("window_start"), "n_distinct")
    )


def stream_monitor_histogram(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    group_cols,
    value_col: str,
    *,
    width: float,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Streaming distribution monitor: maintain persisted equi-width
    histogram statistics (operators/sketches.py) of a column as data
    arrives — the online tier of ``build/update_histogram_stats``.

    Each micro-batch is reduced to its per-(group, bucket) counts —
    O(buckets) rows, not O(batch) — and APPENDED as one atomic commit
    via ``commit_stream_batch``, so replayed batch ids are no-ops and
    the merged histogram is EXACTLY the single-pass histogram of
    everything ingested (counts are additive and the commit protocol
    makes each batch count exactly once). Read the current distribution
    any time with ``read_quantile_estimates`` — it touches only the
    histogram rows, never the ingested corpus, and never blocks the
    stream.

    Scale shape: per-batch sink state is a keyed aggregation down to
    O(groups × range/width) rows (KBs); the quantile read is O(total
    histogram rows) = batches × buckets until ``compact_dataset`` (the
    ordinary maintenance op — the read sums per bucket, so compaction
    is purely a file-count concern). No watermark needed: this is a
    running whole-corpus monitor, not an event-time window.
    """
    from plateau_spark.operators.sketches import (
        _HIST_META_KEY,
        histogram_sketch,
    )

    spark = stream.sparkSession
    hist_meta = {
        _HIST_META_KEY: {
            "group_cols": list(group_cols),
            "value_col": value_col,
            "width": float(width),
        }
    }

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        hist = histogram_sketch(batch_df, group_cols, value_col, width=width)
        commit_stream_batch(
            spark, store, dataset_uuid, hist, batch_id,
            extra_metadata=hist_meta,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_monitor_distinct(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    group_cols,
    value_col: str,
    *,
    lg_k: int | None = None,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Streaming cardinality monitor: maintain persisted per-group HLL
    distinct-count sketches (operators/sketches.py) as data arrives —
    the online twin of :func:`stream_monitor_histogram` for the
    "how many unique users/domains/docs so far" question that exact
    streaming COUNT(DISTINCT) cannot answer with bounded state.

    Each micro-batch appends ONE sketch row per group touched (KBs —
    2^lg_k registers), committed atomically with the batch-id marker so
    replays are no-ops. Because HLL union over per-batch sketches is
    register-identical to one sketch of everything ingested, the
    merged ``read_distinct_estimates`` equals the batch estimate
    EXACTLY — and unlike the watermark-bounded
    ``windowed_distinct_counts``, state never grows with the key
    domain and late data is never dropped (there is no event-time
    horizon; the monitor answers over ALL ingested data).
    """
    from plateau_spark.operators.sketches import (
        DEFAULT_LG_K,
        _META_KEY,
        sketch_distinct,
    )

    k = DEFAULT_LG_K if lg_k is None else int(lg_k)
    spark = stream.sparkSession
    sk_meta = {
        _META_KEY: {
            "group_cols": list(group_cols),
            "value_col": value_col,
            "lg_k": k,
        }
    }

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sk = sketch_distinct(batch_df, group_cols, value_col, lg_k=k)
        commit_stream_batch(
            spark, store, dataset_uuid, sk, batch_id, extra_metadata=sk_meta
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_monitor_topk(
    stream: DataFrame,
    store,
    dataset_uuid: str,
    group_cols,
    value_col: str,
    *,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Streaming heavy-hitter monitor: maintain EXACT per-group value
    counts as data arrives, for the "which domains/event types dominate
    the ingest so far" question — the online tier of
    ``dataflow.skew_profile``. Each micro-batch appends its
    (group, value, cnt) counts — O(distinct values in the batch) rows —
    through the exactly-once commit protocol; counts are additive, so
    the merged top-k (:func:`read_topk_counts`) is exact at any point,
    unlike sketch-based heavy hitters (Misra-Gries/SpaceSaving trade
    exactness for bounded state; here state is bounded by the VALUE
    DOMAIN instead, the right trade for categorical monitoring columns
    — domains, event types, languages, status codes; do not point it at
    an id-like column). ``compact_dataset`` on a cadence collapses the
    per-batch rows."""
    from pyspark.sql import functions as _F

    spark = stream.sparkSession
    meta = {
        "topk_monitor": {
            "group_cols": list(group_cols),
            "value_col": value_col,
        }
    }

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.where(_F.col(value_col).isNotNull())
            .groupBy(*group_cols, _F.col(value_col).cast("string").alias("value"))
            .agg(_F.count(_F.lit(1)).alias("cnt"))
        )
        commit_stream_batch(
            spark, store, dataset_uuid, counts, batch_id, extra_metadata=meta
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_topk_counts(spark, store, dataset_uuid: str, *, k: int = 10) -> DataFrame:
    """Merge the persisted per-batch counts and return the exact top-k
    values per group: (group_cols..., value, cnt, share, rnk) — same
    columns and tie-break (cnt desc, value asc) as
    ``dataflow.skew_profile``. Reads O(batches × distinct values)
    count rows, never the ingested corpus; the two-phase top-k cut
    mirrors skew_profile so no task sorts a full value domain."""
    from pyspark.sql import Window
    from pyspark.sql import functions as _F

    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid).metadata["topk_monitor"]
    gcols = meta["group_cols"]
    merged = (
        read_table(spark, st, dataset_uuid)
        .groupBy(*gcols, "value")
        .agg(_F.sum("cnt").alias("cnt"))
    )
    totals = merged.groupBy(*gcols).agg(_F.sum("cnt").alias("__n"))
    order = [_F.col("cnt").desc(), _F.col("value").asc()]
    w_local = Window.partitionBy(
        *gcols, _F.pmod(_F.xxhash64("value"), _F.lit(32))
    ).orderBy(*order)
    survivors = (
        merged.withColumn("__rk", _F.row_number().over(w_local))
        .where(_F.col("__rk") <= k)
        .drop("__rk")
    )
    w_global = Window.partitionBy(*gcols).orderBy(*order)
    topk = survivors.withColumn("rnk", _F.row_number().over(w_global)).where(
        _F.col("rnk") <= k
    )
    joined = (
        topk.crossJoin(_F.broadcast(totals))
        if not gcols
        else topk.join(_F.broadcast(totals), list(gcols))
    )
    return (
        joined
        .select(
            *gcols,
            "value",
            "cnt",
            (_F.col("cnt").cast("double") / _F.col("__n")).alias("share"),
            "rnk",
        )
    )


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps,
    *,
    within: str | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the earliest strictly-
    increasing completion of the ``steps`` event sequence (classic
    conversion funnel — view → signup → purchase), summarized as one
    row per step: users reached + conversion vs step 1.

    Semantics: step 1's timestamp is the user's earliest ``steps[0]``
    event; step k's is the earliest ``steps[k]`` event STRICTLY after
    step k-1's. ``within`` (SQL interval, e.g. ``"7 days"``) bounds the
    whole funnel relative to step 1. This greedy-earliest matching is
    the standard funnel definition and maximizes completion (an
    earlier step-1 can only allow more step-2 choices).

    Scale shape: one filter to the step types, then one keyed agg PER
    STEP on the same user key — Catalyst plans k-1 co-partitioned
    joins, no window over raw events, no per-user array materialization
    (a user with 10⁶ events costs agg-combine work, not a sort). All k
    step counts come from ONE action: each step's reach frame is
    lazily ``localCheckpoint``-ed (so the union's branches share one
    evaluation instead of re-running steps 1..k-1 per branch), tagged
    with its step index, unioned, and counted in a single
    ``groupBy(step)`` job. The output is k rows.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    e = events.select(
        F.col(user_col).alias("__u__"),
        F.col(ts_col).alias("__ts__"),
        F.col(type_col).alias("__et__"),
    ).where(F.col("__et__").isin(steps))
    reached = e.where(F.col("__et__") == steps[0]).groupBy("__u__").agg(
        F.min("__ts__").alias("__t0__")
    )
    deadline = (
        F.col("__t0__") + F.expr(f"INTERVAL {within}") if within else None
    )
    if within:
        reached = reached.withColumn("__dl__", deadline)
    # lazy checkpoint: each step frame evaluates once even though it is
    # consumed twice (as the next step's join input and as a union branch)
    prev = reached.withColumnRenamed("__t0__", "__tp__").localCheckpoint(eager=False)
    ckpts = [prev]
    tagged = [prev.select(F.lit(1).alias("step"), "__u__")]
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            e.where(F.col("__et__") == step)
            .join(prev, "__u__")
            .where(F.col("__ts__") > F.col("__tp__"))
        )
        if within:
            nxt = nxt.where(F.col("__ts__") <= F.col("__dl__"))
        keep = ["__u__"] + (["__dl__"] if within else [])
        prev = (
            nxt.groupBy(*keep)
            .agg(F.min("__ts__").alias("__tp__"))
            .localCheckpoint(eager=False)
        )
        ckpts.append(prev)
        tagged.append(prev.select(F.lit(i).alias("step"), "__u__"))
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    # the single action for the whole funnel
    step_counts = {
        r["step"]: r["n"]
        for r in union.groupBy("step").agg(F.count("*").alias("n")).collect()
    }
    # the funnel's single action is done and the result is driver-built:
    # every per-step checkpoint is dead — release the blocks now
    from plateau_spark.core.caching import release_local_checkpoint

    release_local_checkpoint(*ckpts)
    counts = [int(step_counts.get(i + 1, 0)) for i in range(len(steps))]
    spark = events.sparkSession
    rows = [
        (i + 1, steps[i], counts[i], float(counts[i]) / counts[0] if counts[0] else None)
        for i in range(len(steps))
    ]
    return spark.createDataFrame(
        rows, "step int, event_type string, users_reached long, conversion double"
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users cohorted by their first-activity
    period, and for every (cohort, k) the count and fraction of the
    cohort active k periods later - the standard engagement/retention
    analytic over an event stream.

    Two keyed aggs on the user key (first-activity, distinct activity
    periods) + one join + one (cohort, k) agg - no window over raw
    events. Counts are exact integers; retention is one double
    division. ``period``: ``"day"``, ``"week"`` or ``"month"`` — day
    and week use exact ``datediff/7`` arithmetic; month uses
    ``months_between`` on month-truncated dates, which is an exact
    integer for first-of-month boundaries.
    Returns (cohort, period_k, n_active, cohort_size, retention),
    with k=0 rows carrying retention 1.0 by construction.
    """
    if period not in ("day", "week", "month"):
        raise ValueError("period must be 'day', 'week' or 'month'")
    u = F.col(user_col)
    p = F.date_trunc(period, F.col(ts_col).cast("timestamp"))
    # ONE events scan: the distinct (user, period) activity is the
    # smallest frame every downstream agg can derive from (min over the
    # dedup'd periods IS the first-activity period), so cache it and
    # fold the cohorts out of it — without this, `first` and
    # `activity` each re-scanned the raw events (3 scans in the
    # executed plan, no exchange reuse). persist(), not localCheckpoint
    # — see winnow_overlap_pairs. Activity rows are (user, period) —
    # users × active periods, always ≪ the event stream.
    activity = persist_shared(
        events.select(u.alias("__u__"), p.alias("__p__")).distinct()
    )
    first = persist_shared(
        activity.groupBy("__u__").agg(F.min("__p__").alias("cohort"))
    )
    if period == "month":
        # both sides are month-truncated, so months_between is an exact
        # whole number (no fractional-day component to round)
        k_expr = F.months_between(
            F.col("__p__").cast("date"), F.col("cohort").cast("date")
        ).cast("int")
    else:
        per_unit = {"day": 1, "week": 7}[period]
        k_expr = (
            F.datediff(F.col("__p__").cast("date"), F.col("cohort").cast("date"))
            / F.lit(per_unit)
        ).cast("int")
    joined = activity.join(first, "__u__").select(
        "cohort", k_expr.alias("period_k")
    )
    counts = joined.groupBy("cohort", "period_k").agg(
        F.count("*").alias("n_active")
    )
    sizes = first.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    return counts.join(sizes, "cohort").select(
        "cohort",
        "period_k",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
            "retention"
        ),
    )
