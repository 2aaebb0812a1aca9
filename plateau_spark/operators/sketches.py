"""Mergeable distinct-count sketch statistics: HyperLogLog sketches
computed map-side, persisted as a plateau side dataset, and advanced
incrementally on append.

Why sketches are first-class at 100 TB: an exact ``COUNT(DISTINCT
user_id)`` shuffles every distinct value across the cluster — O(ndv)
network per query, repeated on every refresh. An HLL sketch is a
fixed-size (2^lg_k registers, KBs) commutative monoid: each task
sketches its partition locally, the merge is a register-wise max, and
an *incremental corpus append only sketches the NEW rows* — the
existing corpus is never rescanned. Spark 4 ships Apache DataSketches
HLL natively (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``), so the whole path is JVM codegen with zero
Python.

The persisted layout mirrors the BM25/IVF side-index pattern
(operators/retrieval.py, operators/similarity.py): the statistics ARE
a plateau dataset — atomic commits, GC, time travel all apply. Each
``update_distinct_sketches`` call appends ONE row per group (the
sketch of just that batch); the read side unions per group, so writes
are O(batch) and reads merge a handful of KB-size binaries per group.

Reference parity note: the reference engine has no sketch tier; this
is a north-star extension (SURVEY.md §7 Phase 3) motivated by its
dataset-statistics surface (``collect_dataset_metadata``) — same
"statistics as data" idea, but mergeable and incrementally
maintainable.

Standard error is ~1.04/sqrt(2^lg_k): lg_k=12 → ~1.6%, lg_k=13 →
~1.15%. Estimates are deterministic for a given input multiset (the
sketch hash is fixed), so tests can assert tight tolerance bands.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from plateau_spark.core.caching import persist_shared

#: DataSketches default; ~1.15% standard error, 8 KB dense sketch.
DEFAULT_LG_K = 13

_META_KEY = "distinct_sketch"


def sketch_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One HLL sketch row per group: (group_cols..., sketch BINARY,
    n_rows BIGINT). Map-side partial sketches merge in the exchange —
    the shuffle payload per group is one 2^lg_k-register sketch per
    upstream task, never the values themselves. NULL values do not
    enter the sketch (matching COUNT(DISTINCT col) semantics)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch"),
        F.count(F.col(value_col)).alias("n_rows"),
    )


def estimate_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """Per-group distinct-count estimate: (group_cols..., ndv_estimate
    BIGINT). The direct (non-persisted) tier — one codegen aggregation,
    no raw-value shuffle."""
    sk = sketch_distinct(df, group_cols, value_col, lg_k=lg_k)
    return sk.select(
        *group_cols, F.hll_sketch_estimate("sketch").alias("ndv_estimate")
    )


def build_distinct_sketches(
    spark,
    store,
    dataset_uuid: str,
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lg_k: int = DEFAULT_LG_K,
    overwrite: bool = False,
):
    """Persist per-group HLL sketches of ``df[value_col]`` as a plateau
    dataset (one row per group: group_cols..., sketch, n_rows). The
    sketch parameters ride in user metadata so updates sketch new
    batches with the SAME lg_k (sketches with different lg_k still
    union — DataSketches downsamples — but keeping it fixed preserves
    the error bound)."""
    from plateau_spark.sources.dataset import store_dataframe_as_dataset

    sk = sketch_distinct(df, group_cols, value_col, lg_k=lg_k)
    return store_dataframe_as_dataset(
        spark,
        store,
        dataset_uuid,
        sk,
        overwrite=overwrite,
        metadata={
            _META_KEY: {
                "group_cols": list(group_cols),
                "value_col": value_col,
                "lg_k": int(lg_k),
            }
        },
    )


def update_distinct_sketches(
    spark,
    store,
    dataset_uuid: str,
    new_df: DataFrame,
):
    """Advance persisted sketches with a NEW batch of rows — O(batch)
    work: sketches only ``new_df`` and APPENDS one row per group
    touched (an ordinary atomic dataset append; no read-merge-rewrite
    of existing state, so concurrent readers never see a half-merged
    sketch). The read side (:func:`read_distinct_estimates`) unions all
    rows per group — HLL union is associative and commutative, so
    append order never matters.

    Append-only contract (same as update_text_index): re-submitting
    rows already sketched does not over-count the ESTIMATE (HLL is
    idempotent on duplicate values — the same value sets the same
    register) but does inflate the exact ``n_rows`` tally.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        _ensure_store,
        update_dataset_from_dataframe,
    )

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid).metadata[_META_KEY]
    sk = sketch_distinct(
        new_df, meta["group_cols"], meta["value_col"], lg_k=int(meta["lg_k"])
    )
    return update_dataset_from_dataframe(spark, st, dataset_uuid, sk)


def read_distinct_estimates(spark, store, dataset_uuid: str) -> DataFrame:
    """Union the persisted per-batch sketches and estimate:
    (group_cols..., ndv_estimate BIGINT, n_rows BIGINT). Reads KB-size
    binaries — never the source corpus. ``hll_union_agg`` tolerates
    mixed lg_k (downsampling to the smallest), so datasets written
    across a lg_k config change still read."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid).metadata[_META_KEY]
    group_cols = meta["group_cols"]
    sk = read_table(spark, st, dataset_uuid)
    merged = sk.groupBy(*group_cols).agg(
        F.hll_union_agg("sketch", F.lit(True)).alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate("sketch").alias("ndv_estimate"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram quantile statistics
#
# The quantile counterpart of the HLL tier above, with a stronger
# cross-engine property: the sketch is an equi-width bucket histogram —
# floor(value/width) — built from EXACT integer/IEEE operations, so the
# histogram AND the quantile estimates derived from it are
# bit-reproducible in any engine (unlike t-digest/KLL/GK summaries,
# whose estimates depend on implementation-private compaction). Merge =
# adding counts per (group, bucket): commutative, associative, O(range/
# width) state per group. Estimate error is bounded by ±width by
# construction. Spark's own percentile_approx is a GK summary — great
# for ad-hoc queries, but not persistable or engine-reproducible.


def histogram_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    width: float,
) -> DataFrame:
    """Equi-width histogram: (group_cols..., bucket BIGINT, cnt
    BIGINT) with ``bucket = floor(value / width)``. One map-side-
    combined keyed aggregation; NULL values are excluded (quantiles
    over a NULLs-excluded frame, matching SQL percentile functions)."""
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    bucket = F.floor(
        F.col(value_col).cast("double") / F.lit(float(width))
    ).cast("bigint")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _histogram_quantiles(
    hist: DataFrame,
    group_cols: Sequence[str],
    width: float,
    qs: Sequence[float],
) -> DataFrame:
    """(group_cols..., q, value_estimate): smallest bucket whose
    cumulative count reaches ceil(q·n), reported at its UPPER edge —
    the estimate is ≥ the true quantile and within one bucket width.
    The window runs over O(buckets) histogram rows, never the data."""
    if not qs or not all(0 < q <= 1 for q in qs):
        raise ValueError(f"qs must be fractions in (0, 1], got {qs}")
    gcols = list(group_cols)
    w_run = Window.partitionBy(*gcols).orderBy("bucket")
    w_all = Window.partitionBy(*gcols)
    cum = hist.withColumn("__cum", F.sum("cnt").over(w_run)).withColumn(
        "__n", F.sum("cnt").over(w_all)
    )
    # a group whose counts net to zero (e.g. fully deleted via the
    # change-feed refresh) has no distribution — without this filter
    # ceil(q·0)=0 is satisfied by cum=0 and every empty group would
    # emit a spurious row per quantile
    cum = cum.where(F.col("__n") > 0)
    exp = cum.select(
        *gcols,
        "bucket",
        "__cum",
        "__n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    hit = exp.where(F.col("__cum") >= F.ceil(F.col("q") * F.col("__n")))
    return hit.groupBy(*gcols, "q").agg(
        ((F.min("bucket") + 1) * F.lit(float(width))).alias("value_estimate")
    )


def estimate_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    width: float,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group quantile estimates from one histogram pass:
    (group_cols..., q, value_estimate), each estimate within ``width``
    above the true quantile. The direct (non-persisted) tier."""
    hist = histogram_sketch(df, group_cols, value_col, width=width)
    return _histogram_quantiles(hist, group_cols, width, qs)


_HIST_META_KEY = "histogram_sketch"


def build_histogram_stats(
    spark,
    store,
    dataset_uuid: str,
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    width: float,
    overwrite: bool = False,
):
    """Persist the per-group histogram as a plateau dataset (one row
    per (group, bucket)); width/columns ride in user metadata so
    updates bucket new batches identically."""
    from plateau_spark.sources.dataset import store_dataframe_as_dataset

    hist = histogram_sketch(df, group_cols, value_col, width=width)
    return store_dataframe_as_dataset(
        spark,
        store,
        dataset_uuid,
        hist,
        overwrite=overwrite,
        metadata={
            _HIST_META_KEY: {
                "group_cols": list(group_cols),
                "value_col": value_col,
                "width": float(width),
            }
        },
    )


def update_histogram_stats(spark, store, dataset_uuid: str, new_df: DataFrame):
    """Advance the persisted histogram with a new batch — O(batch)
    work, appended as new (group, bucket, cnt) rows (atomic commit, no
    read-merge-rewrite); the read side sums counts per bucket, so
    append order never matters. Unlike the HLL tier there is no
    idempotence caveat: counts are additive, so re-submitting rows
    double-counts — same contract as any COUNT."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        _ensure_store,
        update_dataset_from_dataframe,
    )

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid).metadata[_HIST_META_KEY]
    hist = histogram_sketch(
        new_df, meta["group_cols"], meta["value_col"], width=meta["width"]
    )
    return update_dataset_from_dataframe(spark, st, dataset_uuid, hist)


def read_quantile_estimates(
    spark,
    store,
    dataset_uuid: str,
    *,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Merge the persisted per-batch histograms (sum counts per
    (group, bucket)) and estimate quantiles — reads O(buckets) rows,
    never the source corpus. Merged estimates are IDENTICAL to a
    single-pass histogram over the full corpus (counts are exact)."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, dataset_uuid).metadata[_HIST_META_KEY]
    gcols = meta["group_cols"]
    merged = (
        read_table(spark, st, dataset_uuid)
        .groupBy(*gcols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _histogram_quantiles(merged, gcols, meta["width"], qs)


# ---------------------------------------------------------------------------
# Change-feed-driven statistics maintenance
#
# Ties the statistics tiers to the dataset layer's change-data feed
# (sources/dataset.py:read_dataset_changes): a refresh reads ONLY the
# partitions that changed since the last refresh — O(changed files),
# never the corpus — and is exact because the histogram monoid is
# SUBTRACTIVE (deletes append negated counts that net out on read).
# HLL is not subtractive, so its refresh falls back to a full rebuild
# whenever the diff contains deletes (the honest contract; insert-only
# appends stay incremental).


def refresh_histogram_statistics(
    spark,
    store,
    source_uuid: str,
    stats_uuid: str,
    group_cols: Sequence[str] | None = None,
    value_col: str | None = None,
    *,
    width: float | None = None,
):
    """Bring persisted histogram statistics of ``source_uuid`` up to
    its current generation. First call: full build (group_cols /
    value_col / width required), recording the source generation in
    the stats dataset's metadata. Later calls: diff the source's
    change feed since the recorded generation, append the inserts'
    bucket counts and the deletes' counts NEGATED — one atomic commit
    that also advances the recorded generation (override, not merge —
    merge drops conflicting leaves by the reference rule). The merged
    read then equals a from-scratch histogram of the source EXACTLY,
    including through deletes, upserts, and compactions (a compaction
    rewrites labels, so its rows appear as delete+insert pairs that
    net to zero).

    Returns the stats DatasetMetadata; a no-change refresh (source
    generation unchanged) commits nothing. If garbage collection has
    reclaimed the recorded generation's snapshot (the VACUUM contract
    — the change feed is no longer derivable), the refresh falls back
    to one atomic full rebuild instead of failing: always correct,
    just not incremental.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        _ensure_store,
        read_dataset_changes,
        read_table,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    st = _ensure_store(store)
    src_gen = DatasetMetadata.load(st, source_uuid).generation

    def _full(overwrite: bool, gc, vc, w):
        hist = histogram_sketch(
            read_table(spark, st, source_uuid), gc, vc, width=w
        )
        return store_dataframe_as_dataset(
            spark, st, stats_uuid, hist, overwrite=overwrite,
            metadata={
                _HIST_META_KEY: {
                    "group_cols": list(gc),
                    "value_col": vc,
                    "width": float(w),
                    "source_uuid": source_uuid,
                    "source_generation": int(src_gen),
                }
            },
        )

    if not DatasetMetadata.exists(st, stats_uuid):
        if group_cols is None or value_col is None or width is None:
            raise ValueError(
                "first refresh must pass group_cols, value_col and width"
            )
        return _full(False, group_cols, value_col, width)

    stats_meta = DatasetMetadata.load(st, stats_uuid)
    hmeta = dict(stats_meta.metadata[_HIST_META_KEY])
    if hmeta.get("source_uuid") not in (None, source_uuid):
        raise ValueError(
            f"stats dataset {stats_uuid!r} tracks "
            f"{hmeta['source_uuid']!r}, not {source_uuid!r}"
        )
    if "source_generation" not in hmeta:
        raise ValueError(
            f"stats dataset {stats_uuid!r} is not generation-tracked (it "
            f"was built via build_histogram_stats, the manual tier) — "
            f"advance it with update_histogram_stats, or rebuild it via "
            f"a fresh refresh_histogram_statistics under a new uuid"
        )
    last_gen = int(hmeta["source_generation"])
    if src_gen == last_gen:
        return stats_meta
    try:
        changes = read_dataset_changes(
            spark, st, source_uuid,
            from_generation=last_gen, to_generation=src_gen,
        )
    except KeyError:
        # GC reclaimed the recorded snapshot — incremental diff is
        # gone; rebuild from the current corpus in one overwrite commit
        return _full(
            True, hmeta["group_cols"], hmeta["value_col"], hmeta["width"]
        )
    gcols, vcol, width_ = hmeta["group_cols"], hmeta["value_col"], hmeta["width"]
    # ONE map-side-combined aggregation over the change feed instead of
    # two filtered histogram_sketch passes glued with a union (each
    # union leg re-derived the whole generation diff — two scans and
    # double the plan to analyze): group by (_change_type, group,
    # bucket) and negate the delete counts. Output rows are identical —
    # an (group, bucket) hit by both inserts and deletes still emits
    # two rows (the change type stays in the grouping), exactly like
    # the union did.
    bucket = F.floor(
        F.col(vcol).cast("double") / F.lit(float(width_))
    ).cast("bigint")
    delta = (
        changes.where(F.col("_change_type").isin("insert", "delete"))
        .where(F.col(vcol).isNotNull())
        .groupBy(
            F.col("_change_type").alias("__ct__"),
            *[F.col(c) for c in gcols],
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("__n__"))
        .select(
            *gcols,
            "bucket",
            F.when(F.col("__ct__") == "delete", -F.col("__n__"))
            .otherwise(F.col("__n__"))
            .alias("cnt"),
        )
    )
    hmeta["source_generation"] = int(src_gen)
    return update_dataset_from_dataframe(
        spark, st, stats_uuid, delta,
        override_metadata={_HIST_META_KEY: hmeta},
    )


def refresh_distinct_statistics(
    spark,
    store,
    source_uuid: str,
    stats_uuid: str,
    group_cols: Sequence[str] | None = None,
    value_col: str | None = None,
    *,
    lg_k: int = DEFAULT_LG_K,
):
    """HLL counterpart of :func:`refresh_histogram_statistics`.
    Insert-only diffs append incrementally (O(changed files)); a diff
    containing ANY delete triggers a full rebuild of the sketches —
    HLL registers are max-merged and cannot be subtracted (stated
    limitation of the sketch family, not of this implementation).
    The rebuild is one overwrite commit; readers see old or new stats
    atomically, never a mix."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        _ensure_store,
        read_dataset_changes,
        read_table,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    st = _ensure_store(store)
    src_gen = DatasetMetadata.load(st, source_uuid).generation

    def _full(overwrite: bool, gc, vc, k):
        sk = sketch_distinct(
            read_table(spark, st, source_uuid), gc, vc, lg_k=k
        )
        return store_dataframe_as_dataset(
            spark, st, stats_uuid, sk, overwrite=overwrite,
            metadata={
                _META_KEY: {
                    "group_cols": list(gc),
                    "value_col": vc,
                    "lg_k": int(k),
                    "source_uuid": source_uuid,
                    "source_generation": int(src_gen),
                }
            },
        )

    if not DatasetMetadata.exists(st, stats_uuid):
        if group_cols is None or value_col is None:
            raise ValueError("first refresh must pass group_cols and value_col")
        return _full(False, group_cols, value_col, lg_k)

    stats_meta = DatasetMetadata.load(st, stats_uuid)
    smeta = dict(stats_meta.metadata[_META_KEY])
    if smeta.get("source_uuid") not in (None, source_uuid):
        raise ValueError(
            f"stats dataset {stats_uuid!r} tracks "
            f"{smeta['source_uuid']!r}, not {source_uuid!r}"
        )
    if "source_generation" not in smeta:
        raise ValueError(
            f"stats dataset {stats_uuid!r} is not generation-tracked (it "
            f"was built via build_distinct_sketches, the manual tier) — "
            f"advance it with update_distinct_sketches, or rebuild it via "
            f"a fresh refresh_distinct_statistics under a new uuid"
        )
    last_gen = int(smeta["source_generation"])
    if src_gen == last_gen:
        return stats_meta
    gcols, vcol, k = smeta["group_cols"], smeta["value_col"], int(smeta["lg_k"])
    try:
        changes = read_dataset_changes(
            spark, st, source_uuid,
            from_generation=last_gen, to_generation=src_gen,
        )
    except KeyError:
        # GC reclaimed the recorded snapshot — rebuild (same fallback
        # as refresh_histogram_statistics)
        return _full(True, gcols, vcol, k)
    if not changes.where(F.col("_change_type") == "delete").isEmpty():
        return _full(True, gcols, vcol, k)
    smeta["source_generation"] = int(src_gen)
    return update_dataset_from_dataframe(
        spark, st, stats_uuid,
        sketch_distinct(
            changes.where(F.col("_change_type") == "insert"), gcols, vcol,
            lg_k=k,
        ),
        override_metadata={_META_KEY: smeta},
    )


def calibrate_from_histogram(
    df: DataFrame,
    spark,
    store,
    stats_uuid: str,
    *,
    out_col: str = "pct_rank_est",
) -> DataFrame:
    """Serve percentile-rank calibration FROM the persisted histogram
    statistics instead of recomputing the corpus CDF per scoring run —
    the production twin of ``sampling.calibrate_percent_rank``: that
    operator is exact but re-aggregates the corpus every call; this one
    joins incoming rows against the maintained histogram (kept current
    by :func:`update_histogram_stats` / :func:`refresh_histogram_
    statistics`), so calibrating a batch costs one broadcast-size join
    against O(buckets) rows — nothing corpus-shaped.

    The estimate is the fraction of sketched rows in strictly LOWER
    buckets: ``cum_below / n`` — deterministic integer arithmetic, so
    the result is engine-reproducible; the approximation error is
    bounded by the row's own bucket mass (≤ width resolution). Rows in
    buckets the histogram has never seen (values newer than the last
    refresh) and NULL scores get a NULL estimate — surfacing staleness
    beats silently extrapolating.
    """
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    meta = DatasetMetadata.load(st, stats_uuid).metadata[_HIST_META_KEY]
    gcols, vcol, width = meta["group_cols"], meta["value_col"], meta["width"]
    merged = (
        read_table(spark, st, stats_uuid)
        .groupBy(*gcols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("cnt") > 0)
    )
    w_run = Window.partitionBy(*gcols).orderBy("bucket")
    w_all = Window.partitionBy(*gcols)
    cdf = (
        merged.withColumn("__below", F.sum("cnt").over(w_run) - F.col("cnt"))
        .withColumn("__n", F.sum("cnt").over(w_all))
        .select(
            *gcols,
            "bucket",
            (F.col("__below").cast("double") / F.col("__n")).alias(out_col),
        )
    )
    bucket = F.floor(
        F.col(vcol).cast("double") / F.lit(float(width))
    ).cast("bigint")
    return df.withColumn("__bucket__", bucket).join(
        F.broadcast(cdf.withColumnRenamed("bucket", "__bucket__")),
        on=[*gcols, "__bucket__"],
        how="left",
    ).drop("__bucket__")


def consolidate_statistics(spark, store, stats_uuid: str):
    """Collapse a statistics dataset's accumulated per-batch rows into
    ONE row per group(/bucket) — the row-level counterpart of
    ``compact_dataset`` (which collapses files but not rows). After
    thousands of refreshes/monitor batches the read-side merge scans
    batches × groups rows; consolidation resets that to the group
    count in one atomic overwrite commit that carries the statistics
    metadata forward unchanged. Correct for both tiers because both
    merges are associative: histogram counts re-SUM (negated delete
    rows net out and vanish), HLL sketches re-UNION (register-
    identical). Zero-netted histogram buckets are dropped.

    Same swap mechanics as ``compact_dataset``: the merged rows land
    in NEW staged files while the old files stay untouched (the read
    plan reads them during the write job — an in-place overwrite would
    pull files out from under its own scan), then ONE atomic commit
    replaces every old partition; a concurrent refresh racing the swap
    surfaces as a commit conflict to retry, never silent loss. Old
    files are reclaimed by the next ``garbage_collect_dataset``."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        _commit_base_snapshot,
        _commit_files,
        _drop_sidecar_keys,
        _ensure_store,
        _write_files,
        read_table,
    )

    st = _ensure_store(store)
    meta_obj = DatasetMetadata.load(st, stats_uuid)
    meta = meta_obj.metadata
    rows = read_table(spark, st, stats_uuid)
    if _HIST_META_KEY in meta:
        gcols = meta[_HIST_META_KEY]["group_cols"]
        merged = (
            rows.groupBy(*gcols, "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") != 0)
        )
    elif _META_KEY in meta:
        gcols = meta[_META_KEY]["group_cols"]
        merged = rows.groupBy(*gcols).agg(
            F.hll_union_agg("sketch", F.lit(True)).alias("sketch"),
            F.sum("n_rows").alias("n_rows"),
        )
    else:
        raise ValueError(
            f"dataset {stats_uuid!r} carries neither histogram nor "
            f"distinct-sketch statistics metadata"
        )
    base = _commit_base_snapshot(meta_obj)
    partitions = _write_files(merged, st, stats_uuid, [])
    removed = sorted(meta_obj.partitions)
    meta_obj.partition_keys = []
    _drop_sidecar_keys(meta_obj)
    return _commit_files(spark, st, meta_obj, base, partitions, removed=removed)


def population_stability(
    current: DataFrame,
    reference: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    width: float,
    epsilon: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Population Stability Index per group between two frames' value
    distributions — the standard drift gate before training on a new
    crawl snapshot (rule of thumb: <0.1 stable, 0.1–0.25 moderate
    shift, >0.25 investigate). Both sides reduce to equi-width
    histograms (one keyed agg each — never a row-level comparison), a
    full outer join aligns buckets, and
    ``PSI = Σ (p−q)·ln(p/q)`` over bucket shares with ``epsilon``
    floor-smoothing for buckets present on one side only (PSI is
    undefined at zero mass; the floor is the standard correction and
    keeps the result finite and deterministic).

    Output: (group_cols..., psi DOUBLE, n_current BIGINT,
    n_reference BIGINT). Groups present on only one side are dropped
    (no distribution to compare — surface them via ``n_*`` joins
    upstream if needed). All arithmetic is engine-reproducible; psi
    rounds to ``round_digits`` at the output surface.
    """
    gcols = list(group_cols)
    # each histogram feeds the PSI join AND its side's total — without
    # the caches each consumer re-ran the full side scan (4 scans in
    # the executed plan; persist(), not localCheckpoint — see
    # winnow_overlap_pairs). Bucket-scale frames; one scan per side is
    # the floor.
    hc = persist_shared(histogram_sketch(current, gcols, value_col, width=width))
    hr = persist_shared(histogram_sketch(reference, gcols, value_col, width=width))
    nc = hc.groupBy(*gcols).agg(F.sum("cnt").alias("__nc"))
    nr = hr.groupBy(*gcols).agg(F.sum("cnt").alias("__nr"))
    joined = (
        hc.withColumnRenamed("cnt", "__ca")
        .join(
            hr.withColumnRenamed("cnt", "__cb"),
            on=[*gcols, "bucket"],
            how="full_outer",
        )
        .join(nc, gcols)
        .join(nr, gcols)
    )
    p = F.greatest(
        F.coalesce(F.col("__ca"), F.lit(0)).cast("double") / F.col("__nc"),
        F.lit(float(epsilon)),
    )
    q = F.greatest(
        F.coalesce(F.col("__cb"), F.lit(0)).cast("double") / F.col("__nr"),
        F.lit(float(epsilon)),
    )
    term = (p - q) * F.log(p / q)
    return (
        joined.groupBy(*gcols)
        .agg(
            F.round(F.sum(term), round_digits).alias("psi"),
            F.first("__nc").alias("n_current"),
            F.first("__nr").alias("n_reference"),
        )
    )


def population_stability_from_stats(
    spark,
    store,
    current_uuid: str,
    reference_uuid: str,
    *,
    epsilon: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """PSI between two PERSISTED histogram statistics datasets (e.g.
    the maintained stats of two crawl snapshots) — zero corpus reads:
    the comparison touches only O(buckets) count rows per side. Both
    sides must share group_cols, value_col and width (checked)."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    ma = DatasetMetadata.load(st, current_uuid).metadata[_HIST_META_KEY]
    mb = DatasetMetadata.load(st, reference_uuid).metadata[_HIST_META_KEY]
    for key in ("group_cols", "value_col", "width"):
        if ma[key] != mb[key]:
            raise ValueError(
                f"statistics are not comparable: {key} differs "
                f"({ma[key]!r} vs {mb[key]!r})"
            )
    gcols = ma["group_cols"]

    def _merged(uuid):
        return (
            read_table(spark, st, uuid)
            .groupBy(*gcols, "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0)
        )

    hc, hr = _merged(current_uuid), _merged(reference_uuid)
    nc = hc.groupBy(*gcols).agg(F.sum("cnt").alias("__nc"))
    nr = hr.groupBy(*gcols).agg(F.sum("cnt").alias("__nr"))
    joined = (
        hc.withColumnRenamed("cnt", "__ca")
        .join(
            hr.withColumnRenamed("cnt", "__cb"),
            on=[*gcols, "bucket"],
            how="full_outer",
        )
        .join(nc, gcols)
        .join(nr, gcols)
    )
    p = F.greatest(
        F.coalesce(F.col("__ca"), F.lit(0)).cast("double") / F.col("__nc"),
        F.lit(float(epsilon)),
    )
    q = F.greatest(
        F.coalesce(F.col("__cb"), F.lit(0)).cast("double") / F.col("__nr"),
        F.lit(float(epsilon)),
    )
    term = (p - q) * F.log(p / q)
    return joined.groupBy(*gcols).agg(
        F.round(F.sum(term), round_digits).alias("psi"),
        F.first("__nc").alias("n_current"),
        F.first("__nr").alias("n_reference"),
    )


def anomaly_zscore(
    counts: DataFrame,
    group_cols: Sequence[str],
    time_col: str,
    value_col: str,
    *,
    baseline: int = 12,
    min_baseline: int = 4,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Trailing-baseline z-score anomaly detection over a windowed
    metric series (the scoring stage of a streaming monitor: the
    stateful windowed aggregate produces ``counts``, this flags the
    windows that deviate from their own recent history).

    Per group, each row's value ``x`` is compared against the previous
    ``baseline`` rows (ordered by ``time_col``): with frame stats
    ``k`` (rows), ``S = Σxᵢ``, ``Q = Σxᵢ²``, the population z-score is

        z = (k·x − S) / sqrt(k·Q − S²)

    and the anomaly gate is evaluated in INTEGER arithmetic —
    ``(k·x − S)² > T²·(k·Q − S²)`` — so the flag is exact (no float
    accumulation order anywhere; the float ``z`` itself is a single
    division+sqrt over exact integers, bit-reproducible cross-engine).
    Rows with fewer than ``min_baseline`` history rows or zero variance
    emit NULL ``zscore`` and a NULL flag (unknown, not false).

    One window shuffle on the group keys — the same partitioning the
    upstream windowed aggregate already produced; at scale the series
    table is tiny relative to the event stream (one row per
    group × window), so this is a metadata-scale analytic.

    ``z_threshold`` must be integer-valued (the exactness contract);
    values are compared two-sided.
    """
    t2 = int(round(z_threshold * z_threshold))
    if abs(z_threshold * z_threshold - t2) > 1e-12:
        raise ValueError(
            "z_threshold² must be integer-valued for the exact gate "
            f"(got z_threshold={z_threshold!r})"
        )
    if baseline < min_baseline:
        raise ValueError("baseline must be >= min_baseline")
    w = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy(F.col(time_col))
        .rowsBetween(-baseline, -1)
    )
    x = F.col(value_col).cast("bigint")
    k = F.count(x).over(w)
    s = F.sum(x).over(w)
    q = F.sum(x * x).over(w)
    dev = k * x - s  # k·x − S
    var_k = k * q - s * s  # k²·σ² ≥ 0
    usable = (k >= int(min_baseline)) & (var_k > 0)
    zscore = F.when(
        usable,
        dev.cast("double") / F.sqrt(var_k.cast("double")),
    )
    flag = F.when(usable, (dev * dev) > (F.lit(t2) * var_k))
    return counts.select(
        *group_cols,
        time_col,
        value_col,
        k.alias("n_baseline"),
        F.coalesce(s, F.lit(0).cast("bigint")).alias("baseline_sum"),
        zscore.alias("zscore"),
        flag.alias("is_anomaly"),
    )
