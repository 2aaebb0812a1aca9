"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The printed line keeps ``queries`` to the slowest 40 so it fits the
driver's bounded tail capture (the full 130+-query dict overflowed it
every round — BENCH_r10.json "parsed": null); the COMPLETE per-query
record (all timings + errors + config) is simultaneously written to
``BENCH_LOCAL.json`` next to this script, which is the authoritative
artifact for round-over-round comparison.

Each query is collected to exhaustion (count of materialized rows) so
the measured time includes the full scan/shuffle/write work, not just
plan construction.

Self-adjudicating metadata (round 12): every line runs
``$SPARK_GRAFT_BENCH_REPS`` times (default 2) and reports the MIN (rep 1
absorbs residual warm-up); the artifact records ``reps``, ``agg`` and the
machine ``loadavg_start``/``loadavg_end`` so a number taken on a loaded
box is self-identifying (the r11 driver artifact's uniform 1.45× drift
cost a judge adjudication cycle to prove it was machine load).
All per-rep samples land in ``BENCH_LOCAL.json`` (``queries_all_reps``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plateau_spark.entry_queries import (  # noqa: E402
    QUERIES,
    minhash_pairs,
    simhash_fingerprints,
    streaming_ingest_neardup_siphash,
)
from plateau_spark.session import get_spark  # noqa: E402

# Bench-only queries: the xxhash64/siphash production-hash spellings
# are not DuckDB-replayable so they live outside the verified registry
# (their md5 twins are the value-checked tier), but the production hash
# family is what runs at scale — keep its perf measured.
BENCH_ONLY = {
    "minhash_pairs": minhash_pairs,
    "simhash_fingerprints": simhash_fingerprints,
    "streaming_ingest_neardup_siphash": streaming_ingest_neardup_siphash,
}

# Headline set: the scan/join/agg relational core, the dataset write+
# pruned-read lifecycle, and one of each north-star family. Kept to the
# queries whose runtime is dominated by engine work (not tiny fixtures).
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "window_top_order_per_customer",
    "dataset_pruned_read",
    "dataset_index_read",
    "dataset_bucketed_write",
    "agg_to_lists",
    "dedup_keep_last",
    "text_stats",
    "text_quality",
    "ngram_jaccard",
    "ngram_jaccard_capped",
    "minhash_pairs",
    "simhash_fingerprints",
    "embedding_dup_pairs",
    "embedding_dup_pairs_lsh",
    "sample_split_assign",
    "pipeline_training_data",
    "cosine_topk",
    "streaming_windowed_counts",
    "streaming_sessionize",
    "text_repetition",
    "text_pii_scrub",
    "decontaminate_ngrams",
    "decontaminate_semantic",
    "asof_join_events",
    "range_join_windows",
    "sample_temperature",
    "text_chunks",
    "dedup_corpus_docs",
    "dataset_compact_read",
    "streaming_ingest_dataset",
    "dataset_zonemap_read",
    "dsir_select",
    "ccnet_buckets",
    "multimodal_dhash_pairs",
    "multimodal_audio_features",
    "sample_cluster_balanced",
    "streaming_ingest_dedup",
    "dataset_schema_evolution",
    "pack_sequences",
    "cosine_topk_ivf_persisted",
    "dedup_paragraphs_docs",
    # dataset-layer queries previously bench-uncovered (VERDICT r5 #8)
    "dataset_msgpack_read",
    "dataset_factory_read",
    "dataset_dispatch_groups",
    # new in round 6 (dedup_cluster_keep is bench-excluded: its exact
    # quadratic pair source is already the ngram_jaccard line)
    "semdedup_keep",
    "decontaminate_bloom",
    "text_quality_classifier",
    "decontaminate_substring",
    "decontaminate_fuzzy",
    "sample_shuffle_epoch",
    "embedding_kmeans",
    "bitext_mine_pairs",
    "text_winnow_fingerprints",
    "winnow_overlap_pairs",
    "embedding_quantize",
    "streaming_interval_join",
    "multimodal_resize",
    # second batch of round-6 additions
    "sample_stratified",
    "quality_tier_split",
    "text_lm_score",
    "dataset_zorder_read",
    "dataset_json_roundtrip",
    "dataset_orc_roundtrip",
    "dataset_delete_rows",
    "dataset_upsert_read",
    "dataset_time_travel_read",
    "text_lm2_score",
    "dataset_mixture_read",
    "sample_score_weighted",
    "dataset_python_source_read",
    "text_c4_clean",
    "sample_mixture",
    "dataset_bloom_read",
    "streaming_route_datasets",
    "embedding_outliers",
    "text_gopher_rules",
    "dedup_duplicate_spans",
    "export_jsonl_manifest",
    "embedding_random_projection",
    "dedup_span_stats",
    "pipeline_pack_export",
    "pack_sequence_boundaries",
    "text_script_profile",
    "dedup_span_novelty",
    "streaming_distinct_users",
    "sample_weighted_quota",
    "dataset_restore_read",
    "dataset_history_read",
    "multimodal_audio_dup_pairs",
    # new in round 9
    "text_bm25_topk",
    "text_bm25_indexed",
    "hybrid_search_rrf",
    "retrieval_hard_negatives",
    "web_html_extract",
    "dataset_changes_read",
    "embedding_pca",
    "streaming_ingest_neardup",
    "sketch_distinct_users",
    "sketch_incremental_lifecycle",
    "score_calibrate_pct",
    "histogram_quantiles",
    "streaming_histogram_monitor",
    "text_compression_signal",
    "dataset_stats_refresh",
    "events_skew_profile",
    "streaming_distinct_monitor",
    "score_calibrate_from_stats",
    "streaming_topk_monitor",
    "dataset_join_broadcast",
    "text_normalize_nfc",
    "embedding_pq_topk",
    "embedding_pq_persisted",
    "embedding_ivfpq_query",
    "histogram_drift_psi",
    "streaming_sliding_counts",
    "entity_match_pairs",
    "entity_resolution",
    "join_skew_salted",
    "streaming_anomaly_zscore",
    "dataset_merge_into",
    "web_domain_pagerank",
    "text_bpe_merge_pairs",
    "text_lm_served_score",
    "events_funnel_steps",
    "dataset_repartition_read",
    "text_vocab_coverage",
    "dataset_asof_read",
    "sample_mixture_plan",
    "dedup_lsh_quality",
    "text_blocked_words",
    "events_retention_cohorts",
    # new in round 11
    "events_retention_monthly",
    # new in round 13: the production bitext search tier (IVF cell
    # probing) gets its own perf evidence next to the brute-force line
    # (plan shape asserted in test_plan_quality.py:
    # test_bitext_ivf_search_tier_probes_cells_not_corpus)
    "bitext_mine_pairs_ivf",
    # new in round 15: the near-dup sink's production banding tier —
    # the md5 line's residual cost is banding; this measures the
    # siphash ratio in a committed artifact (r14 verdict task 3)
    "streaming_ingest_neardup_siphash",
]


REFERENCE_DEPTH = 20


def _git(repo_dir: str, *args: str) -> str | None:
    """stdout of ``git args`` in ``repo_dir``, or None on any failure."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", *args], capture_output=True, text=True,
            cwd=repo_dir, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout if out.returncode == 0 else None


def newest_record(repo_dir: str) -> dict:
    """The committed ``BENCH_LOCAL.json`` at HEAD whatever its
    quiet/cpus (the on-disk copy without git history), or {}."""
    try:
        show = _git(repo_dir, "show", "HEAD:BENCH_LOCAL.json")
        if show and show.strip():
            return json.loads(show)
        with open(os.path.join(repo_dir, "BENCH_LOCAL.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def reference_record(repo_dir: str, cpus) -> "tuple[str, dict] | None":
    """``(commit, record)`` of the newest committed ``BENCH_LOCAL.json``
    among the last ``REFERENCE_DEPTH`` commits touching it that was
    taken on a quiet box (``quiet: true``) with the same ``cpus`` as
    this run, or None when there is none (or no git history)."""
    log = _git(
        repo_dir, "log", "-n", str(REFERENCE_DEPTH), "--format=%H", "--",
        "BENCH_LOCAL.json",
    )
    for commit in (log or "").split():
        try:
            record = json.loads(_git(repo_dir, "show", f"{commit}:BENCH_LOCAL.json") or "")
        except ValueError:
            continue
        if record.get("quiet") is True and str(record.get("cpus")) == str(cpus):
            return commit, record
    return None


def error_line_flags(times: dict, prev: dict) -> dict[str, dict]:
    """Lines that now fail (an ``{"err": ...}`` entry) but had a time in
    ``prev``: flagged whatever the load or the reference, since an error
    is code, not machine load."""
    return {
        k: {"prev": prev[k], "now": "error", "ratio": None}
        for k, v in times.items()
        if isinstance(v, dict) and isinstance(prev.get(k), (int, float))
    }


def phase_benchmarks(spark, sf_dir: str) -> dict[str, float]:
    """Attributed timings for composite fixtures (SPARK_GRAFT_PHASES=1):

    - ``compact_*``: the dataset_compact_read lifecycle split into
      store / appends / compact / read so a compaction regression is
      visible on its own line (VERDICT r5 #7).
    - ``commitscale_*``: driver-plane cost of a 1000-partition commit
      with 3 zone-map columns — metadata document size (KB), commit
      write, load+parse, and pruned plan_scan time, with NO Spark jobs
      (VERDICT r5 #6). Evidence level: 0.34 MB / ~6 ms parse at 10^3
      partitions (≈3.4 MB at 10^4) — far from the ~10 MB sidecar line.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from plateau_spark.core.metadata import DatasetMetadata, Partition
    from plateau_spark.core.store import Store
    from plateau_spark.plans.pruning import plan_scan
    from plateau_spark.sources.dataset import (
        compact_dataset,
        read_dataset_as_dataframe,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    out: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="bench_phases_")
    try:
        store = Store(os.path.join(tmp, "store"))
        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "lang", "source", "n_chars")
        )
        t0 = time.time()
        store_dataframe_as_dataset(
            spark, store, "docs", docs.where(F.col("doc_id") % 3 == 0),
            partition_on=["lang"], secondary_indices=["source"],
        )
        out["compact_store"] = round(time.time() - t0, 3)
        t0 = time.time()
        for m in (1, 2):
            update_dataset_from_dataframe(
                spark, store, "docs", docs.where(F.col("doc_id") % 3 == m),
                partition_on=["lang"],
            )
        out["compact_appends"] = round(time.time() - t0, 3)
        t0 = time.time()
        compact_dataset(spark, store, "docs")
        out["compact_compact"] = round(time.time() - t0, 3)
        t0 = time.time()
        read_dataset_as_dataframe(
            spark, store, "docs", predicates=[[("source", "==", "src7")]]
        ).count()
        out["compact_read"] = round(time.time() - t0, 3)

        # driver-plane commit scaling: synthetic 1000-partition metadata
        sstore = Store(os.path.join(tmp, "scale"))
        import datetime as _dt

        schema = spark.range(1).select(
            F.col("id").alias("g"),
            F.col("id").alias("x"),
            F.col("id").cast("double").alias("y"),
            F.current_date().alias("d"),
        ).schema
        parts = {}
        for i in range(1000):
            label = f"g={i}/p{i:05d}.parquet"
            parts[label] = Partition(
                label=label,
                file=f"scaleds/table/{label}",
                key_values={"g": i},
                stats={
                    "x": [i * 50, i * 50 + 49, 0],
                    "y": [float(i), float(i) + 0.5, 0],
                    "d": [_dt.date(2020, 1, 1), _dt.date(2029, 12, 31), 0],
                },
            )
        meta = DatasetMetadata(
            uuid="scaleds", partitions=parts, partition_keys=["g"], schema=schema
        )
        t0 = time.time()
        meta.commit(sstore)
        out["commitscale_commit"] = round(time.time() - t0, 3)
        out["commitscale_doc_kb"] = round(
            os.path.getsize(sstore.path("scaleds.by-dataset-metadata.json")) / 1024, 1
        )
        t0 = time.time()
        revived = DatasetMetadata.load(sstore, "scaleds")
        out["commitscale_load"] = round(time.time() - t0, 3)
        t0 = time.time()
        surviving = plan_scan(
            revived, sstore, [[("g", "==", 137), ("x", ">", 100)]], index_loader=None
        )
        out["commitscale_plan"] = round(time.time() - t0, 3)
        assert len(surviving) == 1, len(surviving)
        surviving = plan_scan(revived, sstore, [[("x", "<", 500)]], index_loader=None)
        assert len(surviving) == 10, len(surviving)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("plateau-spark-bench")
    # warm-up actions so JVM/codegen and Python-worker-pool startup
    # (fixed session costs, not query work) aren't billed to the first query
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s.str.len(), "long")
    spark.range(256, numPartitions=32).selectExpr("cast(id as string) s").select(
        _warm(col("s"))
    ).count()

    # mapInPandas + numpy warm-up: the Arrow-kernel queries (bitext,
    # resize, k-means) otherwise pay every Python worker's numpy import
    # + Arrow stream setup on whichever of them the bench order hits
    # first — measured ~2-4s of cold cost attributed to one arbitrary
    # line (round-9 quiet-machine decomposition in BENCH_NOTES.md)
    def _np_warm(batches):
        import numpy as np

        for pdf in batches:
            pdf["id"] = np.asarray(pdf["id"]) * 1
            yield pdf

    spark.range(256, numPartitions=32).mapInPandas(_np_warm, "id long").count()

    # Python DataSource warm-up: format("plateau") runs in its own
    # worker kind (plan/read datasource workers), which neither UDF
    # warm-up touches — cold-measured 6.8s vs 1.4s warm on the
    # dataset_python_source_read line
    try:
        import tempfile

        from plateau_spark.core.store import Store
        from plateau_spark.sources.dataset import store_dataframe_as_dataset
        from plateau_spark.sources.datasource import register_plateau_datasource

        register_plateau_datasource(spark)
        _wd = tempfile.mkdtemp(prefix="bench-warm-")
        store_dataframe_as_dataset(
            spark, Store(_wd), "warm", spark.range(8).withColumnRenamed("id", "k")
        )
        spark.read.format("plateau").option("store", _wd).option(
            "dataset", "warm"
        ).load().count()
    except Exception as exc:  # noqa: BLE001 — warm-up must never kill the bench
        print(f"# datasource warm-up skipped ({exc})", file=sys.stderr)

    # One broken query must never null the whole bench (rounds 3 and 4
    # produced zero perf signal because a streaming crash aborted the
    # loop): every query runs inside try/except, errors are recorded
    # per-query, and the JSON summary line is ALWAYS emitted.
    #
    # Self-adjudication (round 12): the artifact records the machine
    # loadavg before and after the run plus the rep policy, so a
    # drifted number on a loaded driver box is self-identifying instead
    # of costing a judge adjudication cycle. Each line runs REPS times
    # (default 2) and reports the MIN — rep 1 absorbs residual
    # compile/session warm-up, rep 2 is the machine-capability number.
    try:
        reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    except ValueError:
        reps = 2
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = None
    # SPARK_GRAFT_BENCH_FILTER="a,b,c": run only those lines, with the
    # exact session/warm-up/rep conditions of a full run — the judge's
    # flagged-line adjudication recipe as a first-class mode. Filtered
    # runs never write BENCH_LOCAL.json (a partial record must not
    # become the regression baseline) and stamp "filtered" into stdout.
    only = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_BENCH_FILTER", "").split(",")
        if s.strip()
    }
    bench_names = [n for n in BENCH_QUERIES if not only or n in only]
    unknown = only - set(BENCH_QUERIES)
    if unknown:
        print(
            f"# WARNING: filter names not in the benchmark (typo?): "
            f"{sorted(unknown)}",
            file=sys.stderr,
        )
    times: dict[str, object] = {}
    times_all: dict[str, list] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name in bench_names:
        samples = []
        n = None
        for _ in range(reps):
            t0 = time.time()
            try:
                fn = QUERIES.get(name) or BENCH_ONLY[name]
                n = fn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001 — bench must survive anything
                msg = f"{type(exc).__name__}: {exc}"
                errors[name] = msg[:500]
                print(
                    f"# {name}: FAILED ({msg.splitlines()[0][:160]})", file=sys.stderr
                )
                # a flaky LATER rep must not discard a valid earlier
                # sample — record what succeeded alongside the error
                break
            samples.append(round(time.time() - t0, 3))
        if not samples:
            times[name] = {"err": errors.get(name, "no sample")[:200]}
            continue
        dt = min(samples)
        times[name] = dt
        times_all[name] = samples
        total += dt
        reps_str = "/".join(f"{s:.3f}" for s in samples)
        print(f"# {name}: {dt:.3f}s min of [{reps_str}] ({n} rows)", file=sys.stderr)

    try:
        load_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_end = None
    summary = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        "agg": "min",
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # scaling legibility (r15 PERF's suspect_cpus_ignored was a
        # false positive): stamp the core count the session was ASKED
        # for and the parallelism it actually RUNS with, so the driver
        # can see $SPARK_GRAFT_CPUS reached the Spark master without
        # reverse-engineering it from ratios. Additive keys only — the
        # one-line JSON contract (metric/value/unit/queries/sf) is
        # unchanged.
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        # the cores the OS reports: shows an unset $SPARK_GRAFT_CPUS
        # that the "32" fallback above would otherwise hide
        "cpu_count": os.cpu_count(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    if errors:
        summary["errors"] = errors
    if only:
        summary["filtered"] = sorted(only)

    if os.environ.get("SPARK_GRAFT_PHASES"):
        try:
            phases = phase_benchmarks(spark, sf_dir)
            print(f"# phases: {json.dumps(phases)}", file=sys.stderr)
            summary["phases"] = phases
        except Exception as exc:  # noqa: BLE001
            print(f"# phases: FAILED ({exc})", file=sys.stderr)

    # Per-LINE regression check against the committed artifact (round
    # 13): a single-line code regression hides inside a normal-looking
    # total — r12 shipped a 2.7× bitext regression whose driver signal
    # was written off as machine load. Machine load moves every line
    # roughly uniformly; a code regression moves one. So: if the
    # run-median drift vs the reference record (the newest committed
    # quiet BENCH_LOCAL.json with the same cpus) is <1.3× (quiet-ish
    # run), flag any line whose min-of-reps exceeds 1.5× its reference
    # value (and by >0.3s absolute, to skip sub-second noise).
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    # A run on a loaded box produces phantom per-line flags (r11: 1.45x
    # median drift; r13: 17 false flags at loadavg 6.2 that cost a judge
    # adjudication cycle). Stamp quietness and suppress per-line flags on
    # loaded runs — error-line flags stay unconditional (errors are code).
    # unknown loadavg (platform without getloadavg) counts as quiet:
    # suppressing flags forever on such boxes would be strictly worse
    # than the pre-gate behavior. The threshold scales with the core
    # count (a quarter of the cores, never below the former fixed 2.0),
    # so a 32-core box idling at loadavg 3 still gets per-line flags.
    quiet = load_start is None or load_start[0] < max(2.0, 0.25 * (os.cpu_count() or 1))
    summary["quiet"] = quiet
    outliers: dict[str, dict] = {}
    # Compare against a COMMITTED quiet record taken with the same core
    # count, never the on-disk file this run is about to overwrite
    # (successive runs would rebaseline against each other and a gradual
    # regression would ratchet in unflagged), nor a loaded run (its
    # inflated times would hide real regressions). Without one there are
    # no per-line ratio flags; error-line flags need no reference.
    here = os.path.dirname(local_path)
    found = reference_record(here, summary["cpus"])
    summary["reference_commit"] = found[0] if found else None
    if found is None:
        print(
            f"# no quiet BENCH_LOCAL.json with cpus={summary['cpus']} committed "
            f"in the last {REFERENCE_DEPTH} commits touching it — per-line "
            "ratio flags skipped",
            file=sys.stderr,
        )
    try:
        # a line that regressed all the way to FAILURE is the worst
        # regression of all — flag it against the newest committed
        # record, loaded or not (no reference or median-drift gate)
        latest = newest_record(here).get("queries", {})
        for k, o in error_line_flags(times, latest).items():
            outliers[k] = o
            print(
                f"# REGRESSION? {k}: {o['prev']}s -> ERROR "
                f"({str(times[k].get('err'))[:120]})",
                file=sys.stderr,
            )
        prev = found[1].get("queries", {}) if found else {}
        ratios = {
            k: times[k] / prev[k]
            for k in times
            if isinstance(times.get(k), float)
            and isinstance(prev.get(k), (int, float))
            and prev[k] >= 0.2
        }
        if ratios:
            import statistics

            med = statistics.median(ratios.values())
            summary["median_drift_vs_committed"] = round(med, 3)
            if not quiet:
                print(
                    f"# loaded box (loadavg_start {load_start}) — per-line "
                    f"REGRESSION? flags suppressed; rerun on a quiet box",
                    file=sys.stderr,
                )
            # the median-drift gate needs a population of untouched
            # lines; a filtered (adjudication) run doesn't have one —
            # flag on per-line ratio alone there, the judge reads the
            # min-of-reps against the committed value directly
            if quiet and (med < 1.3 or only):
                slow = {
                    k: {"prev": prev[k], "now": times[k], "ratio": round(r, 2)}
                    for k, r in ratios.items()
                    if r > 1.5 and times[k] - prev[k] > 0.3
                }
                for k, o in sorted(slow.items(), key=lambda kv: -kv[1]["ratio"]):
                    print(
                        f"# REGRESSION? {k}: {o['prev']}s -> {o['now']}s "
                        f"({o['ratio']}x vs committed; run-median drift {med:.2f}x)",
                        file=sys.stderr,
                    )
                outliers.update(slow)
    except (OSError, ValueError, KeyError):
        pass
    if outliers:
        summary["line_regressions_vs_committed"] = outliers

    # the complete machine-readable record — every query, not a tail
    local = dict(summary)
    local["queries_all_reps"] = times_all
    local["n_queries"] = len(times)
    local["sf_dir"] = sf_dir
    # Stamp which code this run measured: the committed artifact is only
    # valid for the LAST commit touching plateau_spark/ — a quiet number
    # taken five commits early misled the r12 close-out.
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=here, timeout=10,
        )
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "plateau_spark", "bench.py"],
            capture_output=True, text=True, cwd=here, timeout=10,
        )
        # absent keys (not empty/False ones) signal a failed stamp —
        # e.g. a non-git export of the tree
        if head.returncode == 0 and head.stdout.strip():
            local["git_head"] = head.stdout.strip()
        if dirty.returncode == 0:
            local["git_dirty"] = bool(dirty.stdout.strip())
    except Exception:  # noqa: BLE001 — stamping must never kill the bench
        pass
    if only:
        print(
            "# filtered run: BENCH_LOCAL.json NOT written "
            f"({len(bench_names)} of {len(BENCH_QUERIES)} lines)",
            file=sys.stderr,
        )
    else:
        try:
            with open(local_path, "w") as fh:
                json.dump(local, fh, indent=1, sort_keys=True)
            print(f"# full record: {local_path}", file=sys.stderr)
        except OSError as exc:
            print(f"# BENCH_LOCAL.json write failed ({exc})", file=sys.stderr)

    # stdout line stays short enough for bounded tail capture: slowest 40
    numeric = {k: v for k, v in times.items() if isinstance(v, float)}
    slowest = dict(
        sorted(numeric.items(), key=lambda kv: kv[1], reverse=True)[:40]
    )
    short = dict(summary)
    short["queries"] = slowest
    short["n_queries"] = len(times)
    short["full_record"] = "BENCH_LOCAL.json"
    # r13 post-mortem: a 17-entry regression dict pushed the one-line JSON
    # past the driver's bounded tail capture and BENCH_r13.json came back
    # `parsed: null`. Print at most the top 5 by ratio; the full dict
    # always lives in BENCH_LOCAL.json.
    if "line_regressions_vs_committed" in short:
        full_flags = short["line_regressions_vs_committed"]
        if len(full_flags) > 5:
            top5 = dict(
                sorted(
                    full_flags.items(),
                    key=lambda kv: -(kv[1]["ratio"] or float("inf")),
                )[:5]
            )
            short["line_regressions_vs_committed"] = top5
            short["n_line_regressions"] = len(full_flags)
    if errors:
        short["errors"] = {k: v[:80] for k, v in list(errors.items())[:5]}
        short["n_errors"] = len(errors)
    print(json.dumps(short))


if __name__ == "__main__":
    main()
