"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that produce correct rows at sf0.001.

- dataset reads must push residual predicates into the parquet scan
  (PushedFilters) and prune both columns (ReadSchema) and files.
- the star-join bench queries must broadcast their small dimensions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plateau_spark.sources.dataset import read_table, store_dataframe_as_dataset

SF_DIR = "/root/testdata/sf0.001"


def test_pruned_read_pushdown_and_projection(spark, store):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    store_dataframe_as_dataset(
        spark, store, "li", li, partition_on=["l_returnflag"]
    )
    out = read_table(
        spark,
        store,
        "li",
        predicates=[[("l_returnflag", "==", "R"), ("l_quantity", ">", 45.0)]],
        columns=["l_orderkey", "l_returnflag", "l_quantity"],
    )
    # file pruning happened driver-side: only the R partition is scanned
    assert out.inputFiles(), "expected at least one input file"
    assert all("l_returnflag=R" in f for f in out.inputFiles())
    plan = out._jdf.queryExecution().executedPlan().toString()
    # residual predicate reached the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    # column projection reached the scan: payload columns not requested
    # must be absent from ReadSchema
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_star_join_broadcasts_small_dimension(spark):
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_temperature_resample_broadcasts_probs(spark):
    """The per-group keep-probability frame (|groups| rows) must join
    back as a broadcast — a shuffle of the corpus on the group key here
    would be a 100 TB regression."""
    from plateau_spark.operators.sampling import temperature_resample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = temperature_resample(docs, ["lang"], key_col="doc_id", target_rows=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_against_corpus_is_anti_hash_join(spark):
    """Anti join on the sha2 digest must plan as a (broadcast) hash
    join, never a nested loop, and the join key must be the fixed-width
    digest, not document bodies."""
    from plateau_spark.operators.dedup import dedup_against_corpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = docs.limit(50).select(F.col("text").alias("body"))
    out = dedup_against_corpus(docs, ref, "text", "body")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_dup_pairs_plan_is_equi_join(spark):
    """Multi-probe LSH self-join must stay a hash/sort-merge equi-join
    on (probe, bucket) — the OR-of-buckets formulation degrades to a
    BroadcastNestedLoopJoin."""
    from plateau_spark.operators.dedup import embedding_cosine_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = embedding_cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4, bucket_bits=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_paragraphs_first_occurrence_is_aggregate_not_window(spark):
    """Global paragraph first-occurrence must plan as a partial
    (map-side-combining) aggregate over the digest plus a composite-key
    join-back — a row_number() window over partitionBy(digest) puts a
    corpus-hot digest (empty paragraph, boilerplate footer) into one
    task's sort at 100 TB."""
    from plateau_spark.operators.dedup import dedup_paragraphs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup_paragraphs(docs, "doc_id", "text", sep=r"\. ", join_sep=". ")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan  # partial/final agg pair for min(struct)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_keep_is_anti_hash_join(spark):
    """The keep-set must be a hash anti-join on the id — never a
    nested-loop shape — and the LSH candidate join an equi-join."""
    from plateau_spark.operators.similarity import semantic_dedup_keep

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = semantic_dedup_keep(emb, threshold=0.4, method="lsh", bucket_bits=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classifier_score_is_pure_codegen(spark):
    """Feature hashing + scoring must stay JVM-side: no Python/Arrow
    eval nodes anywhere in the derived-weights plan."""
    from plateau_spark.operators.text import classifier_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = classifier_score(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_filters_before_verify_join(spark):
    """The Bloom membership test must sit UNDER the exact-verify join
    (map-side cull), and the verify join must be an equi-join."""
    from plateau_spark.operators.dedup import ngram_overlap_vs_eval_bloom

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_overlap_vs_eval_bloom(
        docs.where(F.col("doc_id") % 10 != 0).limit(30),
        docs.where(F.col("doc_id") % 10 == 0).limit(5),
        "doc_id",
        "text",
        n_bits=1 << 16,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the probe UDF appears as a filter, not as a join condition
    assert "ArrowEvalPython" in plan or "FlatMapsInPandas" in plan or "EvalPython" in plan


def test_topk_window_has_partial_group_limit(spark):
    """The ANN top-k rank windows partition by query_id over corpus-scale
    candidate rows; they are hot-key safe ONLY because Spark's
    WindowGroupLimit pushes a per-task top-k BEFORE the exchange
    (each map task emits <= k rows per query). Pin that optimization —
    if a refactor breaks the rank<=k pattern it recognizes, this fails."""
    from plateau_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(emb, q, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


@pytest.fixture(scope="module")
def ann_tiers(spark, tmp_path_factory):
    """Every search tier over the sf embeddings, keyed by name; the PQ
    tiers use small pinned models so no fit job runs."""
    from plateau_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    m, kk = 4, 4
    sub = dim // m
    model = {
        "m": m, "k": kk, "dim": dim, "sub_dim": sub,
        "codebooks": [
            [[((j * 3 + c * 5 + d) % 9 - 4) / 8.0 for d in range(sub)] for c in range(kk)]
            for j in range(m)
        ],
    }
    cents = [(c, [((c * 5 + d * 3) % 7 - 3) / 8.0 for d in range(dim)]) for c in range(4)]
    store = str(tmp_path_factory.mktemp("ann") / "s")
    S.build_ivf_index(spark, store, "ivf", emb, n_centroids=4)
    S.build_ivfpq_index(spark, store, "ivfpq", emb, centroids=cents, pq_model=model)
    codes = S.encode_pq(emb, model)
    return {
        "lsh": lambda: S.cosine_topk_lsh(emb, q, k=10),
        "ivf": lambda: S.cosine_topk_ivf(emb, q, k=10, n_centroids=4, nprobe=2),
        "ivf_persisted": lambda: S.query_ivf_index(spark, store, "ivf", q, k=10, nprobe=2),
        "pq": lambda: S.pq_topk(codes, q, model, k=10),
        "pq_refine": lambda: S.pq_topk(codes, q, model, k=10, refine_with=emb),
        "ivfpq": lambda: S.query_ivfpq_index(spark, store, "ivfpq", q, k=10, nprobe=2),
        "ivfpq_refine": lambda: S.query_ivfpq_index(
            spark, store, "ivfpq", q, k=10, nprobe=2, refine_with=emb
        ),
    }


@pytest.mark.parametrize(
    "tier",
    ["lsh", "ivf", "ivf_persisted", "pq", "pq_refine", "ivfpq", "ivfpq_refine"],
)
def test_topk_window_has_partial_group_limit_every_tier(spark, ann_tiers, tier):
    """The final rank of every search tier keeps its WindowGroupLimit.
    In the IVF tier the candidates already arrive partitioned by query
    (the probe window's exchange), so there is no exchange to put a
    partial limit before and only the final limit is planned."""
    plan = ann_tiers[tier]()._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    windows = [i for i, line in enumerate(lines) if "+- Window [row_number()" in line]
    final_rank = lines[windows[0]:windows[1] if len(windows) > 1 else None]
    assert "query_id" in final_rank[0]
    limits = [line for line in final_rank if "WindowGroupLimit [query_id" in line]
    assert any(line.endswith("Final") for line in limits), plan
    if tier != "ivf":
        assert any(line.endswith("Partial") for line in limits), plan


def test_winnow_explode_no_inferred_recompute_filter(spark):
    """InferFiltersFromGenerate on a plain explode pushes a size()>0
    filter whose projection aliases get re-inlined — re-evaluating the
    whole winnowing chain per row with per-element HOF recomputation
    (O(len²) md5). The explode_outer guard + staged projections keep
    the chain evaluated exactly once; the optimized plan must contain
    exactly one gram-hash stage and no Filter."""
    from plateau_spark.entry_queries import QUERIES

    df = QUERIES["text_winnow_fingerprints"](spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5(") == 1, opt
    assert opt.count("regexp_replace") == 1, opt
    assert "Filter" not in opt, opt


def test_winnow_pairs_is_equi_join_with_df_cap(spark):
    """The overlap self-join must be a hash equi-join on the fingerprint
    (never a nested loop), with the hot-fingerprint cap aggregated
    BEFORE the join."""
    from plateau_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        winnow_overlap_pairs(docs, "doc_id", "text", max_fp_df=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_broadcasts_fraction_table(spark):
    """The stratum→fraction table is KBs; its join back must broadcast
    and the keep decision must be a codegen filter — no corpus shuffle."""
    from plateau_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = stratified_sample(
        docs, ["lang"], {"en": 0.5, "de": 0.2}, key_col="doc_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan  # data never shuffles


def test_quality_tiers_histogram_agg_no_global_sort(spark):
    """Tiering must CDF over a bucket histogram (partial_count before the
    exchange) and broadcast labels back — never globally sort the data
    (the single-partition window may only see the tiny histogram)."""
    from plateau_spark.operators.sampling import quality_tiers

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", (F.length("text") / 10000.0).alias("score")
    )
    out = quality_tiers(docs, "score")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan  # map-side combine on the histogram agg
    assert "BroadcastHashJoin" in plan  # labels join back broadcast
    # the only rangepartitioning-style global sort allowed is none at all
    assert "Exchange rangepartitioning" not in plan


def test_unigram_logprob_model_is_agg_plus_hash_join(spark):
    """The vocab fit must map-side combine; scoring must be an equi hash
    join (probe-side skew on hot tokens is fine, nested loop is not)."""
    from plateau_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = unigram_logprob(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    # token→logp scoring must be an equi hash/sort-merge join; the only
    # nested-loop allowed is the 1-row total-count denominator broadcast
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_zorder_value_is_pure_codegen(spark):
    """The Morton interleave must be a single codegen projection — no
    UDF, no Python, no shuffle before the explicit range partitioning."""
    from pyspark.sql import types as T

    from plateau_spark.plans.zorder import zorder_value_col

    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 100).alias("b")
    )
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    out = df.select(
        zorder_value_col(
            ["a", "b"], {"a": (0.0, 999.0), "b": (0.0, 99.0)}, dtypes
        ).alias("z")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert plan.lstrip().startswith("*(")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_upsert_anti_join_is_hash_join(spark, tmp_path):
    """The MERGE keep-side anti-join must plan as a hash join on the key
    (fixed-width shuffle), never a nested loop."""
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import store_dataframe_as_dataset
    from plateau_spark.sources.serializers import read_files
    from plateau_spark.core.metadata import DatasetMetadata

    store = Store(str(tmp_path / "store"))
    df = spark.range(0, 1000).withColumn("v", F.lit("old"))
    store_dataframe_as_dataset(spark, store, "t", df)
    meta = DatasetMetadata.load(store, "t")
    base = store.url(f"t/table")
    existing = read_files(
        spark, meta.schema, base,
        {p.file: store.url(p.file) for p in meta.partitions.values()},
    )
    ups = spark.range(10, 20).withColumn("v", F.lit("new"))
    keep = existing.join(ups.select("id"), ["id"], "left_anti")
    plan = keep._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_bitext_ivf_search_tier_probes_cells_not_corpus(spark):
    """Round-7 fix: mine_bitext_pairs' k-NN sweeps accept a search=
    callable. With the IVF tier, candidate generation must be an
    EQUI-join on the cell id over only the probed cells — O(nprobe)
    cells of candidates per query, never an all-pairs nested loop over
    the corpus (the hardcoded brute-force sweep's shape). The only
    nested-loop allowed is the tiny broadcast of the K-row centroid /
    query tables."""
    from functools import partial

    from plateau_spark.operators.similarity import cosine_topk_ivf, mine_bitext_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.where(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    b = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    # partial probing: nprobe << n_centroids (the scale configuration)
    out = mine_bitext_pairs(
        a, b, k=2, margin_threshold=0.0,
        search=partial(cosine_topk_ivf, n_centroids=16, nprobe=2),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # candidate generation joins probes to assignments on __cid__
    assert "__cid__" in plan
    assert "CartesianProduct" not in plan
    # brute force's signature shape is a BroadcastNestedLoopJoin of the
    # full query set against the whole corpus; IVF must not contain one
    # except the K-row centroid broadcast (which is a cross of queries
    # x centroids, visible as a nested loop over a 16-row side). Count:
    # the centroid cross appears once per sweep — the corpus-sized scan
    # side must join through a hash join on the cell id.
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    # exactness at full probe: IVF(nprobe == n_centroids) == brute force
    exact = mine_bitext_pairs(a, b, k=2, margin_threshold=0.0)
    full = mine_bitext_pairs(
        a, b, k=2, margin_threshold=0.0,
        search=partial(cosine_topk_ivf, n_centroids=4, nprobe=4),
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full.collect()))


def test_ccnet_buckets_plan_no_global_sort(spark):
    """The per-language LM fit must map-side combine; scoring must be a
    hash join; the tier split must stay histogram-shaped — no
    rangepartitioning exchange (a global sort of the corpus is the
    naive CCNet shape this operator exists to avoid)."""
    from plateau_spark.operators.text import ccnet_perplexity_buckets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ccnet_perplexity_buckets(docs, "doc_id", "text", "lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_audio_features_plan_is_single_arrow_pass(spark):
    """The audio kernel is one Arrow-batched Python stage over a narrow
    projection — no shuffle before it, no row-at-a-time Python."""
    from plateau_spark.operators.multimodal import audio_frame_features

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = audio_frame_features(df, frame=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # narrow end-to-end
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF


def test_stream_ingest_dedup_batch_read_prunes_files(spark, tmp_path):
    """Round-8 scale fix: stream_ingest_dedup's per-batch anti-join read
    must NOT scan the whole committed corpus. The batch's distinct keys
    become an IN-conjunction, and zone maps (or blooms / partition keys)
    on the key column then cut the file list to the files that could
    hold a colliding key. Structural assert: with two committed files of
    disjoint key ranges, a batch whose keys fall in one range plans a
    1-of-2-file scan."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.plans.pruning import plan_scan
    from plateau_spark.sources.dataset import update_dataset_from_dataframe
    from plateau_spark.streaming.events import _batch_key_predicates

    st = Store(str(tmp_path / "store"))
    lo = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit("lo").alias("v")
    ).coalesce(1)
    hi = spark.range(1000, 1050).select(
        F.col("id").alias("k"), F.lit("hi").alias("v")
    ).coalesce(1)
    store_dataframe_as_dataset(spark, st, "z", lo, zone_map_columns=["k"])
    update_dataset_from_dataframe(spark, st, "z", hi)
    meta = DatasetMetadata.load(st, "z")
    assert len(meta.partitions) == 2

    batch = spark.createDataFrame([(3, "x"), (7, "y")], "k long, v string")
    preds = _batch_key_predicates(batch, ["k"])
    assert preds == [[("k", "in", [3, 7])]]
    assert len(plan_scan(meta, st, preds)) == 1  # only the lo-range file

    # above the IN cap → O(1)-plan range conjunction, still prunes
    preds = _batch_key_predicates(batch, ["k"], in_cap=1)
    assert preds == [[("k", ">=", 3), ("k", "<=", 7)]]
    assert len(plan_scan(meta, st, preds)) == 1

    # NULL keys never match in the null-unsafe anti-join → the range
    # tier over non-null values stays sound; all-NULL keys → full scan
    mixed = spark.createDataFrame([(None, "x"), (5, "y")], "k long, v string")
    assert _batch_key_predicates(mixed, ["k"]) == [[("k", ">=", 5), ("k", "<=", 5)]]
    nullbatch = spark.createDataFrame([(None, "x")], "k long, v string")
    assert _batch_key_predicates(nullbatch, ["k"]) is None


def test_stream_ingest_dedup_sink_creates_pruning_substrate(spark, tmp_path):
    """Round-9 fix: the ingest-dedup sink must declare zone maps /
    blooms on its OWN commits so per-batch pruning works by default —
    not only on datasets whose stats a fixture declared externally.
    Asserts on a dataset the sink itself created: key-column zone maps
    present, and a disjoint-range batch predicate prunes the file list."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.plans.pruning import plan_scan
    from plateau_spark.streaming.events import (
        _batch_key_predicates,
        open_parquet_stream,
        stream_ingest_dedup,
    )

    import glob as _glob
    import shutil as _sh

    src = tmp_path / "src"
    src.mkdir()
    for name, lo, hi in [("a", 0, 100), ("b", 1000, 1100)]:
        out = tmp_path / f"w_{name}"
        spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).coalesce(1).write.parquet(str(out))
        _sh.copy(_glob.glob(str(out / "part-*.parquet"))[0], str(src / f"{name}.parquet"))
    st = Store(str(tmp_path / "store"))
    stream = open_parquet_stream(
        spark, str(src), reader_options={"maxFilesPerTrigger": "1"}
    )
    q = stream_ingest_dedup(
        stream, st, "ing", key_cols=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination()

    meta = DatasetMetadata.load(st, "ing")
    assert len(meta.partitions) >= 2
    stats = [p.stats for p in meta.partitions.values()]
    assert all("k" in s for s in stats)  # sink declared its own zone maps
    batch = spark.createDataFrame([(1005, 0)], "k long, v long")
    preds = _batch_key_predicates(batch, ["k"])
    surviving = plan_scan(meta, st, preds)
    assert len(surviving) < len(meta.partitions)  # pruned by default
    for p in surviving:  # every surviving file could actually hold key 1005
        mn, mx, _ = p.stats["k"]
        assert mn <= 1005 <= mx


def test_persisted_ivf_probe_scans_nprobe_cell_files(spark, tmp_path):
    """Regression guard for the persisted-IVF scale tier: a probe must
    read O(nprobe) cell files via partition pruning, never the whole
    index. Asserted on the ACTUAL files backing the query result
    (inputFiles), so a regression to a full-corpus read fails
    structurally, not by wall time."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.operators.similarity import build_ivf_index, query_ivf_index

    st = Store(str(tmp_path / "store"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    build_ivf_index(spark, st, "ivfp", emb, n_centroids=8)
    n_files = len(DatasetMetadata.load(st, "ivfp").partitions)
    assert n_files >= 4  # one file per non-empty cell

    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = query_ivf_index(spark, st, "ivfp", queries, k=3, nprobe=2)
    index_files = [f for f in out.inputFiles() if "/ivfp/" in f]
    assert 1 <= len(index_files) <= 2  # nprobe=2 cells, not the corpus
    assert len(index_files) < n_files
    assert out.count() == 3


def test_join_datasets_broadcasts_from_commit_metadata(spark, tmp_path):
    """Metadata-driven join planning: with Spark's own broadcast
    threshold DISABLED (the many-small-files misestimate scenario),
    join_datasets must still produce a BroadcastHashJoin from the
    commit metadata's exact sizes — and a threshold of 0 must fall
    back to the shuffle join."""
    from pyspark.sql import functions as F

    from plateau_spark.sources.dataset import (
        dataset_size_bytes,
        join_datasets,
        store_dataframe_as_dataset,
    )

    store = str(tmp_path / "s")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    store_dataframe_as_dataset(spark, store, "orders", orders)
    store_dataframe_as_dataset(spark, store, "cust", cust)
    assert 0 < dataset_size_bytes(store, "cust") < dataset_size_bytes(
        store, "orders"
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = join_datasets(
            spark, store, "orders", "cust",
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert j.count() == orders.join(
            cust, F.col("o_custkey") == F.col("c_custkey")
        ).count()

        smj = join_datasets(
            spark, store, "orders", "cust",
            on=F.col("o_custkey") == F.col("c_custkey"),
            broadcast_threshold_bytes=0,
        )
        plan2 = smj._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hll_sketch_agg_is_map_side_partial(spark):
    """estimate_distinct must shuffle sketch BUFFERS, not raw values:
    a partial hll_sketch_agg below the exchange, and the scan pruned
    to exactly the group + value columns."""
    from plateau_spark.operators.sketches import estimate_distinct

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        estimate_distinct(docs, ["lang"], "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_hll_sketch_agg" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_calibrate_percent_rank_windows_over_aggregate_not_rows(spark):
    """The calibration window must run over the DISTINCT (group, score)
    aggregate — never a full-row per-group sort: no native percent_rank
    in the plan, an aggregate below the window, and the window frame
    free of the wide text column."""
    from plateau_spark.operators.sampling import calibrate_percent_rank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qe = calibrate_percent_rank(docs, "n_chars", ["lang"])._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "percent_rank" not in plan
    # the Window node's required sort carries only the 3-column agg frame
    win_at = plan.index("Window")
    window_section = plan[win_at: win_at + 600]
    assert "text" not in window_section
    assert "HashAggregate" in plan


def test_histogram_quantiles_window_is_bucket_sized(spark):
    """The quantile window runs over O(buckets) histogram rows — the
    aggregate sits below the window and the scan reads only the two
    needed columns."""
    from plateau_spark.operators.sketches import estimate_quantiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        estimate_quantiles(docs, ["lang"], "n_chars", width=50.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan
    # physical plans print top-down: the aggregate must appear BELOW
    # (after) the Window line, i.e. the window consumes the aggregate
    assert "HashAggregate" in plan[plan.index("Window"):]


def test_linkage_candidate_join_is_equi_not_cartesian(spark):
    """Blocked candidate generation must plan as a hash/sort-merge
    equi-join on the blocking key — never a nested loop (the whole
    point of blocking is avoiding the n² compare)."""
    from plateau_spark.operators.linkage import match_pairs

    df = spark.createDataFrame(
        [(i, f"name{i}", f"blk{i % 3}") for i in range(30)],
        "id long, name string, blk string",
    )
    pairs = match_pairs(df, "id", [F.col("blk")], ["name"], threshold=0.0)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_salted_join_exchanges_on_key_and_salt(spark):
    """With broadcast disabled (the big-dim scenario salting exists
    for), the salted join must exchange on (key, salt) — the hot key's
    rows land on num_salts reducers, not one."""
    from plateau_spark.operators.joins import salted_join

    left = spark.range(0, 500).select(
        F.col("id").alias("rid"), (F.col("id") % 3).alias("k")
    )
    right = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("d").alias("name")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_join(left, right, ["k"], num_salts=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "NestedLoop" not in plan
    # the join condition carries both the key and the salt column
    join_line = next(
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    )
    assert "k" in join_line and "__salt__" in join_line


def test_merge_into_prunes_candidates_by_key_bounds(spark, tmp_path):
    """MERGE INTO with zone-mapped keys must rewrite ONLY the files the
    source key range can touch — untouched files survive by identity."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import merge_into_dataset

    store = Store(str(tmp_path / "store"))
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("qty")
    ).repartitionByRange(4, "id")
    store_dataframe_as_dataset(
        spark, store, "m", df, zone_map_columns=["id"]
    )
    before = {
        p.label: p.file for p in DatasetMetadata.load(store, "m").partitions.values()
    }
    src = spark.createDataFrame([(5, 999), (20, 999)], "id long, qty long")
    merge_into_dataset(spark, store, "m", src, "id")
    after = {
        p.label: p.file for p in DatasetMetadata.load(store, "m").partitions.values()
    }
    survived = set(before.values()) & set(after.values())
    # the 3 range files whose id bounds exclude [5, 20] are untouched
    assert len(survived) == 3, (before, after)


def test_funnel_and_cohorts_plans_are_equi_joins(spark):
    """Funnel steps and retention cohorts must plan every join as a
    hash/sort-merge equi-join on the user key — no nested loop, no
    window over raw events."""
    import datetime as dt

    from plateau_spark.streaming.events import funnel_steps, retention_cohorts

    rows = [(i % 7, dt.datetime(2024, 1, 1 + i % 20), "view" if i % 3 else "signup")
            for i in range(100)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    # funnel materializes counts eagerly; assert on the step-2 frame shape
    e = df.select(F.col("u").alias("__u__"), F.col("ts").alias("__ts__"),
                  F.col("et").alias("__et__"))
    s0 = e.where(F.col("__et__") == "view").groupBy("__u__").agg(
        F.min("__ts__").alias("__tp__"))
    step2 = e.where(F.col("__et__") == "signup").join(s0, "__u__").where(
        F.col("__ts__") > F.col("__tp__"))
    plan = step2._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" not in plan
    coh = retention_cohorts(df, "u", "ts", period="week")
    plan = coh._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" not in plan


def test_blocked_words_large_list_plans_broadcast_join(spark):
    """Above literal_cap the blocklist must NOT appear as a plan
    literal array (O(tokens × |list|) scans, plan size growing with the
    list) — it becomes a broadcast hash join against a blocklist frame."""
    from plateau_spark.operators.text import blocked_words_signals

    df = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    big = [f"term{i}" for i in range(500)]
    out = blocked_words_signals(df, "doc_id", "text", big)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan and "SortMergeJoin" not in plan
    assert "term499" not in plan  # list is data, not a plan literal
    small = blocked_words_signals(df, "doc_id", "text", ["alpha", "zeta"])
    splan = small._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in splan  # literal tier stays zero-shuffle


def test_funnel_steps_job_count_is_linear(spark):
    """All k step counts must come from ONE action over lazily
    checkpointed step frames — job count grows linearly in k (the old
    per-step .count() shape re-executed steps 1..k-1 per count, O(k²)
    passes). Empirical bound: ~3 jobs/step under AQE + 1 for the
    result build; assert ≤ 4k+2 and that k=2→k=4 adds ≤ 8 jobs."""
    import datetime as dt

    from plateau_spark.streaming.events import funnel_steps

    rows = []
    for u in range(50):
        rows.append((u, dt.datetime(2024, 1, 1, 0, u % 24), "view"))
        if u % 2 == 0:
            rows.append((u, dt.datetime(2024, 1, 2), "signup"))
        if u % 4 == 0:
            rows.append((u, dt.datetime(2024, 1, 3), "cart"))
        if u % 8 == 0:
            rows.append((u, dt.datetime(2024, 1, 4), "purchase"))
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    sc = spark.sparkContext
    jobs = {}
    for k, steps in [
        (2, ["view", "signup"]),
        (4, ["view", "signup", "cart", "purchase"]),
    ]:
        sc.setJobGroup(f"__funnel_jobcount_{k}__", "plan-quality probe")
        got = funnel_steps(df, "u", "ts", "et", steps).collect()
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(f"__funnel_jobcount_{k}__"))
        sc.setJobGroup(None, None)
        assert [r["users_reached"] for r in sorted(got, key=lambda r: r["step"])] == (
            [50, 25] if k == 2 else [50, 25, 13, 7]
        )
    assert jobs[2] <= 10, jobs
    assert jobs[4] <= 18, jobs
    assert jobs[4] - jobs[2] <= 8, jobs  # linear, not quadratic, in k


def test_pagerank_iteration_is_one_join_one_agg(spark):
    """Each PageRank iteration joins edges⋈ranks on src and aggregates
    on dst — equi-joins only, aggregation with partial combine."""
    from plateau_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(f"d{i % 5}", f"d{(i * 3 + 1) % 5}") for i in range(40)],
        "src string, dst string",
    )
    # the returned frame is localCheckpointed (lineage cut to an RDD
    # scan), so reconstruct one iteration exactly as pagerank builds it
    # and assert THAT plan's shape
    grouped = e.groupBy("src", "dst").agg(F.count("*").cast("double").alias("w"))
    outw = grouped.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = grouped.join(outw, "src")
    ranks0 = ew.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(0.2).alias("rank")
    )
    contribs = (
        ew.join(ranks0.withColumnRenamed("node", "src"), "src")
        .select("dst", ((F.col("rank") * F.col("w")) / F.col("ow")).alias("val"))
        .groupBy("dst")
        .agg(F.sum("val").alias("c"))
    )
    plan = contribs._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # partial aggregation present (map-side combine absorbs hot dst)
    assert "HashAggregate" in plan or "SortAggregate" in plan
    # and the real operator still runs green on the same graph
    assert pagerank(e, iterations=2).count() == 5


def test_dsir_shares_bucket_counts_and_stays_lazy(spark, tmp_path):
    """dsir_logweights' docstring promises ONE explode pass over the
    corpus; without the shared-frame caches the executed plan
    re-evaluated the hash+explode DAG per consumer (6 corpus scans,
    zero ReusedExchange). Pin BOTH halves of the fix:

    - building the frame runs NO jobs (persist is lazy — the earlier
      localCheckpoint variant materialized every upstream shuffle at
      construction under AQE);
    - the executed plan reads the bucket counts through
      InMemoryTableScan (cache shared across the model, its total and
      the scoring join — compute-once follows from cache semantics).
    A raw string scan count is NOT asserted: cached-plan renderings
    repeat the source scan per reference, so it cannot distinguish
    sharing from recompute.

    Probe shape: construction runs inside a DEDICATED job group so
    concurrent jobs on the shared session can't pollute the count, and
    a sentinel action in the same group replaces the old fixed sleep —
    the listener bus delivers events in order, so once the sentinel's
    job is visible, any construction job would be too. The sentinel is
    an RDD count: exactly ONE job, deterministically (an SQL count can
    split into a variable number of jobs under AQE)."""
    import time
    import uuid as _uuid

    from plateau_spark.operators.sampling import dsir_logweights

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} {'epsilon ' * (i % 5)}") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    target = docs.where("doc_id % 7 = 0")
    sc = spark.sparkContext

    def _jobs_in_group(group: str, at_least: int) -> list:
        st = sc.statusTracker()
        deadline = time.time() + 30
        ids = st.getJobIdsForGroup(group)
        while len(ids) < at_least and time.time() < deadline:
            time.sleep(0.05)
            ids = st.getJobIdsForGroup(group)
        return ids

    g_build = f"dsir-lazy-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(g_build, "dsir construction laziness probe")
    try:
        out = dsir_logweights(docs, target, "doc_id", "text")
        # sentinel: exactly one job, proves the listener caught up past
        # any job construction could have launched (in-order bus)
        sc.parallelize([1]).count()
    finally:
        sc._jsc.clearJobGroup()
    build_jobs = len(_jobs_in_group(g_build, 1))
    assert build_jobs == 1, (
        "building dsir_logweights must not launch Spark jobs "
        f"(saw {build_jobs - 1} beyond the 1-job sentinel)"
    )
    assert out.count() == 200
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:2000]


def test_shared_cache_registry_bounds_storage(spark):
    """The r13 scan-dedup persists had no release path (r13 ADVICE,
    medium): CacheManager entries and disk-spilled blocks survive until
    unpersist or session end, so a long-lived session accumulated one
    pinned aggregate per operator call. persist_shared bounds that:
    the registry unpersists the oldest frame beyond the limit (safe —
    unpersist never breaks lineage, late consumers recompute), and
    release_shared_caches() frees everything on demand."""
    from plateau_spark.core.caching import (
        _SHARED_CACHE_LIMIT,
        persist_shared,
        release_shared_caches,
        shared_cache_count,
    )

    release_shared_caches()
    base = spark.range(100)
    frames = []
    for i in range(3 * _SHARED_CACHE_LIMIT + 2):
        df = persist_shared(base.select((F.col("id") + i).alias("v")))
        df.count()  # materialize the cached blocks
        frames.append(df)
    assert shared_cache_count() <= _SHARED_CACHE_LIMIT
    still_cached = [f for f in frames if f.is_cached]
    assert len(still_cached) <= _SHARED_CACHE_LIMIT, (
        f"{len(still_cached)} frames still pinned (limit {_SHARED_CACHE_LIMIT})"
    )
    # evicted frames remain CONSUMABLE (lineage intact, recompute)
    assert frames[0].count() == 100
    released = release_shared_caches()
    assert released == len(still_cached)
    assert shared_cache_count() == 0
    assert not any(f.is_cached for f in frames)


def test_shared_cache_reregistration_refreshes_lru_position(spark):
    """persist() returns self, so re-registering a frame repeats its
    id(); plain OrderedDict assignment keeps the STALE position and a
    just-re-pinned frame would evict as the oldest (r14 ADVICE, low).
    Re-registration must move it to the LRU tail."""
    from plateau_spark.core.caching import (
        _SHARED_CACHE_LIMIT,
        persist_shared,
        release_shared_caches,
    )

    release_shared_caches()
    base = spark.range(50)
    hot = persist_shared(base.select((F.col("id") * 2).alias("v")))
    hot.count()
    # fill to one short of the limit, then re-pin `hot`
    fillers = [
        persist_shared(base.select((F.col("id") + i).alias("v")))
        for i in range(_SHARED_CACHE_LIMIT - 1)
    ]
    assert persist_shared(hot) is hot  # re-registration: same id()
    # one more registration must evict the oldest FILLER, not `hot`
    persist_shared(base.select((F.col("id") - 1).alias("v")))
    assert hot.is_cached, "re-pinned frame evicted despite LRU refresh"
    assert not fillers[0].is_cached
    release_shared_caches()


def test_shared_cache_byte_budget_evicts_oversized_frame(spark, monkeypatch):
    """PLATEAU_SPARK_SHARED_CACHE_BYTES: an oversized materialized frame
    is released ahead of the count limit — the count bound alone lets 8
    corpus-proportional frames pin ~10% of corpus bytes at 100 TB
    (r14 verdict task 6). A 1-byte budget forces byte-eviction of every
    frame but the newest on the next registration."""
    from plateau_spark.core.caching import (
        persist_shared,
        release_shared_caches,
        shared_cache_count,
    )

    release_shared_caches()
    big = persist_shared(spark.range(200_000).selectExpr("id", "id * 2 AS v"))
    big.count()  # materialize so the storage poll sees its bytes
    monkeypatch.setenv("PLATEAU_SPARK_SHARED_CACHE_BYTES", "1")
    tiny = persist_shared(spark.range(10).selectExpr("id AS w"))
    assert not big.is_cached, "oversized frame survived the byte budget"
    assert shared_cache_count() == 1  # newest frame is exempt
    # eviction is correctness-safe: the released frame recomputes
    assert big.count() == 200_000
    monkeypatch.delenv("PLATEAU_SPARK_SHARED_CACHE_BYTES")
    release_shared_caches()
    assert tiny is not None


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_operator_shared_caches_stay_bounded(spark):
    """50-invocation loop over a persist_shared-using operator: the
    registry (not the caller) keeps total pinned storage bounded — the
    deployment shape is a long-lived session running the same operator
    per crawl shard."""
    from plateau_spark.core.caching import (
        _SHARED_CACHE_LIMIT,
        release_shared_caches,
        shared_cache_count,
    )
    from plateau_spark.streaming.events import retention_cohorts

    release_shared_caches()
    ev = spark.createDataFrame(
        [(f"u{i % 7}", f"2024-01-{(i % 27) + 1:02d} 00:00:00") for i in range(60)],
        "user_id string, ts string",
    )
    for _ in range(25):  # 2 persist_shared frames per call = 50 registrations
        assert retention_cohorts(ev, "user_id", "ts", period="week").count() > 0
    assert shared_cache_count() <= _SHARED_CACHE_LIMIT
    release_shared_caches()
    assert shared_cache_count() == 0
