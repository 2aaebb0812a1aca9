from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plateau_spark.operators.dataflow import (
    aggregate_to_lists,
    apply_to_partitions,
    is_dataframe_sorted,
    merge_dataframes_robust,
    repartition_ratio,
    sort_dataframe,
)
from plateau_spark.operators.dedup import (
    drop_duplicates_keep_last,
    embedding_cosine_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from plateau_spark.operators.multimodal import (
    decode_and_featurize,
    documents_as_media,
    extract_metadata,
)
from plateau_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from plateau_spark.operators.text import analyze_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, text string"
    )
    out = exact_dedup(df, ["text"], tie_breaker="id").orderBy("id").collect()
    assert [(r.id, r.text) for r in out] == [(1, "a"), (3, "b")]


def test_drop_duplicates_keep_last(spark):
    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 2, "new"), (2, 1, "only")], "k long, v long, payload string"
    )
    out = drop_duplicates_keep_last(df, ["k"], ["v"]).orderBy("k").collect()
    assert [(r.k, r.payload) for r in out] == [(1, "new"), (2, "only")]


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    near = base.replace("runs", "walks")
    far = "completely different content about spark adaptive query execution and shuffle partitions"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", num_perm=64, bands=16, jaccard_threshold=0.5
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "z y x w v u t s"),
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", shingle_size=3, jaccard_threshold=0.3).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    # doc1: shingles {abc,bcd,cde,def,efg,fgh}, doc2 ends ...fgx -> 5 shared of 7
    assert abs(pairs[0].jaccard - 5 / 7) < 1e-9


def test_ngram_jaccard_df_cut(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "a b c q r s t u"),  # shares only the ubiquitous prefix
        ],
        "doc_id long, text string",
    )
    # 'a b c' appears in all 3 docs -> dropped at max_shingle_df=2;
    # docs 1/2 still share rare shingles, doc 3 no longer pairs
    pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_size=3, jaccard_threshold=0.3, max_shingle_df=2
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    # restricted universe: doc1 {bcd..fgh}=5, doc2 {bcd..efg,fgx}=5, shared 4
    assert abs(pairs[0].jaccard - 4 / 6) < 1e-9


def test_ngram_jaccard_capped_bounds_candidates(spark):
    """Adversarial skew corpus: 1000 copies of one document. With
    max_shingle_df set, the clones' shingles (df=1000) are dropped
    before the self-join, so the candidate set is the rare-shingle
    pairs only — 1 pair instead of ~499k — while rare near-dups are
    still found with their restricted-universe Jaccard."""
    from plateau_spark.operators.dedup import ngram_jaccard_pairs

    clone = "the quick brown fox jumps over the lazy dog again and again"
    rare_a = "zanzibar quixotic jabberwocky flummox periwinkle brouhaha kerfuffle"
    rare_b = "zanzibar quixotic jabberwocky flummox periwinkle brouhaha shenanigans"
    rows = [(i, clone) for i in range(1000)] + [(2000, rare_a), (2001, rare_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold 0.0 ⇒ the result IS the candidate set (pairs sharing
    # any surviving shingle): boundedness is directly observable
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", max_shingle_df=10, jaccard_threshold=0.0
    )
    got = capped.collect()
    assert [(r.id_a, r.id_b) for r in got] == [(2000, 2001)]
    assert abs(got[0].jaccard - 4 / 6) < 1e-9  # restricted-universe Jaccard


def test_minhash_md5_matches_sip_tier_semantics(spark):
    """The portable md5 tier must find the same near-duplicates as the
    production siphash tier on a clear-cut corpus (both end in the same
    exact-Jaccard verify, so agreed candidates agree exactly)."""
    from plateau_spark.operators.dedup import minhash_lsh_pairs, minhash_lsh_pairs_md5

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " ok"),  # near-dup of 1
            (3, "completely different text about spark query planning and shuffles"),
        ],
        "doc_id long, text string",
    )
    md5_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs_md5(
            docs, "doc_id", "text", num_perm=16, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    sip_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_perm=64, bands=32, jaccard_threshold=0.5
        ).collect()
    }
    assert (1, 2) in md5_pairs
    assert set(md5_pairs) == set(sip_pairs)
    assert all(abs(md5_pairs[k] - sip_pairs[k]) < 1e-12 for k in md5_pairs)


def test_simhash_md5_family(spark):
    from plateau_spark.operators.dedup import simhash_codegen

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "xyz unrelated"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.simhash for r in
           simhash_codegen(docs, "doc_id", "text", bits=32, hash_family="md5").collect()}
    assert out[1] == out[2]  # identical text → identical fingerprint
    assert out[1] != out[3]
    assert out[4] == 0  # tokenless document
    assert all(0 <= v < (1 << 32) for v in out.values())
    with pytest.raises(ValueError, match="60 usable bits"):
        simhash_codegen(docs, "doc_id", "text", bits=64, hash_family="md5")


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely unrelated words about query optimizers"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])


def test_embedding_dup_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_cosine_dup_pairs(df, "vec_id", "embedding", threshold=0.99).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_embedding_dup_pairs_duplicate_id_no_self_pair(spark):
    """A duplicated id inside one LSH bucket must not emit an (id, id)
    self-pair — the former self-join's strict id_a < id_b contract
    (r15 advice, low)."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),  # same id appears twice
            (2, [0.999, 0.01, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_cosine_dup_pairs(
        df, "vec_id", "embedding", threshold=0.99
    ).collect()
    assert all(p.id_a != p.id_b for p in pairs)
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_embedding_dup_pairs_hot_bucket_join_fallback(spark, monkeypatch):
    """Buckets above the GEMM row cap route through the pairwise-join
    scorer; the pair set is identical to the in-bucket GEMM (r15
    advice, medium)."""
    import plateau_spark.operators.dedup as dd

    df = spark.createDataFrame(
        [(i, [1.0, float(i % 7) / 100.0, 0.0, 0.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    base = {
        (p.id_a, p.id_b)
        for p in embedding_cosine_dup_pairs(
            df, "vec_id", "embedding", threshold=0.999
        ).collect()
    }
    # cap of 3 forces every bucket through the fallback join
    monkeypatch.setattr(dd, "_BUCKET_GEMM_CAP_ROWS", 3)
    routed = {
        (p.id_a, p.id_b)
        for p in embedding_cosine_dup_pairs(
            df, "vec_id", "embedding", threshold=0.999
        ).collect()
    }
    assert routed == base and base


def test_cosine_topk_bruteforce(spark, embeddings):
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(embeddings, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    # self-match is always rank 1 with cosine ~1
    top = {r.query_id: r for r in rows if r.rank == 1}
    for qid, r in top.items():
        assert r.vec_id == qid and r.cosine > 0.999


def test_cosine_topk_lsh_recall(spark, embeddings):
    queries = embeddings.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk_bruteforce(embeddings, queries, k=3)
    approx = cosine_topk_lsh(embeddings, queries, k=3, n_bits=4)  # dim inferred (64)
    # plan shape: multi-probe is an exploded (probe, bucket) EQUI-join —
    # never a cartesian/BNLJ (the round-1 OR-join scale killer)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    # self-match must always be found (same bucket trivially)
    assert all((q, q) in approx_set for q in [r.query_id for r in queries.collect()])
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3  # ANN: non-trivial recall with tiny buckets


def test_cosine_topk_ivf(spark, embeddings):
    from plateau_spark.operators.similarity import cosine_topk_ivf

    queries = embeddings.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = cosine_topk_bruteforce(embeddings, queries, k=5)
    # probing every cell must be EXACTLY exhaustive search
    exact = cosine_topk_ivf(
        embeddings, queries, k=5, n_centroids=8, nprobe=8, refine_iterations=1
    )
    assert {tuple(r) for r in exact.collect()} == {tuple(r) for r in brute.collect()}
    # partial probing: candidate set shrinks, equi-join plan, useful recall
    ann = cosine_topk_ivf(
        embeddings, queries, k=5, n_centroids=8, nprobe=2, refine_iterations=1
    )
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r.query_id, r.vec_id) for r in ann.collect()}
    want = {(r.query_id, r.vec_id) for r in brute.collect()}
    assert all((q, q) in got for q in [r.query_id for r in queries.collect()])
    assert len(got & want) / len(want) >= 0.3


def test_lsh_bucketing_not_degenerate(spark, embeddings):
    """Guard against the round-1 dim bug: wrong dim → NULL projections →
    every vector in bucket 0 → quadratic join. Bucketing on real data
    must produce >1 bucket, and a dim mismatch must raise, not silently
    degrade."""
    from plateau_spark.operators.similarity import hyperplane_bucket_col, infer_dim

    d = infer_dim(embeddings, "embedding")
    assert d == 64
    n_buckets = (
        embeddings.select(hyperplane_bucket_col("embedding", 4, seed=7, dim=d).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets > 1
    with pytest.raises(Exception, match="lsh dim"):
        embeddings.select(
            hyperplane_bucket_col("embedding", 4, seed=7, dim=16).alias("b")
        ).collect()


def test_analyze_documents(spark, documents):
    out = analyze_documents(documents).limit(50).collect()
    for r in out:
        assert r.token_count > 0
        assert 0 <= r.punct_ratio <= 1
        assert 0 <= r.quality_score <= 1
        assert len(r.fingerprint) == 32
    # language prediction should often agree with the labeled lang for en
    en = [r for r in out if r.lang == "en"]
    if en:
        agree = sum(1 for r in en if r.lang_pred == "en") / len(en)
        assert agree > 0.5


def test_multimodal_plumbing(spark, documents):
    media = documents_as_media(documents.limit(20))
    assert [f.name for f in media.schema.fields] == ["media_id", "media_type", "payload", "meta"]
    meta_only = media.select("media_id", "meta.n_bytes", "meta.content_md5")
    rows = meta_only.collect()
    assert all(r.n_bytes > 0 for r in rows)
    feats = decode_and_featurize(media).collect()
    assert len(feats) == 20
    assert all(len(r.features) == 8 for r in feats)
    # deterministic: same payload -> same features
    again = {r.media_id: r.features for r in decode_and_featurize(media).collect()}
    assert all(again[r.media_id] == r.features for r in feats)


def test_aggregate_to_lists(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (2, "c")], "k long, v string")
    out = {r.k: r.v for r in aggregate_to_lists(df, ["k"], "v").collect()}
    assert out == {1: ["a", "b"], 2: ["c"]}


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_merge_dataframes_robust(spark):
    a = spark.createDataFrame([(1, "x")], "k long, a string")
    b = spark.createDataFrame([(1, "y")], "k long, b string")
    assert merge_dataframes_robust(a, b).collect()[0].asDict() == {"k": 1, "a": "x", "b": "y"}
    c = spark.createDataFrame([("z",)], "c string")
    assert merge_dataframes_robust(a, c).count() == 1  # cross join fallback


def test_sort_dataframe(spark):
    df = spark.createDataFrame([(2, "b"), (1, "a"), (3, "c")], "k long, v string")
    assert [r.k for r in sort_dataframe(df, ["k"]).collect()] == [1, 2, 3]


def test_is_dataframe_sorted(spark):
    # spark.range splits the range contiguously: sorted across partitions
    df = spark.range(100, numPartitions=4).withColumnRenamed("id", "k")
    assert is_dataframe_sorted(df, ["k"])
    shuffled = spark.createDataFrame([(5,), (1,), (9,), (2,)], "k long").coalesce(1)
    assert not is_dataframe_sorted(shuffled, ["k"])
    empty = spark.createDataFrame([], "k long")
    assert is_dataframe_sorted(empty, ["k"])


def test_repartition_ratio(spark):
    df = spark.range(1000).repartition(8)
    out = repartition_ratio(df, 4)
    assert out.rdd.getNumPartitions() == 2
    assert out.count() == 1000


def test_apply_to_partitions(spark):
    df = spark.createDataFrame([(1, 2.0), (3, 4.0)], "a long, b double")

    def double_b(pdf):
        pdf = pdf.copy()
        pdf["b"] = pdf["b"] * 2
        return pdf

    out = apply_to_partitions(df, double_b, "a long, b double")
    assert sorted((r.a, r.b) for r in out.collect()) == [(1, 4.0), (3, 8.0)]

@pytest.mark.parametrize("threshold", [1_000_000, 0])  # fast path / distributed loop
def test_duplicate_clusters(spark, threshold):
    from plateau_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4 (stresses propagation depth), clique {10,11,12}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (21, 20)],
        "id_a long, id_b long",
    )
    out = {
        r.id: r.cluster_id
        for r in duplicate_clusters(pairs, small_graph_threshold=threshold).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


@pytest.mark.parametrize("threshold", [1_000_000, 0])  # fast path / distributed loop
def test_duplicate_clusters_self_pairs_identical_across_paths(spark, threshold):
    """Self-pairs (id_a == id_b) are normalized identically in the
    driver fast path and the distributed loop: dropped up front, so a
    node appearing ONLY as a self-pair is a singleton in both."""
    from plateau_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 2)], "id_a long, id_b long"
    )
    out = {
        r.id: r.cluster_id
        for r in duplicate_clusters(pairs, small_graph_threshold=threshold).collect()
    }
    # 5 is self-pair-only -> absent; 2's self-pair is inert
    assert out == {1: 1, 2: 1}

def test_cosine_dup_pairs_blocked_equals_bruteforce(spark, embeddings):
    from plateau_spark.operators.similarity import (
        cosine_dup_pairs_blocked,
        cosine_dup_pairs_bruteforce,
    )

    fold = {(r.id_a, r.id_b): r.cosine for r in
            cosine_dup_pairs_bruteforce(embeddings, threshold=0.3).collect()}
    gemm = {(r.id_a, r.id_b): r.cosine for r in
            cosine_dup_pairs_blocked(embeddings, threshold=0.3, rows_per_block=16).collect()}
    assert set(fold) == set(gemm)
    assert all(abs(fold[k] - gemm[k]) < 1e-12 for k in fold)


def test_cosine_dup_pairs_blocked_plan_is_equi_join(spark, embeddings):
    """The block-pair fan-out must be equi-joins on block ids — the
    non-equi (l.__b__ <= r.__b__) formulation planned as a
    BroadcastNestedLoopJoin that broadcast the entire packed corpus."""
    from plateau_spark.operators.similarity import cosine_dup_pairs_blocked

    out = cosine_dup_pairs_blocked(embeddings, threshold=0.3, rows_per_block=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

def test_deterministic_split(spark):
    from plateau_spark.operators.sampling import deterministic_split

    df = spark.range(2000).withColumnRenamed("id", "k")
    out = deterministic_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # pure function of the key: identical on rerun
    again = deterministic_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.collect() == again.collect()
    with pytest.raises(ValueError):
        deterministic_split(df, "k", {"a": 1.5})


def test_quota_sample(spark):
    from plateau_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)], "k long, grp string"
    )
    out = quota_sample(df, ["grp"], 10, key_col="k")
    counts = {r.grp: r["count"] for r in out.groupBy("grp").count().collect()}
    assert counts == {"big": 10, "small": 10}
    assert out.collect() == quota_sample(df, ["grp"], 10, key_col="k").collect()

def test_tfidf_top_terms(spark):
    from plateau_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "common words only common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.term)
    # 'common' appears in every doc -> idf = ln(1) = 0, never a top term
    assert "common" not in by_doc[1] and "common" not in by_doc[2]
    assert by_doc[1][0] == "apple"  # tf=2, rare
    assert all(len(v) <= 2 for v in by_doc.values())

def test_duplicate_clusters_long_chain(spark):
    """Pointer jumping: a 40-node path must converge well under 40 rounds
    (small_graph_threshold=0 forces the distributed loop)."""
    from plateau_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    out = duplicate_clusters(pairs, max_iter=10, small_graph_threshold=0)
    assert {r.cluster_id for r in out.collect()} == {0}


def test_repetition_signals(spark):
    from plateau_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # bigrams: ab ba ab ba ab -> top 'a b' 3/5
            (2, "all words are unique"),  # no repeats
            (3, ""),                      # degenerate
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert r1.top_ngram_fraction == 0.6
    assert r1.duplicate_ngram_fraction == round(1 - 2 / 5, 6)
    assert r1.unique_word_ratio == round(2 / 6, 6)
    r2 = out[2]
    assert r2.duplicate_ngram_fraction == 0.0
    assert r2.unique_word_ratio == 1.0
    assert out[3].unique_word_ratio == 1.0


def test_pii_detect_and_scrub(spark):
    from plateau_spark.operators.text import pii_count_col, scrub_pii_col

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call +4915112345678"),
            (2, "server at 192.168.0.1 and 10.0.0.255 up"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_count_col("text", "email").alias("ne"),
            pii_count_col("text", "phone").alias("np"),
            pii_count_col("text", "ip").alias("ni"),
            scrub_pii_col("text").alias("scrubbed"),
        ).collect()
    }
    assert (out[1].ne, out[1].np, out[1].ni) == (1, 1, 0)
    assert out[1].scrubbed == "mail me at <EMAIL> or call <PHONE>"
    assert (out[2].ne, out[2].np, out[2].ni) == (0, 0, 2)
    assert out[2].scrubbed == "server at <IP> and <IP> up"
    assert out[3].scrubbed == "nothing sensitive here"


def test_ngram_overlap_vs_eval(spark):
    from plateau_spark.operators.dedup import ngram_overlap_vs_eval

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here folks"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in ngram_overlap_vs_eval(train, ev, "doc_id", "text").collect()}
    # train 1 has 7 distinct 3-grams, 2 of them in the eval universe
    assert out[1].overlap_fraction == round(2 / 7, 6)
    assert out[1].contaminated == 1  # threshold 0.2
    assert out[2].overlap_fraction == 0.0 and out[2].contaminated == 0
    assert out[3].overlap_fraction == 0.0 and out[3].contaminated == 0
    assert len(out) == 3  # empty doc retained


def test_web_domain_and_suffixes(spark):
    from plateau_spark.operators.web import domain_suffixes_col, extract_domain_col

    df = spark.createDataFrame(
        [
            (1, "https://A.B.Example.COM/path?q=1"),
            (2, "http://user:pw@example.org:8080/x"),
            (3, "not a url"),
        ],
        "id long, url string",
    )
    rows = {r.id: (r.d, r.s) for r in df.select(
        "id",
        extract_domain_col("url").alias("d"),
        domain_suffixes_col(extract_domain_col("url")).alias("s"),
    ).collect()}
    assert rows[1] == ("a.b.example.com", ["a.b.example.com", "b.example.com", "example.com", "com"])
    assert rows[2][0] == "example.org"
    assert rows[3][0] == ""


def test_web_blocklist_filter_subdomains_no_join(spark):
    from plateau_spark.operators.web import filter_blocked_domains

    df = spark.createDataFrame(
        [
            (1, "https://ads.example.com/x"),     # subdomain of blocked
            (2, "https://example.com/x"),          # blocked exactly
            (3, "https://example.com.evil.io/x"),  # NOT blocked (suffix differs)
            (4, "https://fine.org/x"),
        ],
        "id long, url string",
    )
    out = filter_blocked_domains(df, "url", ["example.com"], keep_domain_col="domain")
    assert sorted(r.id for r in out.collect()) == [3, 4]
    # literal path: single codegen filter — no join anywhere in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_web_canonical_url_dedup(spark):
    from plateau_spark.operators.web import canonical_url_col, url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://WWW.Example.com/P?utm_source=a&x=1#frag"),
            (2, "https://www.example.com/P?x=1"),          # same canonical as 1
            (3, "https://www.example.com/p?x=1"),          # path case differs: distinct
            (4, "https://www.example.com/"),
            (5, "https://www.example.com"),                # same canonical as 4
        ],
        "id long, url string",
    )
    canon = {r.id: r.c for r in df.select("id", canonical_url_col("url").alias("c")).collect()}
    assert canon[1] == canon[2] == "https://www.example.com/P?x=1"
    assert canon[3] == "https://www.example.com/p?x=1"
    assert canon[4] == canon[5] == "https://www.example.com"
    kept = sorted(r.id for r in url_dedup(df, "url", tie_breaker="id").collect())
    assert kept == [1, 3, 4]

def test_profile_numeric_columns(spark):
    from plateau_spark.operators.dataflow import profile_numeric_columns

    df = spark.createDataFrame(
        [(1, 1.5), (2, None), (2, 3.5), (None, 0.5)], "a long, b double"
    )
    out = {r["column"]: r for r in profile_numeric_columns(df, ["a", "b"]).collect()}
    assert out["a"]["min_value"] == 1.0 and out["a"]["max_value"] == 2.0
    assert out["a"]["null_count"] == 1 and out["a"]["distinct_count"] == 2
    assert out["b"]["null_count"] == 1 and out["b"]["distinct_count"] == 3
    # approx tier returns the same shape (values within HLL tolerance)
    approx = {
        r["column"]: r
        for r in profile_numeric_columns(df, ["a"], approx_distinct=True).collect()
    }
    assert approx["a"]["distinct_count"] >= 1
    import pytest as _p
    with _p.raises(ValueError):
        profile_numeric_columns(df, [])

def test_dedup_paragraphs_global_first_occurrence(spark):
    from plateau_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "intro\n\nshared footer"),
            (2, "body two\n\nshared footer\n\nmore"),
            (3, "shared footer"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(df, "doc_id", "text").collect()}
    assert out[1]["text_deduped"] == "intro\n\nshared footer"
    # doc 2 loses only the footer (first seen in doc 1)
    assert out[2]["text_deduped"] == "body two\n\nmore"
    assert (out[2]["n_kept"], out[2]["n_paragraphs"]) == (2, 3)
    # doc 3 is entirely boilerplate -> empty
    assert out[3]["text_deduped"] == "" and out[3]["n_kept"] == 0
    # NULL text emits no row
    assert 4 not in out


def test_dedup_paragraphs_empty_paragraphs_first_occurrence(spark):
    """Repeated separators make '' paragraphs — the corpus-hot digest.
    They bypass sha2 (sentinel '') but keep identical first-occurrence
    semantics: the earliest '' survives, every later one drops."""
    from plateau_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a\n\n\n\nb"), (2, "c\n\n\n\n\n\nd")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(df, "doc_id", "text").collect()}
    # doc 1: ['a', '', 'b'] → all first occurrences
    assert out[1]["text_deduped"] == "a\n\n\n\nb"
    assert (out[1]["n_kept"], out[1]["n_paragraphs"]) == (3, 3)
    # doc 2: ['c', '', '', 'd'] → both '' already seen (doc 1 / earlier pos)
    assert out[2]["text_deduped"] == "c\n\nd"
    assert (out[2]["n_kept"], out[2]["n_paragraphs"]) == (2, 4)


def test_ppm_parse_encode_roundtrip():
    import numpy as np

    from plateau_spark.operators.multimodal import _encode_ppm, _parse_ppm

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    arr, end = _parse_ppm(_encode_ppm(img))
    assert end == len(_encode_ppm(img))
    assert (arr == img).all()
    # corrupt / foreign payloads are undecodable, not crashes
    assert _parse_ppm(b"JFIF....") is None
    assert _parse_ppm(b"P6\n4 4\n255\nshort") is None
    assert _parse_ppm(b"P6\n0 4\n255\n") is None


def test_bilinear_resize_matches_naive_reference():
    import numpy as np

    from plateau_spark.operators.multimodal import _bilinear_resize

    def naive(img, oh, ow):
        h, w, _ = img.shape
        out = np.zeros((oh, ow, 3), dtype=np.uint8)
        for oy in range(oh):
            for ox in range(ow):
                y = (oy + 0.5) * h / oh - 0.5
                x = (ox + 0.5) * w / ow - 0.5
                y0, x0 = int(np.floor(y)), int(np.floor(x))
                fy, fx = y - y0, x - x0
                y0c, y1c = max(y0, 0), min(y0 + 1, h - 1)
                x0c, x1c = max(x0, 0), min(x0 + 1, w - 1)
                acc = np.zeros(3)
                for (yy, wy) in ((y0c, 1 - fy), (y1c, fy)):
                    for (xx, wx) in ((x0c, 1 - fx), (x1c, fx)):
                        acc += img[yy, xx].astype(float) * wy * wx
                out[oy, ox] = np.clip(np.floor(acc + 0.5), 0, 255)
        return out

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (6, 9, 3), dtype=np.uint8)
    for oh, ow in ((3, 4), (12, 18), (6, 9), (1, 1)):
        assert (_bilinear_resize(img, oh, ow) == naive(img, oh, ow)).all(), (oh, ow)
    # constant image stays constant at any size
    const = np.full((4, 4, 3), 137, dtype=np.uint8)
    assert (_bilinear_resize(const, 10, 3) == 137).all()


def test_resize_images_spark_pipeline(spark):
    import numpy as np

    from plateau_spark.operators.multimodal import (
        _bilinear_resize,
        _encode_ppm,
        _parse_ppm,
        resize_images,
    )

    rng = np.random.RandomState(5)
    imgs = {i: rng.randint(0, 256, (8, 8, 3), dtype=np.uint8) for i in range(4)}
    rows = [(i, bytearray(_encode_ppm(img))) for i, img in imgs.items()]
    rows.append((99, bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in resize_images(df, 4, 4).collect()}
    assert set(out) == set(imgs)  # corrupt row dropped
    for i, img in imgs.items():
        arr, _ = _parse_ppm(bytes(out[i]["payload"]))
        assert (arr == _bilinear_resize(img, 4, 4)).all()
        assert out[i]["meta"]["mime"] == "image/x-portable-pixmap"
        assert out[i]["meta"]["n_bytes"] == len(bytes(out[i]["payload"]))


def test_sample_video_frames_spark(spark):
    import numpy as np

    from plateau_spark.operators.multimodal import (
        _encode_ppm,
        _parse_ppm,
        sample_video_frames,
    )

    frames = [np.full((2, 3, 3), v, dtype=np.uint8) for v in (10, 20, 30, 40, 50)]
    video = b"".join(_encode_ppm(f) for f in frames)
    df = spark.createDataFrame(
        [(1, bytearray(video)), (2, bytearray(b"garbage"))],
        "media_id long, payload binary",
    )
    out = sorted(
        (r["media_id"], r["frame_idx"], bytes(r["payload"]))
        for r in sample_video_frames(df, 2).collect()
    )
    assert [(m, k) for m, k, _ in out] == [(1, 0), (1, 2), (1, 4)]
    for (_, k, payload), v in zip(out, (10, 30, 50)):
        arr, _ = _parse_ppm(payload)
        assert (arr == v).all()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_n"):
        sample_video_frames(df, 0)


# ---------------------------------------------------------------------------
# skew_profile


def test_skew_profile_matches_single_window_reference(spark):
    from pyspark.sql import Window

    from plateau_spark.operators.dataflow import skew_profile

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = sorted(
        tuple(r) for r in skew_profile(ev, ["event_type", "user_id"], k=5).collect()
    )
    # naive single-window reference (fine at test scale)
    longf = ev.selectExpr(
        "stack(2, 'event_type', CAST(event_type AS STRING), "
        "'user_id', CAST(user_id AS STRING)) as (col_name, value)"
    ).where(F.col("value").isNotNull())
    counts = longf.groupBy("col_name", "value").count()
    w = Window.partitionBy("col_name").orderBy(
        F.col("count").desc(), F.col("value").asc()
    )
    tot = counts.groupBy("col_name").agg(F.sum("count").alias("n"))
    ref = sorted(
        tuple(r)
        for r in counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .join(tot, "col_name")
        .select(
            "col_name",
            "value",
            F.col("count").alias("cnt"),
            (F.col("count") / F.col("n")).alias("share"),
            "rnk",
        )
        .collect()
    )
    assert got == ref and len(got) == 10


def test_skew_profile_ties_nulls_and_guards(spark):
    from plateau_spark.operators.dataflow import skew_profile

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",), (None,)], "key string"
    )
    rows = {r.rnk: r for r in skew_profile(df, ["key"], k=3).collect()}
    # ties (a=2, b=2) break by value ascending; NULL excluded from share
    assert (rows[1].value, rows[2].value, rows[3].value) == ("a", "b", "c")
    assert rows[1].share == 2 / 5 and rows[3].share == 1 / 5
    with pytest.raises(ValueError):
        skew_profile(df, [], k=3)
    with pytest.raises(ValueError):
        skew_profile(df, ["key"], k=0)
