"""The one ranking contract every ANN search tier shares.

Each tier only generates candidates; the rank is one top-k over
(score, id ascending) with NULL scores never ranked. Run exhaustively
(every cell probed, one LSH bucket, a PQ shortlist covering the whole
corpus), every tier must therefore return exactly the brute-force
answer, ties included. The corpus repeats each base vector, so ties
are forced at every rank. Vector elements are multiples of 1/8, so
every squared L2 distance is a multiple of 1/64 and rounding it to 6
digits is exact in both Spark and numpy.
"""

from __future__ import annotations

import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

DIM, COPIES, N_BASE = 8, 4, 10
K = 6
N_CELLS = 4
M, SUB, KK = 2, 4, 4


def _corpus_rows():
    rng = np.random.default_rng(23)
    bases = rng.integers(-8, 9, size=(N_BASE, DIM)) / 8.0
    rows = [
        (int(i), [float(x) for x in bases[i % N_BASE]])
        for i in range(N_BASE * COPIES)
    ]
    # a zero vector: its cosine is NULL against everything
    rows.append((N_BASE * COPIES, [0.0] * DIM))
    return rows


def _pinned_centroids():
    return [
        (c, [((c * 5 + d * 3) % 7 - 3) / 8.0 for d in range(DIM)])
        for c in range(N_CELLS)
    ]


def _pinned_model():
    books = [
        [[((j * 3 + c * 5 + d) % 9 - 4) / 8.0 for d in range(SUB)] for c in range(KK)]
        for j in range(M)
    ]
    return {"m": M, "k": KK, "dim": DIM, "sub_dim": SUB, "codebooks": books}


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    # parquet-backed so the optimizer has a real size estimate (a frame
    # built from Python rows estimates as Long.MaxValue bytes)
    path = str(tmp_path_factory.mktemp("topk") / "corpus.parquet")
    spark.createDataFrame(
        _corpus_rows(), "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def queries(spark):
    rows = _corpus_rows()
    picks = [rows[0], rows[3], rows[N_BASE * COPIES]]
    picks.append((900, [0.5, -0.25, 0.125, 0.0, 1.0, -1.0, 0.25, 0.375]))
    return spark.createDataFrame(
        [(int(i) + 1000, v) for i, v in picks],
        "query_id long, embedding array<double>",
    )


def _rows(df, score):
    return sorted(
        (r["query_id"], r["rank"], r["vec_id"], r[score]) for r in df.collect()
    )


def _l2_twin(corpus_rows, query_rows, k):
    """Exact squared L2 top-k, ranked by (round(dist2, 6), id)."""
    out = []
    for qid, qv in query_rows:
        scored = []
        for vid, v in corpus_rows:
            acc = 0.0
            for a, b in zip(v, qv):
                acc += (a - b) * (a - b)
            scored.append((round(acc, 6), vid))
        scored.sort()
        out += [(qid, r, vid, d) for r, (d, vid) in enumerate(scored[:k], start=1)]
    return sorted(out)


def test_cosine_tiers_exhaustive_equal_bruteforce(spark, corpus, queries, tmp_path):
    from plateau_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
        query_ivf_index,
    )

    want = _rows(cosine_topk_bruteforce(corpus, queries, k=K), "cosine")
    # ties are really exercised: some query has several rows at one score
    scores = [(q, s) for q, _, _, s in want]
    assert len(scores) > len(set(scores))
    # the zero-vector query scores NULL everywhere: never ranked
    assert not [r for r in want if r[0] == 1000 + N_BASE * COPIES]

    ivf = cosine_topk_ivf(
        corpus, queries, k=K, n_centroids=N_CELLS, nprobe=N_CELLS
    )
    assert _rows(ivf, "cosine") == want

    lsh = cosine_topk_lsh(corpus, queries, k=K, n_bits=0)
    assert _rows(lsh, "cosine") == want

    store = str(tmp_path / "s")
    build_ivf_index(spark, store, "ivf", corpus, n_centroids=N_CELLS)
    persisted = query_ivf_index(spark, store, "ivf", queries, k=K, nprobe=N_CELLS)
    assert _rows(persisted, "cosine") == want


def test_pq_tiers_exhaustive_equal_exact_l2(spark, corpus, queries, tmp_path):
    from plateau_spark.operators.similarity import (
        build_ivfpq_index,
        build_pq_index,
        encode_pq,
        pq_topk,
        query_ivfpq_index,
        query_pq_index,
    )

    n = corpus.count()
    overfetch = -(-n // K)  # fetch = K·overfetch covers the corpus
    want = _l2_twin(
        _corpus_rows(), [(r[0], r[1]) for r in queries.collect()], K
    )
    dists = [(q, d) for q, _, _, d in want]
    assert len(dists) > len(set(dists))

    model = _pinned_model()
    codes = encode_pq(corpus, model)
    got = pq_topk(
        codes, queries, model, k=K, refine_with=corpus, overfetch=overfetch
    )
    assert _rows(got, "dist2") == want

    store = str(tmp_path / "s")
    build_pq_index(spark, store, "pq", corpus, m=M, k=KK, refine_iterations=1)
    got = query_pq_index(
        spark, store, "pq", queries, k=K, refine_with=corpus, overfetch=overfetch
    )
    assert _rows(got, "dist2") == want

    build_ivfpq_index(
        spark, store, "ivfpq", corpus,
        centroids=_pinned_centroids(), pq_model=model,
    )
    got = query_ivfpq_index(
        spark, store, "ivfpq", queries, k=K, nprobe=N_CELLS,
        refine_with=corpus, overfetch=overfetch,
    )
    assert _rows(got, "dist2") == want


@pytest.fixture(scope="module")
def refine_with_null(spark):
    """The corpus with one NULL element in vector 1 — a duplicate of
    vector 0's neighbours, so its id reaches every full shortlist."""
    rows = _corpus_rows()
    vid, v = rows[1]
    rows[1] = (vid, [None] + v[1:])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _assert_null_distance_never_ranked(got):
    rows = sorted((r["query_id"], r["rank"], r["vec_id"], r["dist2"]) for r in got.collect())
    assert rows, "no result rows"
    assert all(d is not None for *_, d in rows)
    # query 1000 is corpus vector 0: its true nearest neighbour is
    # itself at distance 0 (id 0 is the smallest of its tied copies)
    assert rows[0] == (1000, 1, 0, 0.0)
    ranks = [r for q, r, _, _ in rows if q == 1000]
    assert ranks == list(range(1, len(ranks) + 1))
    assert 1 not in [vid for q, _, vid, _ in rows if q == 1000]


def test_pq_rerank_never_ranks_null_distance(spark, corpus, queries, refine_with_null):
    from plateau_spark.operators.similarity import encode_pq, pq_topk

    model = _pinned_model()
    got = pq_topk(
        encode_pq(corpus, model), queries.where(F.col("query_id") == 1000),
        model, k=K, refine_with=refine_with_null, overfetch=corpus.count(),
    )
    _assert_null_distance_never_ranked(got)


def test_ivfpq_rerank_never_ranks_null_distance(
    spark, corpus, queries, refine_with_null, tmp_path
):
    from plateau_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    store = str(tmp_path / "s")
    build_ivfpq_index(
        spark, store, "ix", corpus,
        centroids=_pinned_centroids(), pq_model=_pinned_model(),
    )
    got = query_ivfpq_index(
        spark, store, "ix", queries.where(F.col("query_id") == 1000),
        k=K, nprobe=N_CELLS, refine_with=refine_with_null,
        overfetch=corpus.count(),
    )
    _assert_null_distance_never_ranked(got)


@pytest.mark.parametrize("with_fit_corpus", [False, True])
def test_ivfpq_build_failure_releases_pins_and_pool(
    spark, corpus, tmp_path, monkeypatch, with_fit_corpus
):
    """A failing PQ fit must leave no cached frame and no pool thread."""
    from plateau_spark.operators import similarity

    def _boom(*args, **kwargs):
        raise RuntimeError("injected fit failure")

    monkeypatch.setattr(similarity, "fit_pq_model", _boom)
    # the residual pin (and its pool) is only taken under the size gate
    assert similarity.estimated_bytes(corpus) <= similarity._IVFPQ_RESID_PIN_BYTES
    spark.catalog.clearCache()
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected fit failure"):
        similarity.build_ivfpq_index(
            spark, str(tmp_path / "s"), "ix", corpus,
            centroids=_pinned_centroids(),
            fit_corpus=corpus.limit(20) if with_fit_corpus else None,
        )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()
    pool_threads = [
        t for t in set(threading.enumerate()) - before
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    ]
    assert pool_threads == []
