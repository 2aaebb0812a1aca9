"""Round-10 operator tests: record linkage / entity resolution,
plus the other r10 north-star additions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from plateau_spark.operators.linkage import (
    candidate_pairs,
    field_similarity_col,
    match_pairs,
    resolve_entities,
)


@pytest.fixture(scope="module")
def people(spark):
    # two feeds of the same 4 entities + 1 unmatched record; feed B has
    # typos in the name but identical account codes
    rows = [
        (0, "Ada Lovelace", "ACC-1815"),
        (2, "Grace Hopper", "ACC-1906"),
        (4, "Alan Turing", "ACC-1912"),
        (6, "Edsger Dijkstra", "ACC-1930"),
        (1, "Ada Lovelase", "ACC-1815"),   # 1 edit
        (3, "Grace Hoper", "ACC-1906"),    # 1 edit
        (5, "Allan Turing", "ACC-1912"),   # 1 edit
        (7, "E. W. Dijkstra", "ACC-1930"), # far
        (9, "Donald Knuth", "ACC-1938"),   # no partner
    ]
    return spark.createDataFrame(rows, "id long, name string, acct string")


def test_field_similarity_bounds(spark):
    df = spark.createDataFrame(
        [("abc", "abc"), ("abc", "abd"), ("", ""), (None, "x"), ("abc", "")],
        "a string, b string",
    )
    got = df.select(F.round(field_similarity_col("a", "b"), 6).alias("s")).collect()
    vals = [r["s"] for r in got]
    assert vals[0] == 1.0
    assert vals[1] == pytest.approx(1 - 1 / 3, abs=1e-6)
    assert vals[2] == 1.0
    assert vals[3] is None
    assert vals[4] == 0.0


def test_candidate_pairs_blocking_and_cap(people):
    # block on acct: each account pairs its two feeds only
    cand = candidate_pairs(people, "id", [F.col("acct")])
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert got == {(0, 1), (2, 3), (4, 5), (6, 7)}
    # a degenerate blocking key (constant) exceeds the cap → no pairs
    capped = candidate_pairs(
        people, "id", [F.lit("same")], max_block_size=4
    )
    assert capped.count() == 0
    # multiple keys: pair co-blocked twice still appears once
    multi = candidate_pairs(people, "id", [F.col("acct"), F.col("acct")])
    assert multi.count() == 4


def test_candidate_pairs_null_keys_never_block(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "k")], "id long, key string"
    )
    assert candidate_pairs(df, "id", [F.col("key")]).count() == 0


def test_match_pairs_threshold(people):
    pairs = match_pairs(
        people,
        "id",
        [F.col("acct")],
        ["name", "acct"],
        threshold=0.9,
    )
    got = {(r["id_a"], r["id_b"]): r["score"] for r in pairs.collect()}
    # 1-edit names with identical accounts clear 0.9; Dijkstra's far
    # rename does not
    assert set(got) == {(0, 1), (2, 3), (4, 5)}
    assert all(0.9 <= s <= 1.0 for s in got.values())


def test_match_pairs_null_field_reweights(spark):
    df = spark.createDataFrame(
        [(1, "same", None), (2, "same", "x-123")],
        "id long, name string, acct string",
    )
    pairs = match_pairs(
        df, "id", [F.col("name")], ["name", "acct"], threshold=0.99
    )
    rows = pairs.collect()
    # acct similarity is NULL → weight drops to the name field alone
    assert len(rows) == 1 and rows[0]["score"] == 1.0


def test_resolve_entities_total_clustering(people):
    ents = resolve_entities(
        people, "id", [F.col("acct")], ["name", "acct"], threshold=0.9
    )
    got = {r["id"]: r["entity_id"] for r in ents.collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4, 6: 6, 7: 7, 9: 9}


def test_match_pairs_weight_mismatch_raises(people):
    with pytest.raises(ValueError):
        match_pairs(people, "id", [F.col("acct")], ["name"], weights=[1.0, 2.0])


def test_candidate_pairs_no_keys_raises(people):
    with pytest.raises(ValueError):
        candidate_pairs(people, "id", [])


# --- salted skew join -------------------------------------------------------

from plateau_spark.operators.joins import salted_join  # noqa: E402


@pytest.fixture(scope="module")
def skewed(spark):
    left = spark.range(0, 2000).select(
        F.col("id").alias("row_id"),
        # 80% of rows hit key 7 (extreme skew), the rest spread
        F.when(F.col("id") % 5 != 0, F.lit(7))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        (F.col("id") * 3).alias("payload"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("dim-"), F.col("id")).alias("name")
    )
    return left, right


def test_salted_join_matches_plain_inner(skewed):
    left, right = skewed
    plain = left.join(right, "k").select("row_id", "k", "payload", "name")
    salted = salted_join(left, right, ["k"], num_salts=8).select(
        "row_id", "k", "payload", "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain_left(spark, skewed):
    left, right = skewed
    # drop some dim keys so unmatched-left multiplicity is exercised
    right = right.where(F.col("k") % 2 == 0)
    plain = left.join(right, "k", "left").select("row_id", "k", "name")
    salted = salted_join(left, right, ["k"], num_salts=8, how="left").select(
        "row_id", "k", "name"
    )
    assert sorted(
        map(tuple, salted.fillna("", "name").collect())
    ) == sorted(map(tuple, plain.fillna("", "name").collect()))


def test_salted_join_spreads_hot_key(spark, skewed):
    left, right = skewed
    # the salt column must split key 7's rows across multiple values
    salt_spread = (
        left.withColumn(
            "s", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
        )
        .where(F.col("k") == 7)
        .select("s")
        .distinct()
        .count()
    )
    assert salt_spread == 8


def test_salted_join_rejects_bad_args(skewed):
    left, right = skewed
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="full")
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], num_salts=0)


# --- trailing-baseline anomaly z-score --------------------------------------

from plateau_spark.operators.sketches import anomaly_zscore  # noqa: E402


def test_anomaly_zscore_flags_spike(spark):
    # flat series of 10s with one 100 spike at the end
    rows = [("a", t, 10) for t in range(8)] + [("a", 8, 100)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = anomaly_zscore(df, ["g"], "t", "x", baseline=8, min_baseline=4)
    got = {r["t"]: (r["is_anomaly"], r["zscore"]) for r in out.collect()}
    # flat history has zero variance -> NULL gates everywhere before the
    # spike; the spike row's baseline is also flat -> NULL too
    assert got[8] == (None, None)
    # add jitter so variance is nonzero
    rows = [("a", t, 10 + (t % 2)) for t in range(8)] + [("a", 8, 100)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = anomaly_zscore(df, ["g"], "t", "x", baseline=8, min_baseline=4)
    got = {r["t"]: r for r in out.collect()}
    assert got[8]["is_anomaly"] is True and got[8]["zscore"] > 3
    assert got[7]["is_anomaly"] is False
    # early rows below min_baseline stay NULL
    assert got[2]["is_anomaly"] is None


def test_anomaly_zscore_exact_gate_matches_float(spark):
    # property-ish check: integer gate == float z comparison on jittered data
    rows = [("g", t, 50 + ((t * 7919) % 23) - 11) for t in range(200)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    out = anomaly_zscore(df, ["g"], "t", "x", baseline=12, min_baseline=4).collect()
    for r in out:
        if r["zscore"] is not None:
            assert r["is_anomaly"] == (abs(r["zscore"]) > 3.0), r


def test_anomaly_zscore_validates_args(spark):
    df = spark.createDataFrame([("g", 1, 1)], "g string, t long, x long")
    with pytest.raises(ValueError):
        anomaly_zscore(df, ["g"], "t", "x", z_threshold=3.5)
    with pytest.raises(ValueError):
        anomaly_zscore(df, ["g"], "t", "x", baseline=2, min_baseline=4)


# --- full MERGE INTO ---------------------------------------------------------

from plateau_spark.sources.dataset import (  # noqa: E402
    merge_into_dataset,
    merge_upsert_into_dataset,
    read_table,
    store_dataframe_as_dataset,
)


@pytest.fixture()
def merge_ds(spark, store):
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(10)], "id long, tag string, qty long"
    )
    store_dataframe_as_dataset(spark, store, "m", base)
    return store


def _rows(spark, store):
    return {
        r["id"]: (r["tag"], r["qty"])
        for r in read_table(spark, store, "m").collect()
    }


def test_merge_into_default_is_upsert(spark, merge_ds):
    src = spark.createDataFrame(
        [(3, "new3", 999), (42, "new42", 1)], "id long, tag string, qty long"
    )
    merge_into_dataset(spark, merge_ds, "m", src, "id")
    got = _rows(spark, merge_ds)
    assert got[3] == ("new3", 999) and got[42] == ("new42", 1)
    assert len(got) == 11


def test_merge_into_conditional_update(spark, merge_ds):
    # only update rows whose incoming qty beats the existing one
    src = spark.createDataFrame(
        [(2, "up", 999), (4, "down", 1)], "id long, tag string, qty long"
    )
    merge_into_dataset(
        spark, merge_ds, "m", src, "id",
        when_matched_update="s.qty > t.qty",
        when_not_matched_insert=None,
    )
    got = _rows(spark, merge_ds)
    assert got[2] == ("up", 999)       # 999 > 20 → updated
    assert got[4] == ("v4", 40)        # 1 < 40 → kept
    assert len(got) == 10              # insert clause off


def test_merge_into_delete_clause(spark, merge_ds):
    src = spark.createDataFrame(
        [(5, "del", 0), (6, "keepish", 999), (77, "ins", 7)],
        "id long, tag string, qty long",
    )
    merge_into_dataset(
        spark, merge_ds, "m", src, "id",
        when_matched_delete="s.qty = 0",
        when_matched_update="true",
        when_not_matched_insert="s.qty > 5",
    )
    got = _rows(spark, merge_ds)
    assert 5 not in got                 # deleted
    assert got[6] == ("keepish", 999)   # delete didn't fire → updated
    assert got[77] == ("ins", 7)        # insert condition held
    assert len(got) == 10


def test_merge_into_insert_condition_filters(spark, merge_ds):
    src = spark.createDataFrame(
        [(100, "a", 1), (101, "b", 50)], "id long, tag string, qty long"
    )
    merge_into_dataset(
        spark, merge_ds, "m", src, "id",
        when_matched_update=None,
        when_not_matched_insert="s.qty >= 10",
    )
    got = _rows(spark, merge_ds)
    assert 100 not in got and got[101] == ("b", 50)


def test_merge_into_matches_upsert_exactly(spark, store):
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, tag string"
    )
    store_dataframe_as_dataset(spark, store, "a", base)
    store_dataframe_as_dataset(spark, store, "b", base)
    src = spark.createDataFrame(
        [(5, "X"), (15, "Y"), (99, "Z")], "id long, tag string"
    )
    merge_upsert_into_dataset(spark, store, "a", src, "id")
    merge_into_dataset(spark, store, "b", src, "id")
    a = sorted(map(tuple, read_table(spark, store, "a").collect()))
    b = sorted(map(tuple, read_table(spark, store, "b").collect()))
    assert a == b


def test_merge_into_rejects_duplicate_keys(spark, merge_ds):
    src = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2)], "id long, tag string, qty long"
    )
    with pytest.raises(ValueError):
        merge_into_dataset(spark, merge_ds, "m", src, "id")


def test_merge_into_rejects_bad_key(spark, merge_ds):
    src = spark.createDataFrame([(1, "a", 1)], "id long, tag string, qty long")
    with pytest.raises(ValueError):
        merge_into_dataset(spark, merge_ds, "m", src, "nope")


def test_merge_into_null_keys_ansi_semantics(spark, store):
    # ANSI/Delta MERGE: NULL never matches. A NULL-key target row is kept
    # exactly once (no duplication through matched+anti paths), NULL-key
    # source rows are inserts, and several NULL-key source rows are legal.
    base = spark.createDataFrame(
        [(1, "v1", 10), (2, "v2", 20), (None, "vn", 30)],
        "id long, tag string, qty long",
    )
    store_dataframe_as_dataset(spark, store, "mn", base)
    src = spark.createDataFrame(
        [(2, "up", 99), (None, "sn", 77), (None, "sn2", 88), (5, "ins", 55)],
        "id long, tag string, qty long",
    )
    merge_into_dataset(spark, store, "mn", src, "id")
    rows = sorted(
        [
            (r["id"], r["tag"], r["qty"])
            for r in read_table(spark, store, "mn").collect()
        ],
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]),
    )
    assert rows == [
        (1, "v1", 10),       # unmatched target kept
        (2, "up", 99),       # matched → updated
        (5, "ins", 55),      # unmatched source → inserted
        (None, "sn", 77),    # NULL-key source → insert, never matches
        (None, "sn2", 88),   # second NULL-key source is NOT a duplicate
        (None, "vn", 30),    # NULL-key target kept exactly once
    ]


def test_merge_into_null_key_delete_never_fires_on_null(spark, store):
    # delete clause must not reach NULL-key target rows (they never match)
    base = spark.createDataFrame(
        [(1, "v1", 10), (None, "vn", 30)], "id long, tag string, qty long"
    )
    store_dataframe_as_dataset(spark, store, "mnd", base)
    src = spark.createDataFrame(
        [(1, "x", 0), (None, "y", 0)], "id long, tag string, qty long"
    )
    merge_into_dataset(
        spark, store, "mnd", src, "id",
        when_matched_delete="s.qty = 0",
        when_not_matched_insert=None,
    )
    rows = sorted(
        (r["tag"], r["qty"]) for r in read_table(spark, store, "mnd").collect()
    )
    assert rows == [("vn", 30)]  # id=1 deleted; NULL-key target untouched


def test_merge_probe_null_key_rules(spark, store):
    """Both MERGE APIs run one shared duplicate-key + key-bounds probe,
    and keep their own NULL-key rule: merge_into_dataset exempts NULL-key
    tuples from the duplicate check (ANSI: NULL never matches),
    merge_upsert_into_dataset counts them like any other key."""
    from plateau_spark.sources.dataset import merge_upsert_into_dataset

    schema = "id long, tag string, qty long"
    store_dataframe_as_dataset(
        spark, store, "np", spark.createDataFrame([(1, "a", 1)], schema)
    )
    null_dups = spark.createDataFrame([(None, "x", 1), (None, "y", 2)], schema)
    with pytest.raises(ValueError, match="updates carry duplicate merge-key tuples"):
        merge_upsert_into_dataset(spark, store, "np", null_dups, "id")
    merge_into_dataset(spark, store, "np", null_dups, "id")  # legal
    assert read_table(spark, store, "np").count() == 3
    mixed = spark.createDataFrame([(None, "x", 1), (7, "y", 2), (7, "z", 3)], schema)
    with pytest.raises(ValueError, match="source carries duplicate merge-key tuples"):
        merge_into_dataset(spark, store, "np", mixed, "id")
    # composite keys: one NULL component exempts the tuple for MERGE INTO
    part_null = spark.createDataFrame([(1, None, 1), (1, None, 2)], schema)
    merge_into_dataset(spark, store, "np", part_null, ["id", "tag"])
    with pytest.raises(ValueError, match="updates carry duplicate"):
        merge_upsert_into_dataset(spark, store, "np", part_null, ["id", "tag"])


@pytest.mark.parametrize("api", ["upsert", "merge_into"])
def test_merge_probe_one_action_same_candidates(spark, tmp_path, monkeypatch, api):
    """The probe is one Spark action (the former duplicate probe plus a
    separate bounds aggregation launched 5 jobs before planning), and
    the key bounds still prune candidates through the zone maps."""
    import uuid

    import plateau_spark.sources.dataset as ds_mod
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store

    store = Store(str(tmp_path / "store"))
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("qty")
    ).repartitionByRange(4, "id")
    store_dataframe_as_dataset(spark, store, "m", df, zone_map_columns=["id"])
    before = set(DatasetMetadata.load(store, "m").partitions)
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    seen = {}
    real_plan = ds_mod.plan_scan

    def spy(meta, st, predicates=None, **kw):
        seen["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        seen["predicates"] = predicates
        return real_plan(meta, st, predicates, **kw)

    monkeypatch.setattr(ds_mod, "plan_scan", spy)
    src = spark.createDataFrame([(5, 999), (20, 999), (None, 1)], "id long, qty long")
    fn = ds_mod.merge_upsert_into_dataset if api == "upsert" else merge_into_dataset
    sc.setJobGroup(group, "merge probe")
    try:
        fn(spark, store, "m", src, "id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen["predicates"] == [[("id", ">=", 5), ("id", "<=", 20)]]
    assert 1 <= seen["jobs"] <= 3, seen
    after = set(DatasetMetadata.load(store, "m").partitions)
    assert len(before & after) == 3  # only the [0, 249] file was rewritten


# --- weighted PageRank -------------------------------------------------------

from plateau_spark.operators.graph import pagerank  # noqa: E402


def _np_pagerank(edge_list, d=0.85, iters=3):
    import numpy as np

    nodes = sorted({a for a, _, _ in edge_list} | {b for _, b, _ in edge_list})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for a, b, ww in edge_list:
        w[idx[a], idx[b]] += ww
    outw = w.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = (r / outw) @ w
        r = (1 - d) / n + d * contrib
    return {v: r[idx[v]] for v in nodes}


def _np_pagerank_dangling(edge_list, d=0.85, iters=3):
    import numpy as np

    nodes = sorted({a for a, _, _ in edge_list} | {b for _, b, _ in edge_list})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for a, b, ww in edge_list:
        w[idx[a], idx[b]] += ww
    outw = w.sum(axis=1)
    sinks = outw == 0
    safe = np.where(sinks, 1.0, outw)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = r[sinks].sum()
        contrib = (r / safe * ~sinks) @ w
        r = (1 - d) / n + d * (contrib + dm / n)
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_redistributes_dangling_mass(spark):
    # 'd' is a pure sink (no out-edges); its mass must spread uniformly
    edge_list = [
        ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
        ("a", "d", 1.0), ("c", "d", 3.0),
    ]
    e = spark.createDataFrame(edge_list, "src string, dst string, w double")
    expect = _np_pagerank_dangling(edge_list)
    for fold in (False, True):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                e, weight_col="w", deterministic_fold=fold,
                redistribute_dangling=True,
            ).collect()
        }
        for v, r in expect.items():
            assert got[v] == pytest.approx(r, rel=1e-12), (fold, v)
    # with redistribution the total mass is conserved at 1
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # ... and without it, the same graph leaks mass (the documented default)
    leaky = pagerank(e, weight_col="w").collect()
    assert sum(r["rank"] for r in leaky) < 1.0


def test_pagerank_two_node_cycle(spark):
    e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(e).collect()}
    assert got["a"] == pytest.approx(0.5) and got["b"] == pytest.approx(0.5)


def test_pagerank_matches_numpy(spark):
    edge_list = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("c", "c", 3.0), ("d", "a", 1.0), ("d", "d", 1.0),
    ]
    e = spark.createDataFrame(edge_list, "src string, dst string, w double")
    expect = _np_pagerank(edge_list)
    for fold in (False, True):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(e, weight_col="w", deterministic_fold=fold).collect()
        }
        for v, r in expect.items():
            assert got[v] == pytest.approx(r, rel=1e-12), (fold, v)


def test_pagerank_combines_duplicate_edges(spark):
    # (a->b) twice == weight-2 edge
    dup = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")],
        "src string, dst string",
    )
    weighted = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    g1 = {r["node"]: r["rank"] for r in pagerank(dup).collect()}
    g2 = {r["node"]: r["rank"] for r in pagerank(weighted, weight_col="w").collect()}
    for v in g1:
        assert g1[v] == pytest.approx(g2[v], rel=1e-12)


def test_pagerank_validates_args(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(e, iterations=0)


# --- BPE merge-pair counting -------------------------------------------------

from plateau_spark.operators.text import bpe_merge_candidates  # noqa: E402


def test_bpe_merge_candidates_counts(spark):
    df = spark.createDataFrame(
        [("the cat the hat",), ("the thin cat",)], "text string"
    )
    got = {
        r["pair"]: (r["pair_count"], r["rank"])
        for r in bpe_merge_candidates(df, "text", k=10, min_pair_count=1).collect()
    }
    # 'th': the×3 + thin×1 = 4; 'he': 3; 'at': cat×2 + hat×1 = 3
    assert got["th"] == (4, 1)
    assert got["he"][0] == 3 and got["at"][0] == 3
    # deterministic tie-break: 'at' < 'he' alphabetically
    assert got["at"][1] == 2 and got["he"][1] == 3


def test_bpe_merge_candidates_ignores_single_char_words(spark):
    df = spark.createDataFrame([("a a a bb",)], "text string")
    got = bpe_merge_candidates(df, "text", k=5, min_pair_count=1).collect()
    assert [(r["pair"], r["pair_count"]) for r in got] == [("bb", 1)]


def test_bpe_merge_candidates_validates_k(spark):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        bpe_merge_candidates(df, "text", k=0)


def test_merge_into_concurrent_append_raises_not_lost(spark, store, monkeypatch):
    """An append committed while MERGE INTO's rewrite runs makes the
    merge commit raise ConcurrentCommitError (the rewrite removes
    candidate labels — non-append-only, not mergeable); the append must
    survive untouched and the merge must NOT be half-applied."""
    import plateau_spark.sources.dataset as ds_mod

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "id long, qty long"
    )
    store_dataframe_as_dataset(spark, store, "mc", base)
    from plateau_spark.sources.dataset import update_dataset_from_dataframe

    real_read = ds_mod._read_committed_files
    fired = {"done": False}

    def interleaved(spark_, store_, uuid_, schema_, parts_, **kw):
        out = real_read(spark_, store_, uuid_, schema_, parts_, **kw)
        if not fired["done"]:
            fired["done"] = True
            update_dataset_from_dataframe(
                spark, store, "mc",
                spark.createDataFrame([(500, 1)], "id long, qty long"),
            )
        return out

    monkeypatch.setattr(ds_mod, "_read_committed_files", interleaved)
    src = spark.createDataFrame([(3, 999), (90, 9)], "id long, qty long")
    from plateau_spark.sources.dataset import ConcurrentCommitError

    with pytest.raises(ConcurrentCommitError):
        merge_into_dataset(spark, store, "mc", src, "id")
    monkeypatch.undo()
    got = {r["id"]: r["qty"] for r in read_table(spark, store, "mc").collect()}
    assert fired["done"]
    assert got[3] == 30 and 90 not in got   # merge not half-applied
    assert got[500] == 1                    # concurrent append survived
    assert len(got) == 9
    # a clean retry (the documented reload-and-retry contract) succeeds
    merge_into_dataset(spark, store, "mc", src, "id")
    got = {r["id"]: r["qty"] for r in read_table(spark, store, "mc").collect()}
    assert got[3] == 999 and got[90] == 9 and got[500] == 1
    assert len(got) == 10


# --- persisted unigram LM (train -> serve) -----------------------------------

from plateau_spark.operators.text import (  # noqa: E402
    score_from_unigram_lm,
    train_unigram_lm,
)


def test_unigram_lm_roundtrip_and_oov(spark, store):
    import math

    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat")], "doc_id long, text string"
    )
    train_unigram_lm(spark, store, "lm", train, "text", add_k=0.5)
    # N=6 tokens, V=4 vocab -> denom = 8.0
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store

    meta = DatasetMetadata.load(store, "lm").metadata["unigram_lm"]
    assert meta["total_tokens"] == 6 and meta["vocab_size"] == 4
    assert meta["oov_logp"] == pytest.approx(math.log(0.5 / 8.0))

    score_df = spark.createDataFrame(
        [(10, "the the"), (11, "zebra")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["nll"], r["oov_frac"])
        for r in score_from_unigram_lm(
            spark, store, "lm", score_df, "doc_id", "text", oov_col="oov_frac"
        ).collect()
    }
    # 'the' has count 2 -> logp = ln(2.5/8)
    assert got[10][0] == pytest.approx(-math.log(2.5 / 8.0), abs=1e-6)
    assert got[10][1] == 0.0
    # OOV doc charged the smoothed-zero penalty, flagged 100% OOV
    assert got[11][0] == pytest.approx(-math.log(0.5 / 8.0), abs=1e-6)
    assert got[11][1] == 1.0


def test_unigram_lm_rejects_zero_k(spark, store):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        train_unigram_lm(spark, store, "lmz", df, "text", add_k=0.0)


def test_score_requires_lm_metadata(spark, store):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    store_dataframe_as_dataset(spark, store, "notlm", df)
    with pytest.raises(ValueError):
        score_from_unigram_lm(spark, store, "notlm", df, "doc_id", "text")


# --- ordered funnel ----------------------------------------------------------

from plateau_spark.streaming.events import funnel_steps  # noqa: E402


def test_funnel_steps_ordering_and_bound(spark):
    import datetime as dt

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        # user 1 completes in order
        (1, t(1), "view"), (1, t(2), "signup"), (1, t(3), "purchase"),
        # user 2: signup BEFORE view -> never converts past step 1
        (2, t(2), "signup"), (2, t(3), "view"),
        # user 3: purchase without signup -> stops at step 1
        (3, t(1), "view"), (3, t(2), "purchase"),
        # user 4: completes but outside the 2-hour bound
        (4, t(1), "view"), (4, t(10), "signup"),
        # user 5: no view at all -> not in funnel
        (5, t(1), "signup"), (5, t(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, et string")
    out = funnel_steps(
        df, "u", "ts", "et", ["view", "signup", "purchase"], within="2 hours"
    ).collect()
    got = {r["step"]: (r["users_reached"], r["conversion"]) for r in out}
    assert got[1] == (4, 1.0)
    assert got[2] == (1, 0.25)
    assert got[3] == (1, 0.25)


def test_funnel_steps_needs_two(spark):
    df = spark.createDataFrame([(1, 1, "a")], "u long, ts long, et string")
    with pytest.raises(ValueError):
        funnel_steps(df, "u", "ts", "et", ["a"])


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_merge_into_matches_python_model_random(spark, tmp_path):
    """Property check: MERGE INTO == a row-by-row Python model of the
    clause semantics across randomized tables/conditions (seeded)."""
    import random

    from plateau_spark.core.store import Store

    rng = random.Random(20260815)
    conds = [
        ("s.qty = 0", "s.qty > t.qty", "s.qty >= 10"),
        (None, "s.qty <> t.qty", "true"),
        ("s.qty < t.qty", None, None),
        ("true", "true", "true"),
    ]
    for case, (dcond, ucond, icond) in enumerate(conds):
        store = Store(str(tmp_path / f"s{case}"))
        base = {
            i: rng.randrange(0, 60) for i in rng.sample(range(40), 15)
        }
        src = {
            i: rng.randrange(0, 60) for i in rng.sample(range(60), 12)
        }
        # NULL merge keys ride along in every case: the target NULL row
        # must survive untouched, source NULL rows are pure inserts
        base_null = [(None, rng.randrange(0, 60))]
        src_null = [(None, rng.randrange(0, 60)) for _ in range(2)]
        spark_base = spark.createDataFrame(
            sorted(base.items()) + base_null, "id long, qty long"
        )
        spark_src = spark.createDataFrame(
            sorted(src.items()) + src_null, "id long, qty long"
        )
        store_dataframe_as_dataset(spark, store, "m", spark_base)
        merge_into_dataset(
            spark, store, "m", spark_src, "id",
            when_matched_delete=dcond,
            when_matched_update=ucond,
            when_not_matched_insert=icond,
        )

        def holds(cond, s_qty, t_qty=None):
            if cond is None:
                return False
            env = {"s": {"qty": s_qty}, "t": {"qty": t_qty}}
            return {
                "s.qty = 0": env["s"]["qty"] == 0,
                "s.qty > t.qty": env["s"]["qty"] > (env["t"]["qty"] or 0)
                if t_qty is not None else False,
                "s.qty >= 10": env["s"]["qty"] >= 10,
                "s.qty <> t.qty": env["s"]["qty"] != env["t"]["qty"]
                if t_qty is not None else False,
                "s.qty < t.qty": env["s"]["qty"] < env["t"]["qty"]
                if t_qty is not None else False,
                "true": True,
            }[cond]

        expect = {}
        for i, tq in base.items():
            if i in src:
                sq = src[i]
                if holds(dcond, sq, tq):
                    continue
                expect[i] = sq if holds(ucond, sq, tq) else tq
            else:
                expect[i] = tq
        for i, sq in src.items():
            if i not in base and holds(icond, sq):
                expect[i] = sq
        expect_rows = sorted(
            [(k, v) for k, v in expect.items()]
            + base_null  # NULL-key target rows are ALWAYS kept (never match)
            + [(None, sq) for (_, sq) in src_null if holds(icond, sq)],
            key=lambda t: (t[0] is None, t[0] or 0, t[1]),
        )
        got_rows = sorted(
            [(r["id"], r["qty"]) for r in read_table(spark, store, "m").collect()],
            key=lambda t: (t[0] is None, t[0] or 0, t[1]),
        )
        assert got_rows == expect_rows, (case, dcond, ucond, icond)


# --- pruning observability ---------------------------------------------------


def test_explain_scan_reports_pruning_tiers(spark, store):
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.plans.pruning import explain_scan, plan_scan

    df = spark.createDataFrame(
        [(i, "en" if i < 50 else "de", f"src{i % 4}", i) for i in range(100)],
        "doc_id long, lang string, source string, n_chars long",
    )
    store_dataframe_as_dataset(
        spark, store, "ex", df.repartition(2, "doc_id"),
        partition_on=["lang"],
        zone_map_columns=["n_chars"],
        bloom_filter_columns=["source"],
    )
    meta = DatasetMetadata.load(store, "ex")
    preds = [[("lang", "==", "en"), ("n_chars", "<", 10), ("source", "==", "src1")]]
    rep = explain_scan(meta, store, preds)
    assert {r["label"] for r in rep} == set(meta.partitions)
    # agreement with the planner
    planned = {p.label for p in plan_scan(meta, store, preds)}
    assert {r["label"] for r in rep if r["scanned"]} == planned
    reasons = {
        tier for r in rep if not r["scanned"] for tier in r["pruned_by"]
    }
    # de partitions pruned by the partition key; the en file whose
    # n_chars zone map excludes <10 is zone-map-pruned
    assert "partition_key" in reasons
    assert "zone_map" in reasons or "bloom" in reasons
    # no-predicate report scans everything
    rep_all = explain_scan(meta, store, None)
    assert all(r["scanned"] and r["pruned_by"] == [] for r in rep_all)


def test_explain_scan_scanned_labels_equal_plan_scan(spark, store):
    """plan_scan and explain_scan share their tier setup: for a
    predicate on each tier (and IS NULL, and a disjunction) the labels
    explain_scan reports as scanned are exactly plan_scan's."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.plans.pruning import explain_scan, plan_scan

    df = spark.createDataFrame(
        [
            (i, "en" if i % 2 else "de", None if i % 10 == 0 else f"src{i // 25}", i)
            for i in range(100)
        ],
        "doc_id long, lang string, source string, n_chars long",
    )
    store_dataframe_as_dataset(
        spark, store, "par", df.repartitionByRange(4, "doc_id"), repartition=False,
        partition_on=["lang"], secondary_indices=["source"],
        zone_map_columns=["n_chars"], bloom_filter_columns=["doc_id"],
    )
    meta = DatasetMetadata.load(store, "par")
    cases = [
        ("index", [[("source", "==", "src1")]]),
        ("bloom", [[("doc_id", "==", 7)]]),
        ("zone_map", [[("n_chars", "<", 10)]]),
        ("partition_key", [[("lang", "==", "de")]]),
        (None, [[("source", "==", None)]]),
        ("bloom", [[("doc_id", "==", 7)], [("lang", "==", "de"), ("n_chars", ">", 90)]]),
    ]
    for tier, preds in cases:
        rep = explain_scan(meta, store, preds)
        planned = {p.label for p in plan_scan(meta, store, preds)}
        assert {r["label"] for r in rep if r["scanned"]} == planned, preds
        if tier:
            assert any(tier in r["pruned_by"] for r in rep), preds


def test_explain_scan_bloom_tier(spark, store):
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.plans.pruning import explain_scan

    df = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(200)], "id long, k string"
    )
    store_dataframe_as_dataset(
        spark, store, "bl", df.repartitionByRange(4, "id"),
        bloom_filter_columns=["k"],
    )
    meta = DatasetMetadata.load(store, "bl")
    rep = explain_scan(meta, store, [[("k", "==", "key-3")]])
    pruned = [r for r in rep if not r["scanned"]]
    assert pruned and all("bloom" in r["pruned_by"] for r in pruned)
    assert sum(r["scanned"] for r in rep) >= 1


# --- partition-layout evolution ----------------------------------------------


def test_repartition_dataset_changes_layout(spark, store):
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        dataset_history,
        repartition_dataset,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", f"src{i % 3}") for i in range(60)],
        "doc_id long, lang string, source string",
    )
    store_dataframe_as_dataset(
        spark, store, "ev", df, partition_on=["lang"],
        zone_map_columns=["doc_id"],
    )
    cols = ["doc_id", "lang", "source"]
    before = sorted(map(tuple, read_table(spark, store, "ev").select(*cols).collect()))
    repartition_dataset(spark, store, "ev", partition_on=["source"])
    meta = DatasetMetadata.load(store, "ev")
    assert meta.partition_keys == ["source"]
    assert all("source=" in p.file for p in meta.partitions.values())
    # zone maps carried to the new files
    assert all("doc_id" in p.stats for p in meta.partitions.values())
    after = sorted(map(tuple, read_table(spark, store, "ev").select(*cols).collect()))
    assert before == after
    # pruning works under the new layout
    pruned = read_table(
        spark, store, "ev", predicates=[[("source", "==", "src1")]]
    )
    assert all("source=src1" in f for f in pruned.inputFiles())
    # time travel to the pre-evolution layout still works
    gens = dataset_history(spark, store, "ev").count()
    old = read_table(spark, store, "ev", generation=gens - 1)
    assert sorted(map(tuple, old.select(*cols).collect())) == before


def test_repartition_dataset_flatten_and_errors(spark, store):
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import repartition_dataset

    df = spark.createDataFrame(
        [(i, "x" if i < 5 else None) for i in range(10)], "id long, k string"
    )
    store_dataframe_as_dataset(
        spark, store, "fl", df.where(F.col("k").isNotNull()), partition_on=["k"]
    )
    repartition_dataset(spark, store, "fl", partition_on=[])
    assert DatasetMetadata.load(store, "fl").partition_keys == []
    with pytest.raises(ValueError):
        repartition_dataset(spark, store, "fl", partition_on=["nope"])
    # NULL key values hard-fail the rewrite
    store_dataframe_as_dataset(spark, store, "nl", df)
    with pytest.raises(Exception, match="[Nn]ull|HIVE"):
        repartition_dataset(spark, store, "nl", partition_on=["k"])


# --- vocabulary coverage -----------------------------------------------------

from plateau_spark.operators.text import vocab_coverage  # noqa: E402


def test_vocab_coverage_values(spark):
    # 'a'×6, 'b'×3, 'c'×1 -> top-1 covers 0.6, top-2 covers 0.9
    df = spark.createDataFrame(
        [("a a a b",), ("a a a b b c",)], "text string"
    )
    got = {
        r["vocab_k"]: (r["n_tokens_covered"], r["coverage"])
        for r in vocab_coverage(df, "text", ks=(1, 2, 100)).collect()
    }
    assert got[1] == (6, pytest.approx(0.6))
    assert got[2] == (9, pytest.approx(0.9))
    assert got[100] == (10, pytest.approx(1.0))


def test_vocab_coverage_validates_ks(spark):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        vocab_coverage(df, "text", ks=())
    with pytest.raises(ValueError):
        vocab_coverage(df, "text", ks=(0,))


# --- wall-clock time travel --------------------------------------------------


def test_read_as_of_timestamp(spark, store):
    import datetime as dt

    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import (
        generation_at_timestamp,
        update_dataset_from_dataframe,
    )

    df1 = spark.createDataFrame([(1,)], "k long")
    store_dataframe_as_dataset(spark, store, "aot", df1)
    t1 = dt.datetime.fromisoformat(
        DatasetMetadata.load(store, "aot").metadata["committed_at"]
    )
    update_dataset_from_dataframe(
        spark, store, "aot", spark.createDataFrame([(2,)], "k long")
    )
    t2 = dt.datetime.fromisoformat(
        DatasetMetadata.load(store, "aot").metadata["committed_at"]
    )
    assert t2 >= t1
    # creation_time is stamped once and carried across commits
    meta = DatasetMetadata.load(store, "aot")
    assert meta.metadata["creation_time"] == DatasetMetadata.load(
        store, "aot", generation=1
    ).metadata["creation_time"]
    # ... and uses the reference's naive-UTC isoformat (no offset suffix)
    assert dt.datetime.fromisoformat(
        meta.metadata["creation_time"]
    ).tzinfo is None
    assert generation_at_timestamp(store, "aot", t1) == 1
    assert generation_at_timestamp(store, "aot", t2) == 2
    rows_then = read_table(spark, store, "aot", as_of=t1).count()
    rows_now = read_table(spark, store, "aot", as_of=t2.isoformat()).count()
    assert (rows_then, rows_now) == (1, 2)
    with pytest.raises(KeyError):
        generation_at_timestamp(
            store, "aot", t1 - dt.timedelta(seconds=1)
        )
    with pytest.raises(ValueError):
        read_table(spark, store, "aot", generation=1, as_of=t1)


# --- mixture planning --------------------------------------------------------

from plateau_spark.operators.sampling import mixture_plan  # noqa: E402


def test_mixture_plan_epochs_and_flag(spark):
    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 50), ("c", 1000)],
        "src string, toks long",
    )
    got = {
        r["src"]: r
        for r in mixture_plan(
            df, ["src"], {"a": 1.0, "b": 1.0}, budget=1000,
            size_col="toks", max_epochs=2.0,
        ).collect()
    }
    # a: avail 200, target 500 -> 2.5 epochs (over cap); b: avail 50,
    # target 500 -> 10 epochs; c: weight 0 -> 0 epochs
    assert got["a"]["available"] == 200
    assert got["a"]["epochs"] == pytest.approx(2.5)
    assert got["a"]["over_epoch_cap"] is True
    assert got["b"]["epochs"] == pytest.approx(10.0)
    assert got["c"]["weight"] == 0.0 and got["c"]["epochs"] == 0.0
    assert got["c"]["over_epoch_cap"] is False


def test_mixture_plan_multicol_keys_do_not_collide(spark):
    # ('a','bc') and ('ab','c') concatenate to the same string without a
    # separator — each must still get its own weight
    df = spark.createDataFrame(
        [("a", "bc"), ("ab", "c")], "src string, lang string"
    )
    got = {
        (r["src"], r["lang"]): r["weight"]
        for r in mixture_plan(
            df, ["src", "lang"], {("a", "bc"): 3.0, ("ab", "c"): 1.0}, budget=100
        ).collect()
    }
    assert got[("a", "bc")] == pytest.approx(3.0)
    assert got[("ab", "c")] == pytest.approx(1.0)


def test_mixture_plan_validates(spark):
    df = spark.createDataFrame([("a", 1)], "src string, toks long")
    with pytest.raises(ValueError):
        mixture_plan(df, ["src"], {"a": 1.0}, budget=0)
    with pytest.raises(ValueError):
        mixture_plan(df, ["src"], {"a": -1.0}, budget=10)


# --- LSH quality report ------------------------------------------------------

from plateau_spark.operators.dedup import lsh_quality_report  # noqa: E402


def test_lsh_quality_report_counts(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different text about spark and parquet files"),
        (4, "completely different text about spark and parquet stores"),
        (5, "unrelated content entirely on its own topic here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = lsh_quality_report(
        df, "doc_id", "text", jaccard_threshold=0.5, num_perm=16, bands=8
    ).collect()[0]
    # near-identical pairs (1,2) and (3,4) must be ground truth
    assert rep["n_truth"] == 2
    assert rep["n_hits"] <= rep["n_candidates"]
    assert rep["n_hits"] <= rep["n_truth"]
    if rep["n_candidates"]:
        assert rep["precision"] == pytest.approx(
            rep["n_hits"] / rep["n_candidates"]
        )
    assert rep["recall"] == pytest.approx(rep["n_hits"] / 2)
    # 8 bands of 2 perms: both true pairs should be recalled
    assert rep["recall"] == 1.0


def test_match_pairs_matches_bruteforce_random(spark):
    """Property check: blocked match_pairs == brute-force all-pairs
    scoring restricted to co-blocked pairs, on randomized records."""
    import random

    def lev(a, b):
        if a is None or b is None:
            return None
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    def sim(a, b):
        if a is None or b is None:
            return None
        if max(len(a), len(b)) == 0:
            return 1.0
        return 1.0 - lev(a, b) / max(len(a), len(b))

    rng = random.Random(101)
    names = ["alpha", "alpaca", "beta", "betta", "gamma", "gamut", ""]
    for case in range(3):
        rows = [
            (
                i,
                rng.choice(names) + (rng.choice(["", "x"]) if rng.random() < 0.5 else ""),
                rng.choice(["b1", "b2", "b3", None]),
            )
            for i in range(25)
        ]
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        got = {
            (r["id_a"], r["id_b"]): r["score"]
            for r in match_pairs(
                df, "id", [F.col("blk")], ["name"], threshold=0.6
            ).collect()
        }
        expect = {}
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                if a[2] is None or a[2] != b[2]:
                    continue
                s = sim(a[1], b[1])
                if s is not None and s >= 0.6:
                    expect[(a[0], b[0])] = s
        assert set(got) == set(expect), case
        for k, v in expect.items():
            assert got[k] == pytest.approx(v, abs=1e-12), (case, k)


# --- bad-words gate & retention cohorts --------------------------------------

from plateau_spark.operators.text import blocked_words_signals  # noqa: E402
from plateau_spark.streaming.events import retention_cohorts  # noqa: E402


def test_blocked_words_signals(spark):
    df = spark.createDataFrame(
        [(1, "clean text here"), (2, "one bad word"), (3, "bad bad bad"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_blocked"], r["keep"])
        for r in blocked_words_signals(
            df, "doc_id", "text", ["bad"], max_hits=1
        ).collect()
    }
    assert got[1] == (0, True)
    assert got[2] == (1, True)
    assert got[3] == (3, False)
    assert got[4] == (0, True)
    with pytest.raises(ValueError):
        blocked_words_signals(df, "doc_id", "text", ["bad"], max_hits=-1)
    with pytest.raises(ValueError):
        blocked_words_signals(df, "doc_id", "text", ["bad"], literal_cap=0)


def test_blocked_words_join_tier_matches_literal_tier(spark):
    # a large blocklist flips to the broadcast-join tier; both tiers must
    # produce identical rows AND schema on the same documents — including
    # NULL text (zero tokens, never -1 or a dropped row)
    docs = [
        (i, " ".join(f"w{(i * 7 + j) % 500}" for j in range(30)))
        for i in range(200)
    ] + [(900, None), (901, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    blocklist = [f"w{k}" for k in range(0, 500, 3)]  # 167 words > default cap
    lit = blocked_words_signals(
        df, "doc_id", "text", blocklist, max_hits=2, literal_cap=1000
    )
    joined = blocked_words_signals(
        df, "doc_id", "text", blocklist, max_hits=2
    )
    a = sorted(map(tuple, lit.collect()))
    b = sorted(map(tuple, joined.collect()))
    assert a == b
    assert any(r[1] > 0 for r in a)  # the fixture actually has hits
    # identical column names + dtypes (nullability flags may differ)
    assert [(f.name, f.dataType) for f in lit.schema] == [
        (f.name, f.dataType) for f in joined.schema
    ]
    null_row = next(r for r in a if r[0] == 900)
    assert null_row[1:] == (0, 0.0, True)  # NULL text = zero tokens


def test_blocked_words_join_tier_keeps_duplicate_and_null_ids(spark):
    """Two rows with the SAME doc id (and NULL ids) must stay two output
    rows in the join tier, exactly as the literal tier emits them
    (regression: the groupBy(id_col, n) re-aggregation collapsed
    duplicate/NULL ids, silently flipping behavior at literal_cap)."""
    docs = [
        (1, "bad word soup"), (1, "bad word soup"),  # exact duplicate row
        (2, "bad bad"), (2, "clean two"),  # same id, different counts
        (None, "bad one"), (None, "bad one"),  # NULL ids
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    blocklist = [f"w{k}" for k in range(400)] + ["bad"]  # > default cap
    lit = blocked_words_signals(
        df, "doc_id", "text", blocklist, max_hits=1, literal_cap=1000
    )
    joined = blocked_words_signals(df, "doc_id", "text", blocklist, max_hits=1)
    key = lambda r: (r[0] if r[0] is not None else -1, r[1], r[2], r[3])  # noqa: E731
    a = sorted(map(tuple, lit.collect()), key=key)
    b = sorted(map(tuple, joined.collect()), key=key)
    assert len(b) == len(docs)  # one output row per input row
    assert a == b


def test_retention_cohorts_matrix(spark):
    import datetime as dt

    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    rows = [
        # users 1,2 start week of Jan 1 (Mon); user 1 returns week 2
        (1, d(2)), (2, d(3)), (1, d(9)),
        # user 3 starts week 2
        (3, d(10)), (3, d(11)),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        (str(r["cohort"])[:10], r["period_k"]): (r["n_active"], r["retention"])
        for r in retention_cohorts(df, "u", "ts", period="week").collect()
    }
    assert got[("2024-01-01", 0)] == (2, pytest.approx(1.0))
    assert got[("2024-01-01", 1)] == (1, pytest.approx(0.5))
    assert got[("2024-01-08", 0)] == (1, pytest.approx(1.0))
    with pytest.raises(ValueError):
        retention_cohorts(df, "u", "ts", period="quarter")


def test_retention_cohorts_month_exact(spark):
    import datetime as dt

    rows = [
        # user 1: Jan + Mar (k=0, k=2); user 2: Jan only; user 3: Feb + Mar
        (1, dt.datetime(2024, 1, 5)), (1, dt.datetime(2024, 3, 30)),
        (2, dt.datetime(2024, 1, 31)),
        (3, dt.datetime(2024, 2, 1)), (3, dt.datetime(2024, 3, 15)),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        (str(r["cohort"])[:10], r["period_k"]): (r["n_active"], r["retention"])
        for r in retention_cohorts(df, "u", "ts", period="month").collect()
    }
    assert got[("2024-01-01", 0)] == (2, pytest.approx(1.0))
    assert got[("2024-01-01", 2)] == (1, pytest.approx(0.5))
    assert got[("2024-02-01", 0)] == (1, pytest.approx(1.0))
    assert got[("2024-02-01", 1)] == (1, pytest.approx(1.0))
    assert ("2024-01-01", 1) not in got  # nobody from Jan active in Feb


def test_repartition_dataset_flatten_with_bucket_count(spark, store):
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import repartition_dataset

    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    store_dataframe_as_dataset(spark, store, "fb", df, partition_on=["v"])
    repartition_dataset(spark, store, "fb", partition_on=[], num_buckets=3)
    meta = DatasetMetadata.load(store, "fb")
    assert meta.partition_keys == [] and len(meta.partitions) == 3
    assert read_table(spark, store, "fb").count() == 40


def test_repartition_dataset_num_buckets_splits_hot_keys(spark, store):
    # num_buckets with partition_on must actually split a hot key into
    # multiple files: the bucket hash varies WITHIN a key (non-key
    # columns), not a constant hash of the partition key itself
    from collections import Counter

    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import repartition_dataset

    df = spark.createDataFrame(
        [(i, "hot" if i < 90 else "cold") for i in range(100)],
        "id long, g string",
    )
    store_dataframe_as_dataset(spark, store, "hk", df)
    repartition_dataset(spark, store, "hk", partition_on=["g"], num_buckets=4)
    meta = DatasetMetadata.load(store, "hk")
    per_key = Counter(p.key_values["g"] for p in meta.partitions.values())
    assert 1 < per_key["hot"] <= 4, per_key  # hot key split, cap respected
    assert per_key["cold"] <= 4
    assert read_table(spark, store, "hk").count() == 100


def test_compact_dataset_target_files_splits_within_key(spark, store):
    # compact with target_files_per_key > 1 on a keyed dataset must cap,
    # not collapse to exactly one file per key
    from collections import Counter

    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import compact_dataset
    from plateau_spark.sources.dataset import update_dataset_from_dataframe

    mk = lambda lo: spark.createDataFrame(  # noqa: E731
        [(i, "a" if i % 5 else "b") for i in range(lo, lo + 50)],
        "id long, g string",
    )
    store_dataframe_as_dataset(spark, store, "ck", mk(0), partition_on=["g"])
    for lo in (50, 100, 150):
        update_dataset_from_dataframe(spark, store, "ck", mk(lo))
    before = len(DatasetMetadata.load(store, "ck").partitions)
    compact_dataset(spark, store, "ck", target_files_per_key=2)
    meta = DatasetMetadata.load(store, "ck")
    per_key = Counter(p.key_values["g"] for p in meta.partitions.values())
    assert len(meta.partitions) < before
    assert all(n <= 2 for n in per_key.values()), per_key
    assert per_key["a"] == 2, per_key  # the big key really uses both buckets
    assert read_table(spark, store, "ck").count() == 200


def test_compact_dataset_map_column_still_compacts(spark, store):
    # MapType can't feed Spark's hash functions — the bucket hash must
    # skip map-bearing columns instead of crashing the compaction
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import compact_dataset
    from plateau_spark.sources.dataset import update_dataset_from_dataframe

    mk = lambda lo: spark.createDataFrame(  # noqa: E731
        [(i, "a" if i % 3 else "b", {"k": str(i)}) for i in range(lo, lo + 20)],
        "id long, g string, attrs map<string,string>",
    )
    store_dataframe_as_dataset(spark, store, "cm", mk(0), partition_on=["g"])
    update_dataset_from_dataframe(spark, store, "cm", mk(20))
    compact_dataset(spark, store, "cm", target_files_per_key=2)
    meta = DatasetMetadata.load(store, "cm")
    assert read_table(spark, store, "cm").count() == 40
    assert len(meta.partitions) <= 4  # id/g are hashable, split still works

    # a dataset whose ONLY non-key column is a map: no split, no crash —
    # and the caller is TOLD the requested split degraded (a silent
    # 1-file-per-key when N were asked for hides a layout surprise)
    import warnings as _warnings

    only_map = spark.createDataFrame(
        [("a", {"k": "1"}), ("a", {"k": "2"}), ("b", {"k": "3"})],
        "g string, attrs map<string,string>",
    )
    store_dataframe_as_dataset(spark, store, "cm2", only_map, partition_on=["g"])
    update_dataset_from_dataframe(spark, store, "cm2", only_map)
    update_dataset_from_dataframe(spark, store, "cm2", only_map)  # 3 files/key
    with pytest.warns(UserWarning, match="MapType"):
        compact_dataset(spark, store, "cm2", target_files_per_key=2)
    assert read_table(spark, store, "cm2").count() == 9

    # repartition_dataset: same degradation, same warning
    from plateau_spark.sources.dataset import repartition_dataset

    with pytest.warns(UserWarning, match="MapType"):
        repartition_dataset(spark, store, "cm2", partition_on=["g"], num_buckets=2)
    assert read_table(spark, store, "cm2").count() == 9
    # no warning when hashable data columns exist
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", UserWarning)
        repartition_dataset(spark, store, "cm", partition_on=["g"], num_buckets=2)
    assert read_table(spark, store, "cm").count() == 40


def test_shuffle_partitions_conf_tolerates_non_numeric(spark):
    """Platforms that pre-set spark.sql.shuffle.partitions to a
    non-numeric value (e.g. 'auto' under vendor AQE extensions) must
    not crash the bucketed write path — the conf accessor falls back to
    the stock default. Stock Spark rejects setting 'auto' outright, so
    the helper is exercised with a stub session."""
    from plateau_spark.sources.dataset import _shuffle_partitions_conf

    class _Conf:
        def __init__(self, value):
            self._value = value

        def get(self, key, default=None):
            return self._value if self._value is not None else default

    class _Stub:
        def __init__(self, value):
            self.conf = _Conf(value)

    assert _shuffle_partitions_conf(_Stub("auto")) == 200
    assert _shuffle_partitions_conf(_Stub(None)) == 200
    assert _shuffle_partitions_conf(_Stub("64")) == 64
    assert _shuffle_partitions_conf(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
