"""Property tests for the approximate similarity path (SURVEY §5:
LSH is validated by exact-Jaccard rescoring, not the SQL oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import similarity as SIM
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table


@pytest.fixture(scope="module")
def co_purchases(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).select("o_custkey", "l_partkey").cache()


def test_exact_pairs_properties(spark, co_purchases):
    pairs = SIM.exact_jaccard_pairs(co_purchases, "o_custkey", "l_partkey", threshold=0.1).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r.user_a < r.user_b
        assert 0.1 <= r.jaccard <= 1.0
        assert r.n_common <= min(r.n_a, r.n_b)


def test_lsh_pairs_subset_of_exact_with_identical_scores(spark, co_purchases):
    exact = {
        (r.user_a, r.user_b): r.jaccard
        for r in SIM.exact_jaccard_pairs(co_purchases, "o_custkey", "l_partkey", threshold=0.1).collect()
    }
    lsh = SIM.minhash_lsh_pairs(
        spark, co_purchases, "o_custkey", "l_partkey", threshold=0.1, num_hash_tables=16
    ).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert (r.user_a, r.user_b) in exact, "LSH emitted a pair below threshold"
        assert abs(exact[(r.user_a, r.user_b)] - r.jaccard) < 1e-9

    # recall at a higher-similarity slice: P(collide) = 1-(1-j)^16 ≥ .97 at j=.2
    strong = {p for p, j in exact.items() if j >= 0.2}
    found = {(r.user_a, r.user_b) for r in lsh}
    assert strong, "fixture should contain strong pairs"
    recall = len(strong & found) / len(strong)
    assert recall >= 0.8, f"LSH recall on j>=0.2 pairs too low: {recall}"


def test_top_similar_pairs_is_sorted_and_bounded(spark, co_purchases):
    top = SIM.top_similar_pairs(co_purchases, "o_custkey", "l_partkey", k=20).collect()
    assert 0 < len(top) <= 20
    jacs = [r.jaccard for r in top]
    assert jacs == sorted(jacs, reverse=True)


def test_random_pair_baseline_shape(spark, co_purchases):
    ratings = co_purchases.groupBy("o_custkey", "l_partkey").agg(F.count(F.lit(1)).cast("double").alias("r"))
    out = SIM.random_pair_baseline(
        ratings, "o_custkey", "l_partkey", "r", n_pairs=20, n_trials=3, sample_size=200
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r.n_pairs_scored <= 20
        if r.avg_corr is not None:
            assert -1.0 <= r.avg_corr <= 1.0


def test_random_pair_baseline_rand_independent_of_layout(spark, co_purchases):
    """``pairing='rand'`` orders its sample and per-trial shuffles by a
    seeded hash of the user id, so caching the ratings or changing
    their partition count cannot move any trial's pairs or average.
    The plan evaluates the sample in two branches (the distinct pairs
    fed to the correlations, the per-trial join back); both must see
    the same pairs."""
    ratings = co_purchases.groupBy("o_custkey", "l_partkey").agg(
        F.count(F.lit(1)).cast("double").alias("r")
    )

    def trials(df):
        out = SIM.random_pair_baseline(
            df, "o_custkey", "l_partkey", "r", n_pairs=20, n_trials=3, sample_size=200, seed=11
        ).collect()
        return {r.trial: (r.n_pairs_scored, r.avg_corr) for r in out}

    def same(got, want):
        # pairs and counts are exact; the per-trial mean may differ
        # only by float summation order
        assert got.keys() == want.keys()
        for t, (n, corr) in want.items():
            assert got[t][0] == n and got[t][1] == pytest.approx(corr, abs=1e-12), t

    one = trials(ratings.repartition(1))
    assert len(one) == 3 and all(c is not None for _, c in one.values())
    same(trials(ratings.repartition(4)), one)
    cached = ratings.repartition(4).cache()
    try:
        same(trials(cached), one)
    finally:
        cached.unpersist()


def test_twins_correlate_more_than_random_pairs_planted(spark):
    """The reference's end-to-end semantic validation (S2
    ``correlation_optimised.py``: top-LSH-pair avg Pearson 0.2740 vs
    random-pair 0.1215, report p.3), reproduced on planted structure:
    three user archetypes with distinct rating patterns over
    overlapping item ranges — same-archetype pairs must both (a) win
    the Jaccard top-k and (b) out-correlate seeded random pairs."""
    rows = []
    for user in range(30):
        arch = user % 3
        for item in range(arch * 10, arch * 10 + 20):  # archetypes overlap 10 items
            jitter = ((user * 31 + item * 17) % 7) / 10.0
            base = float((item * (arch + 2)) % 5) + 1.0
            rows.append((user, item, base + jitter))
    ratings = spark.createDataFrame(rows, "user long, item long, rating double")

    top = SIM.top_similar_pairs(ratings, "user", "item", k=30)
    top_rows = top.collect()
    assert all(r.user_a % 3 == r.user_b % 3 for r in top_rows), "top pairs must be same-archetype"

    twin_corr = (
        SIM.pair_rating_correlation(ratings, top, "user", "item", "rating")
        .agg(F.avg("corr"))
        .first()[0]
    )
    rand_corr = (
        SIM.random_pair_baseline(
            ratings, "user", "item", "rating", n_pairs=15, n_trials=5, sample_size=30, seed=7
        )
        .agg(F.avg("avg_corr"))
        .first()[0]
    )
    assert twin_corr is not None and rand_corr is not None
    assert twin_corr > rand_corr, f"twins {twin_corr} should beat random {rand_corr}"


def test_track_pins_releases_set_miner_pins(spark):
    """The set miners always pin their shared relations; a
    ``track_pins`` scope must release every one of those pins, or a
    per-batch caller (the streaming dedup gate's within-batch screen)
    leaks one pinned RDD per call."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.relational import (
        track_pins,
    )

    # "hot" is in every doc (dropped by the governor); docs d and d+3
    # share four group shingles, Jaccard 4/6
    sets = spark.createDataFrame(
        [
            (d, s)
            for d in range(6)
            for s in ["hot", f"own{d}"] + [f"g{d % 3}_{i}" for i in range(4)]
        ],
        "doc long, shingle string",
    )

    def _ids():
        # id SET, not count: the async ContextCleaner may reclaim
        # other tests' dead pins mid-test, shrinking a raw count
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return set(jmap.keySet().toArray())

    base = _ids()
    with track_pins():
        mh = DD.minhash_set_pairs(sets, threshold=0.5, max_item_freq=5).collect()
        ex = SIM.exact_jaccard_pairs(sets, "doc", "shingle", threshold=0.5, max_item_freq=5).collect()
        # minhash: pre-governor, post-governor and candidate pins;
        # exact: pre-governor and sized pins
        assert len(_ids() - base) >= 5
    assert len(mh) == len(ex) == 3
    leaked = _ids() - base
    assert not leaked, f"track_pins left pinned RDDs: {leaked}"


def test_lsh_threshold_is_inclusive(spark):
    """A pair at exactly J = threshold is a similar pair on both paths:
    users 1 and 2 share 3 of 6 items (J = 0.5), users 1 and 3 share 2
    of 6 (J = 1/3, below)."""
    sets = {1: [1, 2, 3, 4], 2: [1, 2, 3, 5, 6], 3: [1, 2, 7, 8]}
    df = spark.createDataFrame(
        [(u, i) for u, items in sets.items() for i in items], "user long, item long"
    )
    exact = {(r.user_a, r.user_b): r.jaccard for r in SIM.exact_jaccard_pairs(df, "user", "item", 0.5).collect()}
    lsh = {
        (r.user_a, r.user_b): r.jaccard
        for r in SIM.minhash_lsh_pairs(spark, df, "user", "item", threshold=0.5).collect()
    }
    assert exact == {(1, 2): 0.5}
    assert lsh == exact
