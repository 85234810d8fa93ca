"""MovieLens-shaped pipelines: the reference's six scripts as a
callable API.

A user of the reference runs six driver scripts over a ratings table
``(userId, movieId, rating, timestamp)``; each function here is one
script, re-expressed over the engine's distributed operators. Input
is any DataFrame with those four columns (schema-checked), output is
DataFrames/metric dicts instead of printed logs.

Script → function map (paths relative to /root/reference):
  S1 codes/Customer Segmentation/part1/top_100_pairs.py      → movie_twins
  S2 codes/Customer Segmentation/part2/correlation_optimised.py → correlation_validation
  S3 codes/Movie Recommendation/part3/partition.py           → split_ratings
  S4a codes/Movie Recommendation/part4/popularity_evalutaion.py → popularity_eval
  S4b codes/Movie Recommendation/part4/popularity_tuned.py   → popularity_bias_sweep
  S4c codes/Movie Recommendation/part4/popularity_with_bias_evaluation.py → popularity_eval(bias=1000)
  S5 codes/Movie Recommendation/part5/als_latent_factors.py  → als_pipeline
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import als as ALSOPS
from ..operators import evaluate as EV
from ..operators import recommend as REC
from ..operators import similarity as SIM
from ..operators.relational import filter_active, semi_join
from ..operators.splits import TEST, TRAIN, VAL, chronological_split

RATING_COLS = ("userId", "movieId", "rating", "timestamp")


def _check(ratings: DataFrame) -> DataFrame:
    missing = [c for c in RATING_COLS if c not in ratings.columns]
    if missing:
        raise ValueError(f"ratings table missing columns {missing}; need {RATING_COLS}")
    return ratings


def movie_twins(
    spark: SparkSession,
    ratings: DataFrame,
    k: int = 100,
    min_ratings: int = 50,
    threshold: float = 0.5,
    method: str = "lsh",
    num_hash_tables: int = 32,
) -> DataFrame:
    """S1: top-k most-similar user pairs by Jaccard over rated-movie
    sets (reference defaults: ≥50-rating users, threshold 0.5,
    32 perms — ``top_100_pairs.py:34-35,54,59``). ``method="exact"``
    is the ground-truth path, ``"lsh"`` the scale path; both output
    (user_a, user_b, n_common, n_a, n_b, jaccard), top-k by exact
    jaccard — unlike the reference, the ranking never uses the
    signature estimate."""
    r = filter_active(_check(ratings), "userId", min_ratings)
    if method == "exact":
        pairs = SIM.exact_jaccard_pairs(r, "userId", "movieId", threshold=threshold)
    elif method == "lsh":
        pairs = SIM.minhash_lsh_pairs(
            spark, r, "userId", "movieId", threshold=threshold, num_hash_tables=num_hash_tables
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    from ..operators.relational import topk

    return topk(pairs, [F.col("jaccard").desc(), F.col("user_a").asc(), F.col("user_b").asc()], k)


def correlation_validation(
    spark: SparkSession,
    ratings: DataFrame,
    pairs: DataFrame,
    n_pairs: int = 100,
    n_trials: int = 49,
    sample_size: int = 5000,
    min_ratings: int = 5,
    seed: int = 42,
) -> dict[str, float]:
    """S2: average Pearson rating-correlation of the given (twin)
    pairs vs seeded random-pair trials
    (``correlation_optimised.py:41-97``; published 0.2740 vs 0.1215,
    report p.3). All correlations run distributed; only the two
    scalar averages and the twin-pair count reach the driver (the
    twin average and count from one aggregate)."""
    r = filter_active(_check(ratings), "userId", min_ratings)
    twin_corr = SIM.pair_rating_correlation(r, pairs, "userId", "movieId", "rating")
    twin_avg, n_twin = twin_corr.agg(F.avg("corr"), F.count(F.lit(1))).first()
    baseline = SIM.random_pair_baseline(
        r, "userId", "movieId", "rating",
        n_pairs=n_pairs, n_trials=n_trials, sample_size=sample_size, seed=seed,
    )
    random_avg = baseline.agg(F.avg("avg_corr")).first()[0]
    return {
        "twin_avg_corr": twin_avg,
        "random_avg_corr": random_avg,
        "n_twin_pairs_scored": n_twin,
    }


def split_ratings(ratings: DataFrame, min_ratings: int = 5) -> DataFrame:
    """S3: per-user chronological 60/20/20 split as a ``split`` label
    column (``partition.py:14-35``); write once with
    ``partitionBy("split")`` instead of the reference's three jobs."""
    return chronological_split(_check(ratings), "userId", "timestamp", "movieId", min_ratings)


def _eval_on(
    holdout: DataFrame,
    train: DataFrame,
    candidates: DataFrame,
    k: int,
    compat_item_order: bool,
) -> dict[str, float]:
    users = holdout.select(F.col("userId").alias("user")).distinct()
    seen = train.select(F.col("userId").alias("user"), F.col("movieId").alias("item")).distinct()
    recs = REC.recommend_unseen_topk(users, candidates, seen, k=k, compat_item_order=compat_item_order)
    predicted = REC.prediction_lists(recs)
    actual = REC.truth_lists(holdout, "userId", "movieId")
    return EV.ranking_metrics(predicted, actual, k=k)


def popularity_eval(
    spark: SparkSession,
    train: DataFrame,
    val: DataFrame,
    test: DataFrame | None = None,
    bias: float = 0.0,
    min_ratings: int = 50,
    n_candidates: int = 1000,
    k: int = 100,
    compat_item_order: bool = False,
) -> dict[str, dict[str, float]]:
    """S4a (bias=0) / S4c (bias=1000): damped-popularity recommender
    evaluated with precision@k / MAP / ndcg@k on val (and test)
    (``popularity_evalutaion.py:27-93``,
    ``popularity_with_bias_evaluation.py:26-80``)."""
    scores = REC.popularity_scores(_check(train), "movieId", "rating", bias=bias, min_ratings=min_ratings)
    candidates = REC.top_items(scores, n_candidates).cache()
    out = {"val": _eval_on(val, train, candidates, k, compat_item_order)}
    if test is not None:
        out["test"] = _eval_on(test, train, candidates, k, compat_item_order)
    candidates.unpersist()
    return out


def popularity_bias_sweep(
    spark: SparkSession,
    train: DataFrame,
    val: DataFrame,
    biases: tuple[float, ...] = (1.0, 10.0, 100.0, 500.0, 1000.0, 10000.0),
    **kwargs,
) -> list[dict]:
    """S4b: sweep the damping bias, MAP on val per value
    (``popularity_tuned.py:26-83``; report p.4 table 2 — best
    b=1000). The train aggregate is recomputed per b only in its
    cheap final step; candidate caching happens inside
    ``popularity_eval``."""
    results = []
    for b in biases:
        m = popularity_eval(spark, train, val, None, bias=b, **kwargs)
        results.append({"bias": b, **m["val"]})
    return results


def als_pipeline(
    spark: SparkSession,
    train: DataFrame,
    val: DataFrame,
    test: DataFrame | None = None,
    config: ALSOPS.ALSConfig = ALSOPS.ALSConfig(),
    k: int = 100,
) -> dict:
    """S5 fixed-model path: train ALS, rank-eval on val (+warm-user
    test eval + RMSE) — ``als_latent_factors.py:75-106``. Ids are
    cast to int (ALS requirement, mirroring S5:17-19)."""
    prep = lambda df: (
        _check(df)
        .select(
            F.col("userId").cast("int").alias("user"),
            F.col("movieId").cast("int").alias("item"),
            F.col("rating").cast("float").alias("rating"),
        )
        .dropna()
    )
    tr, va = prep(train).cache(), prep(val)
    model = ALSOPS.fit_als(tr, "user", "item", "rating", config)

    def rank_eval(holdout: DataFrame) -> dict[str, float]:
        users = holdout.select("user").distinct()
        warm = semi_join(users, tr.select("user").distinct(), "user")
        recs = ALSOPS.recommend_for_users(model, warm, k)
        predicted = REC.prediction_lists(recs)
        actual = REC.truth_lists(holdout, "user", "item")
        return EV.ranking_metrics(predicted, actual, k=k)

    out: dict = {"val": rank_eval(va)}
    if test is not None:
        te = prep(test)
        out["test"] = rank_eval(te)
        out["test"]["rmse"] = EV.rmse(model.transform(te))
    tr.unpersist()
    return out
