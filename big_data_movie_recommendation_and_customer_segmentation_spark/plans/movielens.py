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

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import als as ALSOPS
from ..operators import evaluate as EV
from ..operators import recommend as REC
from ..operators import similarity as SIM
from ..operators.relational import grouped_list_sorted_by, per_group_topk, topk
from ..operators.splits import TEST, TRAIN, VAL, chronological_split

RATING_COLS = ("userId", "movieId", "rating", "timestamp")


def _check(ratings: DataFrame) -> DataFrame:
    missing = [c for c in RATING_COLS if c not in ratings.columns]
    if missing:
        raise ValueError(f"ratings table missing columns {missing}; need {RATING_COLS}")
    return ratings


def _active(ratings: DataFrame, min_ratings: int) -> DataFrame:
    """Ratings of users with at least ``min_ratings`` rows, by a count
    window: one exchange on ``userId``, which the user-keyed steps
    downstream can reuse, in place of ``filter_active``'s count
    aggregate and semi-join (an exchange and a broadcast, one Spark
    job each). ``filter_active`` keeps its form for callers with no
    user-keyed step after it: it never shuffles the rows themselves."""
    n = F.count(F.lit(1)).over(Window.partitionBy("userId"))
    return ratings.withColumn("_n", n).filter(F.col("_n") >= min_ratings).drop("_n")


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
    r = _active(_check(ratings), min_ratings)
    if method == "exact":
        pairs = SIM.exact_jaccard_pairs(r, "userId", "movieId", threshold=threshold)
    elif method == "lsh":
        pairs = SIM.minhash_lsh_pairs(
            spark, r, "userId", "movieId", threshold=threshold, num_hash_tables=num_hash_tables
        )
    else:
        raise ValueError(f"unknown method {method!r}")
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
    report p.3). The twin pairs ride as trial −1 beside the random
    trials through ONE ``pair_rating_correlation`` pass and one
    per-trial aggregate; only those per-trial rows reach the driver."""
    r = _active(_check(ratings), min_ratings)
    trials = SIM._random_trial_pairs(r, "userId", n_pairs, n_trials, sample_size, seed, "rand")
    all_pairs = pairs.select(F.lit(-1).alias("trial"), "user_a", "user_b").unionByName(trials)
    corrs = SIM.pair_rating_correlation(
        r, all_pairs.select("user_a", "user_b").distinct(), "userId", "movieId", "rating"
    )
    per_trial = {
        row["trial"]: row
        for row in F.broadcast(all_pairs).join(corrs, ["user_a", "user_b"])
        .groupBy("trial")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("corr").alias("avg_corr"))
        .collect()
    }
    twin = per_trial.pop(-1, None)
    random = [row["avg_corr"] for _, row in sorted(per_trial.items())]
    return {
        "twin_avg_corr": twin["avg_corr"] if twin else None,
        "random_avg_corr": sum(random) / len(random) if random else None,
        "n_twin_pairs_scored": twin["n"] if twin else 0,
    }


def split_ratings(ratings: DataFrame, min_ratings: int = 5) -> DataFrame:
    """S3: per-user chronological 60/20/20 split as a ``split`` label
    column (``partition.py:14-35``); write once with
    ``partitionBy("split")`` instead of the reference's three jobs."""
    return chronological_split(_check(ratings), "userId", "timestamp", "movieId", min_ratings)


def _item_sets(parts: dict[str, DataFrame], user_col: str, item_col: str) -> DataFrame:
    """(user, _set_<part> …): each user's item set in every part, all
    from ONE user-keyed aggregate over the tagged union of the parts.
    A user missing from a part gets an empty set there."""
    rows = [
        df.select(F.col(user_col).alias("user"), F.col(item_col).alias("item"), F.lit(p).alias("_part"))
        for p, df in parts.items()
    ]
    tagged = functools.reduce(DataFrame.unionByName, rows)
    return tagged.groupBy("user").agg(
        *[F.collect_set(F.when(F.col("_part") == p, F.col("item"))).alias(f"_set_{p}") for p in parts]
    )


def _holdout_rows(names) -> Column:
    """One (holdout, actual) row per holdout name, from ``_item_sets``
    columns: the generator that scores every holdout in one pass."""
    rows = [F.struct(F.lit(n).alias("holdout"), F.col(f"_set_{n}").alias("actual")) for n in names]
    return F.inline(F.array(*rows))


def _popularity_metrics(
    train: DataFrame,
    holdouts: dict[str, DataFrame],
    biases: tuple[float, ...],
    min_ratings: int,
    n_candidates: int,
    k: int,
    compat_item_order: bool,
) -> dict[tuple[float, str], dict[str, float]]:
    """Rank-eval of the damped-popularity recommender for every
    (bias, holdout) in one plan and one ``collect``:

    - one item aggregate on train; each bias scores it from an
      inline bias relation, and its top ``n_candidates`` items become
      one ranked array (sorted by item id in compat mode, which is
      the reference's per-user reading order,
      ``popularity_evalutaion.py:52-54``);
    - one user-keyed aggregate builds each user's seen set (train)
      and truth set per holdout;
    - predicted = the first k candidates the user has not seen.

    This replaces a users × candidates cross join, an anti-join and a
    per-user window per (bias, holdout). Users whose unseen list is
    empty drop out, as the inner join of prediction and truth lists
    did."""
    t = _check(train).filter(F.col("rating").isNotNull())
    # keyed by the bias's position: a double key would be normalised
    # (-0.0, NaN) and no longer match the window's partitioning
    bias = F.posexplode(F.array(*[F.lit(float(b)) for b in biases])).alias("_b", "bias")
    scored = (
        t.groupBy(F.col("movieId").alias("item"))
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("rating").alias("_total"))
        .filter(F.col("_n") >= min_ratings)
        .select("item", bias, "_n", "_total")
        .withColumn("score", F.col("_total") / (F.col("_n") + F.col("bias")))
    )
    top = per_group_topk(
        scored, "_b", [F.col("score").desc(), F.col("item").asc()], n_candidates,
        rank_col="_rank", keep_rank=True,
    )
    cands = grouped_list_sorted_by(top, "_b", "item" if compat_item_order else "_rank", "item", out="_cands")
    sets = _item_sets({"train": _check(train)} | {n: _check(df) for n, df in holdouts.items()}, "userId", "movieId")
    unseen = F.slice(F.array_except("_cands", "_set_train"), 1, k)
    lists = (
        sets.crossJoin(F.broadcast(cands))
        .select("_b", unseen.alias("predicted"), _holdout_rows(holdouts))
        .filter(F.size("predicted") > 0)
    )
    m = EV.list_metrics(lists, ["_b", "holdout"], k)
    return {(biases[b], h): v for (b, h), v in m.items()}


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
    ``popularity_with_bias_evaluation.py:26-80``) — one plan, one
    action."""
    holdouts = {"val": val} if test is None else {"val": val, "test": test}
    m = _popularity_metrics(train, holdouts, (float(bias),), min_ratings, n_candidates, k, compat_item_order)
    return {h: m.get((float(bias), h), EV.empty_metrics()) for h in holdouts}


def popularity_bias_sweep(
    spark: SparkSession,
    train: DataFrame,
    val: DataFrame,
    biases: tuple[float, ...] = (1.0, 10.0, 100.0, 500.0, 1000.0, 10000.0),
    min_ratings: int = 50,
    n_candidates: int = 1000,
    k: int = 100,
    compat_item_order: bool = False,
) -> list[dict]:
    """S4b: sweep the damping bias, MAP on val per value
    (``popularity_tuned.py:26-83``; report p.4 table 2 — best
    b=1000). Every bias is scored from one train aggregate and
    evaluated in the same plan, so the sweep costs the same number of
    Spark jobs for 2 biases as for 6."""
    m = _popularity_metrics(
        train, {"val": val}, tuple(dict.fromkeys(float(b) for b in biases)),
        min_ratings, n_candidates, k, compat_item_order,
    )
    return [{"bias": b, **m.get((float(b), "val"), EV.empty_metrics())} for b in biases]


def als_pipeline(
    spark: SparkSession,
    train: DataFrame,
    val: DataFrame,
    test: DataFrame | None = None,
    config: ALSOPS.ALSConfig = ALSOPS.ALSConfig(),
    k: int = 100,
) -> dict:
    """S5 fixed-model path: train ALS, rank-eval on val (+ test and
    RMSE) — ``als_latent_factors.py:75-106``. Val and test users get
    their recommendations from one ``recommend_for_users`` call and
    are scored in one aggregate; users with no train factor (cold)
    drop out there. Ids are cast to int (ALS requirement, mirroring
    S5:17-19)."""
    prep = lambda df: (
        _check(df)
        .select(
            F.col("userId").cast("int").alias("user"),
            F.col("movieId").cast("int").alias("item"),
            F.col("rating").cast("float").alias("rating"),
        )
        .dropna()
    )
    tr = prep(train).cache()
    model = ALSOPS.fit_als(tr, "user", "item", "rating", config)
    holdouts = {"val": prep(val)} if test is None else {"val": prep(val), "test": prep(test)}
    truth = _item_sets(holdouts, "user", "item")
    # one recommendation pass for val and test users together;
    # recommendForUserSubset drops users without a train factor
    users = functools.reduce(DataFrame.unionByName, [df.select("user") for df in holdouts.values()])
    recs = ALSOPS.recommend_for_users(model, users, k)
    lists = REC.prediction_lists(recs).join(truth, "user").select("predicted", _holdout_rows(holdouts))
    m = EV.list_metrics(lists, ["holdout"], k)
    out: dict = {h: m.get((h,), EV.empty_metrics()) for h in holdouts}
    if test is not None:
        out["test"]["rmse"] = EV.rmse(model.transform(holdouts["test"]))
    tr.unpersist()
    return out
