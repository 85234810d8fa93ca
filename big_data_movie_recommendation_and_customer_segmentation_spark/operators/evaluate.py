"""Evaluation operators (reference K7–K9).

The reference mixes two APIs: RDD-based ``mllib RankingMetrics`` fed
by a pickled row-lambda (``popularity_evalutaion.py:62-70`` — a
JVM→Python-worker round trip per row) and the DataFrame-native
``RankingEvaluator`` (``popularity_tuned.py:71-73``), which runs one
RDD pass per metric. The engine computes all three ranking metrics
with array higher-order functions inside ONE grouped aggregate, so a
whole evaluation — any number of (holdout, bias, …) slices — is one
plan and one ``collect``, with no Python-worker hop and no pyspark.ml
import. The definitions are mllib's ``RankingMetrics`` exactly
(hand-verified on a micro-fixture and checked against
``RankingEvaluator`` on a seeded random fixture; SURVEY §7 hard-part
3: mllib vs ml differ subtly on truncation).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_METRICS = ("precision_at_k", "map", "ndcg_at_k")


def _user_metrics(k: int) -> list:
    """Per-user precision@k, AP and NDCG@k from ``_h`` (1 where the
    ranked prediction at that position is in the truth set, else 0)
    and ``_a`` (the distinct truth items), as mllib ``RankingMetrics``
    defines them:

    - precision@k: hits in the first k predictions over k, even when
      the list is shorter than k;
    - AP: over the FULL predicted list, Σ (hits so far)/(rank) at each
      hit, over |actual|;
    - NDCG@k: binary gain with a 1/ln(i+2) discount at 0-based rank
      i; the ideal DCG fills min(k, |actual|) ranks.

    Every occurrence of a relevant item is a hit, so a duplicated
    prediction counts each time it appears. The sums run rank by rank
    in the same order as mllib's loops."""
    head = f"slice(_h, 1, {k})"
    p_at_k = F.expr(f"aggregate({head}, 0, (c, h) -> c + h) / {k}")
    ap = F.expr(
        "aggregate(_h, named_struct('c', 0, 'i', 0, 's', 0D), "
        "(acc, h) -> named_struct('c', acc.c + h, 'i', acc.i + 1, "
        "'s', acc.s + IF(h = 1, (acc.c + 1) / (acc.i + 1), 0D)), acc -> acc.s) / size(_a)"
    )
    dcg = (
        f"aggregate({head}, named_struct('i', 0, 's', 0D), "
        "(acc, h) -> named_struct('i', acc.i + 1, 's', acc.s + IF(h = 1, 1D / ln(acc.i + 2), 0D)), "
        "acc -> acc.s)"
    )
    idcg = f"aggregate(sequence(0, least(size(_a), {k}) - 1), 0D, (s, i) -> s + 1D / ln(i + 2))"
    ndcg = F.expr(f"{dcg} / {idcg}")
    return [p_at_k.alias("precision_at_k"), ap.alias("map"), ndcg.alias("ndcg_at_k")]


def ranking_metrics_by(
    predicted: DataFrame, actual: DataFrame, keys: Sequence[str], k: int = 100
) -> dict[tuple, dict[str, float]]:
    """precisionAtK / MAP / ndcgAtK per ``keys`` slice — K7/K8
    (``popularity_evalutaion.py:67-70``, ``popularity_tuned.py:71-73``,
    ``als_latent_factors.py:60-64``).

    ``predicted`` is (user, predicted[] ranked, …) and ``actual`` is
    (user, actual[], …); each may carry some of the ``keys`` columns.
    They join on ``user`` plus the keys both carry, so a key on one
    side only scores that side's lists against every matching list of
    the other (val and test truth against one prediction list). Users
    with an empty truth list are dropped.

    One grouped aggregate over array higher-order functions and one
    ``collect``. Returns {key values tuple: {n_users, precision_at_k,
    map, ndcg_at_k}}; a slice with no users is absent.
    """
    on = ["user"] + [c for c in keys if c in predicted.columns and c in actual.columns]
    return list_metrics(predicted.join(actual, on), keys, k)


def list_metrics(lists: DataFrame, keys: Sequence[str], k: int = 100) -> dict[tuple, dict[str, float]]:
    """``ranking_metrics_by`` on a frame that already pairs each
    ``predicted`` list with its ``actual`` list (one row per user and
    slice): the aggregate and the ``collect`` without the join."""
    keys = list(keys)
    truth = lists.select(
        *keys,
        F.col("predicted").cast("array<double>").alias("_p"),
        F.array_distinct(F.col("actual").cast("array<double>")).alias("_a"),
    ).filter(F.size("_a") > 0)
    # the hit flags are computed once and read by all three metrics
    hits = truth.select(*keys, "_a", F.expr("transform(_p, x -> IF(array_contains(_a, x), 1, 0))").alias("_h"))
    per_user = hits.select(*keys, *_user_metrics(k))
    rows = per_user.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n_users"), *[F.avg(m).alias(m) for m in _METRICS]
    ).collect()
    # with no keys the aggregate is global: one row even over no users
    return {
        tuple(r[c] for c in keys): {m: float(r[m]) for m in ("n_users",) + _METRICS}
        for r in rows
        if r["n_users"]
    }


def empty_metrics() -> dict[str, float]:
    """The metrics of an evaluation slice with no users: NaN, not an
    error — a pipeline over a filtered holdout degrades, not crashes."""
    return {"n_users": 0.0} | dict.fromkeys(_METRICS, math.nan)


def ranking_metrics(predicted: DataFrame, actual: DataFrame, k: int = 100) -> dict[str, float]:
    """``ranking_metrics_by`` with no keys: one metric dict over all
    users (NaN metrics and ``n_users`` 0 when no user is left)."""
    return ranking_metrics_by(predicted, actual, [], k).get((), empty_metrics())


def rmse(predictions: DataFrame, label_col: str = "rating", prediction_col: str = "prediction") -> float:
    """Regression RMSE (K9, ``als_latent_factors.py:97-100``): one
    aggregate, sqrt(avg((label − prediction)²)); NaN on no rows."""
    err = F.col(label_col).cast("double") - F.col(prediction_col).cast("double")
    out = predictions.select(F.sqrt(F.avg(err * err))).first()[0]
    return math.nan if out is None else float(out)


def binary_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC AUC for a binary label vs a numeric score, via the
    Mann-Whitney rank-sum identity with average ranks for ties:

        AUC = (Σ_pos avg_rank − P(P+1)/2) / (P·N)

    where avg_rank(s) = #(scores < s) + (#(scores = s) + 1)/2.

    100 TB shape: the score relation first collapses to DISTINCT
    scores (one map-side-combined shuffle carrying (score, count,
    pos_count)); the global #(scores < s) prefix count then runs on
    the two-pass bucketed prefix sum (packing.py) — no
    SinglePartition window ever sees the data. A driver-side
    ``sortByScore.collect()`` formulation (how single-node libs do
    it) would be O(N) driver memory; rejected by construction.

    Rows with a NULL score or label are excluded (complete-case, the
    standard AUC contract): a NULL label previously counted as a
    NEGATIVE (``sum`` skipped it while ``count`` didn't) and a NULL
    score ranked as the lowest score — both silently biased the
    statistic (r10 self-review, same class as the CMS absent-key fix).

    Returns one row ``(auc, n_pos, n_neg)``.
    """
    from .packing import bucketed_running_sum

    d = (
        df.select(
            F.col(score_col).cast("double").alias("_score"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .filter(F.col("_score").isNotNull() & F.col("_y").isNotNull())
        .groupBy("_score")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.sum("_y").alias("_pos"))
    )
    with_le = bucketed_running_sum(d, "_score", "_cnt", out_col="_cnt_le")
    ranked = with_le.withColumn("_cnt_less", F.col("_cnt_le") - F.col("_cnt"))
    agg = ranked.agg(
        F.sum(
            F.col("_pos") * (F.col("_cnt_less") + (F.col("_cnt") + 1) / F.lit(2.0))
        ).alias("_rank_sum"),
        F.sum("_pos").alias("_p"),
        (F.sum("_cnt") - F.sum("_pos")).alias("_n"),
    )
    return agg.select(
        # try_divide: a single-class input has no defined AUC — null,
        # not an ANSI divide-by-zero failure
        F.round(
            F.try_divide(
                F.col("_rank_sum") - F.col("_p") * (F.col("_p") + 1) / F.lit(2.0),
                F.col("_p") * F.col("_n"),
            ),
            round_to,
        ).alias("auc"),
        F.col("_p").cast("long").alias("n_pos"),
        F.col("_n").cast("long").alias("n_neg"),
    )


def decile_lift(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Lift / gains table for a binary label vs a numeric score: one
    row per equi-depth score bucket (1 = lowest scores) with

    * ``n``, ``n_pos``, ``pos_rate``
    * ``lift``          — pos_rate / global base rate
    * ``cum_capture``   — share of ALL positives captured from the
      top bucket down to this one (the gains curve, read bottom-up)

    The model-evaluation companion to ``binary_auc``: AUC summarizes
    ranking quality in one number; the lift table says what acting on
    the top k% actually yields.

    100 TB shape: bucketing is the broadcast percentile ladder
    (segmentation.py ``quantile_bucket`` — no ntile SinglePartition
    window); per-bucket stats are one map-side-combined shuffle over
    ``n_buckets`` keys; base rate and the cumulative window operate
    on ``n_buckets`` rows.

    Complete-case like ``binary_auc``: rows with a NULL score or
    label are excluded — a NULL label previously inflated a bucket's
    ``n`` while ``n_pos`` skipped it, deflating that bucket's
    pos_rate and lift (r10 self-review).
    """
    from pyspark.sql import Window

    from .segmentation import quantile_bucket

    labeled = df.select(
        F.col(score_col).alias("_score"), F.col(label_col).cast("int").alias("_y")
    ).filter(F.col("_score").isNotNull() & F.col("_y").isNotNull())
    bucketed = quantile_bucket(labeled, "_score", n_buckets, out_col="bucket")
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_y").alias("n_pos")
    )
    tot = per.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    w_cum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("pos_rate", F.col("n_pos") / F.col("n"))
        .select(
            "bucket",
            "n",
            "n_pos",
            F.round("pos_rate", round_to).alias("pos_rate"),
            F.round(
                F.col("pos_rate") / (F.col("_tp") / F.col("_tn")), round_to
            ).alias("lift"),
            F.round(F.sum("n_pos").over(w_cum) / F.col("_tp"), round_to).alias(
                "cum_capture"
            ),
        )
    )


def intra_list_diversity(
    recs: DataFrame,
    similarities: DataFrame,
    *,
    user_col: str,
    item_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Intra-list diversity (ILD): mean pairwise dissimilarity
    ``1 - sim`` inside each user's recommendation list, averaged over
    users — the third beyond-accuracy metric next to coverage@k and
    novelty (Ziegler et al. 2005 topic diversification). Pairs absent
    from the similarity relation count as fully dissimilar (sim 0),
    so ILD is measured under the same model the recommender ranked
    with.

    Inputs: ``recs`` = (user, item) lists; ``similarities`` =
    directed (item, neighbor, cosine) — e.g.
    ``association.item_cosine_neighbors`` output. Per-item top-k
    truncation can leave a pair present in only ONE direction, so
    the relation is canonicalized here by unioning its flip and
    keeping the max cosine per unordered pair (ADVICE r5: looking up
    only (_ia < _ib) scored direction-lost pairs as fully
    dissimilar, understating similarity).

    Cost: the within-list self-join emits k(k-1)/2 rows per user
    (k is the small list length, so this is list-bounded, never
    catalog-bounded); one join against the similarity relation and
    two keyed aggregations. Users with fewer than 2 recommendations
    have no pairs and drop out of the average.

    Output: one row ``(ild, n_users, n_pairs)``.
    """
    a = recs.select(F.col(user_col), F.col(item_col).alias("_ia"))
    b = recs.select(F.col(user_col), F.col(item_col).alias("_ib"))
    pairs = a.join(b, user_col).filter(F.col("_ia") < F.col("_ib"))
    directed = similarities.select(
        F.col("item").alias("_ia"), F.col("neighbor").alias("_ib"), "cosine"
    )
    flipped = similarities.select(
        F.col("neighbor").alias("_ia"), F.col("item").alias("_ib"), "cosine"
    )
    sims = (
        directed.unionByName(flipped)
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.max("cosine").alias("cosine"))
    )
    j = pairs.join(sims, ["_ia", "_ib"], "left").withColumn(
        "_d", F.lit(1.0) - F.coalesce(F.col("cosine"), F.lit(0.0))
    )
    per_user = j.groupBy(user_col).agg(
        F.avg("_d").alias("_ild"), F.count(F.lit(1)).alias("_np")
    )
    return per_user.agg(
        F.round(F.avg("_ild"), round_to).alias("ild"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_np").alias("n_pairs"),
    )
