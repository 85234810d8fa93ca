"""Hand-computed micro-fixture for ranking metrics (SURVEY §5:
pin RankingEvaluator semantics — mllib vs ml definitional drift is a
known hazard, §7 hard-part 3)."""

from __future__ import annotations

import pytest

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import evaluate as EV


@pytest.fixture(scope="module")
def lists(spark):
    predicted = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, 5])], "user int, predicted array<int>"
    )
    actual = spark.createDataFrame(
        [(1, [1, 3]), (2, [6])], "user int, actual array<int>"
    )
    return predicted, actual


def test_ranking_metrics_hand_computed(lists):
    predicted, actual = lists
    m = EV.ranking_metrics(predicted, actual, k=2)
    # user1: pred [1,2,3] actual {1,3}: AP=(1/1 + 2/3)/2 = 5/6
    # user2: pred [4,5]   actual {6}:   AP=0
    assert m["map"] == pytest.approx((5 / 6) / 2, abs=1e-9)
    # P@2: user1 hits {1} of first 2 → 1/2 ; user2 → 0 ; mean = 1/4
    assert m["precision_at_k"] == pytest.approx(0.25, abs=1e-9)
    # NDCG@2: user1 DCG=1/log2(2)=1, IDCG=1+1/log2(3) → 0.6131... ; user2 0
    import math

    idcg = 1 + 1 / math.log2(3)
    assert m["ndcg_at_k"] == pytest.approx((1 / idcg) / 2, abs=1e-9)


def test_ranking_metrics_empty_prediction(spark):
    """A user with an empty prediction list scores 0 on every metric
    but still counts in the denominator (pipelines that filter a
    user's candidates to nothing must drag the mean down, not
    vanish)."""
    pred = spark.createDataFrame([(1, []), (2, [4.0, 5.0])], "user int, predicted array<double>")
    act = spark.createDataFrame([(1, [1.0]), (2, [4.0])], "user int, actual array<double>")
    m = EV.ranking_metrics(pred, act, k=3)
    assert m["n_users"] == 2
    # user1: 0 everywhere; user2: P@3 = 1 hit / 3 (k, not len) = 1/3
    assert m["precision_at_k"] == pytest.approx((0 + 1 / 3) / 2, abs=1e-9)
    assert m["map"] == pytest.approx((0 + 1.0) / 2, abs=1e-9)
    assert m["ndcg_at_k"] == pytest.approx((0 + 1.0) / 2, abs=1e-9)


def test_ranking_metrics_prediction_shorter_than_k(spark):
    """Definitional pin (SURVEY §7 hard-part 3): precisionAtK divides
    by k even when the prediction list is SHORTER than k — a 1-item
    perfect list scores 1/3 at k=3, not 1. NDCG's ideal DCG uses
    min(k, |actual|) positions."""
    import math

    pred = spark.createDataFrame([(1, [1.0])], "user int, predicted array<double>")
    act = spark.createDataFrame([(1, [1.0, 2.0])], "user int, actual array<double>")
    m = EV.ranking_metrics(pred, act, k=3)
    assert m["precision_at_k"] == pytest.approx(1 / 3, abs=1e-9)
    # AP = (1/1) / |actual| = 1/2
    assert m["map"] == pytest.approx(0.5, abs=1e-9)
    idcg = 1 + 1 / math.log2(3)  # ideal fills min(k, |actual|) = 2 slots
    assert m["ndcg_at_k"] == pytest.approx(1 / idcg, abs=1e-9)


def test_ranking_metrics_duplicate_predictions(spark):
    """Definitional pin: the evaluator counts EVERY occurrence of a
    relevant item — a duplicated hit inflates precision, MAP, and
    NDCG (MAP here exceeds 1.0). Upstream recommenders must emit
    distinct items per user; this test documents why (the engine's
    recommenders do: anti-join + per-user window over distinct
    candidates)."""
    import math

    pred = spark.createDataFrame([(1, [1.0, 1.0, 3.0])], "user int, predicted array<double>")
    act = spark.createDataFrame([(1, [1.0, 3.0])], "user int, actual array<double>")
    m = EV.ranking_metrics(pred, act, k=3)
    # every position hits: 3/3
    assert m["precision_at_k"] == pytest.approx(1.0, abs=1e-9)
    # running-hit precisions (1/1 + 2/2 + 3/3) / |actual|=2 = 1.5 > 1!
    assert m["map"] == pytest.approx(1.5, abs=1e-9)
    dcg = 1 + 1 / math.log2(3) + 1 / math.log2(4)
    idcg = 1 + 1 / math.log2(3)
    assert m["ndcg_at_k"] == pytest.approx(dcg / idcg, abs=1e-9)


def test_rmse_hand_computed(spark):
    preds = spark.createDataFrame(
        [(3.0, 4.0), (5.0, 5.0), (1.0, 0.0)], "rating double, prediction double"
    )
    # errors 1, 0, 1 → rmse = sqrt(2/3)
    assert EV.rmse(preds) == pytest.approx((2 / 3) ** 0.5, abs=1e-9)


@pytest.fixture(scope="module")
def random_lists(spark):
    """Seeded random (user, predicted) / (user, part, actual) lists with
    duplicated items, empty lists, and lists both shorter and longer
    than the k values below."""
    import random

    rng = random.Random(20240817)
    pred, act = [], []
    for u in range(240):
        pred.append((u, [float(rng.randrange(30)) for _ in range(rng.randrange(0, 14))]))
        for part in ("a", "b"):
            act.append((u, part, [float(rng.randrange(30)) for _ in range(rng.randrange(0, 9))]))
    return (
        spark.createDataFrame(pred, "user int, predicted array<double>"),
        spark.createDataFrame(act, "user int, part string, actual array<double>"),
    )


def _evaluator_metrics(joined, k):
    """The pyspark.ml reference: one RankingEvaluator pass per metric
    over users with a non-empty truth list."""
    from pyspark.ml.evaluation import RankingEvaluator
    from pyspark.sql import functions as F

    joined = joined.filter(F.size("actual") > 0)
    out = {"n_users": float(joined.count())}
    for metric, param in (
        ("precision_at_k", {"metricName": "precisionAtK", "k": k}),
        ("map", {"metricName": "meanAveragePrecision"}),
        ("ndcg_at_k", {"metricName": "ndcgAtK", "k": k}),
    ):
        ev = RankingEvaluator(predictionCol="predicted", labelCol="actual", **param)
        out[metric] = ev.evaluate(joined)
    return out


@pytest.mark.parametrize("k", [1, 5, 20])
def test_ranking_metrics_match_ranking_evaluator(random_lists, k):
    """The aggregate's metrics equal RankingEvaluator's to 1e-12, per
    keyed slice and with no keys (k=20 is longer than every list)."""
    from pyspark.sql import functions as F

    pred, act = random_lists
    by_part = EV.ranking_metrics_by(pred, act, ["part"], k)
    assert sorted(by_part) == [("a",), ("b",)]
    for part in ("a", "b"):
        joined = pred.join(act.filter(F.col("part") == part), "user")
        ref = _evaluator_metrics(joined, k)
        assert by_part[(part,)] == pytest.approx(ref, abs=1e-12, rel=0)
    one = act.filter(F.col("part") == "a").drop("part")
    assert EV.ranking_metrics(pred, one, k) == pytest.approx(by_part[("a",)], abs=1e-12, rel=0)


def test_ranking_metrics_no_users_is_nan(spark):
    """An evaluation slice with no users left degrades to NaN metrics,
    not an error."""
    import math

    pred = spark.createDataFrame([(1, [1.0])], "user int, predicted array<double>")
    act = spark.createDataFrame([(2, [1.0]), (1, [])], "user int, actual array<double>")
    m = EV.ranking_metrics(pred, act, k=3)
    assert m["n_users"] == 0
    assert all(math.isnan(m[k]) for k in ("precision_at_k", "map", "ndcg_at_k"))
