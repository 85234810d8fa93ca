"""Plan linter: each rule fires on a deliberately bad plan, stays
quiet on the sanctioned shapes, and the repo-wide registry sweep
matches the documented allowlist — a new unbounded global window,
row UDF, or naked cartesian anywhere in the registry fails here."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from big_data_movie_recommendation_and_customer_segmentation_spark.plans import lint as L

# The documented exceptions (rule -> why bounded/internal):
#   als_recommendations  cartesian inside pyspark.ml's
#                        recommendForAllUsers — library-internal,
#                        blocked-matmul by construction
#   purchase_value_lift  cum_capture window over n_buckets(=10) rows
#   source_mix_plan      temperature-mix window over |sources| rows
#   mixture_epoch_*      same temperature-mix normalizing window,
#                        over |langs| rows (epoch_allocation consumes
#                        temperature_mix_plan; the materialize itself
#                        is shuffle-free — tests/test_mixture.py)
ALLOWED = {
    "als_recommendations": {"cartesian"},
    "purchase_value_lift": {"single_partition"},
    "source_mix_plan": {"single_partition"},
    "mixture_epoch_materialization": {"single_partition"},
    "mixture_epoch_audit": {"single_partition"},
    "mixture_shard_profile": {"single_partition"},
}


def _rules(findings):
    return {f["rule"] for f in findings}


def test_row_udf_flagged(spark):
    plus_one = F.udf(lambda x: x + 1, LongType())
    df = spark.range(100).withColumn("y", plus_one(F.col("id")))
    assert "python_row_udf" in _rules(L.lint_plan(df))


def test_arrow_batch_python_not_flagged(spark):
    df = spark.range(100).mapInPandas(lambda it: it, "id long")
    assert "python_row_udf" not in _rules(L.lint_plan(df))


def test_cartesian_flagged_and_broadcast_clean(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = spark.range(1000).crossJoin(spark.range(1000).withColumnRenamed("id", "j"))
        assert "cartesian" in _rules(L.lint_plan(bad))
        good = spark.range(1000).crossJoin(
            F.broadcast(spark.range(10).withColumnRenamed("id", "j"))
        )
        assert "cartesian" not in _rules(L.lint_plan(good))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_global_window_flagged(spark):
    w = Window.orderBy("id")
    df = spark.range(1000).withColumn("r", F.row_number().over(w))
    assert "single_partition" in _rules(L.lint_plan(df))


def test_partitioned_window_clean(spark):
    w = Window.partitionBy(F.col("id") % 7).orderBy("id")
    df = spark.range(1000).withColumn("r", F.row_number().over(w))
    assert "single_partition" not in _rules(L.lint_plan(df))


def test_scalar_aggregate_gather_clean(spark):
    # the final 1-row gather of a global agg is a SinglePartition
    # exchange feeding HashAggregate — sanctioned (partials only)
    df = spark.range(100000).agg(F.sum("id").alias("s"), F.avg("id").alias("a"))
    assert "single_partition" not in _rules(L.lint_plan(df))


def test_registry_sweep_matches_allowlist(registry_frames):
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import QUERY_REGISTRY

    got = {name: _rules(f) for name in QUERY_REGISTRY if (f := L.lint_plan(registry_frames[name]))}
    assert got == ALLOWED, f"plan-lint drift: {got}"
