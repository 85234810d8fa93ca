"""Degenerate-input (NULL) contracts across the statistical operators
(r10 self-review — the class the CMS absent-key fix exposed): an
operator whose aggregates silently skip NULLs while its counts don't
reports internally inconsistent statistics. The uniform contract is
complete-case: NULL-bearing rows are excluded BEFORE any moment/count,
so adding NULL rows to an input never changes the result."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import evaluate as EV
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import sketches as SK
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import stats as ST
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import temporal as TP


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_binary_auc_ignores_null_label_and_score(spark):
    clean = spark.createDataFrame(
        [(float(i), int(i > 4)) for i in range(10)], "s double, y int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, 1), (3.0, None), (None, None)], "s double, y int"
        )
    )
    a = _rows(EV.binary_auc(clean, "y", "s"))
    b = _rows(EV.binary_auc(dirty, "y", "s"))
    # NULL label previously counted as a negative; NULL score ranked
    # lowest — both must now be excluded entirely
    assert a == b
    assert a[0][1] == 5 and a[0][2] == 5  # n_pos, n_neg from clean rows


def test_group_linear_trend_drops_incomplete_pairs(spark):
    clean = spark.createDataFrame(
        [("g", float(x), 2.0 * x + 1.0) for x in range(6)], "g string, x double, y double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [("g", None, 99.0), ("g", 99.0, None)], "g string, x double, y double"
        )
    )
    a = _rows(ST.group_linear_trend(clean, ["g"], "x", "y"))
    b = _rows(ST.group_linear_trend(dirty, ["g"], "x", "y"))
    assert a == b
    # and the clean fit is the exact line with n counting PAIRS
    (g, n, slope, intercept, r2) = a[0]
    assert (n, slope, intercept, r2) == (6, 2.0, 1.0, 1.0)


def test_chi_square_and_mutual_info_drop_null_categories(spark):
    clean = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("a", "x")],
        "u string, v string",
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, "x"), ("a", None), (None, None)], "u string, v string"
        )
    )
    assert _rows(ST.chi_square_independence(clean, "u", "v")) == _rows(
        ST.chi_square_independence(dirty, "u", "v")
    )
    assert _rows(ST.mutual_information(clean, "u", "v")) == _rows(
        ST.mutual_information(dirty, "u", "v")
    )
    # dof consistent with the 2x2 grid the statistic summed over
    assert ST.chi_square_independence(dirty, "u", "v").collect()[0]["dof"] == 1


def test_kmv_distinct_excludes_null_values(spark):
    clean = spark.createDataFrame(
        [("g", f"v{i % 7}") for i in range(50)], "g string, val string"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([("g", None)] * 3, "g string, val string")
    )
    a = _rows(SK.kmv_distinct(clean, "val", "g", k=16))
    b = _rows(SK.kmv_distinct(dirty, "val", "g", k=16))
    # NULL previously ranked first in the ascending top-k (nulls
    # first), occupying a slot and inflating n_seen
    assert a == b
    assert a[0][1] == 7 and a[0][2] == 7  # exact when under k


def test_decayed_counts_drops_null_timestamps(spark):
    clean = spark.createDataFrame(
        [("e", f"2024-01-01 0{i}:00:00") for i in range(5)], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    dirty = clean.unionByName(
        spark.createDataFrame([("e", None)], "k string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )
    a = _rows(TP.decayed_counts(clean, "k", "ts"))
    b = _rows(TP.decayed_counts(dirty, "k", "ts"))
    # n_events previously counted the NULL-ts row that the decayed sum
    # skipped — the two columns described different event sets
    assert a == b
    assert a[0][1] == 5


def test_kaplan_meier_drops_null_duration_and_event(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import survival as SV

    clean = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 0), ("g", 3, 1), ("g", 3, 1)],
        "g string, d int, e int",
    )
    dirty = clean.unionByName(
        spark.createDataFrame([("g", None, 1), ("g", 2, None)], "g string, d int, e int")
    )
    a = _rows(SV.kaplan_meier(clean, "d", "e", "g"))
    b = _rows(SV.kaplan_meier(dirty, "d", "e", "g"))
    # a NULL duration previously sorted first and deflated every
    # later risk set; a NULL event spawned a phantom life-table row
    assert a == b
    assert _rows(SV.nelson_aalen(clean, "d", "e", "g")) == _rows(
        SV.nelson_aalen(dirty, "d", "e", "g")
    )


def test_quantile_bucket_null_value_gets_null_bucket(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.segmentation import (
        quantile_bucket,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 11)] + [(None,)], "v double"
    )
    got = {r["v"]: r["bucket"] for r in quantile_bucket(df, "v", 2).collect()}
    assert got[None] is None  # previously bucket 1
    assert got[1.0] == 1 and got[10.0] == 2


def test_decile_lift_is_complete_case(spark):
    clean = spark.createDataFrame(
        [(float(i), int(i % 3 == 0)) for i in range(30)], "s double, y int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(None, 1), (4.5, None)], "s double, y int")
    )
    a = _rows(EV.decile_lift(clean, "y", "s", n_buckets=3))
    b = _rows(EV.decile_lift(dirty, "y", "s", n_buckets=3))
    assert a == b


def test_woe_iv_null_level_cannot_collide_with_total_row(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.features import woe_iv

    clean = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0), ("b", 0)], "c string, y int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(None, 1), (None, 0)], "c string, y int")
    )
    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    assert rows(woe_iv(clean, "c", "y")) == rows(woe_iv(dirty, "c", "y"))
    # exactly ONE null-level row: the total marker
    nulls = [r for r in woe_iv(dirty, "c", "y").collect() if r["level"] is None]
    assert len(nulls) == 1


def test_target_encode_loo_null_target_gets_full_category_mean(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.features import (
        target_encode_loo,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", 10.0), ("b", None)],
        "c string, y double",
    )
    got = {
        (r["c"], r["y"]): r["te_loo"]
        for r in target_encode_loo(df, "c", "y", sum_round=None).collect()
    }
    # labeled rows: leave-one-out of the OTHER labeled rows
    assert got[("a", 1.0)] == 3.0 and got[("a", 3.0)] == 1.0
    # inference rows (NULL target): the full category mean, not NULL
    assert got[("a", None)] == 2.0
    assert got[("b", None)] == 10.0
    # singleton labeled row with m=0: surfaced as null, unchanged
    assert got[("b", 10.0)] is None


def test_association_rules_ignore_null_baskets_and_items(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.association import (
        association_rules,
    )

    clean = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")], "b int, i string"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(1, None), (None, "a"), (None, None)], "b int, i string")
    )
    a = _rows(association_rules(clean, "b", "i", min_pair_count=1))
    b = _rows(association_rules(dirty, "b", "i", min_pair_count=1))
    # NULL keys previously inflated basket sizes and the basket total
    # N that support divides by, while dropping from every join
    assert a == b


def test_sequence_ops_drop_null_event_types(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import sequence as SQ

    clean = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (1, "x", 3), (1, "y", 4)],
        "u int, t string, o int",
    )
    dirty = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (1, None, 3), (1, "x", 4), (1, "y", 5)],
        "u int, t string, o int",
    )
    # with the NULL event removed the two streams are x,y,x,y — the
    # transition matrix and k-grams must agree (previously the NULL
    # half-counted: (y->NULL) vanished, (NULL->x) emitted a NULL row)
    assert _rows(
        SQ.transition_matrix(clean, user_col="u", type_col="t", order_cols=["o"])
    ) == _rows(
        SQ.transition_matrix(dirty, user_col="u", type_col="t", order_cols=["o"])
    )
    assert _rows(
        SQ.event_kgrams(clean, user_col="u", type_col="t", order_cols=["o"], k=2, min_count=1)
    ) == _rows(
        SQ.event_kgrams(dirty, user_col="u", type_col="t", order_cols=["o"], k=2, min_count=1)
    )
    assert _rows(
        SQ.sequence_cross_entropy(clean, user_col="u", type_col="t", order_cols=["o"])
    ) == _rows(
        SQ.sequence_cross_entropy(dirty, user_col="u", type_col="t", order_cols=["o"])
    )


def test_pair_rating_correlation_complete_case(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import similarity as SM

    clean = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (1, "c", 3.0),
         (2, "a", 2.0), (2, "b", 4.0), (2, "c", 6.0)],
        "u int, i string, r double",
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(1, "d", None), (2, "d", None)], "u int, i string, r double")
    )
    pairs = spark.createDataFrame([(1, 2)], "user_a int, user_b int")
    for fn in (SM.pair_rating_correlation, SM.pair_rating_correlation_exact):
        a = _rows(fn(clean, pairs, "u", "i", "r"))
        b = _rows(fn(dirty, pairs, "u", "i", "r"))
        # the shared NULL-rated item previously inflated
        # n_common_rated (and the exact variant's moment n)
        assert a == b, fn.__name__
        assert a[0][2] == 3  # n_common_rated counts RATED commons


def test_rrf_fuse_drops_null_ranks(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.retrieval import rrf_fuse

    l1 = spark.createDataFrame([("d1", 1), ("d2", 2)], "id string, rank int")
    l2 = spark.createDataFrame([("d1", 2), ("d2", 1)], "id string, rank int")
    l2_dirty = l2.unionByName(
        spark.createDataFrame([("d1", None), (None, 3)], "id string, rank int")
    )
    a = _rows(rrf_fuse([l1, l2], "id", "rank"))
    b = _rows(rrf_fuse([l1, l2_dirty], "id", "rank"))
    # a NULL rank previously bumped n_lists without contributing to
    # rrf_score
    assert a == b
    assert all(r[2] == 2 for r in a)  # n_lists


def test_graph_ops_ignore_null_endpoint_edges(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import graph as G

    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "src int, dst int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(1, None), (None, 2), (None, None)], "src int, dst int")
    )
    # a NULL endpoint previously minted a phantom node: n_nodes grew,
    # every rank's teleport share (1-d)/N shrank
    assert _rows(G.pagerank(clean, checkpoint=False)) == _rows(
        G.pagerank(dirty, checkpoint=False)
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    assert _rows(
        G.personalized_pagerank(clean, seeds, checkpoint=False)
    ) == _rows(G.personalized_pagerank(dirty, seeds, checkpoint=False))
    assert _rows(G.connected_components(clean)) == _rows(
        G.connected_components(dirty)
    )
    assert _rows(G.triangle_counts(clean)) == _rows(G.triangle_counts(dirty))


def test_popularity_scores_null_rating_matches_avg_semantics(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.recommend import (
        popularity_scores,
    )

    clean = spark.createDataFrame(
        [(1, 4.0), (1, 2.0), (2, 5.0)], "item int, r double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(1, None), (2, None)], "item int, r double")
    )
    a = _rows(popularity_scores(clean, "item", "r"))
    b = _rows(popularity_scores(dirty, "item", "r"))
    # NULL ratings previously inflated the damping denominator
    # (score = sum/(count+bias) with count including NULL rows)
    assert a == b
    assert dict((r[0], r[2]) for r in a) == {1: 3.0, 2: 5.0}  # == avg at bias=0


def test_temperature_mix_plan_complete_case(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.corpus import (
        temperature_mix_plan,
    )

    clean = spark.createDataFrame(
        [("web", 100), ("web", 300), ("books", 400)], "src string, w int"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([("web", None), (None, 50)], "src string, w int")
    )
    a = _rows(temperature_mix_plan(clean, "src", "w"))
    b = _rows(temperature_mix_plan(dirty, "src", "w"))
    # NULL weights inflated n_docs; a NULL group minted a phantom
    # mixture bucket that distorted every share
    assert a == b


def test_balanced_sample_null_id_cannot_steal_slots(spark):
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators.corpus import (
        balanced_sample_by_group,
    )

    clean = spark.createDataFrame(
        [("g", f"d{i}") for i in range(10)], "src string, doc_id string"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([("g", None)], "src string, doc_id string")
    )
    a = _rows(balanced_sample_by_group(clean, "src", 3, "doc_id"))
    b = _rows(balanced_sample_by_group(dirty, "src", 3, "doc_id"))
    # md5(NULL) sorted first and previously stole a sample slot
    assert a == b and len(a) == 3


def test_cms_null_keys_excluded_on_both_sides(spark):
    """Complete-case CMS (r11 advice): NULL keys are dropped at build
    (their NULL buckets are unprobeable dead state) and at probe (the
    left join otherwise surfaces a spurious est_count=0 row for a key
    the sketch by contract never stored)."""
    clean = spark.createDataFrame(
        [(f"k{i % 3}",) for i in range(30)], "key string"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(None,)] * 4, "key string")
    )
    sk_clean = SK.count_min_sketch(clean, "key")
    sk_dirty = SK.count_min_sketch(dirty, "key")
    # build side: NULL keys store nothing (no bucket=NULL dead rows)
    assert _rows(sk_clean) == _rows(sk_dirty)
    assert sk_dirty.filter(F.col("bucket").isNull()).count() == 0
    # probe side: NULL probe keys yield no row, not est_count=0
    probes = spark.createDataFrame([("k0",), (None,)], "key string")
    est = _rows(SK.cms_estimate(sk_dirty, probes, "key"))
    assert est == [("k0", 10)]


def test_script_and_encoding_functions_null_text(spark):
    """NULL text contracts for the r12 additions: dominant_script
    falls to 'und' (the same class as empty — no chars, no signal),
    script_shares yields NULL shares with NULL n_chars,
    transliterate_tokens yields NULL (tokens(NULL) is NULL, not []),
    and the encoding signals/score are NULL — complete-case, never a
    job failure."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.functions import textops as TX
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD

    df = spark.createDataFrame([("a", None), ("b", "hello world")], "k string, t string")
    rows = {
        r["k"]: r
        for r in df.select(
            "k",
            TX.dominant_script("t").alias("dom"),
            TX.script_shares("t").alias("s"),
            TX.transliterate_tokens("t", TX.HAN_ALPHABET).alias("xlit"),
            TX.replacement_char_count("t").alias("repl"),
            TX.encoding_quality_score("t").alias("q"),
        ).collect()
    }
    assert rows["a"]["dom"] == "und"
    assert rows["a"]["s"]["latin"] is None and rows["a"]["s"]["n_chars"] is None
    assert rows["a"]["xlit"] is None
    assert rows["a"]["repl"] is None
    assert rows["a"]["q"] is None
    assert rows["b"]["dom"] == "latin" and rows["b"]["q"] == 1.0
    # route_by_script: the NULL-text doc lands in the 'und' (word) leg
    routed = DD.route_by_script(df, "t")
    got = {(r["k"], r["dominant_script"]) for r in routed.collect()}
    assert got == {("a", "und"), ("b", "latin")}
    # empty relation survives end-to-end
    empty = spark.createDataFrame([], "k string, t string")
    assert DD.route_by_script(empty, "t").collect() == []


def test_dominant_script_null_parity_with_oracle_spelling(spark):
    """The oracle's _dominant_sql mirrors the Spark NULL guard: both
    engines class NULL and empty text as 'und'."""
    import duckdb

    from big_data_movie_recommendation_and_customer_segmentation_spark.functions import textops as TX
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans.queries_script import _dominant_sql

    rows = [("n", None), ("e", ""), ("w", "   "), ("x", "hello"), ("j", "吾輩")]
    df = spark.createDataFrame(rows, "k string, t string")
    strip = F.regexp_replace("t", r"\s+", "")
    sp = {
        r["k"]: r["d"]
        for r in df.select(
            "k", TX.dominant_script(strip, pre_stripped=True).alias("d")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in rows)
        + ") v(k, t)",
        [x for row in rows for x in row],
    )
    du = {
        k: d
        for k, d in con.execute(
            f"""
        WITH s AS (SELECT k, regexp_replace(t, '\\s+', '', 'g') AS st FROM t)
        SELECT k, {_dominant_sql()} FROM s
        """
        ).fetchall()
    }
    assert sp == du == {"n": "und", "e": "und", "w": "und", "x": "latin", "j": "cjk"}
