"""Named queries: the engine's operator inventory, executable.

Each entry pairs a PySpark implementation (built from the operator
library) with an ANSI-SQL oracle that DuckDB runs on the same parquet
tables — the driver's correctness gate (``__spark_entry__.py``).

Conventions that make the oracle hash stable (SURVEY §5, §7):
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates are ``round``-ed in BOTH engines (FP
  summation order differs between engines; rounding absorbs the ulp
  drift);
- every top-k has a deterministic total order (unique tiebreaker);
- arrays are sorted before comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import relational as R
from ..operators import similarity as SIM
from ..operators import splits as S
from ..sources import load_table

QUERY_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_REGISTRY: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERY_REGISTRY[name] = fn
        if oracle is not None:
            ORACLE_REGISTRY[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# A. Scans + aggregation core (SURVEY §2.A, §2.D)
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                        AS sum_qty,
           round(sum(l_extendedprice), 2)                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6)                        AS avg_qty,
           round(avg(l_discount), 6)                        AS avg_disc,
           count(*)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (scan→filter→multi-agg).

    Operator classes: A1 parquet scan, B8 filter (pushed to parquet),
    D2/D3 multi-aggregate with map-side partials, B4 column algebra.
    One shuffle on the (tiny-cardinality) group key; at 100 TB the
    scan dominates and the exchange carries |groups|×|tasks| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "customer_order_counts",
    oracle="""
    SELECT o_custkey, count(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 10
    """,
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-count + min-count filter (D1 + the reference's ≥50-rating
    active-user gate, ``top_100_pairs.py:34-35``)."""
    return R.keys_with_min_count(load_table(spark, sf_dir, "orders"), "o_custkey", 10)


@query(
    "distinct_segments",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + distinct (B1 + D6, ``popularity_evalutaion.py:38``)."""
    return R.distinct_rows(load_table(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"])


@query(
    "order_part_stats",
    oracle="""
    SELECT l_orderkey,
           count(DISTINCT l_partkey)            AS n_parts,
           round(sum(l_quantity), 4)            AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(DISTINCT l_partkey) >= 5
    """,
)
def order_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-within-group + multi-agg (D6 scalarized companion of
    the collect_set operator D4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .filter(F.col("n_parts") >= 5)
    )


@query(
    "order_part_sets",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS items
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) >= 6
    """,
)
def order_part_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted collect_set arrays (D4, ``top_100_pairs.py:47``) — the
    building block of the user×item-set similarity pipeline.

    Gate projection: the sorted array is serialized to a comma-joined
    string because the driver's pandas canonicalizer cannot sort/hash
    list cells (r01 harness error). API users get the array from the
    ``grouped_set`` operator itself; the registry entry emits the
    hashable projection."""
    li = R.filter_active(load_table(spark, sf_dir, "lineitem"), "l_orderkey", 6)
    sets = R.grouped_set(li, "l_orderkey", "l_partkey", out="_items")
    return sets.select(
        "l_orderkey",
        F.array_join(F.transform("_items", lambda x: x.cast("string")), ",").alias("items"),
    )


# --------------------------------------------------------------------------
# B. Joins (SURVEY §2.C)
# --------------------------------------------------------------------------


@query(
    "segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                      AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact×dim + aggregate (C2). Customer is the
    small side → Catalyst broadcasts it; no shuffle of lineage-sized
    data beyond the final tiny group-by."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (C1/C5 — the engine's replacement for the
    reference's inner-join-as-filter at ``top_100_pairs.py:36`` and
    big ``isin`` lists at ``correlation_optimised.py:32``)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return R.semi_join(c, o.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey").select("c_custkey", "c_name")


@query(
    "parts_never_ordered",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (C3, ``popularity_evalutaion.py:47-48``)."""
    p = load_table(spark, sf_dir, "part")
    seen = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return R.anti_join(p, seen, ["p_partkey"]).select("p_partkey", "p_name")


@query(
    "region_nation_acctbal",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*)                    AS n_customers,
           round(avg(c.c_acctbal), 6)  AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def region_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way snowflake join (C2 chained) — both dims broadcast,
    zero shuffles before the final small aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# C. Top-k, windows, candidate generation (SURVEY §2.E, §2.F, recommend)
# --------------------------------------------------------------------------


@query(
    "top_parts_by_price",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey ASC
    LIMIT 100
    """,
)
def top_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (F2, ``popularity_evalutaion.py:31-32``) —
    TakeOrderedAndProject, deterministic tiebreak on the unique key."""
    p = load_table(spark, sf_dir, "part")
    return R.topk(p, [F.col("p_retailprice").desc(), F.col("p_partkey").asc()], 100).select(
        "p_partkey", "p_name", "p_retailprice"
    )


@query(
    "recent_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rank FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
)
def recent_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window (E1/E2,
    ``popularity_evalutaion.py:52-54``) with explicit tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    return R.per_group_topk(
        o,
        "o_custkey",
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        3,
        keep_rank=True,
    ).select("o_custkey", "o_orderkey", "rank")


@query(
    "part_popularity_biased",
    oracle="""
    SELECT l_partkey,
           round(sum(l_quantity), 4)                    AS total_qty,
           count(*)                                     AS n_orders,
           round(sum(l_quantity) / (count(*) + 100), 6) AS score
    FROM lineitem
    GROUP BY l_partkey
    ORDER BY sum(l_quantity) / (count(*) + 100) DESC, l_partkey ASC
    LIMIT 50
    """,
)
def part_popularity_biased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-damped popularity score, the reference's tuned recommender
    (S4b ``popularity_tuned.py:36-41``): score = Σqty/(n+b), top-k.
    Aggregate → scalar algebra → TakeOrderedAndProject; one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    pop = (
        li.groupBy("l_partkey")
        .agg(
            F.sum("l_quantity").alias("_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .withColumn("_score", F.col("_total") / (F.col("n_orders") + F.lit(100)))
    )
    return R.topk(pop, [F.col("_score").desc(), F.col("l_partkey").asc()], 50).select(
        "l_partkey",
        F.round(F.col("_total"), 4).alias("total_qty"),
        F.col("n_orders"),
        F.round(F.col("_score"), 6).alias("score"),
    )


@query(
    "candidates_unseen",
    oracle="""
    WITH top_parts AS (
      SELECT l_partkey
      FROM lineitem
      GROUP BY l_partkey
      ORDER BY sum(l_quantity) / (count(*) + 100) DESC, l_partkey ASC
      LIMIT 20
    ),
    users AS (SELECT DISTINCT o_custkey FROM orders),
    seen AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT u.o_custkey AS custkey, t.l_partkey AS partkey
    FROM users u CROSS JOIN top_parts t
    WHERE NOT EXISTS (
      SELECT 1 FROM seen s
      WHERE s.o_custkey = u.o_custkey AND s.l_partkey = t.l_partkey)
    """,
)
def candidates_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's candidate-generation pipeline shape
    (``popularity_evalutaion.py:38-48``): distinct users ×
    broadcast(top-k items) cross join, minus already-seen pairs via
    left-anti join (C4 + C3 + D6).

    Shuffles: distinct(users) and seen-pairs each one exchange; the
    cross join is broadcast (no shuffle); the anti join co-partitions
    on (custkey, partkey). Scale note: candidate volume is
    |users|×k — k is a constant, so this grows linearly with users.

    Key rewrite Catalyst can't infer: candidates only carry the k
    top partkeys, so the anti-join's right side is pre-filtered by a
    broadcast semi-join against top_parts *before* its distinct —
    the seen-pairs exchange shrinks from all (cust, part) pairs to
    only pairs touching the k items (~k/|parts| of the volume).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pop = (
        li.groupBy("l_partkey")
        .agg((F.sum("l_quantity") / (F.count(F.lit(1)) + F.lit(100))).alias("_score"))
    )
    top_parts = R.topk(pop, [F.col("_score").desc(), F.col("l_partkey").asc()], 20).select(
        F.col("l_partkey").alias("partkey")
    )
    users = o.select(F.col("o_custkey").alias("custkey")).distinct()
    cands = R.broadcast_cross_candidates(users, top_parts)
    seen = (
        li.join(F.broadcast(top_parts), li.l_partkey == F.col("partkey"), "left_semi")
        .join(o, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    return R.anti_join(cands, seen, ["custkey", "partkey"])


# --------------------------------------------------------------------------
# D. Chronological split (SURVEY S3 parity)
# --------------------------------------------------------------------------


@query(
    "chronological_split_counts",
    oracle="""
    WITH active AS (
      SELECT user_id FROM events GROUP BY user_id HAVING count(*) >= 5
    ),
    ranked AS (
      SELECT e.user_id,
             CAST(floor((row_number() OVER (PARTITION BY e.user_id
                                            ORDER BY e.ts ASC, e.event_id ASC) - 1)
                        / (count(*) OVER (PARTITION BY e.user_id)) * 5) AS int) AS bucket
      FROM events e
      WHERE e.user_id IN (SELECT user_id FROM active)
    )
    SELECT user_id,
           CASE WHEN bucket < 3 THEN 'train'
                WHEN bucket = 3 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM ranked
    GROUP BY 1, 2
    """,
)
def chronological_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user chronological 60/20/20 split (S3 ``partition.py:23-35``
    semantics: floor((rn-1)/n*5), buckets {0,1,2}/{3}/{4}), reported
    as per-user split sizes so the oracle hash checks the geometry."""
    ev = load_table(spark, sf_dir, "events")
    split = S.chronological_split(ev, "user_id", "ts", "event_id", min_rows_per_user=5)
    return split.groupBy("user_id", "split").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# E. Grouped correlation (SURVEY D8 — S2's Pearson validation, distributed)
# --------------------------------------------------------------------------


@query(
    "corr_qty_price_by_flag",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation as a grouped aggregate (D8): what the
    reference computes per-pair on the driver with np.corrcoef
    (``correlation_optimised.py:43-51``), expressed as ``F.corr`` so
    it runs distributed with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "popularity_recommendations",
    oracle="""
    WITH scores AS (
      SELECT l_partkey AS item,
             count(*) AS n_ratings,
             sum(l_quantity) / (count(*) + 100) AS score
      FROM lineitem
      GROUP BY l_partkey
    ),
    top_items AS (
      SELECT item, score FROM scores
      ORDER BY score DESC, item ASC LIMIT 20
    ),
    users AS (SELECT DISTINCT o_custkey AS "user" FROM orders),
    seen AS (
      SELECT DISTINCT o.o_custkey AS "user", l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    unseen AS (
      SELECT u."user", t.item, t.score
      FROM users u CROSS JOIN top_items t
      WHERE NOT EXISTS (
        SELECT 1 FROM seen s WHERE s."user" = u."user" AND s.item = t.item)
    ),
    ranked AS (
      SELECT "user", item, round(score, 6) AS score,
             row_number() OVER (PARTITION BY "user"
                                ORDER BY score DESC, item ASC) AS rank
      FROM unseen
    )
    SELECT "user", item, score, rank FROM ranked WHERE rank <= 5
    """,
)
def popularity_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full popularity-recommender pipeline (S4:
    score → top-n candidates → cross join users → drop seen →
    per-user top-k), end-to-end SQL-checked. Ranked by score desc
    (the engine's fix of the reference's movieId-order quirk,
    SURVEY §7 hard-part: ``popularity_evalutaion.py:52``)."""
    from ..operators import recommend as REC

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ratings = o.join(li, o.o_orderkey == li.l_orderkey)
    scores = REC.popularity_scores(ratings, "l_partkey", "l_quantity", bias=100.0)
    cands = REC.top_items(scores, 20)
    users = o.select(F.col("o_custkey").alias("user")).distinct()
    seen = ratings.select(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")).distinct()
    recs = REC.recommend_unseen_topk(users, cands, seen, k=5)
    return recs.select("user", "item", F.round("score", 6).alias("score"), "rank")


@query(
    "popularity_recommendations_compat",
    oracle="""
    WITH scores AS (
      SELECT l_partkey AS item,
             count(*) AS n_ratings,
             sum(l_quantity) / (count(*) + 100) AS score
      FROM lineitem
      GROUP BY l_partkey
    ),
    top_items AS (
      SELECT item, score FROM scores
      ORDER BY score DESC, item ASC LIMIT 20
    ),
    users AS (SELECT DISTINCT o_custkey AS "user" FROM orders),
    seen AS (
      SELECT DISTINCT o.o_custkey AS "user", l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    unseen AS (
      SELECT u."user", t.item, t.score
      FROM users u CROSS JOIN top_items t
      WHERE NOT EXISTS (
        SELECT 1 FROM seen s WHERE s."user" = u."user" AND s.item = t.item)
    ),
    ranked AS (
      SELECT "user", item, round(score, 6) AS score,
             row_number() OVER (PARTITION BY "user" ORDER BY item ASC) AS rank
      FROM unseen
    )
    SELECT "user", item, score, rank FROM ranked WHERE rank <= 5
    """,
)
def popularity_recommendations_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-parity variant of ``popularity_recommendations`` with
    ``compat_item_order=True``: per-user candidates are truncated in
    ITEM-ID order, reproducing the reference's rank-by-movieId quirk
    exactly (``popularity_evalutaion.py:52-54`` — the window orders
    by movieId, discarding the popularity ranking inside the
    candidate set). A reference user migrating query-for-query gets
    bit-identical output from this entry; the default entry keeps the
    score-ranked fix."""
    from ..operators import recommend as REC

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ratings = o.join(li, o.o_orderkey == li.l_orderkey)
    scores = REC.popularity_scores(ratings, "l_partkey", "l_quantity", bias=100.0)
    cands = REC.top_items(scores, 20)
    users = o.select(F.col("o_custkey").alias("user")).distinct()
    seen = ratings.select(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")).distinct()
    recs = REC.recommend_unseen_topk(users, cands, seen, k=5, compat_item_order=True)
    return recs.select("user", "item", F.round("score", 6).alias("score"), "rank")


# --------------------------------------------------------------------------
# F. Similarity / segmentation (SURVEY S1+S2 parity — §2.C6, §2.D8, §2.K)
# --------------------------------------------------------------------------

# Hot-item governor for the exact set-similarity self-join: items held
# by more than this many users are dropped BEFORE sizes/intersections
# (they contribute O(f²) pairs and little similarity signal — the
# prefix-filter trick). Far above the observed max frequency at the
# tested SFs (53 at sf0.1), so results are unchanged there; at 100×
# it caps the quadratic blowup a hot key would cause. Mirrored in the
# oracle SQL so the capped semantics are what the gate checks.
MAX_ITEM_FREQ = 300

_CO_PURCHASE_SQL = f"""
    WITH ui_all AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    ok_items AS (SELECT i FROM ui_all GROUP BY i HAVING count(*) <= {MAX_ITEM_FREQ}),
    ui AS (SELECT ui_all.* FROM ui_all JOIN ok_items USING (i)),
    sizes AS (SELECT u, count(*) AS n FROM ui GROUP BY u),
    inter AS (
      SELECT a.u AS user_a, b.u AS user_b, count(*) AS n_common
      FROM ui a JOIN ui b ON a.i = b.i AND a.u < b.u
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT user_a, user_b, n_common, sa.n AS n_a, sb.n AS n_b,
             n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.u = user_a
      JOIN sizes sb ON sb.u = user_b
    )
"""


def _co_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).select("o_custkey", "l_partkey")


@query(
    "jaccard_pairs_exact",
    oracle=_CO_PURCHASE_SQL
    + """
    SELECT user_a, user_b, n_common, n_a, n_b, round(jaccard, 6) AS jaccard
    FROM jac WHERE jaccard >= 0.05
    """,
)
def jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join over customer co-purchase sets —
    the distributed ground truth replacing the reference's driver-side
    pair scoring (S1 ``top_100_pairs.py:82-107``)."""
    cp = _co_purchases(spark, sf_dir)
    pairs = SIM.exact_jaccard_pairs(
        cp, "o_custkey", "l_partkey", threshold=0.05, max_item_freq=MAX_ITEM_FREQ
    )
    return pairs.withColumn("jaccard", F.round("jaccard", 6))


@query(
    "top_similar_customer_pairs",
    oracle=_CO_PURCHASE_SQL
    + """
    SELECT user_a, user_b, n_common, round(jaccard, 6) AS jaccard
    FROM jac
    ORDER BY jaccard DESC, user_a ASC, user_b ASC
    LIMIT 50
    """,
)
def top_similar_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 headline, "top-100 movie twins" shape: bounded top-k most
    similar pairs, deterministic order, no driver-side heap."""
    cp = _co_purchases(spark, sf_dir)
    pairs = SIM.top_similar_pairs(
        cp, "o_custkey", "l_partkey", k=50, threshold=0.0, max_item_freq=MAX_ITEM_FREQ
    )
    return pairs.select("user_a", "user_b", "n_common", F.round("jaccard", 6).alias("jaccard"))


@query(
    "pair_rating_correlation",
    oracle=_CO_PURCHASE_SQL
    + """,
    top_pairs AS (
      SELECT user_a, user_b FROM jac
      ORDER BY jaccard DESC, user_a ASC, user_b ASC
      LIMIT 50
    ),
    ratings AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i, sum(l.l_quantity) AS r
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    moments AS (
      SELECT p.user_a, p.user_b,
             count(*)                               AS n,
             sum(ra.r)                              AS sx,
             sum(rb.r)                              AS sy,
             sum(ra.r * rb.r)                       AS sxy,
             sum(ra.r * ra.r)                       AS sxx,
             sum(rb.r * rb.r)                       AS syy
      FROM top_pairs p
      JOIN ratings ra ON ra.u = p.user_a
      JOIN ratings rb ON rb.u = p.user_b AND rb.i = ra.i
      GROUP BY 1, 2
    ),
    pair_corr AS (
      SELECT user_a, user_b, n AS n_common_rated,
             (n * sxy - sx * sy) /
               NULLIF(sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 0) AS c
      FROM moments
    )
    SELECT user_a, user_b, n_common_rated, round(c, 6) AS corr
    FROM pair_corr
    WHERE n_common_rated >= 3 AND c IS NOT NULL AND NOT isnan(c)
    """,
)
def pair_rating_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 parity: Pearson correlation of paired customers' "ratings"
    (summed quantities) over co-purchased parts, as a distributed
    grouped aggregate instead of a driver np.corrcoef loop
    (``correlation_optimised.py:41-51``).

    Determinism: quantities are integer-valued, so the per-pair
    moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT longs no matter
    the aggregation/merge order — unlike covar_samp/stddev whose
    float accumulation order varies run to run and flips the 6th
    decimal on near-degenerate pairs (observed ~1/3 flaky at
    sf0.01). The single final float expression is spelled
    identically in the oracle, so both engines produce bit-equal
    corr values. The general-purpose ``similarity.
    pair_rating_correlation`` operator keeps covar/stddev (correct
    for arbitrary float ratings); this query needs the exact-moment
    form because its gate is bitwise."""
    cp_full = _co_purchases(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ratings = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("r"))
    )
    top_pairs = SIM.top_similar_pairs(
        cp_full, "o_custkey", "l_partkey", k=50, threshold=0.0, max_item_freq=MAX_ITEM_FREQ
    )
    out = SIM.pair_rating_correlation_exact(
        ratings, top_pairs, "o_custkey", "l_partkey", "r", min_common=3
    )
    return out.select("user_a", "user_b", "n_common_rated", F.round("corr", 6).alias("corr"))


_MH_NUM_PERM, _MH_BAND_ROWS, _MH_SEED = 32, 2, 42


def _minhash_user_pairs_oracle() -> str:
    from ..operators import dedup as DD

    sig_cols = ",\n             ".join(
        f"min(({a} * h + {b}) % 2147483647) AS h{i}"
        for i, (a, b) in enumerate(DD.minhash_coefficients(_MH_NUM_PERM, _MH_SEED))
    )
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT u, {b} AS band_id, h{2 * b} AS v0, h{2 * b + 1} AS v1 FROM sig"
        for b in range(_MH_NUM_PERM // _MH_BAND_ROWS)
    )
    return (
        _CO_PURCHASE_SQL
        + f""",
    hashed AS (
      SELECT u, (('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2147483647) AS h
      FROM ui
    ),
    sig AS (
      SELECT u, {sig_cols}
      FROM hashed GROUP BY u
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.u AS user_a, b.u AS user_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.u < b.u
    )
    SELECT j.user_a, j.user_b, j.n_common, j.n_a, j.n_b, round(j.jaccard, 6) AS jaccard
    FROM jac j JOIN cand USING (user_a, user_b)
    WHERE j.jaccard >= 0.05
    """
    )


@query("minhash_pairs_lsh", oracle=_minhash_user_pairs_oracle())
def minhash_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MinHash LSH similar-pair mining over co-purchase
    sets (S1's datasketch pipeline, ``top_100_pairs.py:54-94``) —
    signature → banded candidate join → exact-Jaccard rescore, all
    column ops (``dedup.minhash_set_pairs``; no CountVectorizer
    driver vocabulary, no N² pass).

    FULLY oracle-checked (was rows-only in r01): with the shared
    md5-prefix base hash and inlined seeded universal-hash
    coefficients, DuckDB rebuilds identical signatures, bands them
    identically, and must emit the same candidate∩rescore pairs.
    ``similarity.minhash_lsh_pairs`` (the same miner with one
    min-hash per band and the xxhash64 base hash, not
    SQL-reproducible) is covered by the subset/recall property tests
    in tests/test_similarity.py."""
    from ..operators import dedup as DD

    cp = _co_purchases(spark, sf_dir)
    sets = cp.select(
        F.col("o_custkey").alias("doc"), F.col("l_partkey").cast("string").alias("shingle")
    ).distinct()
    out = DD.minhash_set_pairs(
        sets, threshold=0.05, num_perm=_MH_NUM_PERM, band_rows=_MH_BAND_ROWS,
        seed=_MH_SEED, max_item_freq=MAX_ITEM_FREQ, base_hash="md5",
    )
    return out.select(
        F.col("doc_a").alias("user_a"),
        F.col("doc_b").alias("user_b"),
        "n_common", "n_a", "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


@query(
    "customers_orders_events_fullouter",
    oracle="""
    WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1),
         e AS (SELECT user_id  AS k, count(*) AS n_events FROM events GROUP BY 1)
    SELECT coalesce(o.k, e.k) AS custkey,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def customers_orders_events_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (beyond reference parity — SURVEY §2.C notes
    outer joins as general surface): order activity vs event activity
    per customer, keeping keys present on either side only."""
    o = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    e = load_table(spark, sf_dir, "events").groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return o.join(e, "k", "full_outer").select(
        F.col("k").alias("custkey"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


@query(
    "revenue_rollup_region_nation",
    oracle="""
    SELECT r_name, n_name,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total) in one
    aggregation pass — free from Catalyst (SURVEY §2.D notes cube/
    rollup come free); dims broadcast onto the orders fact."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "order_status_priority_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(avg(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def order_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims — all 4 grouping sets in one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )


@query(
    "sql_surface_top_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(o.o_totalprice), 2) AS total_spend,
           count(*) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spend DESC, c.c_custkey ASC
    LIMIT 25
    """,
)
def sql_surface_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry path: tables registered as temp views,
    query expressed as ANSI SQL through spark.sql — same Catalyst
    plan space as the DataFrame builders (SURVEY §3: the reference's
    only language is the builder API; the engine exposes both)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               round(sum(o.o_totalprice), 2) AS total_spend,
               count(*) AS n_orders
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY total_spend DESC, c.c_custkey ASC
        LIMIT 25
        """
    )


@query("approx_distinct_customers")  # HLL sketch → rows-only + tolerance test
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for 100 TB cardinality work:
    approx_count_distinct (HyperLogLog++, constant memory vs the
    exact distinct's shuffle) and approx median. Validated by a
    relative-error property test against exact values, not a value
    oracle (sketch internals differ across engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "segment_price_quantiles",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def segment_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment order-price quantiles (linear interpolation
    at (n−1)·p — Spark ``percentile`` and DuckDB ``quantile_cont``
    share the definition, so the values gate bitwise after rounding).
    The exact path sorts within each group; at 100 TB swap in
    ``percentile_approx`` (t-digest sketch, engine-private → only
    error-bound-testable, see ``approx_distinct_customers``)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(p)), 4).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@query(
    "order_year_status_pivot",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY 1
    """,
)
def order_year_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) order counts by status per year. The pivot
    values are passed EXPLICITLY — without them Spark runs an extra
    collect-distinct job over the pivot column, a hidden driver pass
    a 100 TB plan should never pay."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    # a (year, status) combination with no rows pivots to NULL;
    # count-semantics (and the FILTER-based oracle) say 0
    return out.na.fill(0, ["F", "O", "P"])


@query(
    "kmv_distinct_customers",
    oracle="""
    WITH hashed AS (
      SELECT DISTINCT o_orderstatus,
             ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderstatus, h,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY h ASC) AS rk
      FROM hashed
    ),
    sk AS (
      SELECT o_orderstatus, CAST(max(rk) AS BIGINT) AS n_seen, max(h) AS kth
      FROM ranked WHERE rk <= 256 GROUP BY 1
    ),
    exact AS (
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_customers
      FROM orders GROUP BY 1
    )
    SELECT s.o_orderstatus,
           CAST(CASE WHEN s.n_seen < 256 THEN s.n_seen
                     ELSE CAST(round((255 * 1152921504606846976.0) / s.kth) AS BIGINT)
                END AS BIGINT) AS n_distinct_est,
           s.n_seen,
           e.exact_customers
    FROM sk s JOIN exact e USING (o_orderstatus)
    """,
)
def kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-customer estimate per order status — the
    value-oracle-checkable counterpart of ``approx_distinct_customers``:
    HLL internals are engine-private, but a KMV sketch built on the
    shared md5-prefix hash has bit-identical state (the k smallest
    hashes) and estimate in DuckDB, so the gate checks the
    approximate path itself. ``exact_customers`` is carried alongside
    to make the estimate's error visible in the gated output (the
    1/√k ≈ 6% bound is asserted in tests/test_approx_aggs.py)."""
    from ..operators import sketches as SK

    o = load_table(spark, sf_dir, "orders")
    est = SK.kmv_distinct(o, "o_custkey", group_by="o_orderstatus", k=256)
    exact = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return est.join(exact, "o_orderstatus").select(
        "o_orderstatus", "n_distinct_est", "n_seen", "exact_customers"
    )


@query(
    "event_type_stats",
    oracle="""
    SELECT event_type,
           count(*)                                       AS n,
           round(sum(value), 4)                           AS total_value,
           round(sum(value) / (count(*) + 1000), 6)       AS damped_avg
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY event_type
    """,
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership predicate (B10 ``isin`` — small literal list is
    fine; large lists become semi-joins) + damped aggregate (S4b's
    bias formula ``popularity_tuned.py:38``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.sum("value") / (F.count(F.lit(1)) + F.lit(1000)), 6).alias("damped_avg"),
        )
    )


def _ratings_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MovieLens-shaped (user, item, rating, ts) relation derived
    deterministically from orders×lineitem (customer=user, part=item,
    bounded rating from quantity)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("int").alias("userId"),
            F.col("l_partkey").cast("int").alias("movieId"),
            (F.col("l_quantity") % 5 + 1).cast("float").alias("rating"),
            (F.unix_timestamp("o_orderdate") + F.col("l_linenumber")).alias("timestamp"),
        )
        .groupBy("userId", "movieId")
        .agg(F.max("rating").alias("rating"), F.min("timestamp").alias("timestamp"))
    )


@query("als_recommendations")  # iterative + seeded (K4-K6) → rows-only
def als_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS top-5 recommendations per user (K4+K5, S5 parity shape):
    seeded fit on the ratings-shaped relation, recommendForUserSubset,
    nested array<struct> exploded to rows. Iterative factorization →
    rows-only driver check; quality is bounded in tests/test_movielens."""
    from ..operators.als import ALSConfig, fit_als, recommend_for_users

    ratings = _ratings_shaped(spark, sf_dir).cache()
    cfg = ALSConfig(rank=8, reg_param=0.1, max_iter=5, seed=42)
    model = fit_als(ratings, "userId", "movieId", "rating", cfg)
    # ordered before the limit: an unordered limit takes whichever 100
    # users the partitions deliver first, which moves with their count
    users = ratings.select("userId").distinct().orderBy("userId").limit(100)
    recs = recommend_for_users(model, users, k=5)
    return recs.select("user", "rank", "item", F.round("score", 4).alias("score"))


def _als_factor_base() -> str:
    """Warehouse dir for materialized ALS factor tables (gitignored
    spark-warehouse). One subdir per sf tag so runs at different
    scales never clobber each other."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, "spark-warehouse", "als_factors")


_ALS_RANK = 8

# The oracle replays scoring over the SAME factor parquet the query
# materialized (DuckDB read_parquet on the warehouse glob). The static
# SQL cannot know which sf the driver ran, so every factor row carries
# an ``n_ratings`` discriminator — the count of the ratings-shaped
# relation, recomputable by DuckDB from orders×lineitem — and the
# oracle filters the glob to the rows whose discriminator matches the
# registered views' scale. Dot product, ranking, and rounding are the
# identical textual expression in both engines (fixed left-to-right
# term order over 8 double columns → bit-equal doubles → identical
# ranking; sign-aware floor half-up rounding, the toolkit-class fix).
_ALS_DOT = " + ".join(f"u.f{i} * i.f{i}" for i in range(_ALS_RANK))
_ALS_SCORING_ORACLE = f"""
    WITH nr AS (
      SELECT count(*) AS n FROM (
        SELECT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2) t
    ),
    uf AS (
      SELECT * FROM read_parquet('{{base}}/*/user/*.parquet')
      WHERE n_ratings = (SELECT n FROM nr)
    ),
    itf AS (
      SELECT * FROM read_parquet('{{base}}/*/item/*.parquet')
      WHERE n_ratings = (SELECT n FROM nr)
    ),
    users AS (SELECT * FROM uf ORDER BY "user" LIMIT 50),
    scored AS (
      SELECT u."user" AS "user", i.item AS item, ({_ALS_DOT}) AS s
      FROM users u CROSS JOIN itf i
    ),
    ranked AS (
      SELECT "user", item, s,
             row_number() OVER (PARTITION BY "user"
                                ORDER BY s DESC, item ASC) AS rank
      FROM scored
    )
    SELECT "user", rank, item,
           sign(s) * floor(abs(s) * 1000000 + 0.5) / 1000000.0 AS score
    FROM ranked WHERE rank <= 5
"""


@query(
    "als_scoring_topk",
    oracle=_ALS_SCORING_ORACLE.format(base=_als_factor_base()),
)
def als_scoring_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-gateable scoring half of ALS (VERDICT r6 ask #4): the
    model FIT is inherently iterative (rows-only forever), but
    scoring — user-factor × item-factor dot product + per-user top-k,
    where a relational bug would actually hide — is plain algebra
    over two small deterministic tables. So: fit the seeded model,
    MATERIALIZE its factor matrices as 8 double columns (float32 →
    double is exact) + an ``n_ratings`` scale discriminator, then
    compute top-5-per-50-users from the WRITTEN parquet; the DuckDB
    oracle replays the identical join/dot/rank/round over the same
    files. 100 TB note: full recommend-for-all stays on the blocked
    ``recommend_for_users`` path (als.py); this bounded cross join
    (50 users × |items|, broadcast user side) exists to put the
    scoring algebra under the value gate."""
    import os

    from ..operators.als import ALSConfig, fit_als

    ratings = _ratings_shaped(spark, sf_dir).cache()
    n_ratings = ratings.count()
    cfg = ALSConfig(rank=_ALS_RANK, reg_param=0.1, max_iter=5, seed=42)
    model = fit_als(ratings, "userId", "movieId", "rating", cfg)
    ratings.unpersist()

    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    base = os.path.join(_als_factor_base(), tag)
    uf = model.userFactors.select(
        F.col("id").alias("user"),
        *[F.col("features")[i].cast("double").alias(f"f{i}") for i in range(_ALS_RANK)],
        F.lit(n_ratings).alias("n_ratings"),
    )
    itf = model.itemFactors.select(
        F.col("id").alias("item"),
        *[F.col("features")[i].cast("double").alias(f"f{i}") for i in range(_ALS_RANK)],
        F.lit(n_ratings).alias("n_ratings"),
    )
    # factor matrices are small (|users|+|items| rows × rank): one
    # file each keeps the oracle glob + re-read cheap
    uf.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "user"))
    itf.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "item"))

    # score FROM THE WRITTEN FILES so the Spark result and the oracle
    # read byte-identical factor values
    u = spark.read.parquet(os.path.join(base, "user"))
    i = spark.read.parquet(os.path.join(base, "item")).alias("i")
    users = u.orderBy("user").limit(50).alias("u")
    dot = None
    for k in range(_ALS_RANK):
        term = F.col(f"u.f{k}") * F.col(f"i.f{k}")
        dot = term if dot is None else dot + term
    # broadcast the bounded 50-user side; the item table stays
    # distributed (at 100 TB it is the large relation)
    scored = i.crossJoin(F.broadcast(users)).select(
        F.col("u.user").alias("user"), F.col("i.item").alias("item"), dot.alias("s")
    )
    w = Window.partitionBy("user").orderBy(F.col("s").desc(), F.col("item").asc())
    s = F.col("s")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "user",
            "rank",
            "item",
            (F.signum(s) * F.floor(F.abs(s) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "score"
            ),
        )
    )


@query(
    "ranking_metrics_summary",
    oracle="""
    WITH ratings AS (
      SELECT o.o_custkey::INTEGER AS userId, l.l_partkey::INTEGER AS movieId,
             max((l.l_quantity % 5 + 1)) AS rating,
             min(epoch(o.o_orderdate) + l.l_linenumber) AS ts
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    active AS (SELECT userId FROM ratings GROUP BY userId HAVING count(*) >= 5),
    bucketed AS (
      SELECT r.userId, r.movieId, r.rating,
             CAST(floor((row_number() OVER (PARTITION BY r.userId
                                            ORDER BY r.ts ASC, r.movieId ASC) - 1)
                        / (count(*) OVER (PARTITION BY r.userId)) * 5) AS INT) AS bucket
      FROM ratings r
      WHERE r.userId IN (SELECT userId FROM active)
    ),
    train   AS (SELECT * FROM bucketed WHERE bucket < 3),
    heldout AS (SELECT * FROM bucketed WHERE bucket >= 3),
    pop AS (
      SELECT movieId, sum(rating) / (count(*) + 100) AS score
      FROM train GROUP BY movieId
    ),
    cand AS (
      SELECT movieId, row_number() OVER (ORDER BY score DESC, movieId ASC) AS rank
      FROM pop ORDER BY score DESC, movieId ASC LIMIT 10
    ),
    users AS (SELECT DISTINCT userId FROM heldout),
    actual AS (
      SELECT userId, movieId FROM (
        SELECT userId, movieId,
               row_number() OVER (PARTITION BY userId
                                  ORDER BY rating DESC, movieId ASC) AS arank
        FROM heldout)
      WHERE arank <= 10
    ),
    asize AS (SELECT userId, count(*) AS m FROM actual GROUP BY userId),
    idcg AS (
      SELECT g1.m, sum(1.0 / log2(g2.i + 1)) AS v
      FROM generate_series(1, 10) g1(m)
      JOIN generate_series(1, 10) g2(i) ON g2.i <= g1.m
      GROUP BY g1.m
    ),
    hits AS (
      SELECT a.userId, c.rank,
             row_number() OVER (PARTITION BY a.userId ORDER BY c.rank) AS j
      FROM actual a JOIN cand c ON a.movieId = c.movieId
    ),
    per_user AS (
      SELECT u.userId,
             count(h.rank) / 10.0 AS p_at_k,
             coalesce(sum(h.j * 1.0 / h.rank), 0) / max(s.m) AS ap,
             coalesce(sum(1.0 / log2(h.rank + 1)), 0) / max(i.v) AS ndcg
      FROM users u
      JOIN asize s USING (userId)
      JOIN idcg i ON i.m = s.m
      LEFT JOIN hits h USING (userId)
      GROUP BY u.userId
    )
    SELECT count(*)::INT AS n_users,
           round(avg(p_at_k), 6) AS precision_at_k,
           round(avg(ap), 6) AS "map",
           round(avg(ndcg), 6) AS ndcg_at_k
    FROM per_user
    """,
)
def ranking_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 / MAP / NDCG@10 of the damped-popularity
    recommender against each user's held-out top-rated items (K7-K9
    as a one-row DataFrame).

    Oracle-backed (was rows-only in r01): with the prediction/truth
    lists built deterministically, the mllib metric definitions
    themselves are re-derived in SQL — AP = Σ(j/rank_j)/|A| over the
    sorted hit ranks, DCG positions discounted 1/log2(i+1), ideal DCG
    from a generated (m → Σ) table, P@k divided by k even for short
    lists — exactly the semantics pinned by tests/test_evaluate.py.
    Metrics are rounded to 6dp on both sides (mean over ~1e3 users;
    float-sum order differs between engines)."""
    from ..operators.evaluate import ranking_metrics
    from ..operators.relational import per_group_topk

    ratings = _ratings_shaped(spark, sf_dir).cache()
    split = S.chronological_split(ratings, "userId", "timestamp", tiebreak_col="movieId")
    train = split.filter(F.col("split") == "train")
    heldout = split.filter(F.col("split") != "train")

    pop = (
        train.groupBy("movieId")
        .agg((F.sum("rating") / (F.count(F.lit(1)) + F.lit(100))).alias("score"))
    )
    # Ranked order is explicit IN THE DATA (rank column → sorted
    # array), never raw collect_list arrival order — MAP/NDCG are
    # order-sensitive and shuffle arrival order is nondeterministic
    # (SURVEY §7 hard-part 1).
    top = R.topk(pop, [F.col("score").desc(), F.col("movieId").asc()], 10).withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("movieId").asc()))
    )
    users = heldout.select(F.col("userId").alias("user")).distinct()
    predicted = R.grouped_list_sorted_by(
        users.crossJoin(F.broadcast(top.select("movieId", "rank"))),
        "user", "rank", "movieId", out="predicted",
    )
    actual_ranked = per_group_topk(
        heldout, "userId", [F.col("rating").desc(), F.col("movieId").asc()], 10,
        keep_rank=True,
    )
    actual = R.grouped_list_sorted_by(
        actual_ranked.select(F.col("userId").alias("user"), "rank", "movieId"),
        "user", "rank", "movieId", out="actual",
    )
    m = ranking_metrics(predicted, actual, k=10)
    return spark.createDataFrame(
        [(
            int(m["n_users"]),
            round(float(m["precision_at_k"]), 6),
            round(float(m["map"]), 6),
            round(float(m["ndcg_at_k"]), 6),
        )],
        "n_users int, precision_at_k double, map double, ndcg_at_k double",
    )


@query(
    "random_pair_baseline_trials",
    oracle="""
    WITH ratings AS (
      SELECT o.o_custkey::INTEGER AS u, l.l_partkey::INTEGER AS i,
             CAST(max(l.l_quantity % 5 + 1) AS BIGINT) AS r
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    sample_users AS (
      SELECT u FROM (SELECT DISTINCT u FROM ratings)
      ORDER BY ('0x' || substr(md5(u::VARCHAR), 1, 8))::BIGINT ASC, u ASC
      LIMIT 500
    ),
    shuffled AS (
      SELECT t.trial, u,
             row_number() OVER (
               PARTITION BY t.trial
               ORDER BY ('0x' || substr(md5(t.trial::VARCHAR || ':' || u::VARCHAR), 1, 8))::BIGINT ASC,
                        u ASC
             ) AS rn
      FROM sample_users CROSS JOIN generate_series(0, 4) t(trial)
    ),
    lim AS (SELECT * FROM shuffled WHERE rn <= 100),
    trial_pairs AS (
      SELECT l.trial,
             least(l.u, r.u) AS user_a,
             greatest(l.u, r.u) AS user_b
      FROM lim l JOIN lim r
        ON l.trial = r.trial AND l.rn % 2 = 1 AND r.rn = l.rn + 1
    ),
    dpairs AS (SELECT DISTINCT user_a, user_b FROM trial_pairs),
    moments AS (
      SELECT p.user_a, p.user_b,
             count(*)          AS n,
             sum(ra.r)         AS sx,
             sum(rb.r)         AS sy,
             sum(ra.r * rb.r)  AS sxy,
             sum(ra.r * ra.r)  AS sxx,
             sum(rb.r * rb.r)  AS syy
      FROM dpairs p
      JOIN ratings ra ON ra.u = p.user_a
      JOIN ratings rb ON rb.u = p.user_b AND rb.i = ra.i
      GROUP BY 1, 2
    ),
    pair_corr AS (
      SELECT user_a, user_b, n,
             (n * sxy - sx * sy) /
               NULLIF(sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 0) AS c
      FROM moments
    ),
    scored AS (
      SELECT user_a, user_b, c FROM pair_corr
      WHERE n >= 2 AND c IS NOT NULL AND NOT isnan(c)
    )
    SELECT tp.trial::INTEGER AS trial,
           count(*) AS n_pairs_scored,
           round(avg(s.c), 6) AS avg_corr
    FROM trial_pairs tp JOIN scored s USING (user_a, user_b)
    GROUP BY 1
    """,
)
def random_pair_baseline_trials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S2 null model, distributed: user sample, per-trial
    shuffles paired by row_number, one grouped correlation pass over
    all trials (``correlation_optimised.py:54-97``).

    Oracle-backed (was rows-only in r01): ``pairing='hash'`` orders
    the sample and the per-trial shuffles by the shared md5-prefix
    hash instead of ``F.rand`` — statistically still an arbitrary
    pairing (hash order is independent of rating behavior; the
    planted-archetype test keeps proving twins out-correlate this
    baseline) but reproducible in DuckDB, and
    ``exact_int_moments=True`` makes each pair's Pearson value
    bit-equal across engines. avg over ≤50 corr values rounds to 6dp
    (float-sum order differs)."""
    ratings = _ratings_shaped(spark, sf_dir)
    out = SIM.random_pair_baseline(
        ratings, "userId", "movieId", "rating",
        n_pairs=50, n_trials=5, sample_size=500, seed=42,
        pairing="hash", exact_int_moments=True,
    )
    return out.select("trial", "n_pairs_scored", F.round("avg_corr", 6).alias("avg_corr"))
