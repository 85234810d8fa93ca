"""Round-5 analytics batch 3: the recommender/insight layer —
item-based and user-based CF, intra-list diversity, personalized
PageRank, connected components and triangle counts on the
co-purchase graph, Kaplan-Meier repurchase survival, the A/B battery
(Welch t-tests, two-proportion z-tests, mutual information / NMI),
Poisson bootstrap CIs, the single-pass correlation matrix, PMI
bigram collocations, and the Bloom-prefiltered semi-join.

Same registry + oracle conventions as ``queries.py``: identical
aliases both sides, FP aggregates rounded in both engines, total
deterministic orders on every rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import association as AS3
from ..operators import corpus as CP
from ..operators import profiling as PF
from ..operators import recommend as RC
from ..operators import similarity as SIM
from ..operators import stats as ST
from ..operators import sequence as SEQ2
from ..operators import survival as SV
from ..operators import temporal as TP2
from ..operators.relational import bloom_semi_join
from ..sources import load_table
from .queries import MAX_ITEM_FREQ, _CO_PURCHASE_SQL, _co_purchases, query
from .queries_analytics import _COSINE_CTES
from ..operators import dedup as DD
from .queries_ext import _NTOKS, _SHINGLE_CAPPED_HASHED, MAX_SHINGLE_FREQ


# --------------------------------------------------------------------------
# Item-based collaborative filtering (item-kNN recommender)
# --------------------------------------------------------------------------


# Shared CTE chain replaying the full item-CF pipeline on top of
# _COSINE_CTES — used by the item-CF oracle here and by the ILD
# diversity oracle below.
_ITEM_CF_CTES = _COSINE_CTES + """,
    nb AS (SELECT item, neighbor, cosine FROM ranked WHERE rank <= 5),
    hist AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cand AS (
      SELECT h.custkey, nb.neighbor AS item, nb.cosine
      FROM hist h JOIN nb ON nb.item = h.item
    ),
    unseen AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM hist h
                        WHERE h.custkey = c.custkey AND h.item = c.item)
    ),
    cf_scored AS (
      SELECT custkey, item, round(sum(cosine), 6) AS score,
             count(*) AS n_contributors
      FROM unseen GROUP BY 1, 2
    ),
    cf_ranked AS (
      SELECT *, row_number() OVER (PARTITION BY custkey
                                   ORDER BY score DESC, item ASC) AS rank
      FROM cf_scored
    )
"""


@query(
    "customer_item_cf_recommendations",
    oracle=f"""
    WITH {_ITEM_CF_CTES}
    SELECT custkey, item, score, n_contributors, rank
    FROM cf_ranked WHERE rank <= 5
    """,
)
def customer_item_cf_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 item-based CF recommendations per customer: unseen parts
    scored by summed cosine similarity to the parts the customer has
    already ordered (Sarwar et al. 2001 item-kNN) — the item-side
    recommender the reference's driver-dict pair similarity stops
    short of (reference: codes/Customer Segmentation/part1/
    top_100_pairs.py:58-111 ranks user pairs and stops;
    recommend.py ``item_cf_recommendations`` keeps both relations
    distributed: history ⋈ top-k neighbors on item, anti-join seen,
    one keyed agg, WindowGroupLimit)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    neighbors = AS3.item_cosine_neighbors(
        li, "l_orderkey", "l_partkey", k=5, min_pair_count=2, max_basket_size=8
    ).select("item", "neighbor", "cosine")
    hist = (
        o.select(F.col("o_custkey").alias("custkey"), "o_orderkey")
        .join(li.select("l_orderkey", F.col("l_partkey").alias("item")),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("custkey", "item")
        .distinct()
    )
    return RC.item_cf_recommendations(
        hist, neighbors, user_col="custkey", item_col="item", n=5
    )


# --------------------------------------------------------------------------
# Kaplan-Meier repurchase survival per segment
# --------------------------------------------------------------------------


def _repurchase_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, duration_days, event) rows for the repurchase
    time-to-event queries: duration = days from a customer's first
    to second order, censored at the corpus max order date."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    firsts = (
        o.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("d2"),
        )
    )
    dmax = o.agg(F.max("o_orderdate").alias("dmax"))
    return (
        firsts.join(c.select(F.col("c_custkey").alias("o_custkey"),
                             F.col("c_mktsegment").alias("segment")), "o_custkey")
        .crossJoin(F.broadcast(dmax))
        .select(
            "segment",
            F.datediff(F.coalesce("d2", "dmax"), F.col("d1"))
            .cast("int").alias("duration_days"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )


@query(
    "customer_repurchase_survival",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    sel AS (
      SELECT o_custkey,
             min(CASE WHEN rn = 1 THEN o_orderdate END) AS d1,
             min(CASE WHEN rn = 2 THEN o_orderdate END) AS d2
      FROM o2 WHERE rn <= 2 GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
    subj AS (
      SELECT c.c_mktsegment AS segment,
             CAST(date_diff('day', CAST(s.d1 AS DATE),
                  CAST(coalesce(s.d2, mx.dmax) AS DATE)) AS INT) AS duration_days,
             CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM sel s JOIN customer c ON c.c_custkey = s.o_custkey
      CROSS JOIN mx
    ),
    lt AS (
      SELECT segment, duration_days,
             CAST(sum(event) AS BIGINT) AS n_events,
             CAST(sum(1 - event) AS BIGINT) AS n_censored
      FROM subj GROUP BY 1, 2
    ),
    risk AS (
      SELECT *,
             CAST(sum(n_events + n_censored)
                    OVER (PARTITION BY segment)
                  - coalesce(sum(n_events + n_censored)
                      OVER (PARTITION BY segment ORDER BY duration_days
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n_at_risk
      FROM lt
    ),
    terms AS (
      SELECT *,
             CASE WHEN 1.0 - n_events * 1.0 / n_at_risk > 0
                  THEN ln(1.0 - n_events * 1.0 / n_at_risk) END AS lnf,
             CASE WHEN 1.0 - n_events * 1.0 / n_at_risk <= 0
                  THEN 1 ELSE 0 END AS z
      FROM risk
    )
    SELECT segment, duration_days, n_events, n_censored, n_at_risk,
           round(CASE WHEN sum(z) OVER w > 0 THEN 0.0
                      ELSE exp(coalesce(sum(lnf) OVER w, 0.0)) END, 6) AS survival
    FROM terms
    WINDOW w AS (PARTITION BY segment ORDER BY duration_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def customer_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-second-order per market
    segment: duration = days from a customer's first to second order,
    right-censored at the corpus max order date for one-order
    customers (survival.py ``kaplan_meier``). The life table is one
    map-side-combined shuffle; the product-limit curve is windows
    over the |segments| x |days| table."""
    subj = _repurchase_subjects(spark, sf_dir)
    out = SV.kaplan_meier(subj, "duration_days", "event", "segment")
    return out.select(
        "segment", "duration_days", "n_events", "n_censored",
        F.col("n_at_risk").cast("long").alias("n_at_risk"), "survival",
    )


# --------------------------------------------------------------------------
# Welch pairwise t-tests (A/B across order priorities)
# --------------------------------------------------------------------------


@query(
    "priority_spend_ttest",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp, count(o_totalprice) AS n,
             avg(o_totalprice) AS m, var_samp(o_totalprice) AS s2
      FROM orders GROUP BY 1
    )
    SELECT a.grp AS group_a, b.grp AS group_b,
           a.n AS n_a, b.n AS n_b,
           round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
           round((a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n), 6) AS t_stat,
           round(pow(a.s2 / a.n + b.s2 / b.n, 2)
                 / (pow(a.s2 / a.n, 2) / (a.n - 1)
                    + pow(b.s2 / b.n, 2) / (b.n - 1)), 2) AS welch_dof
    FROM g a JOIN g b ON a.grp < b.grp
    """,
)
def priority_spend_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance t statistic for every pair of order
    priorities on order value — the distributed A/B test battery
    (stats.py ``welch_ttest_pairs``): one shuffle to per-group
    moments, broadcast self-join of the 5-row group relation."""
    o = load_table(spark, sf_dir, "orders")
    return ST.welch_ttest_pairs(o, "o_orderpriority", "o_totalprice")


# --------------------------------------------------------------------------
# Mutual information between segment and priority
# --------------------------------------------------------------------------


@query(
    "segment_priority_mutual_info",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS a, o.o_orderpriority AS b
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    obs AS (SELECT a, b, count(*) AS obs FROM j GROUP BY 1, 2),
    ma AS (SELECT a, CAST(sum(obs) AS BIGINT) AS ra FROM obs GROUP BY 1),
    mb AS (SELECT b, CAST(sum(obs) AS BIGINT) AS cb FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM obs),
    mi AS (
      SELECT sum((obs * 1.0 / n) * log2((obs * 1.0 / n)
                 / ((ra * 1.0 / n) * (cb * 1.0 / n)))) AS mi
      FROM obs JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
    ),
    ha AS (SELECT -sum((ra * 1.0 / n) * log2(ra * 1.0 / n)) AS ha
           FROM ma CROSS JOIN tot),
    hb AS (SELECT -sum((cb * 1.0 / n) * log2(cb * 1.0 / n)) AS hb
           FROM mb CROSS JOIN tot)
    SELECT round(mi.mi, 6) AS mi_bits,
           round(ha.ha, 6) AS entropy_a,
           round(hb.hb, 6) AS entropy_b,
           round(CASE WHEN sqrt(ha.ha * hb.hb) > 0
                      THEN mi.mi / sqrt(ha.ha * hb.hb) END, 6) AS nmi,
           tot.n AS n
    FROM mi, ha, hb, tot
    """,
)
def segment_priority_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information / NMI between customer market segment and
    order priority — the scale-free effect size next to
    ``segment_priority_chisq`` (stats.py ``mutual_information``):
    one contingency-table shuffle, margins derived from the table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("a"), F.col("o_orderpriority").alias("b")
    )
    return ST.mutual_information(j, "a", "b")


# --------------------------------------------------------------------------
# Bloom-prefiltered semi-join
# --------------------------------------------------------------------------


@query(
    "bloom_filtered_order_revenue",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_lineitems,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS urgent_revenue
    FROM lineitem
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey
                    AND o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    """,
)
def bloom_filtered_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT orders via the
    Bloom-prefiltered semi-join (relational.py ``bloom_semi_join``):
    probe rows failing any of 3 md5-derived bit positions skip the
    exact-verify exchange; survivors verify exactly, so the result
    equals the plain semi-join the oracle runs. The explicit form of
    the runtime-filter pattern that keeps big-probe joins affordable
    at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    filtered = bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", num_bits=16384, num_hashes=3
    )
    return filtered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("urgent_revenue"),
    )


# --------------------------------------------------------------------------
# PMI bigram collocations
# --------------------------------------------------------------------------


@query(
    "doc_bigram_collocations",
    oracle=f"""
    WITH t AS (SELECT {_NTOKS} AS toks FROM documents),
    s AS (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS g FROM t),
    bg AS (SELECT toks[g] AS w1, toks[g + 1] AS w2 FROM s),
    pc AS (
      SELECT w1, w2, count(*) AS pair_count FROM bg
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    ug AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, count(*) AS c FROM ug GROUP BY 1),
    tb AS (SELECT count(*) AS tb FROM bg),
    tu AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uc),
    scored AS (
      SELECT pc.w1, pc.w2, pc.pair_count,
             round((ln(pc.pair_count * 1.0 / tb.tb)
                    - ln(c1.c * 1.0 / tu.tu)
                    - ln(c2.c * 1.0 / tu.tu)) / ln(2.0), 6) AS pmi
      FROM pc
      JOIN uc c1 ON c1.w = pc.w1
      JOIN uc c2 ON c2.w = pc.w2
      CROSS JOIN tb CROSS JOIN tu
    )
    SELECT w1, w2, pair_count, pmi FROM scored
    ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
    """,
)
def doc_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations by pointwise mutual
    information (Church & Hanks 1990) over the documents corpus —
    the multiword-unit detector of tokenizer curation (corpus.py
    ``pmi_collocations``): bigrams via array-level zip_with (no
    window), two vocabulary-sized counting shuffles, and a
    TakeOrderedAndProject cut."""
    d = load_table(spark, sf_dir, "documents")
    return CP.pmi_collocations(d, "doc_id", "text", min_pair_count=3, top_n=50)


# --------------------------------------------------------------------------
# Two-proportion conversion z-test
# --------------------------------------------------------------------------


@query(
    "segment_conversion_ztest",
    oracle="""
    WITH conv AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events e GROUP BY 1
    ),
    j AS (
      SELECT c.c_mktsegment AS seg, conv.converted
      FROM conv JOIN customer c ON c.c_custkey = conv.user_id
    ),
    g AS (SELECT seg, count(converted) AS n,
                 CAST(sum(converted) AS BIGINT) AS s
          FROM j GROUP BY 1)
    SELECT a.seg AS group_a, b.seg AS group_b, a.n AS n_a, b.n AS n_b,
           round(a.s * 1.0 / a.n, 6) AS rate_a,
           round(b.s * 1.0 / b.n, 6) AS rate_b,
           round(CASE WHEN (a.s + b.s) * 1.0 / (a.n + b.n)
                           * (1 - (a.s + b.s) * 1.0 / (a.n + b.n))
                           * (1.0 / a.n + 1.0 / b.n) > 0
                      THEN (a.s * 1.0 / a.n - b.s * 1.0 / b.n)
                           / sqrt((a.s + b.s) * 1.0 / (a.n + b.n)
                                  * (1 - (a.s + b.s) * 1.0 / (a.n + b.n))
                                  * (1.0 / a.n + 1.0 / b.n)) END, 6) AS z_stat
    FROM g a JOIN g b ON a.seg < b.seg
    """,
)
def segment_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z test of purchase-conversion rate for
    every pair of customer segments — the conversion-funnel A/B
    battery (stats.py ``two_proportion_ztest``): per-user conversion
    flags in one keyed agg, segment join, then the tiny-group
    moments/pairing shape shared with the Welch battery."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    conv = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    )
    j = conv.join(
        c.select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("seg")),
        "user_id",
    )
    return ST.two_proportion_ztest(j, "seg", "converted")


# --------------------------------------------------------------------------
# User-based collaborative filtering (user-kNN recommender)
# --------------------------------------------------------------------------


@query(
    "customer_user_cf_recommendations",
    oracle=_CO_PURCHASE_SQL
    + """
, rj AS (
      SELECT user_a, user_b, round(jaccard, 6) AS sim
      FROM jac WHERE jaccard >= 0.05
    ),
    directed AS (
      SELECT user_a AS u, user_b AS nb, sim FROM rj
      UNION ALL
      SELECT user_b AS u, user_a AS nb, sim FROM rj
    ),
    tk AS (
      SELECT u, nb, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY u
                                     ORDER BY sim DESC, nb ASC) AS rnk
        FROM directed
      ) WHERE rnk <= 10
    ),
    cand AS (
      SELECT tk.u, h.i, tk.sim FROM tk JOIN ui_all h ON h.u = tk.nb
    ),
    unseen AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM ui_all s
                        WHERE s.u = c.u AND s.i = c.i)
    ),
    sc AS (
      SELECT u AS custkey, i AS item, round(sum(sim), 6) AS score,
             count(*) AS n_contributors
      FROM unseen GROUP BY 1, 2
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY custkey
                                   ORDER BY score DESC, item ASC) AS rank
      FROM sc
    )
    SELECT custkey, item, score, n_contributors, rank
    FROM rk WHERE rank <= 5
    """,
)
def customer_user_cf_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 user-based CF recommendations per customer: items
    held by the customer's 10 most Jaccard-similar customers
    (governed co-purchase sets, same relation as
    ``jaccard_pairs_exact``), scored by summed similarity,
    seen items excluded (recommend.py
    ``user_cf_recommendations``) — the recommender the
    reference's S1 pair ranking stops short of. Candidate
    baskets come from the UNGOVERNED full history so hot items
    can still be recommended; only the similarity metric uses
    the governed sets."""
    cp = _co_purchases(spark, sf_dir)
    pairs = SIM.exact_jaccard_pairs(
        cp, "o_custkey", "l_partkey", threshold=0.05,
        max_item_freq=MAX_ITEM_FREQ,
    ).withColumn("jaccard", F.round("jaccard", 6))
    hist = cp.select(
        F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("item")
    ).distinct()
    return RC.user_cf_recommendations(
        hist, pairs, user_col="custkey", item_col="item",
        sim_col="jaccard", k_neighbors=10, n=5,
    )



# --------------------------------------------------------------------------
# Single-pass correlation matrix
# --------------------------------------------------------------------------

_LI_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "lineitem_correlation_matrix",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               CAST(count(*) FILTER (WHERE {a} IS NOT NULL
                                       AND {b} IS NOT NULL) AS BIGINT) AS n,
               round(corr({a}, {b}), 6) AS corr
        FROM lineitem
        """
        for i, a in enumerate(_LI_CORR_COLS)
        for b in _LI_CORR_COLS[i + 1:]
    ),
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of every pair of lineitem numeric columns
    in ONE scan (profiling.py ``correlation_matrix``): k(k-1)/2
    pairwise moment sets in a single map-side-combined aggregate,
    unpivoted to tidy pairs — vs the reference's one-pair-at-a-time
    driver numpy loop. The oracle is DuckDB's native ``corr``, an
    INDEPENDENT formulation, not a replay."""
    li = load_table(spark, sf_dir, "lineitem")
    return PF.correlation_matrix(li, list(_LI_CORR_COLS))


# --------------------------------------------------------------------------
# Intra-list diversity of the item-CF recommendations
# --------------------------------------------------------------------------


@query(
    "recommendation_diversity_ild",
    oracle=f"""
    WITH {_ITEM_CF_CTES},
    recs AS (SELECT custkey, item FROM cf_ranked WHERE rank <= 5),
    p AS (
      SELECT a.custkey, a.item AS ia, b.item AS ib
      FROM recs a JOIN recs b ON a.custkey = b.custkey AND a.item < b.item
    ),
    nbc AS (
      -- canonicalize the top-k-truncated directed relation: a pair
      -- surviving truncation in only one direction still counts
      -- (mirrors evaluate.intra_list_diversity, ADVICE r5)
      SELECT ia, ib, max(cosine) AS cosine FROM (
        SELECT item AS ia, neighbor AS ib, cosine FROM nb
        UNION ALL
        SELECT neighbor AS ia, item AS ib, cosine FROM nb
      ) WHERE ia < ib GROUP BY ia, ib
    ),
    d AS (
      SELECT p.custkey, 1.0 - coalesce(nbc.cosine, 0.0) AS dis
      FROM p LEFT JOIN nbc ON nbc.ia = p.ia AND nbc.ib = p.ib
    ),
    per_user AS (
      SELECT custkey, avg(dis) AS ild_u, count(*) AS np
      FROM d GROUP BY 1
    )
    SELECT round(avg(ild_u), 6) AS ild,
           count(*) AS n_users,
           CAST(sum(np) AS BIGINT) AS n_pairs
    FROM per_user
    """,
)
def recommendation_diversity_ild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-list diversity of the item-CF top-5 lists under the same
    cosine model that ranked them (evaluate.py
    ``intra_list_diversity``): within-list pairs (k(k-1)/2 per user,
    list-bounded) left-join the direction-canonicalized neighbor
    relation (union of both directions, max cosine per unordered
    pair — top-k truncation can drop one direction); absent pairs
    count as fully dissimilar — the beyond-accuracy
    counterweight to similarity-driven recommenders alongside
    coverage@k and novelty."""
    from ..operators import evaluate as EV

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    neighbors = AS3.item_cosine_neighbors(
        li, "l_orderkey", "l_partkey", k=5, min_pair_count=2, max_basket_size=8
    ).select("item", "neighbor", "cosine")
    hist = (
        o.select(F.col("o_custkey").alias("custkey"), "o_orderkey")
        .join(li.select("l_orderkey", F.col("l_partkey").alias("item")),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("custkey", "item")
        .distinct()
    )
    recs = RC.item_cf_recommendations(
        hist, neighbors, user_col="custkey", item_col="item", n=5
    ).select("custkey", "item")
    return EV.intra_list_diversity(
        recs, neighbors, user_col="custkey", item_col="item"
    )


# --------------------------------------------------------------------------
# Poisson bootstrap CI for segment account-balance means
# --------------------------------------------------------------------------


@query(
    "segment_acctbal_bootstrap_ci",
    oracle="""
    WITH rep AS (
      SELECT c.c_mktsegment AS segment, c.c_acctbal AS x, c.c_custkey AS id,
             b.b AS b
      FROM customer c, unnest(range(1, 21)) AS b(b)
    ),
    uw AS (
      -- ':' delimiters mirror the engine's concat_ws (ADVICE r5:
      -- undelimited concat collides (b=1,id='23') with (b=12,id='3'))
      SELECT segment, x, b,
             ('0x' || substr(md5('boot' || ':' || CAST(b AS VARCHAR)
                                 || ':' || CAST(id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM rep
    ),
    wt AS (
      SELECT segment, x, b,
             CASE WHEN u < 0.3678794412 THEN 0
                  WHEN u < 0.7357588824 THEN 1
                  WHEN u < 0.9196986029 THEN 2
                  WHEN u < 0.9810118431 THEN 3
                  WHEN u < 0.9963401532 THEN 4
                  ELSE 5 END AS w
      FROM uw
    ),
    means AS (
      SELECT segment, b, sum(w * x) / sum(w) AS mb
      FROM wt GROUP BY 1, 2 HAVING sum(w) > 0
    ),
    nr AS (SELECT c_mktsegment AS segment, count(*) AS n_rows
           FROM customer GROUP BY 1)
    SELECT nr.segment, nr.n_rows,
           round(avg(mb), 6) AS boot_mean,
           round(quantile_cont(mb, 0.025), 6) AS ci_lo,
           round(quantile_cont(mb, 0.975), 6) AS ci_hi
    FROM means JOIN nr ON nr.segment = means.segment
    GROUP BY nr.segment, nr.n_rows
    """,
)
def segment_acctbal_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean account balance per market
    segment, 20 replicates (stats.py ``poisson_bootstrap_mean_ci``) —
    the distributed bootstrap (per-row independent Poisson(1)
    weights, no global-n resampling), made bit-replayable with
    md5-ladder weights so the oracle reruns the exact procedure."""
    c = load_table(spark, sf_dir, "customer")
    out = ST.poisson_bootstrap_mean_ci(
        c, "c_mktsegment", "c_acctbal", "c_custkey",
        n_replicates=20, seed="boot",
    )
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        "n_rows", "boot_mean", "ci_lo", "ci_hi",
    )


# --------------------------------------------------------------------------
# Personalized PageRank from a brand's parts
# --------------------------------------------------------------------------


@query(
    "brand_personalized_pagerank",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    sizes AS (SELECT basket, count(*) AS bsize FROM inc GROUP BY 1),
    bounded AS (
      SELECT inc.basket, inc.item FROM inc JOIN sizes USING (basket)
      WHERE bsize <= 8
    ),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib
      FROM bounded a JOIN bounded b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    ed AS (
      SELECT ia AS src, ib AS dst FROM pairs
      UNION ALL
      SELECT ib AS src, ia AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
    nodes AS (
      SELECT n.node, coalesce(deg.deg, 0) AS deg,
             CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS seed
      FROM (SELECT src AS node FROM ed UNION SELECT dst FROM ed) n
      LEFT JOIN deg ON deg.src = n.node
      LEFT JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4') p
        ON p.p_partkey = n.node
    ),
    ns AS (SELECT CAST(sum(seed) AS BIGINT) AS k FROM nodes),
    pr0 AS (SELECT node, deg, seed * 1.0 / ns.k AS r, seed * 1.0 / ns.k AS pr
            FROM nodes CROSS JOIN ns),
    it1 AS (SELECT e.dst AS node, sum(p.pr / p.deg) AS m
            FROM ed e JOIN pr0 p ON p.node = e.src AND p.deg > 0 GROUP BY 1),
    pr1 AS (SELECT p.node, p.deg, p.r,
                   floor(((1 - 0.85) * p.r + 0.85 * coalesce(it1.m, 0))
                         * 1e12 + 0.5) / 1e12 AS pr
            FROM pr0 p LEFT JOIN it1 ON it1.node = p.node),
    it2 AS (SELECT e.dst AS node, sum(p.pr / p.deg) AS m
            FROM ed e JOIN pr1 p ON p.node = e.src AND p.deg > 0 GROUP BY 1),
    pr2 AS (SELECT p.node, p.deg, p.r,
                   floor(((1 - 0.85) * p.r + 0.85 * coalesce(it2.m, 0))
                         * 1e12 + 0.5) / 1e12 AS pr
            FROM pr1 p LEFT JOIN it2 ON it2.node = p.node),
    it3 AS (SELECT e.dst AS node, sum(p.pr / p.deg) AS m
            FROM ed e JOIN pr2 p ON p.node = e.src AND p.deg > 0 GROUP BY 1),
    pr3 AS (SELECT p.node,
                   floor(((1 - 0.85) * p.r + 0.85 * coalesce(it3.m, 0))
                         * 1e12 + 0.5) / 1e12 AS pr
            FROM pr2 p LEFT JOIN it3 ON it3.node = p.node)
    -- per-iteration 1e-12 quantization + floor-based half-up output:
    -- seeded teleport terms are exact short decimals that land ON
    -- rounding boundaries, and the engines' round() semantics differ
    -- at ties (see graph.personalized_pagerank docstring)
    SELECT node, floor(pr * 1000000 + 0.5) / 1000000.0 AS pagerank FROM pr3
    """,
)
def brand_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at Brand#4's parts over the
    co-purchase graph (graph.py ``personalized_pagerank``, d=0.85,
    3 iterations): rank = proximity to the brand through shared
    baskets — the graph-walk "related items" recommender (Haveliwala
    2002 topic-sensitive PageRank; Pixie-style at scale). Same
    governed edge builder and 2-exchanges-per-iteration plan as
    ``part_copurchase_pagerank``; the reset weights ride in the rank
    relation. The oracle emulates HALF_UP rounding — seeded teleport
    terms are exact rationals that hit the .5 rounding boundary,
    where the engines' round() semantics differ."""
    from ..operators import association as AS2
    from ..operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bounded = AS2.bounded_incidence(li, "l_orderkey", "l_partkey", max_basket_size=8)
    pairs = AS2.cooccurrence_pairs(bounded, min_pair_count=2)
    edges = pairs.select(F.col("_a").alias("src"), F.col("_b").alias("dst")).unionByName(
        pairs.select(F.col("_b").alias("src"), F.col("_a").alias("dst"))
    )
    seeds = p.filter(F.col("p_brand") == "Brand#4").select(
        F.col("p_partkey").alias("node")
    )
    return G.personalized_pagerank(edges, seeds, damping=0.85, iterations=3)


# --------------------------------------------------------------------------
# Graph components + triangles on the co-purchase graph
# --------------------------------------------------------------------------

# Governed co-purchase edge CTEs shared by the two graph queries below
# (same construction as the PageRank oracles).
_COPURCHASE_EDGE_CTES = """
    inc AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    sizes AS (SELECT basket, count(*) AS bsize FROM inc GROUP BY 1),
    bounded AS (
      SELECT inc.basket, inc.item FROM inc JOIN sizes USING (basket)
      WHERE bsize <= 8
    ),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib
      FROM bounded a JOIN bounded b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
"""


@query(
    "part_copurchase_components",
    oracle=f"""
    WITH RECURSIVE {_COPURCHASE_EDGE_CTES},
    ed AS (
      SELECT ia AS src, ib AS dst FROM pairs
      UNION ALL
      SELECT ib AS src, ia AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM ed
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.node
    )
    SELECT node, CAST(min(lbl) AS BIGINT) AS component
    FROM reach GROUP BY 1
    """,
)
def part_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the governed co-purchase graph
    (graph.py ``connected_components``, min-label propagation to
    fixpoint) — which parts form one co-purchase market. The oracle
    is an INDEPENDENT recursive-CTE transitive closure, not a replay
    of the propagation."""
    from ..operators import association as AS2
    from ..operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    bounded = AS2.bounded_incidence(li, "l_orderkey", "l_partkey", max_basket_size=8)
    pairs = AS2.cooccurrence_pairs(bounded, min_pair_count=2)
    edges = pairs.select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
    return G.connected_components(edges)


@query(
    "part_copurchase_triangles",
    oracle=f"""
    WITH {_COPURCHASE_EDGE_CTES},
    canon AS (SELECT ia AS a, ib AS b FROM pairs),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM (SELECT e1.a, e1.b, e2.b AS c
            FROM canon e1 JOIN canon e2 ON e2.a = e1.b) w
      WHERE EXISTS (SELECT 1 FROM canon e3
                    WHERE e3.a = w.a AND e3.b = w.c)
    ),
    nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, count(*) AS n_triangles FROM nodes GROUP BY 1
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph
    (graph.py ``triangle_counts``, compact-forward a<b<c wedge
    enumeration + closing-edge semi-join) — the local clustering
    signal next to PageRank's global centrality, on the same
    governed edge relation."""
    from ..operators import association as AS2
    from ..operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    bounded = AS2.bounded_incidence(li, "l_orderkey", "l_partkey", max_basket_size=8)
    pairs = AS2.cooccurrence_pairs(bounded, min_pair_count=2)
    edges = pairs.select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
    return G.triangle_counts(edges)


# --------------------------------------------------------------------------
# Asymmetric containment near-dup pairs
# --------------------------------------------------------------------------


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_CAPPED_HASHED}
    SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
           round(n_common * 1.0 / least(sa.n, sb.n), 6) AS containment,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / least(sa.n, sb.n) >= 0.6
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram containment near-dup pairs ≥ 0.6 — catches
    truncated/extended copies whose Jaccard stays low (dedup.py
    ``ngram_containment_pairs``); same hashed-shingle governed join
    as `ngram_duplicate_pairs`, different post-aggregation score."""
    d = load_table(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6,
        max_shingle_freq=MAX_SHINGLE_FREQ,
        hash_shingles=True,
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding + PSI drift
# --------------------------------------------------------------------------


@query(
    "orders_priority_target_encoding",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS cat, round(sum(o_totalprice), 2) AS sc,
             count(*) AS n
      FROM orders GROUP BY 1
    ),
    p AS (SELECT round(sum(o_totalprice), 2) / count(*) AS mu FROM orders)
    SELECT o.o_orderkey, o.o_orderpriority,
           round((s.sc - o.o_totalprice + 10 * p.mu) / (s.n - 1 + 10), 6)
             AS te_loo
    FROM orders o JOIN s ON s.cat = o.o_orderpriority CROSS JOIN p
    """,
)
def orders_priority_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding of order priority
    by order value, prior-smoothed with m=10 (features.py
    ``target_encode_loo``): each row's feature is the mean value of
    OTHER orders in its priority — one catalog-sized aggregate
    broadcast back, pure column math per row."""
    from ..operators import features as FE

    o = load_table(spark, sf_dir, "orders")
    out = FE.target_encode_loo(
        o, "o_orderpriority", "o_totalprice", prior_weight=10.0
    )
    return out.select("o_orderkey", "o_orderpriority", "te_loo")


@query(
    "order_price_psi",
    oracle="""
    WITH base AS (SELECT o_totalprice AS v FROM orders
                  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
    cur AS (SELECT o_totalprice AS v FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
    bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
    bb AS (
      SELECT CAST(least(9, greatest(0,
               floor((v - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin,
             count(*) AS cb
      FROM base CROSS JOIN bounds GROUP BY 1
    ),
    cc AS (
      SELECT CAST(least(9, greatest(0,
               floor((v - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin,
             count(*) AS ccnt
      FROM cur CROSS JOIN bounds GROUP BY 1
    ),
    nb AS (SELECT count(*) AS n FROM base),
    nc AS (SELECT count(*) AS n FROM cur),
    grid AS (
      SELECT s.bin,
             greatest(coalesce(bb.cb, 0) * 1.0 / nb.n, 1e-6) AS p,
             greatest(coalesce(cc.ccnt, 0) * 1.0 / nc.n, 1e-6) AS q
      FROM (SELECT unnest(range(0, 10)) AS bin) s
      LEFT JOIN bb USING (bin) LEFT JOIN cc USING (bin)
      CROSS JOIN nb CROSS JOIN nc
    )
    SELECT CAST(bin AS INT) AS bin,
           round(p, 6) AS p_baseline, round(q, 6) AS p_current,
           round((p - q) * ln(p / q), 6) AS psi_term
    FROM grid
    UNION ALL
    SELECT -1, NULL, NULL, round(sum((p - q) * ln(p / q)), 6) FROM grid
    """,
)
def order_price_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, pre-1998 baseline
    vs 1998+ current (profiling.py ``psi_drift``, 10 equi-width bins
    fitted on the baseline): the train/serve drift check — per-bin
    decomposition plus the headline total under bin = -1."""
    from ..operators import profiling as PF2

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    base = o.filter(F.col("o_orderdate") < cut)
    cur = o.filter(F.col("o_orderdate") >= cut)
    return PF2.psi_drift(base, cur, "o_totalprice", n_bins=10)


# --------------------------------------------------------------------------
# Weight of Evidence / Information Value
# --------------------------------------------------------------------------


@query(
    "segment_urgency_woe_iv",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS level,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    lv AS (
      SELECT level, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM j GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
                   CAST(sum(n_neg) AS BIGINT) AS tn FROM lv),
    g AS (
      SELECT level, n_pos, n_neg,
             greatest(n_pos * 1.0 / tp, 1e-6) AS ps,
             greatest(n_neg * 1.0 / tn, 1e-6) AS ns
      FROM lv CROSS JOIN tot
    )
    SELECT level, n_pos, n_neg,
           round(ln(ps / ns), 6) AS woe,
           round((ps - ns) * ln(ps / ns), 6) AS iv_term
    FROM g
    UNION ALL
    SELECT NULL, CAST(sum(n_pos) AS BIGINT), CAST(sum(n_neg) AS BIGINT),
           NULL, round(sum((ps - ns) * ln(ps / ns)), 6)
    FROM g
    """,
)
def segment_urgency_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence of customer segment against urgent-order
    incidence, plus the feature's total Information Value (features.py
    ``woe_iv``) — the categorical screening step between profiling
    and model training; one level-sized shuffle, totals broadcast."""
    from ..operators import features as FE

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("urgent"),
    )
    return FE.woe_iv(j, "seg", "urgent").withColumnRenamed("seg", "level")


# --------------------------------------------------------------------------
# Exponentially decayed trending scores
# --------------------------------------------------------------------------


@query(
    "decayed_event_type_scores",
    oracle="""
    WITH mx AS (SELECT epoch_us(max(ts)) / 1000000.0 AS tmax FROM events)
    SELECT event_type,
           count(*) AS n_events,
           round(sum(pow(0.5, ((mx.tmax - epoch_us(ts) / 1000000.0) / 3600.0)
                              / 24.0)), 6) AS decayed_count
    FROM events CROSS JOIN mx
    GROUP BY event_type
    """,
)
def decayed_event_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted event-type popularity: exponentially decayed
    counts with a 24 h half-life evaluated at the corpus max
    timestamp (temporal.py ``decayed_counts``) — the smooth
    trending signal that has no window-edge cliff; one scalar agg
    broadcast + one keyed map-side-combined sum."""
    e = load_table(spark, sf_dir, "events")
    return TP2.decayed_counts(e, "event_type", "ts", half_life_hours=24.0)


# --------------------------------------------------------------------------
# Customer-360 profile (composition)
# --------------------------------------------------------------------------


@query(
    "customer_360_profile",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend,
             min(o_orderdate) AS first_order,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
    e AS (
      SELECT user_id,
             count(*) AS n_events,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1
    )
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(o.total_spend, 0.0) AS total_spend,
           CAST(CASE WHEN o.o_custkey IS NOT NULL
                THEN date_diff('day', CAST(o.last_order AS DATE),
                               CAST(mx.dmax AS DATE)) END AS INT)
             AS recency_days,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(e.converted, 0) AS converted
    FROM customer c
    LEFT JOIN o ON o.o_custkey = c.c_custkey
    LEFT JOIN e ON e.user_id = c.c_custkey
    CROSS JOIN mx
    """,
)
def customer_360_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 360 profile: order-side RFM raw signals
    (frequency, monetary, recency vs corpus max date) joined with
    event-side engagement and purchase conversion — the composition
    a CRM activation job exports, built from the same aggregates the
    RFM/conversion operators use. Two fact-side keyed aggregations
    and two left joins onto the customer dim; customers with no
    orders/events surface with zeros/null recency, not dropped."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    orders_agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.max("o_orderdate").alias("last_order"),
    )
    dmax = o.agg(F.max("o_orderdate").alias("dmax"))
    events_agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted"),
    )
    return (
        c.select(F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment"))
        .join(orders_agg, F.col("custkey") == F.col("o_custkey"), "left")
        .join(events_agg, F.col("custkey") == F.col("user_id"), "left")
        .crossJoin(F.broadcast(dmax))
        .select(
            "custkey",
            "segment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.when(
                F.col("o_custkey").isNotNull(),
                F.datediff(F.col("dmax"), F.col("last_order")),
            ).cast("int").alias("recency_days"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("converted", F.lit(0)).alias("converted"),
        )
    )


# --------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------------


@query(
    "purchase_click_attribution_ushape",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.user_id, p.purchase_id, p.purchase_ts, p.purchase_value,
             c.click_id, c.click_ts
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.click_ts <= p.purchase_ts
       AND c.click_ts > p.purchase_ts - INTERVAL 1 HOUR
    ),
    ranked AS (
      -- rnl derived from the SAME ascending ordering (n - rnf + 1),
      -- mirroring the engine's tie-safe single-window formulation
      SELECT *,
             count(*) OVER (PARTITION BY purchase_id) AS n_touches,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY click_ts ASC, click_id ASC) AS rnf,
             count(*) OVER (PARTITION BY purchase_id)
               - row_number() OVER (PARTITION BY purchase_id
                                    ORDER BY click_ts ASC, click_id ASC)
               + 1 AS rnl
      FROM pairs
    ),
    weighted AS (
      SELECT *, round(CASE WHEN n_touches = 1 THEN 1.0
                           WHEN n_touches = 2 THEN 0.5
                           WHEN rnf = 1 THEN 0.4
                           WHEN rnl = 1 THEN 0.4
                           ELSE 0.2 / (n_touches - 2) END, 6) AS weight
      FROM ranked
    )
    SELECT user_id, purchase_id, click_id, click_ts, purchase_ts,
           n_touches, weight,
           round(purchase_value * weight, 6) AS attributed_value
    FROM weighted
    """,
)
def purchase_click_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: 40% of
    purchase credit to the first same-user click in the hour, 40% to
    the last, 20% split across the middle (streaming/joins.py
    ``multi_touch_attribution(weighting='position')``) — the
    discovery-and-closing rule next to the linear split; click_id
    tiebreaks make first/last deterministic under ts collisions."""
    from ..streaming.joins import multi_touch_attribution

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"), F.col("value").alias("purchase_value"),
    )
    out = multi_touch_attribution(
        clicks, purch, "user_id", "click_ts", "purchase_id", "purchase_ts",
        value_col="purchase_value", lookback="1 hour",
        weighting="position", cause_id="click_id",
    )
    return out.select(
        "user_id", "purchase_id", "click_id", "click_ts", "purchase_ts",
        "n_touches", "weight", "attributed_value",
    )


# --------------------------------------------------------------------------
# Time-decay attribution + supplier concentration
# --------------------------------------------------------------------------


@query(
    "purchase_click_attribution_timedecay",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.user_id, p.purchase_id, p.purchase_ts, p.purchase_value,
             c.click_id, c.click_ts,
             pow(0.5, ((epoch_us(p.ts2) - epoch_us(c.click_ts)) / 1000000.0
                       / 3600.0) / 0.5) AS raw
      FROM (SELECT *, purchase_ts AS ts2 FROM purch) p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.click_ts <= p.purchase_ts
       AND c.click_ts > p.purchase_ts - INTERVAL 1 HOUR
    ),
    normed AS (
      SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touches,
             sum(raw) OVER (PARTITION BY purchase_id) AS tot
      FROM pairs
    )
    SELECT user_id, purchase_id, click_id, click_ts, purchase_ts,
           n_touches,
           round(raw / tot, 6) AS weight,
           round(purchase_value * round(raw / tot, 6), 6) AS attributed_value
    FROM normed
    """,
)
def purchase_click_attribution_timedecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: touch weight ∝
    0.5^(Δt/30 min), normalized per purchase — recent clicks earn
    the most credit (streaming/joins.py
    ``multi_touch_attribution(weighting='time_decay')``); same
    lookback-bounded pair relation as the linear and U-shaped
    rules."""
    from ..streaming.joins import multi_touch_attribution

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"), F.col("value").alias("purchase_value"),
    )
    out = multi_touch_attribution(
        clicks, purch, "user_id", "click_ts", "purchase_id", "purchase_ts",
        value_col="purchase_value", lookback="1 hour",
        weighting="time_decay", decay_half_life_hours=0.5,
    )
    return out.select(
        "user_id", "purchase_id", "click_id", "click_ts", "purchase_ts",
        "n_touches", "weight", "attributed_value",
    )


@query(
    "part_supplier_hhi",
    oracle="""
    WITH q AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    t AS (
      SELECT partkey, count(*) AS n_suppliers,
             CAST(sum(qty * qty) AS BIGINT) AS sum_sq,
             CAST(sum(qty) AS BIGINT) AS total_qty
      FROM q GROUP BY 1
    )
    SELECT partkey, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           floor((sum_sq * 1.0 / (total_qty * total_qty)) * 1000000
                 + 0.5) / 1000000.0 AS hhi
    FROM t
    """,
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per part: the Herfindahl-Hirschman
    index of supplier quantity shares (1.0 = single-sourced, 1/n =
    evenly split across n) — the procurement-risk screen over the
    supplier dimension. Quantities are integral, so the HHI is the
    exact ratio Σqty² / total² computed in integer arithmetic with
    ONE final division — identical doubles in both engines — and
    floor-based half-up rounding (share ratios are rationals that
    land exactly on decimal rounding boundaries, where engine
    round() tie semantics differ; same fix as personalized
    PageRank). Two keyed aggregations, no broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    t = q.groupBy("partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("qty") * F.col("qty")).alias("sum_sq"),
        F.sum("qty").alias("total_qty"),
    )
    hhi = (F.col("sum_sq") / (F.col("total_qty") * F.col("total_qty"))) 
    return t.select(
        "partkey",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        (F.floor(hhi * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)).alias("hhi"),
    )


# --------------------------------------------------------------------------
# Price elasticity (log-log OLS) + Benford first-digit screen
# --------------------------------------------------------------------------


@query(
    "brand_price_elasticity",
    oracle="""
    WITH j AS (
      SELECT p.p_brand AS brand,
             ln(l.l_extendedprice / l.l_quantity) AS x,
             ln(l.l_quantity) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    m AS (
      SELECT brand, count(*) * 1.0 AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM j GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n_points,
           round(CASE WHEN n * sxx - sx * sx > 0
                 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
             AS slope,
           round(CASE WHEN n * sxx - sx * sx > 0
                 THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                 END, 6) AS intercept,
           round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                 THEN pow(n * sxy - sx * sy, 2)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
             AS r2
    FROM m
    """,
)
def brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log OLS slope of
    ln(quantity) on ln(unit price) — elasticity < -1 means demand
    drops faster than price rises (stats.py ``group_linear_trend``
    over transformed columns; the closed-form six-moment aggregate,
    one shuffle). The engine's moment formula is replayed by the
    oracle term for term."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
            F.log("l_quantity").alias("y"),
        )
    )
    return ST.group_linear_trend(j, ["brand"], "x", "y")


@query(
    "order_value_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
             AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT s.digit, coalesce(c.n, 0) AS n,
           round(coalesce(c.n, 0) * 1.0 / t.total, 6) AS observed,
           round(log10(1.0 + 1.0 / s.digit), 6) AS benford,
           round(coalesce(c.n, 0) * 1.0 / t.total
                 - log10(1.0 + 1.0 / s.digit), 6) AS deviation
    FROM (SELECT unnest(range(1, 10)) AS digit) s
    LEFT JOIN c USING (digit) CROSS JOIN t
    """,
)
def order_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order values: observed
    first-digit shares vs the log10(1 + 1/d) law — the classic
    synthetic-data / fraud smell test (synthetic TPC-H prices are
    uniform-ish and deviate, which is exactly what the check should
    surface). One digit-extraction aggregate + a 9-row spine."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        spine.join(c, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.round(F.coalesce("n", F.lit(0)) / F.col("total"), 6).alias("observed"),
            F.round(benford, 6).alias("benford"),
            F.round(F.coalesce("n", F.lit(0)) / F.col("total") - benford, 6).alias("deviation"),
        )
    )


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# --------------------------------------------------------------------------


@query(
    "customer_repurchase_hazard",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    sel AS (
      SELECT o_custkey,
             min(CASE WHEN rn = 1 THEN o_orderdate END) AS d1,
             min(CASE WHEN rn = 2 THEN o_orderdate END) AS d2
      FROM o2 WHERE rn <= 2 GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
    subj AS (
      SELECT c.c_mktsegment AS segment,
             CAST(date_diff('day', CAST(s.d1 AS DATE),
                  CAST(coalesce(s.d2, mx.dmax) AS DATE)) AS INT) AS duration_days,
             CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM sel s JOIN customer c ON c.c_custkey = s.o_custkey
      CROSS JOIN mx
    ),
    lt AS (
      SELECT segment, duration_days,
             CAST(sum(event) AS BIGINT) AS n_events,
             CAST(sum(1 - event) AS BIGINT) AS n_censored
      FROM subj GROUP BY 1, 2
    ),
    risk AS (
      SELECT *,
             CAST(sum(n_events + n_censored)
                    OVER (PARTITION BY segment)
                  - coalesce(sum(n_events + n_censored)
                      OVER (PARTITION BY segment ORDER BY duration_days
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n_at_risk
      FROM lt
    )
    SELECT segment, duration_days, n_events, n_censored, n_at_risk,
           round(sum(n_events * 1.0 / n_at_risk)
                 OVER (PARTITION BY segment ORDER BY duration_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS cumulative_hazard
    FROM risk
    """,
)
def customer_repurchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative repurchase hazard per segment over the
    same first-to-second-order durations as
    ``customer_repurchase_survival`` (survival.py ``nelson_aalen``)
    — hazard-rate view of the same life table, one prefix-sum
    window, no ln/exp."""
    subj = _repurchase_subjects(spark, sf_dir)
    out = SV.nelson_aalen(subj, "duration_days", "event", "segment")
    return out.select(
        "segment", "duration_days", "n_events", "n_censored",
        F.col("n_at_risk").cast("long").alias("n_at_risk"), "cumulative_hazard",
    )


# --------------------------------------------------------------------------
# Gini concentration + corpus keyness
# --------------------------------------------------------------------------


@query(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey AS customer_id,
             CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY 1
    ),
    run AS (
      SELECT customer_id, revenue_cents,
             sum(revenue_cents) OVER (ORDER BY revenue_cents DESC, customer_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    ),
    agg AS (
      SELECT count(*) AS n, CAST(sum(revenue_cents) AS BIGINT) AS t,
             CAST(sum(cum) AS BIGINT) AS s
      FROM run
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(t / 100.0, 2) AS total_revenue,
           floor(((2 * s - (n + 1) * t) * 1.0 / (n * t)) * 1000000 + 0.5)
             / 1000000.0 AS gini
    FROM agg
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality number next to the 80/20 Pareto curve (segmentation.py
    ``gini_coefficient``): one aggregate over the exact-integer
    bucketed prefix sum; int64 until the single final division,
    floor-based half-up rounding."""
    from ..operators import segmentation as SG

    o = load_table(spark, sf_dir, "orders")
    return SG.gini_coefficient(o, "o_custkey", "o_totalprice")


@query(
    "source_term_keyness",
    oracle=f"""
    WITH t AS (SELECT source, unnest({_NTOKS}) AS term FROM documents),
    fa AS (SELECT term, count(*) AS a FROM t WHERE source = 'src0' GROUP BY 1),
    fb AS (SELECT term, count(*) AS b FROM t WHERE source <> 'src0' GROUP BY 1),
    ta AS (SELECT count(*) AS na FROM t WHERE source = 'src0'),
    tb AS (SELECT count(*) AS nb FROM t WHERE source <> 'src0'),
    terms AS (SELECT term FROM fa UNION SELECT term FROM fb),
    g AS (
      SELECT terms.term,
             coalesce(fa.a, 0) AS a, coalesce(fb.b, 0) AS b, ta.na, tb.nb
      FROM terms LEFT JOIN fa USING (term) LEFT JOIN fb USING (term)
      CROSS JOIN ta CROSS JOIN tb
    ),
    scored AS (
      SELECT term, a, b,
             round(ln((a + 0.5) / (na - a + 0.5))
                   - ln((b + 0.5) / (nb - b + 0.5)), 6) AS log_odds
      FROM g
    )
    SELECT term, a AS n_focus, b AS n_reference, log_odds FROM scored
    ORDER BY log_odds DESC, term ASC LIMIT 30
    """,
)
def source_term_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyness: the 30 terms most characteristic of source
    src0 vs the rest of the corpus by Haldane-corrected log-odds
    (the +0.5 smoothing keeps unseen-in-reference terms finite —
    Monroe et al. 2008 'Fightin' Words' without the prior-variance
    scaling). Two vocabulary-sized counting shuffles + broadcast
    totals + TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions import textops as TX

    toks = d.select("source", F.explode(TX.tokens(TX.normalized_text(F.col("text")))).alias("term"))
    focus = toks.filter(F.col("source") == "src0")
    ref = toks.filter(F.col("source") != "src0")
    fa = focus.groupBy("term").agg(F.count(F.lit(1)).alias("a"))
    fb = ref.groupBy("term").agg(F.count(F.lit(1)).alias("b"))
    ta = focus.agg(F.count(F.lit(1)).alias("na"))
    tb = ref.agg(F.count(F.lit(1)).alias("nb"))
    terms = fa.select("term").unionByName(fb.select("term")).distinct()
    g = (
        terms.join(fa, "term", "left")
        .join(fb, "term", "left")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .withColumn("a", F.coalesce("a", F.lit(0)))
        .withColumn("b", F.coalesce("b", F.lit(0)))
    )
    scored = g.withColumn(
        "log_odds",
        F.round(
            F.log((F.col("a") + 0.5) / (F.col("na") - F.col("a") + 0.5))
            - F.log((F.col("b") + 0.5) / (F.col("nb") - F.col("b") + 0.5)),
            6,
        ),
    )
    return (
        scored.select("term", F.col("a").alias("n_focus"),
                      F.col("b").alias("n_reference"), "log_odds")
        .orderBy(F.col("log_odds").desc(), F.col("term").asc())
        .limit(30)
    )


# --------------------------------------------------------------------------
# Sequence predictability + embedding quality screen
# --------------------------------------------------------------------------


@query(
    "user_sequence_predictability",
    oracle="""
    WITH pairs AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    p2 AS (SELECT * FROM pairs WHERE to_type IS NOT NULL),
    c AS (
      SELECT from_type, to_type, count(*) AS n FROM p2 GROUP BY 1, 2
    ),
    model AS (
      SELECT from_type, to_type,
             round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
               AS prob
      FROM c
    )
    SELECT p2.user_id, count(*) AS n_transitions,
           round(avg(-ln(m.prob) / ln(2.0)), 6) AS cross_entropy_bits
    FROM p2 JOIN model m USING (from_type, to_type)
    GROUP BY 1
    """,
)
def user_sequence_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cross-entropy of the event stream under the corpus
    Markov model (sequence.py ``sequence_cross_entropy``) — low =
    follows the crowd's transition patterns, high = erratic; the
    sequence-level sibling of the unigram quality score. One
    user-hash window + a broadcast |types|² model join."""
    e = load_table(spark, sf_dir, "events")
    return SEQ2.sequence_cross_entropy(
        e, user_col="user_id", type_col="event_type",
        order_cols=["ts", "event_id"],
    )


@query(
    "embedding_quality_report",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(sum(CASE WHEN embedding IS NOT NULL
                         AND len(embedding) <> 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_wrong_dim,
           CAST(sum(CASE WHEN embedding IS NOT NULL AND nrm = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
           CAST(sum(CASE WHEN embedding IS NOT NULL AND (isnan(nrm)
                         OR isinf(nrm)) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           round(avg(nrm), 6) AS norm_mean,
           round(quantile_cont(nrm, 0.5), 6) AS norm_p50,
           round(quantile_cont(nrm, 0.95), 6) AS norm_p95
    FROM n
    """,
)
def embedding_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-index quality screen for the embeddings table: dimension /
    null / zero-vector / non-finite counts plus the L2-norm
    distribution in one pass (profiling.py
    ``embedding_quality_report``, JVM higher-order aggregate — no
    UDF)."""
    from ..operators import profiling as PF3

    e = load_table(spark, sf_dir, "embeddings")
    return PF3.embedding_quality_report(e, "embedding", 64)


# --------------------------------------------------------------------------
# Association rules with Wilson confidence intervals
# --------------------------------------------------------------------------


@query(
    "part_rules_wilson_ci",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    sizes AS (SELECT basket, count(*) AS bsize FROM inc GROUP BY 1),
    bounded AS (
      SELECT inc.basket, inc.item FROM inc JOIN sizes USING (basket)
      WHERE bsize <= 8
    ),
    ic AS (SELECT item, count(*) AS icount FROM bounded GROUP BY 1),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib, count(*) AS pair_count
      FROM bounded a JOIN bounded b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    directed AS (
      SELECT ia AS antecedent, ib AS consequent, pair_count FROM pairs
      UNION ALL
      SELECT ib AS antecedent, ia AS consequent, pair_count FROM pairs
    ),
    w AS (
      SELECT d.antecedent, d.consequent, d.pair_count,
             d.pair_count * 1.0 / ca.icount AS p,
             ca.icount * 1.0 AS n
      FROM directed d JOIN ic ca ON ca.item = d.antecedent
    )
    SELECT antecedent, consequent, pair_count,
           round(p, 6) AS confidence,
           round(((p + (1.96 * 1.96) / (2 * n))
                  - 1.96 * sqrt(p * (1 - p) / n + (1.96 * 1.96) / (4 * n * n)))
                 / (1 + (1.96 * 1.96) / n), 6) AS conf_lo,
           round(((p + (1.96 * 1.96) / (2 * n))
                  + 1.96 * sqrt(p * (1 - p) / n + (1.96 * 1.96) / (4 * n * n)))
                 / (1 + (1.96 * 1.96) / n), 6) AS conf_hi
    FROM w
    """,
)
def part_rules_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules with 95% Wilson score intervals on the
    confidence (association.py ``association_rules(wilson_z=1.96)``)
    — the uncertainty-aware rule ranking: a 2-of-2 rule's lower
    bound sits far below a 90-of-100 rule's, inverting the naive
    point-confidence order."""
    from ..operators import association as AS4

    li = load_table(spark, sf_dir, "lineitem")
    out = AS4.association_rules(
        li.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey",
        min_pair_count=2, max_basket_size=8, wilson_z=1.96,
    )
    return out.select(
        "antecedent", "consequent", "pair_count", "confidence",
        "conf_lo", "conf_hi",
    )


# --------------------------------------------------------------------------
# Growth accounting + Zipf fit
# --------------------------------------------------------------------------


@query(
    "monthly_new_vs_returning_revenue",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, min(o_orderdate) AS first_order FROM orders GROUP BY 1
    ),
    tagged AS (
      SELECT date_trunc('month', o.o_orderdate) AS month,
             CASE WHEN date_trunc('month', o.o_orderdate)
                       = date_trunc('month', f.first_order)
                  THEN 1 ELSE 0 END AS is_new,
             o.o_totalprice AS rev
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    )
    SELECT month,
           CAST(sum(is_new) AS BIGINT) AS n_new_orders,
           CAST(sum(1 - is_new) AS BIGINT) AS n_returning_orders,
           round(sum(CASE WHEN is_new = 1 THEN rev ELSE 0 END), 2)
             AS new_revenue,
           round(sum(CASE WHEN is_new = 0 THEN rev ELSE 0 END), 2)
             AS returning_revenue
    FROM tagged GROUP BY 1
    """,
)
def monthly_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each month's revenue split into first-month
    (acquisition) vs returning (retention) customers — an order is
    "new" when it lands in its customer's first order month. One
    per-customer min-date aggregate joined back (custkey-keyed, the
    same co-partitioned shuffle both sides), then one month-keyed
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_order"))
    tagged = o.join(firsts, "o_custkey").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        (
            F.date_trunc("month", "o_orderdate")
            == F.date_trunc("month", "first_order")
        ).cast("int").alias("is_new"),
        F.col("o_totalprice").alias("rev"),
    )
    return tagged.groupBy("month").agg(
        F.sum("is_new").alias("n_new_orders"),
        F.sum(F.lit(1) - F.col("is_new")).alias("n_returning_orders"),
        F.round(F.sum(F.when(F.col("is_new") == 1, F.col("rev")).otherwise(0.0)), 2)
        .alias("new_revenue"),
        F.round(F.sum(F.when(F.col("is_new") == 0, F.col("rev")).otherwise(0.0)), 2)
        .alias("returning_revenue"),
    )


@query(
    "term_zipf_fit",
    oracle=f"""
    WITH t AS (SELECT unnest({_NTOKS}) AS term FROM documents),
    c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
    top AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk
      FROM c ORDER BY freq DESC, term ASC LIMIT 500
    ),
    xy AS (SELECT ln(rnk * 1.0) AS x, ln(freq * 1.0) AS y FROM top),
    m AS (
      SELECT count(*) * 1.0 AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def term_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution: OLS
    of ln(freq) on ln(rank) over the top 500 terms — natural text
    slopes near -1; a flat or kinked fit flags boilerplate or
    tokenizer damage. Token counting is the only data-sized shuffle;
    the ranked top-500 comes from TakeOrderedAndProject and the fit
    is the closed-form six-moment aggregate on 500 rows."""
    from ..functions import textops as TX

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens(TX.normalized_text(F.col("text")))).alias("term"))
    c = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    top = (
        c.orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(500)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("term").asc())
            ),
        )
    )
    xy = top.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    return ST.group_linear_trend(
        xy.withColumn("_g", F.lit(1)), ["_g"], "x", "y"
    ).drop("_g")
