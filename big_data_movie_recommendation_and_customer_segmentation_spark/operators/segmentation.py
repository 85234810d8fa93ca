"""Customer segmentation primitives: RFM scoring and Pareto
(cumulative-revenue-share) analysis.

The reference's Customer Segmentation track stops at similar-pair
mining (reference: codes/Customer Segmentation/part1/
top_100_pairs.py, part2/correlation_optimised.py — no scoring or
binning of customers); K-means segmentation lives in vectorops.py.
This module adds the two
standard *rule-based* segmentations a production CRM pipeline runs
alongside clustering — RFM quintiles and the 80/20 revenue Pareto —
both expressed so no global single-partition window appears.

100 TB shape
------------
* RFM: per-customer metrics are one keyed agg. Scores come from
  FOUR quantile cut points per metric computed ONCE on the
  aggregated relation and broadcast into a codegen'd comparison
  ladder — NOT ``ntile() OVER (ORDER BY metric)``, which plans as
  Exchange SinglePartition over every customer. Cut points use
  Spark's exact ``percentile`` (bit-identical to DuckDB
  ``quantile_cont``, verified in tests); at extreme scale swap for
  ``approxQuantile`` — the ladder is unchanged.
* Pareto: global running share in revenue-descending order reuses
  the two-pass bucketed prefix sum from packing.py (one full
  shuffle, no SinglePartition exchange), with the customer key as
  an in-bucket tiebreak so equal revenues are ordered
  deterministically. Revenue is fixed-pointed to cents so the
  prefix sum is exact-integer (FP cumsums drift by association
  order and would break cross-engine hashing).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .packing import bucketed_running_sum
from .relational import _pin

_QS = (0.2, 0.4, 0.6, 0.8)


def _ladder_asc(col: str, cuts: list[float]):
    """1 + Σ [v > cut] — higher value ⇒ higher score (1..5)."""
    return reduce(
        lambda acc, c: acc + F.when(F.col(col) > F.lit(c), 1).otherwise(0),
        cuts,
        F.lit(1),
    )


def _ladder_desc(col: str, cuts: list[float]):
    """1 + Σ [v < cut] — LOWER value ⇒ higher score (recency)."""
    return reduce(
        lambda acc, c: acc + F.when(F.col(col) < F.lit(c), 1).otherwise(0),
        cuts,
        F.lit(1),
    )


def rfm_scores(
    orders: DataFrame,
    customer_col: str,
    ts_col: str,
    amount_col: str,
    anchor_ts: str,
) -> DataFrame:
    """Per-customer RFM metrics and 1–5 quintile scores.

    * recency_days  — days from the customer's latest order to
      ``anchor_ts`` (smaller ⇒ better ⇒ higher r_score)
    * frequency     — order count
    * monetary      — total spend (rounded to cents)

    Scores are quintile ladders against exact 20/40/60/80th
    percentile cuts of each metric over the customer population;
    ties sit on the same side of a cut in every engine (strict
    comparison), so the scoring is reproducible cross-engine. Also
    emits the standard composite ``rfm_segment`` label.
    """
    per_cust = orders.groupBy(F.col(customer_col).alias("customer_id")).agg(
        F.datediff(F.lit(anchor_ts).cast("timestamp"), F.max(ts_col)).alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        F.round(F.sum(amount_col), 2).alias("monetary"),
    )

    # One tiny job: 12 exact percentiles on the aggregated relation.
    cuts_row = per_cust.select(
        F.percentile("recency_days", F.lit(list(_QS))).alias("r"),
        F.percentile("frequency", F.lit(list(_QS))).alias("f"),
        F.percentile("monetary", F.lit(list(_QS))).alias("m"),
    ).first()
    r_cuts, f_cuts, m_cuts = list(cuts_row["r"]), list(cuts_row["f"]), list(cuts_row["m"])

    scored = per_cust.select(
        "customer_id",
        "recency_days",
        "frequency",
        "monetary",
        _ladder_desc("recency_days", r_cuts).alias("r_score"),
        _ladder_asc("frequency", f_cuts).alias("f_score"),
        _ladder_asc("monetary", m_cuts).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), F.lit("champion"))
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), F.lit("new"))
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), F.lit("at_risk"))
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), F.lit("hibernating"))
        .otherwise(F.lit("regular")),
    )


def revenue_pareto(
    orders: DataFrame,
    customer_col: str,
    amount_col: str,
    *,
    threshold: float = 0.8,
    num_buckets: int | None = None,
) -> DataFrame:
    """Cumulative revenue share per customer, revenue-descending —
    the 80/20 analysis. ``head_flag`` marks the customers whose
    cumulative share first reaches ``threshold`` (the "vital few").

    Revenue is fixed-pointed to cents (exact-integer prefix sum);
    the running order is (revenue desc, customer_id asc), realised
    as the bucketed prefix sum over ``-revenue_cents`` with the
    customer key as the in-bucket tiebreak — no SinglePartition
    exchange (see packing.py module docstring).

    Domain note (r11 negative-domain sweep): customers who net
    NEGATIVE (refunds exceed sales) are kept and sort to the tail;
    cum_share can then overshoot 1 through the positive prefix before
    descending back to exactly 1 — shares of the smaller NET total,
    deterministic and exact. head_flag still means "needed to reach
    ``threshold`` of net revenue". A NON-POSITIVE net total — zero or
    undefined (empty input, refunds exactly cancelling sales), or
    NEGATIVE (refunds exceed sales overall, where "share of revenue"
    flips sign and the ``< threshold`` reading of head_flag inverts)
    — yields NULL cum_share/head_flag instead of a divide-by-zero job
    failure or a misleading negative share (r11 sweep + ADVICE r12).
    """
    rev = orders.groupBy(F.col(customer_col).alias("customer_id")).agg(
        F.round(F.sum(amount_col), 2).alias("revenue")
    ).withColumn(
        "revenue_cents", F.round(F.col("revenue") * 100).cast("long")
    ).withColumn(
        "_neg_rev", (-F.col("revenue_cents")).cast("double")
    )
    # rev feeds three consumers (the quantile sketch, the bucket
    # totals, the windowed relation itself — plus the total scalar
    # below): one pin replaces per-consumer re-aggregation of orders
    # (r15: ~0.2 s warm at sf0.1 and one orders scan per consumer
    # saved at any scale).
    rev = _pin(rev)

    run = bucketed_running_sum(
        rev,
        order_col="_neg_rev",
        weight_col="revenue_cents",
        out_col="_cum_cents",
        num_buckets=num_buckets,
        tiebreak_cols=["customer_id"],
    ).drop("_neg_rev")

    # Denominator semantics (r11 sweep + ADVICE r12): the total does
    # not define a revenue share when it is NULL (empty relation),
    # 0 (refunds exactly cancel sales) or negative (a negative
    # denominator would flip cum_share's sign and invert head_flag's
    # '< threshold' reading) — so it is NULL unless total > 0, and
    # try_divide yields NULL cum_share / head_flag instead of an ANSI
    # divide-by-zero failure or a misleading negative share.
    #
    # r15 optimization (guide §2.4 don't compute twice): the scalar
    # was ``run.agg(...).first()`` — a driver action that executed the
    # WHOLE bucketed prefix-sum pipeline once for the scalar and again
    # for the returned plan (two ~8 executor-second stages in the
    # profile). The total is identical over the PRE-window ``rev``
    # relation, so the action now runs on that cheap aggregate
    # instead; the window pipeline executes once. (Kept as a bounded
    # driver scalar, not a broadcast-join subquery: a global agg in
    # the returned plan would add the Exchange SinglePartition the
    # plan lint bans.)
    total_cents = rev.agg(F.sum("revenue_cents")).first()[0] or 0
    denom = (
        F.lit(float(total_cents)) if total_cents > 0 else F.lit(None).cast("double")
    )
    return (
        run.withColumn(
            "cum_share",
            F.round(F.try_divide(F.col("_cum_cents"), denom), 6),
        )
        .withColumn(
            "head_flag",
            # strictly-before-this-row share < threshold ⇒ this row is
            # still needed to reach the threshold.
            (
                F.try_divide(F.col("_cum_cents") - F.col("revenue_cents"), denom)
                < F.lit(threshold)
            ).cast("int"),
        )
        .drop("_cum_cents")
    )


def quantile_bucket(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    *,
    out_col: str = "bucket",
) -> DataFrame:
    """Equi-depth bucketing: assign each row the 1-based quantile
    bucket of ``value_col`` (bucket = 1 + #cuts strictly below the
    value, cuts at i/n quantiles) — the generalized RFM ladder and
    the scale-correct replacement for ``ntile(n) OVER (ORDER BY v)``
    (which is a SinglePartition exchange). One exact-percentile
    aggregate (n−1 values) + a broadcast codegen'd comparison
    ladder; ties sit on the same side of a cut in every engine.

    Unlike ntile, bucket POPULATIONS are only approximately equal
    under heavy ties (all tied values share a bucket) — the
    well-defined behavior for feature binning, where identical
    inputs must get identical features.

    A NULL value gets a NULL bucket: every ladder comparison is
    false on NULL, which previously dumped NULL rows silently into
    bucket 1 with the lowest real values (r10 self-review) — for
    feature binning, "value unknown" must stay visible as "bucket
    unknown", not masquerade as the bottom decile.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # percentile of an EMPTY (or all-NULL) relation is NULL — without
    # the guard, list(None) crashed the empty-slice case a 100 TB
    # pipeline routinely produces (r10 self-review). No cuts ⇒ every
    # non-null value lands in bucket 1, NULLs stay NULL.
    row = df.select(
        F.percentile(F.col(value_col).cast("double"), F.lit(probs)).alias("c")
    ).first()
    cuts = list(row["c"]) if row is not None and row["c"] is not None else []
    from functools import reduce

    ladder = reduce(
        lambda acc, c: acc + F.when(F.col(value_col) > F.lit(c), 1).otherwise(0),
        cuts,
        F.lit(1),
    )
    return df.withColumn(
        out_col, F.when(F.col(value_col).isNotNull(), ladder)
    )


def gini_coefficient(
    orders: DataFrame,
    customer_col: str,
    amount_col: str,
    *,
    num_buckets: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration — the
    single-number inequality companion to the 80/20 Pareto curve
    (0 = everyone equal, →1 = one customer is the business).

    Domain note (r11 negative-domain sweep): the [0, 1] reading
    assumes non-negative net revenue per customer. Customers who net
    NEGATIVE (refunds exceed sales) are kept — revenue is signed data
    — and the exact signed identity can then leave [0, 1] (classical
    Gini is undefined there; deterministic, not clamped). Zero or
    undefined net total → NULL gini, never a divide-by-zero failure.

    Uses the identity ``G = (2·Σ_r C_r − (n+1)·T) / (n·T)`` where
    ``C_r`` is the cumulative revenue after the r-th largest customer
    and ``T`` the total — i.e. one aggregate over the SAME bucketed
    exact-integer prefix sum the Pareto query runs (no
    SinglePartition exchange, packing.py). Everything stays int64
    until one final division, then floor-based half-up rounding —
    the cum/total ratios are exact rationals that land on decimal
    rounding boundaries where engine round() tie semantics differ.

    Output: one row ``(n_customers, total_revenue, gini)``.
    """
    from .packing import bucketed_running_sum

    rev = (
        orders.groupBy(F.col(customer_col).alias("customer_id"))
        .agg(F.round(F.sum(amount_col), 2).alias("revenue"))
        .withColumn("revenue_cents", F.round(F.col("revenue") * 100).cast("long"))
        .withColumn("_neg_rev", (-F.col("revenue_cents")).cast("double"))
    )
    run = bucketed_running_sum(
        rev,
        order_col="_neg_rev",
        weight_col="revenue_cents",
        out_col="_cum_cents",
        num_buckets=num_buckets,
        tiebreak_cols=["customer_id"],
    )
    agg = run.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("revenue_cents").alias("_t"),
        F.sum("_cum_cents").alias("_s"),
    )
    # try_divide: zero NET revenue (refunds exactly cancel sales, or
    # an empty relation) has no defined concentration — NULL, not an
    # ANSI divide-by-zero job failure (r11 negative-domain sweep)
    gini = F.try_divide(
        (F.lit(2) * F.col("_s") - (F.col("_n") + 1) * F.col("_t")).cast("double"),
        (F.col("_n") * F.col("_t")).cast("double"),
    )
    return agg.select(
        F.col("_n").alias("n_customers"),
        F.round(F.col("_t") / 100.0, 2).alias("total_revenue"),
        (F.floor(gini * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)).alias("gini"),
    )
