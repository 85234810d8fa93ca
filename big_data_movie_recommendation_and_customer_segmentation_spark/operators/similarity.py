"""User-pair similarity operators (reference S1/S2 parity, distributed).

The reference's "movie twins" pipeline
(``codes/Customer Segmentation/part1/top_100_pairs.py``) collects all
user item-sets to the driver in 5000-row batches, builds datasketch
MinHash signatures in a Python loop, LSH-indexes them in a dict, and
heap-scans for the top-100 pairs (S1:53-107) — single-threaded and
bounded by driver RAM. Every operator here keeps the data distributed
until the final bounded top-k.

Two paths, mirroring SURVEY §2.C6/§2.K:
- ``exact_jaccard_pairs`` — exact set-similarity self-join; the
  oracle-checkable ground truth. Cost is Σ_item |users(item)|², so a
  hot item explodes it; ``max_item_freq`` prunes those (the standard
  prefix-filter trick) — at 100 TB run it only on pruned inputs or
  use the LSH path.
- ``minhash_lsh_pairs`` — MinHash LSH on column ops (one min-hash
  per band, the ``dedup.minhash_set_pairs`` miner); candidate pairs
  only bucket-collide, so cost tracks true-similar density, not N².
  The scale path. No pyspark.ml: no vocabulary fit, no driver-held
  item dictionary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import _pin, filter_active, topk


def user_item_pairs(df: DataFrame, user_col: str, item_col: str) -> DataFrame:
    """Distinct (user, item) pairs — the binary "rated" relation the
    reference builds per-user sets from (``top_100_pairs.py:47``)."""
    return df.select(F.col(user_col).alias("user"), F.col(item_col).alias("item")).distinct()


def exact_jaccard_pairs(
    df: DataFrame,
    user_col: str,
    item_col: str,
    threshold: float = 0.5,
    min_items: int = 1,
    max_item_freq: int | None = None,
) -> DataFrame:
    """All user pairs with exact Jaccard(item-set, item-set) ≥ threshold.

    Columns: ``user_a < user_b``, ``n_common``, ``n_a``, ``n_b``,
    ``jaccard``. Replaces the reference's driver-side
    ``m1.jaccard(m2)`` scoring (``top_100_pairs.py:99-107``) with:

        per-user size window → self-join on item (u_a < u_b)
        → groupBy pair: count = |A∩B|, sizes carried via min()
        → jaccard = ∩ / (|A|+|B|-∩)

    Shuffles: one per-user size window, one self-join keyed on item,
    one pair agg — no post-agg size joins. The item-keyed self-join
    is the skew point: ``max_item_freq`` drops items rated by more
    than that many users (they contribute O(f²) pairs and little
    similarity signal) — same motivation as the reference's
    ≥50-rating user filter, applied to the item side.
    """
    pairs = user_item_pairs(df, user_col, item_col)
    if min_items > 1:
        pairs = filter_active(pairs, "user", min_items)
    if max_item_freq is not None:
        from .relational import keys_with_min_count

        # The governor count and the anti-join stream both consume
        # the one distinct relation; unpinned, each re-derives it,
        # doubling the heaviest stage. Pin it once before the
        # governor; the extra pinned bytes over the post-window pin
        # below are the hot-item rows only.
        pairs = _pin(pairs)
        hot = keys_with_min_count(pairs, "item", max_item_freq + 1).select("item")
        pairs = pairs.join(hot, "item", "left_anti")

    # pairs feeds up to five consumers (hot-key filter, per-user
    # sizes, both self-join legs), so the sized relation is pinned:
    # every consumer reads the one materialized copy. Measured at
    # sf0.1 with the governor on: warm 1.7 s vs 3.2-4.0 s (~2×),
    # cold 3.0 vs 9.9 s, against relying on runtime exchange reuse,
    # which re-derived the distinct subtree per consumer (8 parquet
    # scans; .persist() was worse still — it blocked the reuse:
    # 4.3s → 5.8s, PERF.md). Storage is O(|user,item| pairs) on
    # executors, reclaimed by the ContextCleaner when the plan is
    # GC'd. At cluster scale prefer persist(DISK_ONLY) or a reliable
    # checkpoint dir — localCheckpoint blocks don't survive executor
    # loss.
    # Per-user set size rides WITH each (user, item) row into the
    # self-join (one window shuffle over the 1-row-per-item relation)
    # instead of being joined back onto the pair aggregate. The join
    # form cost two extra SortMergeJoins and a full exchange of the
    # O(pairs) relation — the optimizer can't broadcast `sizes` when
    # the lineage is a checkpointed RDD (no stats), and at cluster
    # scale per-user sizes may exceed broadcast limits anyway.
    # Carrying two constant ints per row through the pair agg
    # (min() of a per-group constant) is O(pairs)-neutral and
    # join-free at any scale. The pin sits AFTER the window so
    # both self-join legs read the one materialized sized relation
    # (before: each leg re-ran Exchange→Sort→Window). Measured at
    # sf0.1, in-bench warm medians: 9.9 s (post-agg size joins)
    # → 4.7 s (sizes carried through the agg; PERF.md r3).
    sized = _pin(
        pairs.withColumn("n_items", F.count(F.lit(1)).over(Window.partitionBy("user")))
    )

    a = sized.select(F.col("user").alias("user_a"), "item", F.col("n_items").alias("n_a"))
    b = sized.select(F.col("user").alias("user_b"), "item", F.col("n_items").alias("n_b"))
    out = (
        a.join(b, "item")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        # n_a/n_b are constant within a (user_a, user_b) group, so
        # min() is exact and rides the map-side partial agg for free.
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def top_similar_pairs(
    df: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 100,
    threshold: float = 0.0,
    min_items: int = 1,
    max_item_freq: int | None = None,
) -> DataFrame:
    """Top-k most-similar user pairs by exact Jaccard — the S1 headline
    ("top_100_pairs"), with a deterministic (jaccard desc, user_a,
    user_b) order instead of the reference's signature-estimate heap."""
    pairs = exact_jaccard_pairs(df, user_col, item_col, threshold, min_items, max_item_freq)
    return topk(
        pairs,
        [F.col("jaccard").desc(), F.col("user_a").asc(), F.col("user_b").asc()],
        k,
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    df: DataFrame,
    user_col: str,
    item_col: str,
    threshold: float = 0.5,
    num_hash_tables: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Approximate similar-pair mining via distributed MinHash LSH.

    Replaces the reference's driver-side datasketch pipeline
    (``top_100_pairs.py:54-94``: MinHash(num_perm=32) per user,
    MinHashLSH(threshold=0.5) dict index, per-user queries) with the
    column-op miner ``dedup.minhash_set_pairs``: ``num_hash_tables``
    bands of one min-hash each, so a pair collides with probability
    1−(1−J)^T, the collision law of T ``MinHashLSH`` tables — without
    its ``CountVectorizer`` fit (a driver-held vocabulary), string
    item ids, or a self-join carrying whole row structs.

    Signature parity is impossible (different hash families — SURVEY
    §7 hard-part 2); semantic parity is what's tested: every emitted
    pair is rescored from the true sets and kept iff its exact
    Jaccard ≥ threshold, inclusive as in ``exact_jaccard_pairs``.

    Output columns match ``exact_jaccard_pairs``.
    """
    # dedup imports this module, so the import is local
    from .dedup import minhash_set_pairs

    sets = df.select(F.col(user_col).alias("doc"), F.col(item_col).alias("shingle"))
    pairs = minhash_set_pairs(
        sets, threshold=threshold, num_perm=num_hash_tables, band_rows=1, seed=seed
    )
    return pairs.withColumnRenamed("doc_a", "user_a").withColumnRenamed("doc_b", "user_b")


def pair_rating_correlation(
    ratings: DataFrame,
    pairs: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    min_common: int = 2,
) -> DataFrame:
    """Pearson correlation of two users' ratings over co-rated items,
    per pair — distributed (S2 parity).

    The reference pulls each pair's rating vectors to the driver and
    loops ``np.corrcoef`` (``correlation_optimised.py:41-51``); here
    the pair table joins the ratings fact twice on (user, item) and
    ``F.corr`` aggregates per pair with map-side partials. NaN corr
    (zero variance) is dropped, matching S2:50's isnan skip.

    Output: user_a, user_b, n_common_rated, corr.
    Shuffles: two user-keyed joins (pairs side is small → broadcast)
    + one pair-keyed agg.

    NULL-rating rows are dropped first (complete-case): they
    previously counted in ``n_common_rated`` (letting a pair clear
    ``min_common`` on unrated commons) while covar/stddev skipped
    them (r10 self-review).
    """
    ratings = ratings.filter(F.col(rating_col).isNotNull())
    r_a = ratings.select(
        F.col(user_col).alias("user_a"),
        F.col(item_col).alias("item"),
        F.col(rating_col).alias("r_a"),
    )
    r_b = ratings.select(
        F.col(user_col).alias("user_b"),
        F.col(item_col).alias("item"),
        F.col(rating_col).alias("r_b"),
    )
    # Pearson spelled as try_divide(cov, sx*sy): under ANSI mode
    # F.corr raises DIVIDE_BY_ZERO on zero-variance pairs; this form
    # yields NULL there, matching the reference's NaN-skip (S2:50)
    # and the oracle's NULL/NaN filter.
    pearson = F.try_divide(
        F.covar_samp("r_a", "r_b"),
        F.stddev_samp("r_a") * F.stddev_samp("r_b"),
    )
    return (
        F.broadcast(pairs.select("user_a", "user_b"))
        .join(r_a, "user_a")
        .join(r_b, ["user_b", "item"])
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_common_rated"),
            pearson.alias("corr"),
        )
        .filter(F.col("n_common_rated") >= min_common)
        .filter(F.col("corr").isNotNull() & ~F.isnan("corr"))
    )


def pair_rating_correlation_exact(
    ratings: DataFrame,
    pairs: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    min_common: int = 2,
) -> DataFrame:
    """Pearson per pair from EXACT integer moment sums (n, Σx, Σy,
    Σxy, Σx², Σy²) — requires integer-valued ratings. Unlike
    ``pair_rating_correlation``'s covar/stddev (float accumulation
    whose merge order varies run to run, flipping the 6th decimal on
    near-degenerate pairs), the moments are exact longs no matter the
    aggregation order, and the single final float expression is
    bit-reproducible across engines — the oracle-gated variant.
    Output: user_a, user_b, n_common_rated, corr (unrounded).

    Complete-case on the rating, matching ``pair_rating_correlation``
    — here a NULL additionally corrupted the exact moments (_n
    counted the row the Σ-sums skipped).
    """
    ratings = ratings.filter(F.col(rating_col).isNotNull())
    r_a = ratings.select(
        F.col(user_col).alias("user_a"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast("long").alias("_ra"),
    )
    r_b = ratings.select(
        F.col(user_col).alias("user_b"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast("long").alias("_rb"),
    )
    m = (
        F.broadcast(pairs.select("user_a", "user_b"))
        .join(r_a, "user_a")
        .join(r_b, ["user_b", "_i"])
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_ra").alias("_sx"),
            F.sum("_rb").alias("_sy"),
            F.sum(F.col("_ra") * F.col("_rb")).alias("_sxy"),
            F.sum(F.col("_ra") * F.col("_ra")).alias("_sxx"),
            F.sum(F.col("_rb") * F.col("_rb")).alias("_syy"),
        )
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    var_y = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    c = F.try_divide(num, F.nullif(F.sqrt(var_x * var_y), F.lit(0.0)))
    return (
        m.select("user_a", "user_b", F.col("_n").alias("n_common_rated"), c.alias("corr"))
        .filter(F.col("n_common_rated") >= min_common)
        .filter(F.col("corr").isNotNull() & ~F.isnan("corr"))
    )


def random_pair_baseline(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    n_pairs: int = 100,
    n_trials: int = 49,
    sample_size: int = 5000,
    seed: int = 42,
    pairing: str = "rand",
    exact_int_moments: bool = False,
) -> DataFrame:
    """Null-model baseline: average rating-correlation of random user
    pairs, repeated over trials (S2 ``correlation_optimised.py:54-97``:
    sample 5000 users once, then 49×100 random pairs).

    Distributed re-expression: sample users once, shuffle per trial,
    pair consecutive rows, compute correlations in ONE grouped-agg
    pass over all trials, then average per trial.

    ``pairing``:
    - ``"rand"`` — the reference's shape: a seeded sample + per-trial
      shuffles, each ordered by ``xxhash64(seed', user)`` with the
      user id as tiebreak. A hash of the row's own key, unlike
      ``F.rand``, gives the same sample and pairs under any
      partitioning or caching (Spark-specific hash → rows-only
      gate).
    - ``"hash"`` — order by the shared md5-prefix hash of the user id
      (sample) / of ``trial:user`` (per-trial shuffle). Statistically
      arbitrary with respect to rating behavior, but deterministic
      and identical in any engine — the oracle-checkable null model.
      Also one window over trial partitions instead of ``n_trials``
      chained union branches.

    ``exact_int_moments=True`` scores pairs with
    ``pair_rating_correlation_exact`` (integer ratings required) so
    the per-pair corr values are bit-reproducible too.

    Output: trial, n_pairs_scored, avg_corr.
    """
    all_pairs = _random_trial_pairs(ratings, user_col, n_pairs, n_trials, sample_size, seed, pairing)
    corr_fn = pair_rating_correlation_exact if exact_int_moments else pair_rating_correlation
    corrs = corr_fn(
        ratings, all_pairs.select("user_a", "user_b").distinct(), user_col, item_col, rating_col
    )
    return (
        all_pairs.join(corrs, ["user_a", "user_b"])
        .groupBy("trial")
        .agg(
            F.count(F.lit(1)).alias("n_pairs_scored"),
            F.avg("corr").alias("avg_corr"),
        )
    )


def _random_trial_pairs(
    ratings: DataFrame,
    user_col: str,
    n_pairs: int,
    n_trials: int,
    sample_size: int,
    seed: int,
    pairing: str,
) -> DataFrame:
    """The null model's (trial, user_a < user_b) pairs; see
    ``random_pair_baseline`` for ``pairing``."""
    from ..functions.textops import shared_token_hash

    if pairing == "hash":
        spark = ratings.sparkSession
        users = (
            ratings.select(F.col(user_col).alias("u"))
            .distinct()
            .orderBy(shared_token_hash(F.col("u").cast("string")).asc(), F.col("u").asc())
            .limit(sample_size)
        )
        trials_df = spark.range(n_trials).select(F.col("id").cast("int").alias("trial"))
        h = shared_token_hash(
            F.concat(F.col("trial").cast("string"), F.lit(":"), F.col("u").cast("string"))
        )
        shuffled = (
            users.crossJoin(F.broadcast(trials_df))
            .withColumn("_h", h)
            # per-trial window over the bounded user sample (≤
            # sample_size rows per partition), not the ratings fact
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("trial").orderBy(F.col("_h").asc(), F.col("u").asc())
                ),
            )
            .filter(F.col("_rn") <= 2 * n_pairs)
        )
        left = shuffled.filter(F.col("_rn") % 2 == 1).select(
            "trial", ((F.col("_rn") + 1) / 2).cast("long").alias("pid"), F.col("u").alias("user_a")
        )
        right = shuffled.filter(F.col("_rn") % 2 == 0).select(
            "trial", (F.col("_rn") / 2).cast("long").alias("pid"), F.col("u").alias("user_b")
        )
        return left.join(right, ["trial", "pid"]).select(
            "trial",
            F.least("user_a", "user_b").alias("user_a"),
            F.greatest("user_a", "user_b").alias("user_b"),
        )
    if pairing == "rand":
        def seeded(s: int) -> list[Column]:
            return [F.xxhash64(F.lit(s), F.col("u")), F.col("u")]

        users = (
            ratings.select(F.col(user_col).alias("u")).distinct().orderBy(*seeded(seed)).limit(sample_size)
        )
        trials = []
        for t in range(n_trials):
            shuffled = (
                # single-partition window is safe: input is the bounded
                # `sample_size`-row user sample, not the ratings fact
                users.withColumn("_rn", F.row_number().over(Window.orderBy(*seeded(seed + 1 + t))))
                .filter(F.col("_rn") <= 2 * n_pairs)
            )
            left = shuffled.filter(F.col("_rn") % 2 == 1).select(
                ((F.col("_rn") + 1) / 2).cast("long").alias("pid"), F.col("u").alias("user_a")
            )
            right = shuffled.filter(F.col("_rn") % 2 == 0).select(
                (F.col("_rn") / 2).cast("long").alias("pid"), F.col("u").alias("user_b")
            )
            trials.append(
                left.join(right, "pid")
                .select(
                    F.lit(t).alias("trial"),
                    F.least("user_a", "user_b").alias("user_a"),
                    F.greatest("user_a", "user_b").alias("user_b"),
                )
            )
        all_pairs = trials[0]
        for t_df in trials[1:]:
            all_pairs = all_pairs.unionByName(t_df)
        return all_pairs
    raise ValueError(f"pairing must be 'rand' or 'hash', got {pairing!r}")
