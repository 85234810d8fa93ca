"""Model-based text classification & targeted data selection.

Two published techniques every LLM training pipeline runs between
dedup and packing, absent from the reference (its pipeline stops at
similarity/ALS — top_100_pairs.py / movie_recommendation.py):

- **Hashed-n-gram Naive Bayes** (feature hashing: Weinberger et al.
  2009; multinomial NB: McCallum & Nigam 1998) — the fasttext/CCNet
  -style model-based filter: train a classifier on a labeled seed
  (language id, quality labels), score the corpus, route/filter by
  predicted class. Linear models over hashed n-grams are the
  standard web-scale choice precisely because they distribute as
  pure aggregations.
- **DSIR** (Data Selection via Importance Resampling, Xie et al.
  2023): weight every raw document by the log-likelihood ratio of a
  target domain vs the raw corpus under a bag-of-hashed-n-grams
  model, then resample ∝ exp(weight) — Gumbel-top-k makes the
  resample deterministic, seeded, and SQL-replayable (the same
  hash-derived-uniform discipline as ``corpus.weighted_sample``).

Scale shape (the reason these fit 100 TB):

- The feature space is FIXED at ``num_buckets`` (hashing trick), so
  every model/distribution table is bounded — broadcast-sized — no
  matter the corpus: no driver-held vocabulary, no vocabulary pass
  (the CountVectorizer trap ``minhash_signatures`` documents).
- Fit/weight legs are one explode + one partial-aggregated groupBy
  (map-side combine on (label/bucket)); scoring is a broadcast hash
  join of corpus features against the bounded model and one
  doc-keyed sum. Nothing corpus-sized rides a shuffle wider than the
  (doc, bucket) feature relation.
- Selection is a distributed top-k (per-partition heaps via
  orderBy+limit → TakeOrderedAndProject), never a global sort.

``base_hash='md5'`` swaps xxhash64 for the shared md5-prefix
primitive so every step — bucketing, counts, smoothing, log scores,
Gumbel keys — is reproducible in DuckDB SQL (the dedup ladder's
oracle discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textops as TX
from . import index_store as IS
from .dedup import _base_shingle_hash, _shingle_fn


def hashed_ngram_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int = 4096,
    n: int = 1,
    unit: str = "word",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(doc, bucket, tf) term-frequency features: word/char n-grams
    of the normalized text (the dedup ladder's shingle spelling,
    duplicates KEPT — multinomial counts, unlike the miners' set
    semantics), hashed into a fixed ``num_buckets`` space. One
    explode + one partially-aggregated groupBy; the output is the
    only corpus-sized relation the classifiers ever shuffle."""
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    shingles = _shingle_fn(unit)
    grams = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, n)).alias("_g"),
    )
    # NULL text's whole-text fallback gram is NULL, and the two base
    # hashes disagree on NULL (xxhash64 returns its seed constant,
    # md5 returns NULL → the doc silently vanishes under the oracle
    # hash only — r13 self-review). Coalesce to '' so null text ≡
    # empty text under BOTH hashes: one contract, every doc
    # featurizes. (Separate projection: explode cannot nest inside
    # coalesce.)
    grams = grams.select("doc", F.coalesce(F.col("_g"), F.lit("")).alias("_g"))
    bucket = F.pmod(_base_shingle_hash(base_hash)("_g"), F.lit(num_buckets))
    return (
        grams.select("doc", bucket.alias("bucket"))
        .groupBy("doc", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def fit_nb_classifier(
    labeled: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    num_buckets: int = 4096,
    n: int = 1,
    unit: str = "word",
    base_hash: str = "xxhash64",
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Multinomial Naive Bayes over hashed n-gram counts.

    Returns ``(cond, label_stats)``:

    - ``cond``: (label, bucket, n_tok, log_cond) — observed buckets
      only, ``log_cond = ln((n_tok + α) / (n_tok_total + α·B))``.
      Bounded by labels × num_buckets regardless of corpus size.
    - ``label_stats``: (label, n_docs, n_tok_total, log_prior,
      log_unseen) — one row per label; ``log_unseen`` is the
      smoothed conditional for buckets the label never saw
      (``ln(α / (n_tok_total + α·B))``), so scoring needs no dense
      label × bucket completion table.

    Everything is two aggregations over the feature relation — no
    iterations, no driver-side state; the closed form is what makes
    the whole fit SQL-reproducible (unlike LR/fasttext SGD).

    Seed contract: ``id_col`` must be unique per document. Exact
    duplicate rows are collapsed (a re-submitted seed fits the same
    model), but an id carried by CONFLICTING rows — two labels, or
    two texts under one label — would silently pour one document's
    token mass into multiple model cells, so it raises ``ValueError``
    instead (ADVICE r14).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive (Laplace smoothing), got {alpha}")
    # distinct BEFORE featurizing (r13 review): a seed with duplicate
    # rows must fit the same model as its deduplicated form — raw
    # rows would double-count the duplicated doc's tokens into
    # n_tok/log_cond even with the priors denominator fixed
    seed = labeled.select(F.col(id_col), F.col(text_col), F.col(label_col)).distinct()
    # one O(1)-result agg doubles as the collision check AND the
    # priors denominator (replaces the former lab.count() job): after
    # distinct, rows > distinct ids iff some id survives with
    # conflicting (text, label) variants
    chk = seed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col(id_col)).alias("n_ids"),
    ).first()
    if chk["n_rows"] != chk["n_ids"]:
        raise ValueError(
            f"fit_nb_classifier: {chk['n_rows'] - chk['n_ids']} doc id(s) in "
            f"'{id_col}' appear with conflicting text/label rows — each id "
            "would contribute token mass to multiple model cells; "
            "deduplicate or re-key the seed first"
        )
    n_all = int(chk["n_rows"])
    feats = hashed_ngram_features(
        seed,
        id_col,
        text_col,
        num_buckets=num_buckets,
        n=n,
        unit=unit,
        base_hash=base_hash,
    )
    lab = seed.select(
        F.col(id_col).alias("doc"), F.col(label_col).alias("label")
    ).distinct()
    tagged = feats.join(lab, "doc")

    totals = (
        tagged.groupBy("label")
        .agg(F.sum("tf").alias("n_tok_total"))
    )
    # priors denominator n_all = the same relation the numerators
    # count (distinct rows == distinct ids, enforced above), NOT raw
    # labeled.count(): a seed with duplicate rows would otherwise
    # inflate the denominator and skew every prior (r13 self-review).
    label_stats = (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(totals, "label")
        .select(
            "label",
            "n_docs",
            "n_tok_total",
            F.log(F.col("n_docs") / F.lit(float(n_all))).alias("log_prior"),
            F.log(
                F.lit(float(alpha))
                / (F.col("n_tok_total") + F.lit(float(alpha * num_buckets)))
            ).alias("log_unseen"),
        )
    )
    cond = (
        tagged.groupBy("label", "bucket")
        .agg(F.sum("tf").alias("n_tok"))
        .join(F.broadcast(totals), "label")
        .select(
            "label",
            "bucket",
            "n_tok",
            F.log(
                (F.col("n_tok") + F.lit(float(alpha)))
                / (F.col("n_tok_total") + F.lit(float(alpha * num_buckets)))
            ).alias("log_cond"),
        )
    )
    return cond, label_stats


def nb_classify(
    docs: DataFrame,
    cond: DataFrame,
    label_stats: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int = 4096,
    n: int = 1,
    unit: str = "word",
    base_hash: str = "xxhash64",
    keep_scores: bool = False,
) -> DataFrame:
    """Argmax-label NB scoring: per (doc, label),
    ``log_prior + Σ_buckets tf · log_cond`` with ``log_unseen``
    substituted for buckets the label never saw.

    Plan shape: corpus features BROADCAST-cross the (tiny) label
    list, broadcast-left-join the bounded model, ONE doc-keyed
    aggregate, and a per-doc window over ≤ n_labels rows for the
    deterministic argmax (score desc, label asc — ties break to the
    lexically first label, the same rule the oracle replays). The
    model tables must be fit with the SAME num_buckets/n/unit/
    base_hash — pass the knobs you fit with.

    Output: (doc, label) — plus (log_score, n_feat) under
    ``keep_scores`` (routing thresholds want the margin)."""
    feats = hashed_ngram_features(
        docs, id_col, text_col,
        num_buckets=num_buckets, n=n, unit=unit, base_hash=base_hash,
    )
    labels = label_stats.select("label", "log_prior", "log_unseen")
    dense = feats.crossJoin(F.broadcast(labels))
    scored = (
        dense.join(F.broadcast(cond.select("label", "bucket", "log_cond")),
                   ["label", "bucket"], "left")
        .withColumn("_lc", F.coalesce(F.col("log_cond"), F.col("log_unseen")))
        .groupBy("doc", "label", "log_prior")
        .agg(
            F.sum(F.col("tf") * F.col("_lc")).alias("_ll"),
            F.sum("tf").alias("n_feat"),
        )
        .select(
            "doc",
            "label",
            (F.col("log_prior") + F.col("_ll")).alias("log_score"),
            "n_feat",
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("log_score").desc(), F.col("label").asc()
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    cols = ["doc", "label"] + (["log_score", "n_feat"] if keep_scores else [])
    return best.select(*cols)


def _ratio_table(
    tdist: DataFrame, rdist: DataFrame, num_buckets: int, alpha: float
) -> DataFrame:
    """(bucket, n_t, n_r, log_ratio) from per-side bucket
    distributions: Laplace-smoothed ``ln(p̂_target / p̂_raw)``.
    Bounded at ``num_buckets`` rows. Totals are single-row aggregates
    joined back by broadcast — never collected, never a
    SinglePartition window."""
    joined = tdist.join(rdist, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_t", F.lit(0)).alias("n_t"),
        F.coalesce("n_r", F.lit(0)).alias("n_r"),
    )
    tot = joined.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    aB = float(alpha * num_buckets)
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_t",
            "n_r",
            (
                F.log((F.col("n_t") + F.lit(float(alpha))) / (F.col("tot_t") + F.lit(aB)))
                - F.log((F.col("n_r") + F.lit(float(alpha))) / (F.col("tot_r") + F.lit(aB)))
            ).alias("log_ratio"),
        )
    )


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    *,
    num_buckets: int = 4096,
    n: int = 2,
    unit: str = "word",
    base_hash: str = "xxhash64",
    alpha: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """(bucket, log_ratio) — the DSIR importance model:
    ``ln(p̂_target(b) / p̂_raw(b))`` over hashed n-gram unigram
    distributions, Laplace-smoothed with ``alpha`` so buckets unseen
    on either side stay finite. Bounded at ``num_buckets`` rows —
    broadcast-sized at any corpus scale (the hashing trick is the
    whole reason DSIR runs on web-scale raw sets)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive (Laplace smoothing), got {alpha}")

    def dist(df: DataFrame, name: str) -> DataFrame:
        feats = hashed_ngram_features(
            df, id_col, text_col,
            num_buckets=num_buckets, n=n, unit=unit, base_hash=base_hash,
        )
        return feats.groupBy("bucket").agg(F.sum("tf").alias(name))

    return _ratio_table(dist(target, "n_t"), dist(raw, "n_r"), num_buckets, alpha)


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int = 4096,
    n: int = 2,
    unit: str = "word",
    base_hash: str = "xxhash64",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight:
    ``Σ_b tf_doc(b) · log_ratio(b)`` (the bag-of-hashed-n-grams
    log-likelihood ratio of target vs raw). Output: (doc,
    log_weight, n_feat) — ``n_feat`` (the doc's token mass) lets
    callers length-normalize, the documented DSIR variant for
    length-skewed corpora.

    Plan: features broadcast-join the bounded ratio table, one
    doc-keyed sum. Raw text is featurized ONCE — the raw-side bucket
    distribution re-aggregates the same feature relation.

    Contract: TOTAL over raw docs — null and empty text share the ''
    whole-text fallback gram (one real bucket under either base
    hash), so every doc gets a weight row; content-free docs weigh
    identically and the caller's upstream filters (exact dedup,
    heuristics) remain the right place to drop them."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive (Laplace smoothing), got {alpha}")
    # ONE featurization of the raw corpus (r13 review: routing the
    # ratio build through dsir_log_ratios re-featurized raw a second
    # time): the raw bucket distribution is a re-aggregation of the
    # same per-doc feature relation, so both consumers hang off one
    # shuffled (doc, bucket) aggregate (ReuseExchange shares the scan)
    feats = hashed_ngram_features(
        raw, id_col, text_col,
        num_buckets=num_buckets, n=n, unit=unit, base_hash=base_hash,
    )
    rdist = feats.groupBy("bucket").agg(F.sum("tf").alias("n_r"))
    tdist = (
        hashed_ngram_features(
            target, id_col, text_col,
            num_buckets=num_buckets, n=n, unit=unit, base_hash=base_hash,
        )
        .groupBy("bucket")
        .agg(F.sum("tf").alias("n_t"))
    )
    ratios = _ratio_table(tdist, rdist, num_buckets, alpha)
    return (
        feats.join(F.broadcast(ratios.select("bucket", "log_ratio")), "bucket")
        .groupBy("doc")
        .agg(
            F.sum(F.col("tf") * F.col("log_ratio")).alias("log_weight"),
            F.sum("tf").alias("n_feat"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    *,
    seed: str = "",
    num_buckets: int = 4096,
    n: int = 2,
    unit: str = "word",
    base_hash: str = "xxhash64",
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """DSIR resampling, deterministic: sample ``k`` raw docs without
    replacement with probability ∝ exp(log_weight) via Gumbel-top-k
    (Vieira 2014) — ``key = log_weight − ln(−ln(u))`` with
    u ∈ (0, 1) derived from ``md5(seed ‖ doc)``, top-k keys win.
    Exactly the ``corpus.weighted_sample`` discipline (A-ES there,
    Gumbel here: A-ES needs linear weights, which would overflow
    exp(log_weight); Gumbel stays in log space), so the draw is
    reproducible bit-for-bit and SQL-replayable, and changing
    ``seed`` redraws.

    Scale: per-doc key column + orderBy/limit (distributed top-k,
    TakeOrderedAndProject). Output: (doc, log_weight, n_feat,
    sample_key, sample_rank)."""
    weights = dsir_importance_weights(
        raw, target, id_col, text_col,
        num_buckets=num_buckets, n=n, unit=unit,
        base_hash=base_hash, alpha=alpha,
    )
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col("doc").cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    # (0, 1) OPEN on both ends: u→1 would send −ln(−ln u) to +inf
    # (the A-ES half-open (0,1] is fine for u^(1/w), not for Gumbel)
    u = (h32 + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.col("log_weight") - F.log(-F.log(u))
    ranked = (
        weights.withColumn("_key", key)
        .orderBy(F.col("_key").desc(), F.col("doc").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("_key").desc(), F.col("doc").asc())
    return (
        ranked.withColumn("sample_rank", F.row_number().over(w))
        .withColumn("sample_key", F.round(F.col("_key"), round_to))
        .drop("_key")
    )


# --------------------------------------------------------------------------
# Bigram LM perplexity (Stupid Backoff) — the CCNet-style fluency filter
# --------------------------------------------------------------------------


def _transition_rel(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc, prev, w) ordered token transitions of the normalized
    text — built from array slices (zip of toks[0:n-1] with
    toks[1:n]), so there is no short-doc fallback semantics to
    mirror: docs with <2 tokens simply emit no transitions (their
    fluency is a unigram question — ``doc_unigram_logprob`` owns it).
    Map-local explode; duplicates kept (an LM scores occurrences)."""
    toks = TX.tokens(TX.normalized_text(text_col))
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(pairs).alias("_t"))
        .select(
            "doc",
            F.col("_t").getField("0").alias("prev"),
            F.col("_t").getField("1").alias("w"),
        )
    )


def _bucket(col: str | Column, num_buckets: int, base_hash: str) -> Column:
    return F.pmod(_base_shingle_hash(base_hash)(col), F.lit(num_buckets))


def fit_bigram_lm(
    ref: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int = 65536,
    base_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame, int]:
    """Hashed bigram language model over a reference corpus — the
    count tables of Stupid Backoff (Brants et al. 2007, the LM
    scheme DESIGNED for distributed count-based training: no
    discounting pass, no normalization join, just counts).

    Returns ``(uni, bi, n_tokens)``:

    - ``uni``: (bucket, c) hashed unigram occurrence counts,
    - ``bi``:  (bucket, c) hashed ``prev‖space‖w`` bigram counts,
    - ``n_tokens``: total reference token occurrences (driver
      scalar — one aggregate row, O(1)).

    Both tables are bounded at ``num_buckets`` rows (hashing trick)
    — broadcast-sized at any reference-corpus scale; collisions
    conflate counts, the standard randomized-LM trade (Talbot &
    Osborne 2007). Two aggregations, no iterations."""
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    toks = ref.select(
        F.explode(TX.tokens(TX.normalized_text(text_col))).alias("_w")
    )
    uni = (
        toks.select(_bucket("_w", num_buckets, base_hash).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    trans = _transition_rel(ref, id_col, text_col)
    bi = (
        trans.select(
            _bucket(
                F.concat_ws(" ", "prev", "w"), num_buckets, base_hash
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # total token mass from the BOUNDED uni table (every occurrence
    # lands in exactly one bucket), not a third full-corpus pass
    # (r13 review: toks.count() re-scanned the reference after the
    # two count aggregations already had the answer)
    n_tokens = int(uni.agg(F.sum("c")).first()[0] or 0)
    return uni, bi, n_tokens


def lm_score_docs(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    n_tokens: int,
    id_col: str,
    text_col: str,
    *,
    num_buckets: int = 65536,
    base_hash: str = "xxhash64",
    backoff: float = 0.4,
    round_to: int = 6,
) -> DataFrame:
    """Per-document Stupid Backoff fluency score against a fitted
    reference LM:

        s(w | prev) = c(prev,w) / c(prev)            if both counted
                    = λ · (c(w) + 1) / (N + B)       otherwise

    (λ = ``backoff`` = 0.4 per Brants; the unseen leg Laplace-floors
    the unigram so a fully-OOV token scores finite instead of
    ln 0 = −inf — the one deviation from the paper, documented
    because a quality FILTER must rank garbage, not NaN on it).

    Output: (doc, n_transitions, avg_logprob, ppl) where
    ``ppl = exp(−avg_logprob)`` — the CCNet-style filter key (high
    perplexity ⇒ out-of-domain / disfluent; threshold or bucket it).
    Docs with <2 tokens emit NO row (no transitions to score — the
    caller left-joins and routes them by the unigram/exact ladder).

    Plan: one transition explode, three broadcast joins against the
    bounded count tables, one doc-keyed aggregate. The corpus never
    shuffles wider than its own transition relation."""
    trans = _transition_rel(docs, id_col, text_col).select(
        "doc",
        _bucket(F.concat_ws(" ", "prev", "w"), num_buckets, base_hash).alias("_bb"),
        _bucket("prev", num_buckets, base_hash).alias("_bp"),
        _bucket("w", num_buckets, base_hash).alias("_bw"),
    )
    scored = (
        trans.join(
            F.broadcast(bi.select(F.col("bucket").alias("_bb"), F.col("c").alias("_cb"))),
            "_bb",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("bucket").alias("_bp"), F.col("c").alias("_cp"))),
            "_bp",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("bucket").alias("_bw"), F.col("c").alias("_cw"))),
            "_bw",
            "left",
        )
        .withColumn(
            "_lp",
            F.when(
                F.col("_cb").isNotNull() & F.col("_cp").isNotNull(),
                F.log(F.col("_cb") / F.col("_cp")),
            ).otherwise(
                F.log(
                    F.lit(float(backoff))
                    * (F.coalesce(F.col("_cw"), F.lit(0)) + F.lit(1.0))
                    / F.lit(float(n_tokens + num_buckets))
                )
            ),
        )
    )
    return (
        scored.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.avg("_lp").alias("_avg"),
        )
        .select(
            "doc",
            "n_transitions",
            F.round(F.col("_avg"), round_to).alias("avg_logprob"),
            F.round(F.exp(-F.col("_avg")), round_to).alias("ppl"),
        )
    )


def lm_admission_routing(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    n_tokens: int,
    id_col: str,
    text_col: str,
    *,
    max_ppl: float,
    num_buckets: int = 65536,
    base_hash: str = "xxhash64",
    backoff: float = 0.4,
    round_to: int = 6,
) -> DataFrame:
    """The LM quality gate's ADMISSION DECISION as a batch relation —
    the contract ``streaming.sinks.lm_quality_gate_writer`` routes
    by, shared so the stream and its batch twin cannot drift (the
    ``minhash_index_screen`` discipline, one tier up):

    - ``ppl <= max_ppl``      → ``decision='admit'``, reason NULL
    - ``ppl > max_ppl``       → ``decision='reject'``, ``'high_ppl'``
    - no score (<2 tokens: nothing to score — unjudgeable docs are
      REFUSED, the layering contract routes them through the
      unigram/exact legs upstream) → ``decision='reject'``,
      ``'too_short'``

    One row per distinct doc id: (doc, n_transitions, ppl, decision,
    reject_reason). The threshold compares the ROUNDED ppl (what the
    gate emits downstream), so a doc sitting exactly on the boundary
    routes identically in the stream, the batch twin, and the SQL
    oracle. Plan: the scored relation left-joins back to the id set —
    both sides are the same doc-keyed size, no broadcast hint (the
    corpus is not broadcastable; AQE picks locally)."""
    scored = lm_score_docs(
        docs, uni, bi, n_tokens, id_col, text_col,
        num_buckets=num_buckets, base_hash=base_hash,
        backoff=backoff, round_to=round_to,
    )
    ids = docs.select(F.col(id_col).alias("doc")).distinct()
    routed = ids.join(scored, "doc", "left")
    reason = F.when(F.col("ppl").isNull(), F.lit("too_short")).when(
        F.col("ppl") > F.lit(float(max_ppl)), F.lit("high_ppl")
    )
    return routed.select(
        "doc",
        "n_transitions",
        "ppl",
        F.when(reason.isNull(), F.lit("admit")).otherwise(F.lit("reject")).alias(
            "decision"
        ),
        reason.alias("reject_reason"),
    )


_LM_META_SCHEMA = "num_buckets int, base_hash string, n_tokens long"


def save_bigram_lm(
    uni: DataFrame,
    bi: DataFrame,
    n_tokens: int,
    path: str,
    *,
    num_buckets: int,
    base_hash: str = "xxhash64",
) -> None:
    """Persist a fitted Stupid Backoff LM at ``path`` (``uni/``,
    ``bi/``, ``meta/``) — meta written LAST records every
    score-affecting knob (num_buckets, base_hash, n_tokens), so
    scoring derives parameters FROM THE MODEL and a caller cannot
    silently mix bucket spaces (the ``index_store`` protocol).

    Refit-at-the-same-path stages the whole generation and swaps it
    in as a unit (``index_store.generation`` — the same crash-safety
    class as the band-index rebuild, ADVICE r13: a crash mid-refit
    must never leave new counts under an old meta). A crash inside
    the swap self-heals at the next load."""
    meta = (int(num_buckets), base_hash, int(n_tokens))
    with IS.generation(uni.sparkSession, path, meta, _LM_META_SCHEMA) as tmp:
        uni.write.mode("overwrite").parquet(f"{tmp}/uni")
        bi.write.mode("overwrite").parquet(f"{tmp}/bi")


def load_bigram_lm(spark, path: str):
    """Load a persisted LM: ``(uni, bi, meta_row)`` — the count
    tables lazily (bounded reads; pin them yourself for a
    many-batch consumer) and the one-row meta collected driver-side
    (O(1) by construction). Entry self-heals a crash inside a prior
    refit's whole-store swap."""
    IS.heal(spark, path)
    meta = IS.read_meta(spark, path, _LM_META_SCHEMA)
    return (
        spark.read.parquet(f"{path}/uni"),
        spark.read.parquet(f"{path}/bi"),
        meta,
    )


def lm_model_fingerprint(spark, path: str) -> str:
    """Content fingerprint of a persisted LM generation — the "filter
    model id" a lineage manifest records next to every slice the LM
    gate screened (``operators.lineage``, the
    ``decontam_index_fingerprint`` discipline for model state): the
    16-hex XOR of both count tables (tagged per table, so swapping
    uni↔bi content cannot collide) and the driver-side md5-prefix of
    the frozen knob tuple. A pure function of score-relevant content —
    invariant under file layout; changed by any refit, knob, or count
    difference. Two bounded-table aggregations (≤ num_buckets rows
    each)."""
    import hashlib

    from .lineage import relation_fingerprint

    uni, bi, meta = load_bigram_lm(spark, path)
    fp = int(
        relation_fingerprint(uni.withColumn("_t", F.lit("uni")), ["_t", "bucket", "c"]),
        16,
    )
    fp ^= int(
        relation_fingerprint(bi.withColumn("_t", F.lit("bi")), ["_t", "bucket", "c"]),
        16,
    )
    knobs = f"{meta.num_buckets}:{meta.base_hash}:{meta.n_tokens}"
    fp ^= int(hashlib.md5(knobs.encode()).hexdigest()[:15], 16)
    return format(fp, "016x")
