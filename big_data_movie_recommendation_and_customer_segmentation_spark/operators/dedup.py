"""Document deduplication operators (north-star extension).

The dedup ladder a 100 TB text pipeline actually runs, cheapest
first:

1. ``exact_duplicates`` — md5-of-normalized-text groupBy. One
   shuffle on the 128-bit key; no skew concern (hashes are uniform).
2. ``ngram_jaccard_pairs`` — exact shingle-set Jaccard via the same
   item-keyed self-join as user similarity (SURVEY §2.C6); the
   oracle-checkable ground truth for near-dup.
3. ``minhash_duplicate_pairs`` — MinHash LSH over word shingles;
   the scale path (cost tracks true-duplicate density, not N²).
4. ``simhash`` — 64-bit fingerprints + banded Hamming candidates;
   constant per-doc state, cheapest near-dup signal at scale.
5. ``embedding_near_duplicates`` — semantic near-dup via cosine on
   an embedding column (see ``vectorops`` for the ANN machinery).

Cluster → representative resolution (``dedup_representatives``) is
min-label propagation: iterative, each round one self-join keyed on
doc id. Rounds bound the diameter of dup clusters (real dup clusters
are shallow; 3 rounds covers diameter-8 chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops as TX
from .relational import _pin
from .similarity import exact_jaccard_pairs


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, fingerprint_col: str | None = None
) -> DataFrame:
    """Exact-duplicate groups by normalized-content fingerprint.
    Output: fingerprint, n_copies, keep_id (min id), doc_ids
    (sorted). Only groups with ≥2 docs. Pass ``fingerprint_col`` to
    reuse a precomputed fingerprint (e.g. computed once before a
    union that would otherwise re-hash every branch)."""
    fp = (
        F.col(fingerprint_col) if fingerprint_col is not None else TX.fingerprint(text_col)
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct normalized content — the
    basic exact-dedup pass. Window-free: groupBy fingerprint → min
    id → semi join back (two shuffles, both on uniform keys)."""
    keep = (
        df.select(F.col(id_col).alias(id_col), TX.fingerprint(text_col).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _shingle_fn(unit: str):
    """word_shingles / char_shingles by unit name. ``'char'`` is the
    standard fallback for scripts whitespace can't segment (CJK,
    Thai) where the word unit degrades to one whole-doc shingle and
    near-dup collapses to exact-dup."""
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    return TX.word_shingles if unit == "word" else TX.char_shingles


def _shingle_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str = "word"
) -> DataFrame:
    """(doc, shingle) exploded relation — the dedup analog of the
    user×item rated relation. ``unit`` per ``_shingle_fn``. One
    explode + distinct over the input as it arrives; shingle keys are
    exact integers/strings, so partitioning cannot change any
    downstream value."""
    shingles = _shingle_fn(unit)
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(shingles(text_col, n)).alias("shingle"))
        .distinct()
    )


def route_by_script(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str = "dominant_script",
) -> DataFrame:
    """Attach the dominant-script routing column, computed ONCE.

    The routing predicate is the branch point of a multilingual dedup
    pipeline: docs whose dominant script is in
    ``textops.UNSEGMENTED_SCRIPTS`` take the char shingle unit, the
    rest the word unit. Spelling the predicate inline as
    ``filter(dominant_script(derived_text) ...)`` is a plan trap:
    predicate pushdown substitutes the text-derivation alias into the
    predicate, and the argmax references its counts subtree ~20×, so
    an expensive derivation (e.g. transliteration — transform + md5
    per token) re-evaluates under every count leg (measured 10.4 s
    for the inlined filter vs 0.6 s for the derivation itself at
    sf0.1, single input partition). The lazy pin after the one-shot
    projection keeps the routing decision as DATA — the shape a
    100 TB pipeline wants anyway: the routing column is computed once
    and persisted, then every downstream leg (char unit, word unit,
    per-script stats) filters on materialized state instead of
    re-deriving the profile.
    """
    return _pin(df.withColumn(out_col, TX.dominant_script(text_col)))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    hash_shingles: bool = False,
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (ground truth).

    ``unit='char'`` shingles by character n-gram (default word) —
    the standard fallback for unsegmented scripts; pick n≈5-8 chars.

    Reuses the distributed set-similarity join from user similarity —
    shingles are the items. ``max_shingle_freq`` prunes boilerplate
    shingles (the skew control at scale: a boilerplate header shared
    by millions of docs would otherwise quadratically explode the
    join).

    ``hash_shingles=True`` replaces each shingle string with the
    shared 60-bit md5-prefix int before the distinct/governor/join:
    8-byte fixed keys instead of n-word strings through every shuffle
    — at 100 TB the self-join moves hashes, never text. Collisions
    (~|shingles|²/2⁶¹) merge a pair of shingles identically in engine
    AND oracle (same primitive both sides), so gate comparisons stay
    exact.
    Output: doc_a < doc_b, n_common, n_a, n_b, jaccard.
    """
    if hash_shingles:
        # hash BEFORE the distinct so even that first shuffle moves
        # 8-byte ints; the distinct then deduplicates at hash level
        # (mirrored in the oracle).
        shingles = _shingle_fn(unit)
        pairs = (
            df.select(
                F.col(id_col).alias("doc"),
                F.explode(shingles(text_col, n)).alias("_s"),
            )
            .select("doc", TX.shared_token_hash60(F.col("_s")).alias("shingle"))
            .distinct()
        )
    else:
        pairs = _shingle_pairs(df, id_col, text_col, n, unit=unit)
    out = exact_jaccard_pairs(
        pairs, "doc", "shingle", threshold=threshold, max_item_freq=max_shingle_freq
    )
    return out.withColumnsRenamed({"user_a": "doc_a", "user_b": "doc_b"})


_MERSENNE31 = (1 << 31) - 1


def minhash_coefficients(num_perm: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """The seeded universal-hash coefficients (aᵢ, bᵢ) used by
    ``minhash_signatures`` — exposed so the SQL oracle can inline the
    SAME constants and reproduce signatures bit-for-bit."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_perm)
    ]


def _base_shingle_hash(base_hash: str):
    """Shingle → long base hash. ``xxhash64`` (default): fastest,
    JVM-only. ``md5``: the shared Spark↔DuckDB md5-prefix primitive
    (textops.shared_token_hash60) — slower per row but makes the
    whole MinHash/SimHash pipeline reproducible in the SQL oracle."""
    if base_hash == "xxhash64":
        return lambda c: F.xxhash64(c)
    if base_hash == "md5":
        return lambda c: TX.shared_token_hash60(F.col(c) if isinstance(c, str) else c)
    raise ValueError(f"base_hash must be 'xxhash64' or 'md5', got {base_hash!r}")


def minhash_signatures(
    pairs: DataFrame, num_perm: int = 32, seed: int = 42, base_hash: str = "xxhash64"
) -> DataFrame:
    """MinHash signature per doc from a (doc, shingle) relation —
    pure column ops (Broder 1997). The shingle is hashed ONCE
    (xxhash64 → reduce mod 2³¹−1), then permutation *i* is the
    universal hash ``(aᵢ·h + bᵢ) mod 2³¹−1`` with seeded constants —
    32 integer mul/adds instead of 32 string hashes per row (the
    string hashing dominated the original cost ~2×). Products stay
    < 2⁶² so the arithmetic is exact in signed 64-bit. The signature
    element is the min over the doc's shingles: one doc-keyed
    aggregate, everything map-local and codegen'd (no Python, no ml
    fit — in particular no CountVectorizer vocabulary pass, which at
    100 TB would mean a driver-held dictionary of every distinct
    shingle).

    Output: doc, h0..h{num_perm-1} (long).
    """
    coeffs = minhash_coefficients(num_perm, seed)
    base = F.pmod(_base_shingle_hash(base_hash)("shingle"), F.lit(_MERSENNE31))
    # One SQL-parsed projection for all num_perm permutation columns
    # instead of num_perm Column trees built call-by-call: each
    # F.pmod(base*lit+lit) column costs ~6 Py4J round-trips, and at
    # 32 permutations × (select + agg) that chatter was 0.3-0.5 s of
    # every plan build (PERF.md §Round 8 decomposition; collapsed in
    # r9 per VERDICT r8 ask #6). The base hash stays a Column (the
    # md5 variant has no stable SQL text), computed once as _h.
    hashed = pairs.select("doc", base.alias("_h")).selectExpr(
        "doc",
        *[
            f"pmod(_h * {a}L + {b}L, {_MERSENNE31}L) AS h{i}"
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    # the num_perm mins as ONE parsed aggregate expression (a struct
    # the final projection unnests), not num_perm F.expr calls
    mins = ", ".join(f"'h{i}', min(h{i})" for i in range(num_perm))
    return hashed.groupBy("doc").agg(F.expr(f"named_struct({mins}) AS _m")).select("doc", "_m.*")


def minhash_duplicate_pairs(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 32,
    band_rows: int = 2,
    seed: int = 42,
    max_shingle_freq: int | None = None,
    base_hash: str = "xxhash64",
    unit: str = "word",
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard rescore:
    shingle → minhash signature → banded candidate join → rescore.
    The standard web-scale dedup pipeline, entirely JVM-side.

    Banding: ``num_perm/band_rows`` bands of ``band_rows`` rows; docs
    collide if any band's hash tuple matches. At band_rows=2 ×16
    bands, P(candidate | j=0.5) ≈ 1−(1−0.25)¹⁶ ≈ 0.99 — recall is
    high at the threshold and false positives are removed by the
    exact rescore, so output ⊆ ``ngram_jaccard_pairs`` by
    construction. Cost tracks collision density, not N².

    Shuffles: signature agg (doc), band self-join (band value — a
    heavily-duplicated boilerplate band is the skew point; prune
    boilerplate shingles upstream via ``max_shingle_freq``), rescore
    joins (doc). Output matches ``ngram_jaccard_pairs``.

    ``max_shingle_freq`` is the same boilerplate governor as in
    ``ngram_jaccard_pairs``: shingles shared by more than that many
    docs are dropped before signatures AND before the rescore sets,
    so a boilerplate band value can't become the shuffle hot key.

    No ``.cache()`` on the shingle relation: it feeds two consumers
    (signatures + rescore sets) but both read the same shuffled
    ``distinct`` output, which Spark shares via ReuseExchange — and a
    cached exploded-shingle relation at 100 TB is an executor-storage
    leak in any long-lived session (measured at sf0.1: uncached is
    not slower; see PERF.md).
    """
    pairs = _shingle_pairs(df, id_col, text_col, n, unit=unit)
    return minhash_set_pairs(
        pairs,
        threshold=threshold,
        num_perm=num_perm,
        band_rows=band_rows,
        seed=seed,
        max_item_freq=max_shingle_freq,
        base_hash=base_hash,
    )


def banded_signature_rows(sig: DataFrame, num_perm: int, band_rows: int) -> DataFrame:
    """Melt a signature relation (doc, h0..h{num_perm-1}) into LSH
    band rows (doc, band_id, v0..v{band_rows-1}) — one ``stack``
    projection, map-local. The band join key is the RAW value tuple
    (band_id, v0, v1, …): same shuffle cost as a hash of the tuple
    (multi-column hash partitioning), zero collision risk, and a SQL
    oracle can reproduce the candidate set by joining the same tuple.
    Shared by the in-session pair miner (``minhash_set_pairs``) and
    the persisted band index (``dedup_index``), so both store/join
    the identical spelling.

    ``num_perm`` must be an exact multiple of ``band_rows``: a
    remainder would silently drop the trailing hash columns from the
    banding (n_bands = num_perm // band_rows), quietly lowering LSH
    recall relative to the requested num_perm — and
    ``build_minhash_index`` persists these knobs into meta, freezing
    the mismatch into the index (ADVICE r13: refuse, don't truncate).
    """
    if num_perm % band_rows != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of band_rows "
            f"({band_rows}): a remainder would silently drop "
            f"{num_perm % band_rows} trailing hash column(s) from the banding"
        )
    n_bands = num_perm // band_rows
    v_cols = ", ".join(f"v{r}" for r in range(band_rows))
    stack_args = ", ".join(
        f"{b}, " + ", ".join(f"h{b * band_rows + r}" for r in range(band_rows))
        for b in range(n_bands)
    )
    stack_expr = f"stack({n_bands}, {stack_args}) as (band_id, {v_cols})"
    return sig.selectExpr("doc", stack_expr)


def minhash_set_pairs(
    pairs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 32,
    band_rows: int = 2,
    seed: int = 42,
    max_item_freq: int | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH similar-pair mining over an arbitrary (doc, item)
    set relation — the generic core shared by text near-dup
    (items = word shingles, see ``minhash_duplicate_pairs``) and
    set-valued entity similarity (items = e.g. purchased part keys,
    the reference's "movie twins" S1 shape, ``top_100_pairs.py:54-94``
    — there the sets live in driver datasketch objects; here the
    whole signature→band→rescore pipeline is distributed column ops).

    ``pairs`` must have columns ``doc`` and ``shingle`` (the item,
    hashed with ``base_hash``; cast non-string items to string for
    the md5 oracle path). Output: doc_a < doc_b, n_common, n_a, n_b,
    jaccard (exact, rescored from the true sets — output ⊆ the exact
    set-similarity join at the same threshold by construction).
    """
    if max_item_freq is not None:
        # The boilerplate-governor count and the anti-join stream
        # BOTH consume the exploded shingle relation; without a pin
        # each re-derives the explode+hash+distinct (profiled: the
        # two heaviest stages of the query, 12.8 + 9.9
        # executor-seconds at sf0.1). Pin the distinct relation once
        # BEFORE the governor so both consumers read it. The extra
        # pinned bytes over the post-governor pin are just the
        # hot-shingle rows (bounded: boilerplate by definition).
        pairs = _pin(pairs)
        hot = (
            pairs.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_item_freq)
            .select("shingle")
        )
        # the governed relation feeds signatures AND both rescore set
        # legs; one pin spares each of them a re-run of the anti-join
        # (measured in exact_jaccard_pairs: ~2× warm, cold 3.0 vs 9.9 s
        # at sf0.1)
        pairs = _pin(pairs.join(hot, "shingle", "left_anti"))
    # Ungoverned, the caller's relation feeds the signature and the
    # rescore-set aggregates directly: Spark shares its upstream
    # exchange between them, where a pin would add a materialised copy
    # and drop the input's partitioning (movie twins: 9 → 8 Spark jobs
    # without it).
    sig = minhash_signatures(pairs, num_perm=num_perm, seed=seed, base_hash=base_hash)

    # Band join keys are the RAW band-row values (band_id, v0..v{r-1}),
    # not a hash of the tuple: same shuffle (multi-column hash
    # partitioning), zero collision risk, and the SQL oracle can
    # reproduce the candidate set exactly by joining on the same
    # tuple.
    melted = banded_signature_rows(sig, num_perm, band_rows)

    join_keys = ["band_id"] + [f"v{r}" for r in range(band_rows)]
    cand = (
        melted.alias("x")
        .join(melted.alias("y"), join_keys)
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )

    # cand feeds two consumers below (the doc list and the rescore
    # join); pin it too — it is tiny (candidate pairs), and
    # re-deriving it would run the band self-join twice.
    cand = _pin(cand)

    # Rescore sets are built ONLY for docs that appear in a candidate
    # pair (broadcast semi-join: the candidate doc list is tiny by
    # the LSH property). Without this, collect_set materializes every
    # doc's full shingle array just to rescore a handful of pairs —
    # fine at test SFs, pathological at 100 TB.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sets = (
        pairs.join(F.broadcast(cand_docs), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("items"))
    )
    inter = F.size(F.array_intersect("_ia", "_ib"))
    return (
        cand.join(sets.select(F.col("doc").alias("doc_a"), F.col("items").alias("_ia")), "doc_a")
        .join(sets.select(F.col("doc").alias("doc_b"), F.col("items").alias("_ib")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            F.size("_ia").alias("n_a"),
            F.size("_ib").alias("n_b"),
            (inter / (F.size("_ia") + F.size("_ib") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64, base_hash: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint per document (Charikar 2002).

    Pure column ops, no UDF: explode tokens → hash(token) →
    per-bit ±1 votes aggregated with conditional sums → reassemble
    the sign bits into one long. The explode is map-local; the only
    shuffle is the doc-keyed aggregate carrying ``bits`` small ints.

    ``base_hash='md5'`` uses the shared Spark↔DuckDB md5-prefix
    primitive (60 usable bits — pass ``bits=60``), which makes the
    fingerprints reproducible in the SQL oracle; the default
    ``xxhash64`` is the fast JVM-only path with the full 64 bits.

    Output: doc_id, simhash (long).
    """
    if base_hash == "md5" and bits > 60:
        raise ValueError("md5 base hash provides 60 bits; pass bits<=60")
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(TX.normalized_text(text_col))).alias("tok"),
    ).withColumn("h", _base_shingle_hash(base_hash)("tok"))
    # SQL-parsed expressions instead of per-bit Column trees: each
    # when/shiftright/bitwiseAND chain costs ~7 Py4J round-trips, and
    # at 64 vote columns + 64 reassembly arms that chatter was ~0.3 s
    # of every plan build — the same collapse applied to the minhash
    # permutation columns in r9 (PERF.md §Round 9; VERDICT r9 ask #3).
    # The base hash stays a Column (the md5 variant has no stable SQL
    # text), computed once as h above. Semantics identical: ±1 votes
    # per bit, sign bit set when the vote sum is positive.
    agg = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
            )
            for i in range(bits)
        ]
    )
    sig_expr = " | ".join(
        f"IF(b{i} > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    return agg.selectExpr("doc_id", f"({sig_expr}) AS simhash")


def simhash_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    base_hash: str = "xxhash64",
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded candidate generation (pigeonhole: distance < n_bands ⇒ at
    least one band identical) → equi-join per band on the band value
    → exact Hamming check via bit_count(xor). The band-keyed
    equi-joins are ordinary shuffle joins — no N² pass.
    Output: doc_a, doc_b, hamming.

    ``base_hash='md5'`` + ``bits=60`` makes the whole pipeline
    reproducible in the SQL oracle (see ``simhash``).

    ``max_band_freq`` is the degenerate-content governor — the
    simhash analog of ``max_shingle_freq`` (minhash/ngram) and
    ``max_band_size`` (fuzzy): band VALUES shared by more than that
    many docs are dropped from candidate generation, so a corpus with
    millions of copies of one boilerplate template (identical
    fingerprint ⇒ every band equal) can't turn the band join into an
    N²-per-template pass. Pairs inside a dropped mega-bucket are the
    documented recall loss — at that multiplicity they are exact
    duplicates and belong to ``dedup_exact`` upstream, the same
    layering contract the minhash governor documents. Default
    ``None`` preserves the exact ungoverned plan. Empty/whitespace
    docs never reach the join at all: zero tokens ⇒ no vote rows ⇒
    no fingerprint (pinned in tests/test_degenerate_content_contracts).

    The signature relation feeds all ``2·n_bands`` join legs uncached:
    every leg reads the same doc-keyed aggregate, so ReuseExchange
    shares the one shuffle (a ``.cache()`` here leaked executor
    storage across repeated calls — grid sweeps, benchmarks — and
    measured no faster at sf0.1; see PERF.md). The governor's
    per-band frequency aggregate reads that same exchange.
    """
    sigs = simhash(df, id_col, text_col, bits=bits, base_hash=base_hash)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    candidates = None
    for b in range(n_bands):
        band = F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
        leg = sigs.withColumn("band", band)
        if max_band_freq is not None:
            # whitelist ONE side of the inner equi-join — filtering
            # the shared leg relation before the a/b split excludes
            # every mega-bucket pair with a single join instead of
            # two (r11 self-review; same shape as the embedding
            # governor in vectorops)
            ok = (
                leg.groupBy("band")
                .agg(F.count(F.lit(1)).alias("_bn"))
                .filter(F.col("_bn") <= F.lit(int(max_band_freq)))
                .select("band")
            )
            leg = leg.join(ok, "band")
        a = leg.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band")
        bb = leg.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band")
        cand = a.join(bb, "band").filter(F.col("doc_a") < F.col("doc_b")).drop("band")
        candidates = cand if candidates is None else candidates.unionByName(cand)
    out = (
        candidates.distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return out


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Training-data decontamination (exact-match level): drop corpus
    documents whose normalized-content fingerprint appears in a
    benchmark/eval set — the standard pre-training hygiene step that
    keeps test sets out of the training corpus.

    One anti-join on the 128-bit fingerprint. The benchmark side is
    tiny by nature (eval sets are thousands of rows, the corpus is
    the 100 TB side) → broadcast, so the corpus is never shuffled.
    Near-dup-level decontamination composes from the same ladder as
    dedup: run ``ngram_jaccard_pairs``/``minhash_set_pairs`` between
    corpus and benchmark shingles instead of the fingerprint join.
    Returns the surviving corpus rows (all original columns).
    """
    bt = bench_text_col or text_col
    bench_fp = benchmark.select(TX.fingerprint(bt).alias("_bfp")).distinct()
    return (
        corpus.withColumn("_fp", TX.fingerprint(text_col))
        .join(F.broadcast(bench_fp), F.col("_fp") == F.col("_bfp"), "left_anti")
        .drop("_fp")
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int | None = None,
    bench_text_col: str | None = None,
    unit: str = "word",
) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3 appendix-C
    standard, Brown et al. 2020: 13-gram collision with an eval set):
    drop corpus documents sharing ANY word ``n``-gram with the
    benchmark — catches partial inclusion that the exact-fingerprint
    :func:`decontaminate` misses (a test question quoted inside a
    larger page).

    Scale shape: the benchmark's n-gram hash set is eval-sized →
    broadcast; the corpus side explodes to (id, 60-bit hash) pairs
    but meets it in a broadcast SEMI join, so corpus text never
    shuffles. The flagged-id set (contaminated docs only) broadcasts
    back into the anti-join. If a pathological benchmark flags a
    large fraction of the corpus, swap the final broadcast for a
    plain shuffled anti-join — correctness is unchanged.

    ``unit='char'`` shingles by character n-gram — required for
    unsegmented-script eval sets (CJK, Thai) where a word 13-gram
    never exists and the word unit silently checks whole-document
    equality only.

    ``n`` defaults by unit — 13 for ``'word'`` (the GPT-3 standard),
    25 for ``'char'`` (≈ the 13-word window at typical CJK content
    density) — because carrying the word-scale 13 over to the char
    unit silently over-flags the corpus with weak 13-char collisions
    (ADVICE r12). Pass ``n`` explicitly to override either.
    """
    if n is None:
        n = 13 if unit == "word" else 25
    bt = bench_text_col or text_col
    shingles = _shingle_fn(unit)
    bench_h = (
        benchmark.select(F.explode(shingles(bt, n)).alias("_s"))
        .select(TX.shared_token_hash60(F.col("_s")).alias("_bh"))
        .distinct()
    )
    flagged = (
        corpus.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("_s"))
        .select(id_col, TX.shared_token_hash60(F.col("_s")).alias("_h"))
        .join(F.broadcast(bench_h), F.col("_h") == F.col("_bh"), "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")


def dedup_representatives(pairs: DataFrame, rounds: int | None = 3) -> DataFrame:
    """Resolve duplicate pairs to cluster representatives by
    min-label propagation: rep(d) starts as min(d, neighbors);
    each round joins reps through the pair edges and takes the min.
    Output: doc_id, rep_id (rep_id < doc_id rows only — docs that
    should be dropped in favor of rep).

    Each round = one shuffle join on doc id. ``rounds=k`` bounds
    the handled chain diameter (cheap, predictable cost — real dup
    clusters are shallow); ``rounds=None`` iterates to fixpoint with
    a per-round convergence count — correct for arbitrarily long
    chains at the price of one count() action per round. Each
    round's labels are ``localCheckpoint``-ed: persist alone is NOT
    enough for iterative plans — the logical plan still compounds
    per round until planning itself blows up (observed: OOM in plan
    stringification at ~10 rounds); checkpointing truncates lineage.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
    )
    labels = edges.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("rep")).withColumnsRenamed(
        {"a": "doc_id"}
    )

    def one_round(lbl: DataFrame) -> DataFrame:
        # rep(d) ← min(rep(d), min over neighbors of rep(neighbor))
        neighbor_reps = (
            edges.join(lbl.withColumnsRenamed({"doc_id": "b", "rep": "nrep"}), "b")
            .groupBy("a")
            .agg(F.min("nrep").alias("nrep"))
            .withColumnsRenamed({"a": "doc_id"})
        )
        return lbl.join(neighbor_reps, "doc_id", "left").select(
            "doc_id", F.least("rep", "nrep").alias("rep")
        )

    if rounds is not None:
        for _ in range(rounds - 1):
            labels = one_round(labels)
    else:
        # Fixpoint loop, changed-flag fused (r15 optimization, same
        # shape as graph.connected_components): the old loop paid a
        # convergence join + count() per round; `_chg` now rides in
        # the checkpointed labels and convergence is a short-circuit
        # take(1) scan. Frontier propagation: only reps that DECREASED
        # last round need re-propagating (min-label monotonicity —
        # identical fixpoint, pinned by the long-chain test).
        edges_ck = edges.localCheckpoint(eager=False)
        labels = labels.withColumn("_chg", F.lit(True)).localCheckpoint()
        while True:
            frontier = labels.filter(F.col("_chg")).select(
                F.col("doc_id").alias("b"), F.col("rep").alias("nrep")
            )
            neighbor_reps = (
                edges_ck.join(frontier, "b")
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.min("nrep").alias("nrep"))
            )
            labels = (
                labels.select("doc_id", "rep")
                .join(neighbor_reps, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least("rep", "nrep").alias("rep"),
                    F.coalesce(F.col("nrep") < F.col("rep"), F.lit(False)).alias("_chg"),
                )
                .localCheckpoint()
            )
            if labels.filter(F.col("_chg")).isEmpty():
                break
    return labels.filter(F.col("rep") < F.col("doc_id")).select("doc_id", F.col("rep").alias("rep_id"))


def fuzzy_edit_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 5,
    prefix_chars: int = 64,
    band_width: int = 16,
    max_band_size: int = 200,
) -> DataFrame:
    """Edit-distance near-duplicate pairs, length-banded: candidate
    pairs share (or sit in adjacent) ``band_width``-char length
    bands of their normalized prefix, then are confirmed with
    ``levenshtein`` ≤ ``max_dist`` on the first ``prefix_chars``
    chars.

    Length banding is sound pruning when ``band_width ≥ max_dist``:
    two strings whose lengths differ by more than ``max_dist`` can't
    be within ``max_dist`` edits, and emitting each doc into its own
    band AND the next one covers every pair with |len(a)−len(b)| ≤
    band_width. The ``max_band_size`` governor drops degenerate
    bands (the shingle-frequency cap's analogue) so no band can go
    quadratic at scale.

    Normalization keeps only ``[a-z0-9 ]`` — Spark's levenshtein is
    character-based while some engines (DuckDB included) count
    bytes, so the comparison is pinned to ASCII where the two agree;
    the oracle replays the identical normalization.

    Costs: one normalize+band pass, one governed band self-join
    (levenshtein on ≤ prefix_chars² cells per surviving pair), one
    pair distinct. No text column ever shuffles twice — only the
    prefix travels.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    pre = df.select(
        F.col(id_col).alias("_id"), F.substring(norm, 1, prefix_chars).alias("_pre")
    ).withColumn("_band", (F.length("_pre") / F.lit(band_width)).cast("int"))

    # Each doc lands in its band and the next → adjacent bands meet.
    cand = pre.select("_id", "_pre", F.col("_band").alias("_bkey")).unionByName(
        pre.select("_id", "_pre", (F.col("_band") + 1).alias("_bkey"))
    )
    sizes = cand.groupBy("_bkey").agg(F.count(F.lit(1)).alias("_bn"))
    governed = cand.join(sizes, "_bkey").filter(
        F.col("_bn") <= F.lit(max_band_size)
    )

    left = governed.select("_bkey", F.col("_id").alias("id_a"), F.col("_pre").alias("_pa"))
    right = governed.select("_bkey", F.col("_id").alias("id_b"), F.col("_pre").alias("_pb"))
    return (
        left.join(right, "_bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("_pa", "_pb") <= F.lit(max_dist))
        .select("id_a", "id_b", F.levenshtein("_pa", "_pb").alias("edit_distance"))
        .distinct()
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
    hash_shingles: bool = False,
    round_to: int = 6,
    unit: str = "word",
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    ``containment = |A∩B| / min(|A|, |B|)`` — flags a truncated or
    extended copy (one doc's shingles nearly a subset of the
    other's) that symmetric Jaccard structurally misses: a 100-word
    prefix of a 10k-word doc has containment ~1.0 but Jaccard ~0.01
    (the suffix-containment concern in Lee et al. 2022 dedup work).

    Same join/governor machinery as ``ngram_jaccard_pairs`` (the
    threshold in that pipeline filters AFTER the pair aggregate, so
    asking for all co-shingle pairs costs the same join) — the only
    change is the post-aggregation score. ``max_shingle_freq``
    remains the quadratic-blowup governor.

    Output: doc_a < doc_b, n_common, n_a, n_b, containment, jaccard.
    """
    out = ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=0.0,
        max_shingle_freq=max_shingle_freq, hash_shingles=hash_shingles, unit=unit,
    )
    containment = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        out.withColumn("containment", F.round(containment, round_to))
        .filter(containment >= threshold)
        .withColumn("jaccard", F.round("jaccard", round_to))
    )
