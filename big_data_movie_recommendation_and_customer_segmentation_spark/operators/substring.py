"""Exact substring-level cross-document dedup (winnowed k-gram
seeds → diagonal chaining → verified common spans).

The dedup ladder's document-level modes (exact / MinHash / SimHash /
embedding) miss the failure mode Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better") showed matters most in
web corpora: long VERBATIM passages repeated inside otherwise
distinct documents (licenses, quoted articles, templated sections).
The reference has no substring mode at all; this module adds it as
pure column ops.

Method — winnowing (Schleimer, Wilkerson & Aiken 2003, the MOSS
fingerprinter), the alignment-robust way to subsample k-gram
fingerprints:

1. ``kgram_hashes`` — one 60-bit md5-prefix hash per character
   position (the shared Spark↔DuckDB primitive, so the WHOLE
   pipeline is SQL-oracle-checkable).
2. ``winnow`` — per position-window of ``window`` consecutive
   k-grams, keep the (hash, pos)-lexicographic minimum. Selection
   depends only on content (hashes), so two documents sharing a
   substring select the SAME relative positions inside it —
   guarantee: every window of ``window`` k-grams fully inside a
   shared region contributes a COMMON seed, hence any common
   substring of length ≥ k+window-1 is seeded, with consecutive
   common seeds ≤ ``window`` apart. Expected density ≈
   2/(window+1): the volume governor for the seed join.
3. ``repeated_span_pairs`` — join seeds across documents on the
   hash, verify each seed by EXACT k-gram comparison (hash collisions
   die here), chain verified seeds along each (doc_a, doc_b,
   pos_a−pos_b) diagonal splitting at gaps > ``window``, and report
   merged spans of length ≥ ``min_len``.

Exactness contract: ``window ≤ k`` is enforced, so consecutive
chained seeds are ≤ window ≤ k apart and their VERIFIED k-grams
overlap or touch — every character of a reported span is covered by
a verified equality, i.e. reported spans are true common substrings
(never false positives). Recall: a maximal common substring of
length L ≥ k+window−1 is reported, possibly trimmed by < window
characters at each end (the winnowing boundary). Ultra-repetitive
content (period < k) can tie hashes inside a window and degrade seed
alignment — that content belongs to the repetition filters /
exact-dedup upstream (``textops.repetition_stats``), the ladder's
usual layering contract.

Scale shape: the per-position relation (|chars| rows) is shuffled
ONCE — the winnowing window's hash-partition on doc — then reduced
to ~2/(window+1) density before the seed join. A fully map-local
alternative exists (``winnowed_fingerprints``: per-doc hash array +
per-window struct-min in one projection, zero shuffle,
value-identical by test) but measured 7× SLOWER end-to-end at sf1
(64 s vs 9 s — the per-position HOF aggregate evaluates
interpretively and project-collapsing multiplies the hash
transform), so the window form is the production path and the
array form is the documented fallback for bandwidth-starved
clusters where one |chars|-row shuffle dominates;
``max_hash_freq`` drops boilerplate fingerprints (licenses shared by
half the corpus) before they become C(N,2) seed pairs — the same
degenerate-content governor as the rest of the dedup ladder. Chain
merging shuffles on (doc_a, doc_b, diagonal) — output-sized. Span
positions are codepoint-based (Spark ``substring`` and DuckDB
``substr`` agree, non-BMP included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textops as TX
from ..sqlutil import quote_ident
from .relational import _pin


def kgram_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, pos, h): the 60-bit hash of the k-gram starting at each
    1-based codepoint position. Documents shorter than k yield no
    rows (nothing to seed). RAW text — substring dedup reports spans
    in the original document, so no normalization is applied."""
    n_pos = F.length(text_col) - k + 1
    return (
        df.filter(n_pos >= 1)
        .select(
            F.col(id_col).alias("doc"),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), n_pos)).alias("pos"),
        )
        .select(
            "doc",
            "pos",
            TX.shared_token_hash60(F.substring(F.col("_t"), F.col("pos"), F.lit(k))).alias("h"),
        )
    )


def winnow(hashes: DataFrame, window: int) -> DataFrame:
    """Winnowing selection: for every window of ``window`` consecutive
    positions, keep the (h, pos)-minimum; distinct the union. One
    window pass, no shuffle beyond the per-doc sort."""
    w = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashes.withColumn("_m", F.min(F.struct("h", "pos")).over(w))
        .select("doc", F.col("_m.pos").alias("pos"), F.col("_m.h").alias("h"))
        .distinct()
    )


def winnowed_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """Map-local winnowing: per document, build the k-gram hash
    array and take each window's (h, pos)-minimum inside ONE
    projection — zero shuffle (the window-function spelling in
    ``winnow`` hash-partitions the |chars|-row relation on doc
    before selecting). Value-identical to ``winnow(kgram_hashes())``
    — pinned by ``tests/test_substring_dedup.py``.

    NOT the production path: measured 7× slower end-to-end at sf1
    (the O(n·window) per-position ``aggregate`` lambdas evaluate
    interpretively, and project-collapsing re-inlines the hash
    transform under its references — the same HOF-vs-engine lesson
    as char_shingles, PERF.md r11). Kept as the documented fallback
    for deployments where one |chars|-row shuffle is the binding
    constraint; per-doc memory is the hash array (16 bytes/char),
    which is why documents are chunked upstream."""
    q = quote_ident(text_col)
    n_pos = f"greatest(length({q}) - {k} + 1, 0)"
    harr = (
        f"transform(sequence(1, {n_pos}), p -> named_struct("
        f"'h', cast(conv(substring(md5(substring({q}, p, {k})), 1, 15), 16, 10) as bigint), "
        f"'pos', p))"
    )
    sel = (
        f"array_distinct(transform(sequence(1, size(_harr)), "
        f"i -> aggregate(slice(_harr, i, {window}), element_at(_harr, i), "
        f"(acc, x) -> if(x.h < acc.h or (x.h = acc.h and x.pos < acc.pos), x, acc))))"
    )
    return (
        df.filter(F.expr(n_pos) >= 1)
        .select(F.col(id_col).alias("doc"), F.expr(harr).alias("_harr"))
        .select("doc", F.explode(F.expr(sel)).alias("_s"))
        .select("doc", F.col("_s.pos").alias("pos"), F.col("_s.h").alias("h"))
    )


def repeated_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 25,
    window: int = 12,
    min_len: int = 50,
    max_hash_freq: int | None = None,
    include_within_doc: bool = False,
) -> DataFrame:
    """Verified common substrings of length ≥ ``min_len`` across
    document pairs. Output: doc_a < doc_b, start_a, start_b, length
    (1-based codepoint positions into the RAW text; the span is
    ``substring(text, start, length)`` on either side — exact
    equality guaranteed, see module docstring).

    ``include_within_doc`` also reports a document's INTERNAL repeats
    (doc_a == doc_b, start_a < start_b — the self-repetition half of
    the Lee et al. dedup): same seeds, same verification, same
    chaining, with the self-position (and self-overlap-free) pairing
    rule. Periodic content (period < k) produces one span per
    alignment offset — the repetition filters upstream are the right
    tool for that input, as ever.

    ``max_hash_freq``: fingerprints selected in more than this many
    documents are dropped before the seed join (boilerplate
    governor). Dropping a fingerprint can only split/trim spans that
    consist of corpus-wide boilerplate — the documented recall trade,
    same as every other governor in the ladder.
    """
    if window > k:
        raise ValueError(
            f"window ({window}) must be <= k ({k}): the exactness contract "
            "needs chained seeds' verified k-grams to overlap or touch"
        )
    # sel feeds BOTH sides of the seed self-join (and the governor's
    # frequency pass): one pin instead of re-running the per-position
    # explode + winnow per consumer.
    # Window form, not winnowed_fingerprints: measured 7× faster at
    # sf1 (see module docstring).
    sel = _pin(winnow(kgram_hashes(df, id_col, text_col, k), window))
    if max_hash_freq is not None:
        hot = (
            sel.groupBy("h")
            .agg(F.countDistinct("doc").alias("_df"))
            .filter(F.col("_df") > max_hash_freq)
            .select("h")
        )
        # no broadcast hint — corpus-dependent size, AQE decides
        # (same treatment as the set miners' governors)
        sel = sel.join(hot, "h", "left_anti")

    a = sel.select(F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"), "h")
    b = sel.select(F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b"), "h")
    pairing = (
        (F.col("doc_a") < F.col("doc_b"))
        | ((F.col("doc_a") == F.col("doc_b")) & (F.col("pos_a") < F.col("pos_b")))
        if include_within_doc
        else F.col("doc_a") < F.col("doc_b")
    )
    # cand feeds the doc list and the verification join
    cand = _pin(
        a.join(b, "h").filter(pairing).select("doc_a", "doc_b", "pos_a", "pos_b")
    )

    # verify every seed by exact k-gram equality: hash collisions and
    # winnowing artifacts die here, which is what makes the final
    # spans exact rather than probabilistic. Texts are joined only
    # for docs that appear in a candidate seed (broadcast semi).
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    texts = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t")).join(
        F.broadcast(cand_docs), "doc", "left_semi"
    )
    verified = (
        cand.join(texts.select(F.col("doc").alias("doc_a"), F.col("_t").alias("_ta")), "doc_a")
        .join(texts.select(F.col("doc").alias("doc_b"), F.col("_t").alias("_tb")), "doc_b")
        .filter(
            F.substring(F.col("_ta"), F.col("pos_a"), F.lit(k))
            == F.substring(F.col("_tb"), F.col("pos_b"), F.lit(k))
        )
        .select("doc_a", "doc_b", "pos_a", "pos_b")
    )

    # chain seeds along each alignment diagonal; a gap > window means
    # the region in between contained no common winnowed fingerprint,
    # i.e. it is not part of the same shared substring
    diag = (F.col("pos_a") - F.col("pos_b")).alias("_diag")
    wd = Window.partitionBy("doc_a", "doc_b", "_diag").orderBy("pos_a")
    chained = (
        verified.select("doc_a", "doc_b", "pos_a", "pos_b", diag)
        .withColumn("_gap", F.col("pos_a") - F.lag("pos_a").over(wd))
        .withColumn(
            "_brk", F.when(F.col("_gap").isNull() | (F.col("_gap") > window), 1).otherwise(0)
        )
        .withColumn("_grp", F.sum("_brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        chained.groupBy("doc_a", "doc_b", "_diag", "_grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("length"),
        )
        .filter(F.col("length") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "length")
    )


def mask_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    *,
    keep_lowest_doc: bool = True,
    mask_col: str = "masked_text",
) -> DataFrame:
    """Apply the Lee et al. policy to detected spans: keep ONE copy of
    each repeated passage (the lowest doc id of the pair, by default)
    and cut it from the other. Spans for a doc are merged (overlaps
    collapse via the interval-union trick) and removed back-to-front
    so earlier cuts don't shift later offsets. Output: ``df`` plus
    ``mask_col`` (docs with nothing to cut pass through verbatim).
    The ``__mask_*`` column names are reserved working columns.

    Policy caveat (r12 review): the cut decision is PAIR-LOCAL. If a
    doc is the designated keeper of passage Q for one pair but loses
    an OVERLAPPING region as the victim of a different pair, no
    intact copy of Q survives. ``mask_conflicts`` detects exactly
    those inputs — run it first and resolve (e.g. drop the
    conflicting span, or re-run detection on the masked output)
    when the one-copy guarantee must hold globally.

    Column-op implementation: per doc, collect the sorted [start,
    end) interval list (bounded: spans per doc, not corpus-sized),
    merge with ``aggregate`` over the sorted array, then rebuild the
    kept text with a second ``aggregate`` that concatenates the
    inter-interval segments. Cuts are codepoint-exact; offsets are
    cast to int (a Spark string holds < 2³¹ codepoints by
    construction, so wider offsets are caller bugs surfaced here).
    """
    qt = quote_ident(text_col)
    victim = (
        spans.select(
            F.col("doc_b" if keep_lowest_doc else "doc_a").alias("__mask_doc"),
            F.col("start_b" if keep_lowest_doc else "start_a").cast("int").alias("s"),
            (
                F.col("start_b" if keep_lowest_doc else "start_a") + F.col("length")
            ).cast("int").alias("e"),
        )
        .groupBy("__mask_doc")
        .agg(F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__mask_iv"))
    )
    # merge overlapping intervals, then cut segments between them
    merged = F.expr(
        """
        aggregate(
          __mask_iv,
          cast(array() as array<struct<s:int,e:int>>),
          (acc, x) -> case
            when size(acc) = 0 then array(x)
            when x.s <= element_at(acc, -1).e then
              concat(slice(acc, 1, size(acc) - 1),
                     array(named_struct('s', element_at(acc, -1).s,
                                        'e', greatest(element_at(acc, -1).e, x.e))))
            else concat(acc, array(x)) end)
        """
    )
    rebuilt = F.expr(
        f"""
        concat(
          aggregate(
            __mask_merged,
            named_struct('acc', '', 'cur', 1),
            (st, x) -> named_struct(
              'acc', concat(st.acc, substring({qt}, st.cur, x.s - st.cur)),
              'cur', cast(x.e as int)),
            st -> concat(st.acc, substring({qt}, st.cur,
                                           length({qt}) - st.cur + 1))))
        """
    )
    return (
        df.join(victim, F.col(id_col) == F.col("__mask_doc"), "left")
        .withColumn("__mask_merged", merged)
        .withColumn(
            mask_col,
            F.when(F.col("__mask_merged").isNull(), F.col(text_col)).otherwise(rebuilt),
        )
        .drop("__mask_doc", "__mask_iv", "__mask_merged")
    )


def mask_conflicts(spans: DataFrame, *, keep_lowest_doc: bool = True) -> DataFrame:
    """The inputs on which ``mask_repeated_spans``'s pair-local
    keep-one-copy guarantee can fail: rows where a doc's KEEPER copy
    of a span overlaps a region the same doc loses as the VICTIM of
    a different pair. Empty output ⇒ the masked corpus retains at
    least one intact copy of every reported passage. Output: doc,
    keep_start, keep_len, cut_start, cut_len."""
    ka, kb = ("doc_a", "doc_b") if keep_lowest_doc else ("doc_b", "doc_a")
    sa, sb = ("start_a", "start_b") if keep_lowest_doc else ("start_b", "start_a")
    keep = spans.select(
        F.col(ka).alias("doc"),
        F.col(sa).alias("keep_start"),
        F.col("length").alias("keep_len"),
    )
    cut = spans.select(
        F.col(kb).alias("doc"),
        F.col(sb).alias("cut_start"),
        F.col("length").alias("cut_len"),
    )
    return keep.join(cut, "doc").filter(
        (F.col("keep_start") < F.col("cut_start") + F.col("cut_len"))
        & (F.col("cut_start") < F.col("keep_start") + F.col("keep_len"))
    )
