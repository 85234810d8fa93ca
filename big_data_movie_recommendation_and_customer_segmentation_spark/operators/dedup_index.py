"""Incremental dedup: a persisted MinHash band index.

The batch miners in ``dedup`` answer "which pairs inside THIS
relation are near-duplicates" — the right shape for a one-shot corpus
build, and the reference's own shape (its dedup state lives in
driver-session datasketch objects rebuilt per run). A 100 TB corpus
is not deduplicated that way: the retained corpus is deduplicated
ONCE, its signatures/band rows are persisted as an index, and every
incoming batch (a daily crawl slice, ~0.1% of corpus size) is checked
AGAINST the index — recomputing signatures over the full corpus per
batch would re-read 100 TB daily for a question whose answer only
needs the (tiny) band table.

Layout under ``{path}/`` — same store-derived-params discipline as
the IVFADC index (``vectorops.build_ivfadc_index``); builds, rewrites,
crash healing and tombstones follow the protocol in
``index_store``:

- ``bands/``  (doc, v0..v{r-1}) hive-partitioned by ``band_id`` —
  the LSH candidate structure. Partitioning by band makes a
  reduced-recall probe (``bands_to_probe``) a partition-pruned scan,
  and per-band health stats / rewrites partition-local.
- ``sigs/``   (doc, h0..h{p-1}) — signatures, for the zero-corpus-IO
  estimate rescore.
- ``meta/``   one row: every signature-affecting knob (num_perm,
  band_rows, seed, base_hash, n, unit, max_shingle_freq). Queries and
  upserts derive parameters FROM THE INDEX; a caller can't silently
  mix signature spaces.
- ``hot_shingles/`` (only when governed) — the shingles whose
  corpus document-frequency exceeded ``max_shingle_freq`` at BUILD
  time (frozen until a rebuild; compaction does not recompute it —
  watch ``minhash_index_stats.max_bucket`` for drift). Governor
  state is part of the index: a batch
  doc must drop the SAME boilerplate shingles the corpus side
  dropped, or its signature lives in a different space and every
  band comparison is garbage.
- ``tombstones/`` (tomb_id) — logical deletes, applied by queries,
  reclaimed by ``compact_minhash_index``.

Shuffle/scale notes: the query-side join broadcasts the BATCH's band
rows against the stored band table — the corpus side never shuffles
(its scan is also band-pruned under ``bands_to_probe``). Rescore
touches only candidate docs (broadcast semi-joins), so query cost
tracks candidate density, not index size. Compaction is the one
full-rewrite operation: unlike IVFADC cells, the band layout spreads
every doc across ALL band partitions, so there is no partition-local
delete — schedule it by tombstone ratio, not per delete batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _shingle_pairs, banded_signature_rows, minhash_signatures
from . import index_store as IS
from .relational import _pin, track_pins


def _maybe_bcast(df: DataFrame, flag: bool) -> DataFrame:
    """Broadcast hint gated on the caller's ``broadcast_batch`` flag:
    a batch declared too large to broadcast must stay unhinted on
    EVERY batch-sized join side, not just the band probe (ADVICE r13
    — the rescore legs used to force-broadcast unconditionally).
    With the hint absent, AQE picks the strategy."""
    return F.broadcast(df) if flag else df


# the frozen knob tuple ``build_minhash_index`` writes to ``meta/``
_META_SCHEMA = (
    "num_perm int, band_rows int, seed int, base_hash string, "
    "n int, unit string, max_shingle_freq int"
)
# the tables that compaction and the tombstone restore swap in
_TABLES = ("bands", "sigs", IS.TOMBSTONES)


def _hot_shingles(spark: SparkSession, path: str, meta=None) -> DataFrame | None:
    """The frozen governor set, or None for an ungoverned index. Given
    a text index's ``meta``, the read skips schema inference: text
    units shingle to strings. A set-input index stores its raw item
    type, which only the files know."""
    if not IS.exists(spark, f"{path}/hot_shingles"):
        return None
    text = meta is not None and meta.unit != "items"
    reader = spark.read.schema("shingle string") if text else spark.read
    return reader.parquet(f"{path}/hot_shingles")


def _read_bands(spark: SparkSession, path: str, sigs: DataFrame, meta) -> DataFrame:
    """``bands/`` read with the schema it shares with ``sigs`` (the
    corpus id type, band_rows bigint values, the int ``band_id``
    partition): no schema-inference job of its own."""
    doc = sigs.schema["doc"].dataType.simpleString()
    values = ", ".join(f"v{r} bigint" for r in range(meta.band_rows))
    return spark.read.schema(f"doc {doc}, {values}, band_id int").parquet(f"{path}/bands")


def _governed_shingles(
    docs: DataFrame, id_col: str, text_col: str, meta, hot: DataFrame | None
) -> DataFrame:
    """(doc, shingle) relation in the INDEX's signature space: the
    index's shingle unit/width (or, for a set-input index built with
    ``item_col``, the raw item column), minus its frozen hot set."""
    if meta.unit == "items":
        pairs = docs.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("shingle")
        ).distinct()
    else:
        pairs = _shingle_pairs(docs, id_col, text_col, meta.n, unit=meta.unit)
    if hot is not None:
        # no broadcast hint: the hot set is usually tiny but is
        # corpus-dependent (a boilerplate-heavy corpus can make it
        # large) — let AQE pick, same as the batch miners' governors
        pairs = pairs.join(hot, "shingle", "left_anti")
    return pairs


def _input_col(meta, text_col: str, item_col: str | None) -> str:
    """Resolve the batch-side input column and REFUSE a mode mix: a
    set-input index (meta.unit == 'items') must be probed with
    ``item_col``; a text index must not be."""
    if meta.unit == "items":
        if item_col is None:
            raise ValueError(
                "this index was built with item_col (set input); pass item_col"
            )
        return item_col
    if item_col is not None:
        raise ValueError(
            f"this index was built over text (unit={meta.unit!r}); drop item_col"
        )
    return text_col


def load_index_state(spark: SparkSession, path: str):
    """One round-trip read of the index's frozen parameters and
    governor state — ``(meta, hot_shingles-or-None)``. Callers that
    probe the same index repeatedly (the streaming gate: screen +
    within-batch leg + upsert per micro-batch) pass this via
    ``index_state`` instead of paying the meta/hot reads per leg.

    Entry also self-heals a crash inside a prior rebuild's
    whole-index swap or a prior table-level swap (compaction's
    bands/sigs, upsert's tombstone restore) — ``index_store.heal``, a
    handful of existence probes, negligible next to any Spark job."""
    IS.heal(spark, path, _TABLES)
    meta = IS.read_meta(spark, path, _META_SCHEMA)
    return meta, _hot_shingles(spark, path, meta)


def minhash_index_fingerprint(spark: SparkSession, path: str) -> str:
    """Content fingerprint of the LIVE index generation — the
    provenance handle a lineage manifest records next to every slice
    screened through this index (``operators.lineage``, the
    ``decontam_index_fingerprint`` discipline one tier over): the
    16-hex XOR of (a) every live signature row (doc + h0..h{p-1},
    tombstoned docs excluded), (b) the hot-shingle governor set, and
    (c) the driver-side md5-prefix of the frozen knob tuple. A pure
    function of screen-relevant CONTENT: invariant under compaction,
    append order, and file layout; changed by any membership,
    tombstone, governor, or knob difference — same fingerprint ⇒
    bit-identical screen behavior. Cost: one scan + partial-XOR
    aggregation over the signature table (O(index), run at
    generation events — never per batch)."""
    import hashlib

    meta, hot = load_index_state(spark, path)
    from ..functions import textops as TX

    sigs = spark.read.parquet(f"{path}/sigs")
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        sigs = sigs.join(
            F.broadcast(tomb.withColumnRenamed("tomb_id", "doc")),
            "doc",
            "left_anti",
        )

    def _xor(df: DataFrame, cols: list[str]) -> int:
        row = (
            df.select(
                TX.shared_token_hash60(
                    F.concat_ws(":", *[F.col(c).cast("string") for c in cols])
                ).alias("_h")
            )
            .agg(F.expr("bit_xor(_h)").alias("_fp"))
            .collect()[0]
        )
        return int(row["_fp"] or 0)

    fp = _xor(sigs, ["doc"] + [f"h{i}" for i in range(int(meta.num_perm))])
    if hot is not None:
        fp ^= _xor(hot, ["shingle"])
    knobs = ":".join(
        str(meta[f])
        for f in (
            "num_perm", "band_rows", "seed", "base_hash", "n", "unit",
            "max_shingle_freq",
        )
    )
    # the same 60-bit md5-prefix primitive, driver-side (one tuple)
    fp ^= int(hashlib.md5(knobs.encode()).hexdigest()[:15], 16)
    return format(fp, "016x")


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | None = None,
    num_perm: int = 32,
    band_rows: int = 2,
    seed: int = 42,
    base_hash: str = "xxhash64",
    unit: str = "word",
    max_shingle_freq: int | None = None,
    item_col: str | None = None,
) -> None:
    """Materialize the MinHash band index for ``corpus`` at ``path``.

    One pass over the corpus text: shingle → (optional) governor →
    signatures, written once to ``sigs/`` and then band-melted from
    the STORED signatures (the melt re-reads parquet instead of
    re-running the shingle/agg pipeline — an index build is a chain
    of materializations, not a lineage tree). A rebuild is a new
    index generation: stale tombstones are dropped (same rule as
    ``build_ivfadc_index`` — a tombstone must not outlive the
    generation it was issued against).

    ``max_shingle_freq`` is the boilerplate governor from the batch
    miners; here the dropped hot set is PERSISTED so later batches
    and upserts hash in the identical signature space.

    ``n`` defaults by unit — 3 for ``'word'``, 5 for ``'char'`` (the
    miners' per-unit conventions; carrying a word-scale n to the
    char unit degrades the shingle space — same rationale as
    ``ngram_decontaminate``'s unit-aware default, ADVICE r12).

    ``item_col`` switches the index to SET input: ``corpus`` is a
    (id, item) relation — e.g. (customer, part) purchase sets, the
    reference's S1 "similar users" shape (top_100_pairs.py:54-94) —
    indexed exactly as ``minhash_set_pairs`` mines it in-session, so
    entity-similarity screening of NEW entities against an existing
    population becomes an index probe instead of a recompute. Items
    are hashed as-is (cast non-string items to string when building
    with the md5 oracle hash); ``n``/``unit`` are recorded as
    (NULL, 'items') and every query/upsert derives the mode from
    meta — the two input shapes cannot be silently mixed.
    """
    if num_perm % band_rows != 0:
        # fail BEFORE any corpus pass: banded_signature_rows would
        # raise the same error, but only after the signature write
        raise ValueError(
            f"num_perm ({num_perm}) must be a multiple of band_rows "
            f"({band_rows}) — the index would band on fewer permutations "
            f"than sigs store, silently lowering LSH recall"
        )
    if item_col is not None:
        unit, n = "items", None
        pairs = corpus.select(
            F.col(id_col).alias("doc"), F.col(item_col).alias("shingle")
        ).distinct()
    else:
        if n is None:
            n = 3 if unit == "word" else 5
        pairs = _shingle_pairs(corpus, id_col, text_col, n, unit=unit)
    spark = corpus.sparkSession
    # The whole generation is staged and swapped in as a unit
    # (index_store.generation): writing hot_shingles → sigs → bands →
    # meta AT the live path would let a crash mid-rebuild leave new
    # sigs under old meta/bands, which queries consume silently —
    # exactly the signature-space mixing the derive-params-from-meta
    # design exists to prevent.
    meta = (num_perm, band_rows, seed, base_hash, n, unit, max_shingle_freq)
    with IS.generation(spark, path, meta, _META_SCHEMA) as tmp:
        with track_pins():
            if max_shingle_freq is not None:
                # r16 (VERDICT r15 ask #6): the hot-shingle write and the
                # signature write each ran the full shingle explode+
                # distinct (two separate write jobs over the same
                # subtree). Pin the relation once before the governor so
                # the second job reads the materialized copy; released at
                # scope exit (the build consumes everything eagerly).
                pairs = _pin(pairs)
                (
                    pairs.groupBy("shingle")
                    .agg(F.count(F.lit(1)).alias("_df"))
                    .filter(F.col("_df") > max_shingle_freq)
                    .select("shingle")
                    .write.mode("overwrite")
                    .parquet(f"{tmp}/hot_shingles")
                )
                # read back with the written schema: no inference job
                hot = spark.read.schema(pairs.select("shingle").schema).parquet(
                    f"{tmp}/hot_shingles"
                )
                pairs = pairs.join(hot, "shingle", "left_anti")  # AQE-sized, as above

            sig = minhash_signatures(pairs, num_perm=num_perm, seed=seed, base_hash=base_hash)
            sig.write.mode("overwrite").parquet(f"{tmp}/sigs")

        # read back with the written schema: no inference job
        stored_sig = spark.read.schema(sig.schema).parquet(f"{tmp}/sigs")
        (
            banded_signature_rows(stored_sig, num_perm, band_rows)
            .write.mode("overwrite")
            .partitionBy("band_id")
            .parquet(f"{tmp}/bands")
        )
        # An EMPTY corpus (the normal starting state of a streaming
        # near-dedup gate) writes zero band rows, and a partitioned write
        # of zero rows leaves no schema-bearing file — the first query
        # would then wedge on schema inference (the exact failure class
        # dedup_append_writer's committed-glob probe fixed, r10). Pin one
        # empty partition so the empty index is readable; the first
        # upsert appends real partitions beside it.
        if not IS.any_file(spark, f"{tmp}/bands/band_id=*/*.parquet"):
            IS.pin_empty_partition(
                banded_signature_rows(stored_sig, num_perm, band_rows),
                f"{tmp}/bands",
                "band_id",
            )


def minhash_index_dedup(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    rescore: str = "estimate",
    corpus_docs: DataFrame | None = None,
    bands_to_probe: int | None = None,
    broadcast_batch: bool = True,
    exclude_id_eq: bool = True,
    item_col: str | None = None,
    index_state: tuple | None = None,
    batch_pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a NEW batch and the indexed
    corpus, without recomputing anything corpus-side.

    The batch's shingles/signatures/band rows are computed with the
    index's OWN frozen parameters and governor state (meta +
    hot_shingles — never caller-supplied knobs), then its band rows
    are broadcast against the stored band table: the corpus side is
    a pruned parquet scan plus a broadcast hash join — NO shuffle of
    corpus data, which is the entire point at 100 TB.

    ``rescore``:

    - ``'estimate'`` (default): join the candidates' STORED
      signatures with the batch's — ``jaccard_est`` is the agreeing
      fraction of the ``num_perm`` components (the unbiased MinHash
      estimator, Broder 1997; σ ≈ √(j(1−j)/p) ≈ 0.09 at p=32,
      j=0.5). Zero reads of corpus text. Output: new_id, corpus_id,
      n_agree, jaccard_est.
    - ``'exact'``: true Jaccard over shingle sets, rebuilt ONLY for
      candidate docs (requires ``corpus_docs`` — the candidate ids
      are broadcast-semi-joined into it, so the text scan is pushed
      to the candidate set). Output: new_id, corpus_id, n_common,
      n_new, n_corpus, jaccard — the same contract as
      ``minhash_duplicate_pairs`` restricted to cross pairs
      (equivalence-tested).

    ``bands_to_probe``: probe only bands 0..k-1 — a partition-pruned
    scan of ``bands/`` (PartitionFilters, asserted in tests). Recall
    at threshold j falls from 1−(1−j^r)^B to 1−(1−j^r)^k: the
    standard LSH cost/recall knob for low-stakes screening passes.

    ``exclude_id_eq`` drops candidates whose corpus id equals the
    batch id (re-crawled docs trivially match themselves).
    Tombstoned corpus docs never surface.

    ``broadcast_batch=False`` declares the batch too large to
    broadcast: the hint is dropped from EVERY batch-sized join side —
    the band probe AND the rescore legs (new_side/new_sets) — and AQE
    picks the strategy (ADVICE r13: the rescore used to
    force-broadcast regardless).
    """
    if rescore not in ("estimate", "exact"):
        raise ValueError(f"rescore must be 'estimate' or 'exact', got {rescore!r}")
    if rescore == "exact" and corpus_docs is None:
        raise ValueError("rescore='exact' needs corpus_docs (candidate text re-read)")
    meta, hot = index_state if index_state is not None else load_index_state(spark, path)
    in_col = _input_col(meta, text_col, item_col)

    if batch_pairs is None:
        batch_pairs = _governed_shingles(new_docs, id_col, in_col, meta, hot)
    # else: caller pre-derived the governed (doc, shingle) relation in
    # THIS index's signature space (minhash_index_screen shares one
    # relation across its legs — r12 review: the screen shingled the
    # batch twice). The estimate path reads it once, through the pinned
    # signatures; the exact path reads it again for the candidate sets,
    # so only that path pins it.
    if rescore == "exact":
        batch_pairs = _pin(batch_pairs)
    batch_sig = _pin(
        minhash_signatures(
            batch_pairs, num_perm=meta.num_perm, seed=meta.seed, base_hash=meta.base_hash
        )
    )
    batch_bands = banded_signature_rows(batch_sig, meta.num_perm, meta.band_rows)

    # sigs is read with inference (its doc column has the corpus id's
    # type); bands shares that schema, so its read needs no job
    stored_sig = spark.read.parquet(f"{path}/sigs")
    stored_bands = _read_bands(spark, path, stored_sig, meta)
    if bands_to_probe is not None:
        stored_bands = stored_bands.filter(F.col("band_id") < bands_to_probe)
        batch_bands = batch_bands.filter(F.col("band_id") < bands_to_probe)

    join_keys = ["band_id"] + [f"v{r}" for r in range(meta.band_rows)]
    probe = _maybe_bcast(batch_bands.withColumnRenamed("doc", "new_id"), broadcast_batch)
    cand = (
        stored_bands.withColumnRenamed("doc", "corpus_id")
        .join(probe, join_keys)
        .select("new_id", "corpus_id")
        .distinct()
    )
    if exclude_id_eq:
        cand = cand.where("new_id != corpus_id")
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        cand = cand.join(
            F.broadcast(tomb.withColumnRenamed("tomb_id", "corpus_id")),
            "corpus_id",
            "left_anti",
        )
    # cand feeds the id lists and the rescore join — tiny by the LSH
    # property, and re-deriving it would rerun the band join
    cand = _pin(cand)

    if rescore == "estimate":
        # Each side's signature as ONE array column and n_agree as one
        # SQL sum: spelled per column through the Column API, the
        # rescore took several Py4J round trips per column node, ~3.5K
        # per call at num_perm=32. The candidate pairs carry the batch
        # signature (cand-sized: tiny by the LSH property) and are
        # broadcast into the one scan of the stored signatures.
        p = meta.num_perm
        sig_arr = "array(" + ", ".join(f"h{i}" for i in range(p)) + ")"
        new_side = batch_sig.selectExpr("doc AS new_id", f"{sig_arr} AS _n")
        scored = cand.join(_maybe_bcast(new_side, broadcast_batch), "new_id")
        n_agree = " + ".join(f"CASE WHEN _c[{i}] = _n[{i}] THEN 1 ELSE 0 END" for i in range(p))
        return (
            stored_sig.selectExpr("doc AS corpus_id", f"{sig_arr} AS _c")
            .join(F.broadcast(scored), "corpus_id")
            .selectExpr(
                "new_id",
                "corpus_id",
                f"{n_agree} AS n_agree",
                f"({n_agree}) / {float(p)!r}D AS jaccard_est",
            )
            .where(f"jaccard_est >= {float(threshold)!r}")
        )

    # exact rescore: shingle sets only for candidate docs, both sides
    corpus_ids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    corpus_sets = (
        _governed_shingles(
            corpus_docs.join(F.broadcast(corpus_ids), id_col, "left_semi"),
            id_col,
            in_col,
            meta,
            hot,
        )
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("_ic"))
        .select(F.col("doc").alias("corpus_id"), "_ic")
    )
    new_ids = cand.select(F.col("new_id").alias("doc")).distinct()
    new_sets = (
        batch_pairs.join(F.broadcast(new_ids), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("_in"))
        .select(F.col("doc").alias("new_id"), "_in")
    )
    inter = F.size(F.array_intersect("_in", "_ic"))
    return (
        cand.join(_maybe_bcast(new_sets, broadcast_batch), "new_id")
        .join(corpus_sets, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            inter.alias("n_common"),
            F.size("_in").alias("n_new"),
            F.size("_ic").alias("n_corpus"),
            (inter / (F.size("_in") + F.size("_ic") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_index_screen(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    within_batch: bool = True,
    item_col: str | None = None,
    index_state: tuple | None = None,
    broadcast_batch: bool = True,
) -> DataFrame:
    """SURVIVORS of a batch screened against the indexed corpus —
    the admission decision shared by batch pipelines and the
    streaming gate (``streaming.sinks.near_dedup_gate_writer`` is
    this + an epoch write + an upsert). Three filters, in order:

    1. cross-corpus: docs with a near-dup already IN the index are
       dropped (estimate rescore; hits against the batch's own ids
       are ignored — same-batch pairs are filter 3's decision, and
       under at-least-once replay the batch's survivors are already
       in the index and must not retro-drop each other);
    2. visibility: docs whose governed shingle set is empty (pure
       boilerplate under the hot-shingle governor, null text) are
       dropped — the index could never screen their future copies
       (exact dedup owns them, per the ladder's layering contract);
    3. within-batch (optional): of each near-dup pair inside the
       batch, the higher id is dropped (the SemDeDup one-pass rule,
       exact rescore — text in hand).

    Returns the surviving rows of ``new_docs`` (all columns).
    Deterministic; admitting the result via ``upsert_minhash_index``
    makes the next batch screen against it. ``broadcast_batch=False``
    drops the broadcast hints on every batch-derived join side
    (flagged/visible/loser id lists and the probe inside the
    cross-corpus query), letting AQE decide — same contract as
    ``minhash_index_dedup``.
    """
    meta, hot = index_state if index_state is not None else load_index_state(spark, path)
    in_col = _input_col(meta, text_col, item_col)
    batch_ids = new_docs.select(F.col(id_col)).distinct()

    # ONE governed shingle relation for all three legs (r12 review:
    # the screen previously shingled the batch twice — once inside
    # the cross-corpus query, again for visibility/within-batch)
    rel = _pin(_governed_shingles(new_docs, id_col, in_col, meta, hot))

    hits = minhash_index_dedup(
        spark,
        path,
        new_docs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        rescore="estimate",
        item_col=item_col,
        index_state=(meta, hot),
        batch_pairs=rel,
        broadcast_batch=broadcast_batch,
    )
    flagged = (
        hits.join(
            _maybe_bcast(
                batch_ids.withColumnRenamed(id_col, "corpus_id"), broadcast_batch
            ),
            "corpus_id",
            "left_anti",
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    fresh = new_docs.join(_maybe_bcast(flagged, broadcast_batch), id_col, "left_anti")

    visible = rel.select(F.col("doc").alias(id_col)).distinct()
    fresh = fresh.join(_maybe_bcast(visible, broadcast_batch), id_col, "left_semi")

    if within_batch:
        from .dedup import minhash_set_pairs

        # restrict the shared relation to survivors — the within-batch
        # decision must not see docs the cross-corpus screen dropped
        pairs = minhash_set_pairs(
            rel.join(
                _maybe_bcast(
                    fresh.select(F.col(id_col).alias("doc")).distinct(),
                    broadcast_batch,
                ),
                "doc",
                "left_semi",
            ),
            threshold=threshold,
            num_perm=meta.num_perm,
            band_rows=meta.band_rows,
            seed=meta.seed,
            base_hash=meta.base_hash,
        )
        # doc_a < doc_b by construction: doc_b is the loser
        losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        fresh = fresh.join(_maybe_bcast(losers, broadcast_batch), id_col, "left_anti")
    return fresh


def upsert_minhash_index(
    new_docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    item_col: str | None = None,
    index_state: tuple | None = None,
) -> dict[str, int]:
    """Admit accepted batch docs into the index: signatures/band rows
    computed with the index's frozen parameters + governor state,
    APPENDED to ``sigs/`` and ``bands/`` — O(batch) I/O, no corpus
    rewrite (appending to a band partition adds a file; it does not
    rewrite the partition).

    Id semantics (insert-or-restore, never in-place update): a batch
    id already physically present in the index is NOT re-appended —
    its rows are already there; if it was tombstoned, the tombstone
    is cleared, restoring the stored rows (the delete→re-admit cycle
    of a doc whose content is unchanged). CHANGING a stored doc's
    content requires delete → ``compact_minhash_index`` → upsert:
    band rows live in every band partition, so an in-place update
    would be a full-index rewrite hidden inside an "upsert" — the
    index makes that cost explicit instead. Returns
    ``{"inserted": n, "restored": n}``.
    """
    spark = new_docs.sparkSession
    meta, hot = index_state if index_state is not None else load_index_state(spark, path)
    in_col = _input_col(meta, text_col, item_col)

    # One flag word per id, judged ONCE before any append: bit 1 = in
    # the batch, 2 = stored in sigs, 4 = tombstoned. The stored leg is
    # probed with the batch's ids (batch-sized); the tombstone leg is
    # bounded by the deletes since the last compaction. Pinned: the
    # tallies below materialize it, and the appends and the tombstone
    # rewrite read that snapshot, never the tables they write to. Every
    # pin is batch-scoped and released at scope exit (ADVICE r14: a
    # per-batch gate caller would otherwise pin RDDs per micro-batch
    # forever).
    ids = new_docs.selectExpr(f"`{id_col}` AS doc")
    legs = [
        ids.selectExpr("doc", "1 AS _b"),
        spark.read.parquet(f"{path}/sigs")
        .select("doc")
        .join(F.broadcast(ids), "doc", "left_semi")
        .selectExpr("doc", "2 AS _b"),
    ]
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        legs.append(tomb.selectExpr("tomb_id AS doc", "4 AS _b"))
    flagged = legs[0]
    for leg in legs[1:]:
        flagged = flagged.union(leg)
    with track_pins():
        flags = _pin(flagged.groupBy("doc").agg(F.expr("bit_or(_b) AS _b")))
        # coalesce(1): the global aggregate then needs no exchange of
        # its own, so the tallies are one job
        n = flags.coalesce(1).selectExpr(
            "count_if(_b & 1 = 1) AS batch",
            "count_if(_b & 3 = 3) AS present",
            # "restored" counts only tombstoned AND stored ids, whose
            # stored rows come back into view; a tombstoned-but-absent
            # id is a plain insert, counted once under "inserted"
            "count_if(_b & 7 = 7) AS restored",
            "count_if(_b & 5 = 5) AS cleared",
            "count_if(_b & 5 = 4) AS kept",
        ).collect()[0]

        if n.batch > n.present:
            to_insert = new_docs
            if n.present:
                to_insert = new_docs.join(
                    F.broadcast(flags.where("_b & 2 = 2").select(F.col("doc").alias(id_col))),
                    id_col,
                    "left_anti",
                )
            pairs = _governed_shingles(to_insert, id_col, in_col, meta, hot)
            sig = _pin(
                minhash_signatures(
                    pairs, num_perm=meta.num_perm, seed=meta.seed, base_hash=meta.base_hash
                )
            )
            # bands BEFORE sigs: presence (and therefore re-upsert
            # skipping) is judged from sigs, so a crash between the two
            # appends must leave the doc ABSENT from sigs — the retry
            # then re-appends both, and a duplicated band row is
            # harmless (the query's candidate set is distinct()). The
            # reverse order would strand docs present in sigs but
            # bandless: invisible to queries, yet skipped by every
            # future upsert.
            (
                banded_signature_rows(sig, meta.num_perm, meta.band_rows)
                .write.mode("append")
                .partitionBy("band_id")
                .parquet(f"{path}/bands")
            )
            sig.write.mode("append").parquet(f"{path}/sigs")

        if n.cleared:
            # EVERY upserted id's tombstone must clear — including a
            # tombstoned-but-absent id just INSERTED (e.g. deleted,
            # compacted away, then re-admitted): leaving its tombstone
            # would shield the freshly appended rows from every query
            # (r12 review).
            kept = flags.where("_b & 5 = 4").selectExpr("doc AS tomb_id")
            IS.restore_tombstones(spark, path, kept if n.kept else None)
    return {"inserted": n.batch - n.present, "restored": n.restored}


def delete_from_minhash_index(
    delete_ids: DataFrame, path: str, *, id_col: str = "doc_id"
) -> None:
    """Logically delete docs by appending tombstones — O(batch) I/O,
    applied by every query immediately, reclaimed by compaction.
    Same churn-friendly split as the IVFADC delete lifecycle.

    Entry heals pending swaps first (r13 review): appending to a
    tombstone table whose live copy is set aside mid-restore would
    create a FRESH table that permanently masks the heal — the heal
    would see live-present and never reinstate the ``__restore``
    holding every unrelated tombstone."""
    spark = delete_ids.sparkSession
    IS.heal(spark, path, _TABLES)
    IS.append_tombstones(delete_ids.select(F.col(id_col).alias("tomb_id")), path)


def compact_minhash_index(path: str, spark: SparkSession | None = None) -> int:
    """Physically remove tombstoned docs and drop the tombstone
    table. Returns the number of DOCS removed.

    Unlike IVFADC compaction (rewrites only affected cell
    partitions), every doc has a row in EVERY band partition, so
    this is a full rewrite of ``sigs/`` and ``bands/`` — run it on a
    tombstone-ratio cadence, not per delete. Each table's rewrite
    streams into a sibling directory and is swapped in by rename
    (``index_store.swap`` — the live table is set aside, never
    deleted-before-replaced), so nothing index-sized is pinned in
    executor storage and readers always find a complete table at the
    stable path.

    Crash safety (r12 review): re-running compact after a crash at
    ANY point converges. ``bands`` swaps FIRST and the work-to-do
    probe reads ``sigs`` (swapped LAST), so a crash between the two
    swaps leaves the probe positive and the retry rewrites both
    (re-rewriting already-clean bands is a no-op); tombstones are
    dropped only after both swaps. A crash INSIDE a swap is healed
    on entry by ``index_store.heal``."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    IS.heal(spark, path, _TABLES)
    tomb = IS.tombstones(spark, path)
    if tomb is None:
        return 0
    tomb_docs = tomb.withColumnRenamed("tomb_id", "doc")
    sigs = spark.read.parquet(f"{path}/sigs")
    # removed and total rows in one aggregate (an IN-subquery plans as
    # a broadcast existence join, so a doc tombstoned twice counts once)
    removed, total = (
        sigs.select(F.col("doc").isin(F.broadcast(tomb.select("tomb_id"))).alias("_t"))
        .selectExpr("count_if(_t)", "count(1)")
        .collect()[0]
    )
    if removed:
        emptied = removed == total
        bands = spark.read.parquet(f"{path}/bands")
        for table, stored, part_col in (("bands", bands, "band_id"), ("sigs", sigs, None)):
            kept = stored.join(tomb_docs, "doc", "left_anti")
            tmp = f"{path}/{table}__compact"
            if emptied and part_col:
                # a partitioned write of zero rows leaves no
                # schema-bearing file; pin one empty partition so the
                # table stays readable (same edge as IVFADC compact).
                # That write replaces one partition only: a crashed
                # attempt's staged partitions must go first, or the
                # swap would bring their rows back
                IS.delete(spark, tmp)
                IS.pin_empty_partition(kept, tmp, part_col)
            else:
                writer = kept.write.mode("overwrite")
                if part_col:
                    writer = writer.partitionBy(part_col)
                writer.parquet(tmp)
            IS.swap(spark, tmp, f"{path}/{table}")
    IS.drop_tombstones(spark, path)
    return removed


def minhash_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-band health report: rows, docs, distinct buckets, and the
    largest bucket — the governor dashboard. ``max_bucket`` is the
    candidate-join hot-key bound: a bucket of size s on the corpus
    side contributes s candidates PER MATCHING BATCH ROW, so a
    growing max_bucket (boilerplate drifting past the frozen
    hot-shingle set) is the signal to rebuild with a tighter
    ``max_shingle_freq``. One aggregate over the band table; no text
    is read. Output: band_id, n_docs, n_buckets, max_bucket (live
    docs only — tombstoned rows are excluded, and rows are counted
    DISTINCT per (band, bucket, doc): a retried upsert legitimately
    leaves duplicated band rows (its crash contract), which must not
    inflate the dashboard into spurious rebuild alarms — r12
    review)."""
    IS.heal(spark, path, _TABLES)
    bands = spark.read.parquet(f"{path}/bands")
    # the bucket value columns v0..v{band_rows-1}, from the table itself
    v_cols = [c for c in bands.columns if c not in ("doc", "band_id")]
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        bands = bands.join(
            F.broadcast(tomb.withColumnRenamed("tomb_id", "doc")), "doc", "left_anti"
        )
    buckets = (
        bands.select("doc", "band_id", *v_cols)
        .distinct()
        .groupBy("band_id", *v_cols)
        .agg(F.count(F.lit(1)).alias("_sz"))
    )
    return (
        buckets.groupBy("band_id")
        .agg(
            F.sum("_sz").alias("n_docs"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_sz").alias("max_bucket"),
        )
        .select("band_id", "n_docs", "n_buckets", "max_bucket")
    )
