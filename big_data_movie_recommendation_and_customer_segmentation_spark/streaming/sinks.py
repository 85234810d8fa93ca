"""Exactly-once streaming sinks via ``foreachBatch`` (north-star
extension; the reference has no streaming — SURVEY §2.I).

Structured Streaming's ``foreachBatch`` delivers each micro-batch
with a monotonically-increasing ``batch_id``, but the delivery is
AT-LEAST-once: after a failure the same (batch_id, data) pair can be
re-delivered. An exactly-once parquet sink therefore has to make the
write a pure function of ``batch_id`` — replaying a batch must
overwrite its own previous (possibly partial) output and nothing
else.

The implementation: write each batch under an ``_epoch=<id>``
partition with ``partitionOverwriteMode=dynamic``, so a replay
replaces exactly the one epoch directory atomically at commit time
while every other epoch's files are untouched. Readers see the union
of committed epochs (a plain partitioned parquet scan that prunes on
``_epoch`` if queried).

100 TB shape: each epoch commit is an independent partitioned write
(no global coordination beyond the directory rename); compaction of
many small epochs is the standard follow-up job (read N epochs,
``write_range_clustered``, swap) — deliberately out of band, as in
production lakehouse pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import index_store as IS

EPOCH_COL = "_epoch"


def idempotent_epoch_writer(path: str):
    """Return a ``foreachBatch`` function writing each micro-batch to
    ``path/_epoch=<batch_id>/`` such that re-delivery of a batch id
    is idempotent (same rows → same committed state, partial output
    from a failed attempt is replaced, other epochs untouched)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # per-WRITE dynamic overwrite, not a session-conf save/set/
        # restore: the session conf raced with concurrent queries in
        # the same SparkSession (a static-mode overwrite running while
        # this held 'dynamic' silently lost its full-directory
        # replace — r9 review)
        (
            batch_df.withColumn(EPOCH_COL, F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(EPOCH_COL)
            .parquet(path)
        )

    return write_batch


def attach_idempotent_sink(stream: DataFrame, path: str, checkpoint_dir: str):
    """Wire the idempotent epoch writer onto a streaming DataFrame:
    ``writeStream.foreachBatch(...)`` with a checkpoint location, so
    batch ids survive restarts and replays hit the same epoch dirs.

    Returns the un-started ``DataStreamWriter`` (callers pick
    trigger/availableNow and manage the query lifecycle)."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(idempotent_epoch_writer(path))
    )


def read_epochs(spark, path: str) -> DataFrame:
    """Read everything the idempotent sink has committed (all epochs,
    ``_epoch`` exposed as a long column for pruning/audit)."""
    return spark.read.parquet(path).withColumn(
        EPOCH_COL, F.col(EPOCH_COL).cast("long")
    )


def compact_epochs(
    spark,
    sink_path: str,
    out_path: str,
    cluster_by: tuple[str, ...],
    *,
    num_files: int | None = None,
) -> int:
    """The out-of-band compaction job the epoch sink's small-file
    growth calls for: read every committed epoch, drop the epoch
    column, and rewrite ONCE through the range-clustered sink
    (``sources.io.write_range_clustered``) so the compacted copy gets
    the data-skipping layout streaming appends can't maintain.
    Returns the row count written.

    Compaction writes to a NEW path and leaves the sink untouched —
    the swap (repoint readers, expire the old prefix) is the
    caller's atomic step, keeping the job restartable at any point.
    """
    from ..sources.io import write_range_clustered

    df = read_epochs(spark, sink_path).drop(EPOCH_COL)
    write_range_clustered(df, out_path, cluster_by, num_files=num_files)
    return spark.read.parquet(out_path).count()


def dedup_append_writer(path: str, id_col: str):
    """Return a ``foreachBatch`` function implementing CROSS-BATCH
    exact dedup against a persistent parquet index: each micro-batch
    drops rows whose ``id_col`` already exists in ANY previously
    committed epoch, dedups within itself (first row per id in id
    order), and appends the survivors under its own ``_epoch``
    partition — continuous corpus ingestion where a document is
    admitted exactly once across the stream's whole lifetime.

    Idempotence falls out of the semantics: a replayed batch finds
    its own ids already committed and appends nothing new after the
    epoch overwrite replaces its previous output (the epoch dir is
    rewritten with the same survivors — a pure function of batch_id
    given the committed prefix).

    State story at 100 TB: the "index" IS the committed data — no
    second store to keep consistent; the anti-join reads only
    ``id_col`` (column pruning) from prior epochs. When the id scan
    gets hot, compact epochs into a range-clustered layout on the id
    (``compact_epochs`` + ``write_range_clustered``) so the
    anti-join prunes row groups. Contrast with
    ``dropDuplicatesWithinWatermark``: that bounds state by TIME and
    forgets; this is the unbounded exact membership the corpus-dedup
    contract actually needs.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.sql import Window

        # Explicit existence probe instead of catching
        # AnalysisException around the whole anti-join build: the
        # broad catch also swallowed real analysis errors (schema
        # drift, renamed id column) and silently disabled cross-batch
        # dedup — exactly-once admission failed open (r9 review).
        # The probe must see COMMITTED data, not just the directory:
        # a failed first-epoch attempt can leave ``path`` holding only
        # ``_temporary``, and reading that raises "unable to infer
        # schema" on every retry — permanently wedging the stream
        # (r10 advice). Glob for epoch-partitioned parquet files so an
        # empty/aborted sink is treated as "nothing committed yet"
        # while real analysis errors from the anti-join (schema drift,
        # renamed id column) still propagate.
        base = path.rstrip("/")
        committed = IS.exists(spark, path) and IS.any_file(
            spark,
            f"{base}/{EPOCH_COL}=*/*.parquet",  # this sink's layout
            f"{base}/*.parquet",  # foreign/unpartitioned data
        )
        fresh = batch_df
        if committed:
            seen = (
                spark.read.parquet(path)
                .filter(F.col(EPOCH_COL) != int(batch_id))
                .select(id_col)
            )
            fresh = batch_df.join(seen, id_col, "left_anti")
        # deterministic within-batch winner: order duplicate ids by
        # full row content, not arrival order (which shuffles freely)
        w = Window.partitionBy(id_col).orderBy(
            *[F.col(c) for c in batch_df.columns]
        )
        survivors = (
            fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # the epoch write IS idempotent_epoch_writer's — one
        # implementation, not a pasted copy (r9 review)
        idempotent_epoch_writer(path)(survivors, batch_id)

    return write_batch


def near_dedup_gate_writer(
    out_path: str,
    index_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    within_batch: bool = True,
):
    """Return a ``foreachBatch`` function implementing CROSS-BATCH
    NEAR-dup admission against a persisted MinHash band index
    (``operators.dedup_index``): each micro-batch is (1) screened
    against the index — any doc with a near-dup already ADMITTED to
    the corpus is dropped, (2) optionally near-dedup'd within itself
    (drop every doc with a lower-id near-dup batch-mate — the
    SemDeDup one-pass rule), (3) its survivors written under their
    own ``_epoch`` partition AND upserted into the index, so the
    NEXT batch screens against them. The streaming completion of the
    incremental-dedup story: exact membership is
    ``dedup_append_writer``; this is the same contract at
    near-duplicate granularity.

    Signature space: every leg (cross-batch screen, within-batch
    pairs, upsert) derives its parameters and governor state from the
    INDEX — one frozen space for the stream's whole lifetime. The
    cross-batch leg uses the estimate rescore (stored-signature
    agreement: a stream cannot re-read corpus text); the within-batch
    leg rescores exactly (its text is in hand).

    Idempotence under at-least-once replay: the epoch overwrite
    replaces the batch's own previous output; the upsert skips ids
    already present; and the cross-batch screen IGNORES hits whose
    corpus id is in the current batch — on a replay the batch's own
    survivors are already in the index and would otherwise
    estimate-match each other, retro-dropping docs the first attempt
    admitted (same-batch pairs are the within-batch leg's decision,
    made with the exact rescore, and replaying that leg repeats the
    identical decision). Replay after a crash at ANY point between
    the two writes therefore converges to the same committed state
    (the upsert's bands-before-sigs ordering makes its own partial
    state re-admittable). One documented edge: re-USING an admitted
    doc's id for different content makes that id's pairs the
    within-batch leg's call rather than the screen's — id reuse with
    changed content is outside the upsert contract anyway
    (delete → compact → re-admit).

    Admission requires visibility: a doc whose GOVERNED shingle set
    is empty (pure boilerplate under the index's hot-shingle
    governor, null/whitespace text) produces no signature state, so
    the index could never screen its future copies — each would be
    admitted again, forever. The gate refuses such docs instead
    (boilerplate belongs to exact dedup upstream — the ladder's
    layering contract).

    100 TB shape: per batch, the index side is a broadcast-probed
    band scan + candidate-bounded signature reads — no corpus
    re-read, no corpus shuffle; the index grows by exactly the
    admitted survivors.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from ..operators import dedup_index as DI
        from ..operators.relational import track_pins

        # index parameters + governor state read ONCE per batch and
        # threaded through both legs (r12 review: per-leg meta/hot
        # reads on the job-latency-bound gate path)
        state = DI.load_index_state(spark, index_path)
        # every internal pin the screen creates this batch (shingle
        # relation, batch signatures, candidate set — some nested
        # inside other checkpoints' lineage) is released at scope
        # exit, keeping the block manager flat across micro-batches
        # (ADVICE r14)
        with track_pins():
            # the admission decision is the shared batch operator —
            # the gate adds only the epoch write and the upsert
            fresh = DI.minhash_index_screen(
                spark,
                index_path,
                batch_df,
                id_col=id_col,
                text_col=text_col,
                threshold=threshold,
                within_batch=within_batch,
                index_state=state,
            )
            # survivors feed the epoch write AND the upsert; eager pin
            # so the screen runs once and both writes see identical
            # rows. persist (not localCheckpoint): a checkpoint RDD's
            # blocks outlive DataFrame.unpersist() — cached queries
            # release cleanly, and no lineage truncation is needed for
            # a single-pass batch
            fresh = fresh.persist()
            fresh.count()
            try:
                # output first (the sink contract), index second —
                # replay converges either way, but a reader of
                # out_path must never see docs the index doesn't know
                # about for longer than one retry window
                idempotent_epoch_writer(out_path)(fresh, batch_id)
                DI.upsert_minhash_index(
                    fresh,
                    index_path,
                    id_col=id_col,
                    text_col=text_col,
                    index_state=state,
                )
            finally:
                fresh.unpersist()

    return write_batch


def lm_quality_gate_writer(
    out_path: str,
    model_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ppl: float = 1000.0,
    reject_path: str | None = None,
    backoff: float = 0.4,
    manifest_path: str | None = None,
):
    """Return a ``foreachBatch`` function implementing MODEL-BASED
    quality admission (the CCNet perplexity filter as a stream): each
    micro-batch is scored against a persisted Stupid Backoff LM
    (``operators.textclass.save_bigram_lm``), docs with
    ``ppl <= max_ppl`` are written under their own ``_epoch``
    partition (original columns + ``ppl`` — downstream wants the
    margin), the rest go to ``reject_path`` (if given) with a
    ``reject_reason`` audit column.

    The model is FROZEN for the stream's lifetime: knobs
    (num_buckets, base_hash, n_tokens) derive from the model's meta —
    never the caller — and the bounded count tables are eagerly
    pinned ONCE at writer construction, so per-batch cost is the
    batch's own transition explode + broadcast joins (no model
    re-read, no state that grows: unlike the near-dedup gate there is
    no upsert, which is what makes this gate trivially idempotent
    under at-least-once replay — scoring is a pure function of
    (model, batch), and the epoch overwrite replaces the batch's own
    previous output).

    Unjudgeable docs (<2 tokens: no transitions to score) are
    REFUSED, not admitted — the admitted corpus stays fully scored,
    and the ladder's layering contract routes short docs through the
    unigram/exact legs upstream (the near-dedup gate's
    invisible-doc rule, one tier up). Id uniqueness within a batch is
    likewise upstream's contract (compose ``dedup_append_writer``
    before this gate): duplicate ids pool their transitions into ONE
    score applied to every duplicate row.

    ``manifest_path`` (r15): when given, every batch ALSO lands one
    ``operators.lineage`` row under the same epoch discipline —
    (slice_id = the batch id, counts, content/admitted fingerprints,
    ``lm_model_fp`` = the frozen model's content fingerprint plus the
    ``lm_max_ppl`` threshold) — the decontam gate's lineage leg, one
    gate over. Model fingerprint computed ONCE at construction (the
    model is frozen for the stream); the epoch overwrite keeps
    replays duplicate-free.
    """
    from pyspark.sql import SparkSession

    from ..operators import textclass as TC

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "lm_quality_gate_writer loads the frozen model at construction "
            "time — build the writer with an active SparkSession"
        )
    model_fp = (
        TC.lm_model_fingerprint(spark, model_path)
        if manifest_path is not None
        else None
    )
    uni, bi, meta = TC.load_bigram_lm(spark, model_path)
    # bounded tables (≤ num_buckets rows) pinned once for the whole
    # stream — every batch broadcasts them without re-reading parquet
    uni = uni.localCheckpoint(eager=True)
    bi = bi.localCheckpoint(eager=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the decision relation is the SHARED batch operator
        # (``textclass.lm_admission_routing`` — also the registry's
        # ``lm_gate_admissions`` batch twin), so the stream cannot
        # drift from the oracle-checked routing semantics
        routing = TC.lm_admission_routing(
            batch_df,
            uni,
            bi,
            meta.n_tokens,
            id_col,
            text_col,
            max_ppl=max_ppl,
            num_buckets=meta.num_buckets,
            base_hash=meta.base_hash,
            backoff=backoff,
        ).withColumnRenamed("doc", id_col)
        # one scoring job feeds the admit and reject writes; persist
        # (not localCheckpoint) so the finally-unpersist actually
        # releases the blocks (ADVICE r14)
        routing = routing.persist()
        routing.count()
        try:
            admitted = batch_df.join(
                F.broadcast(
                    routing.filter(F.col("decision") == "admit").select(id_col, "ppl")
                ),
                id_col,
            )
            idempotent_epoch_writer(out_path)(admitted, batch_id)
            if reject_path is not None:
                rejected = batch_df.join(
                    F.broadcast(
                        routing.filter(F.col("decision") == "reject").select(
                            id_col, "ppl", "reject_reason"
                        )
                    ),
                    id_col,
                )
                idempotent_epoch_writer(reject_path)(rejected, batch_id)
            if manifest_path is not None:
                from ..operators import lineage as LN

                tag = F.lit(str(batch_id))
                entry = LN.slice_lineage_manifest(
                    batch_df.withColumn("_slice", tag),
                    admitted.withColumn("_slice", tag),
                    slice_col="_slice",
                    id_col=id_col,
                    text_col=text_col,
                    provenance={
                        "lm_max_ppl": str(max_ppl),
                        "lm_model_fp": model_fp,
                    },
                ).withColumn("run_id", F.lit(int(batch_id)))
                idempotent_epoch_writer(manifest_path)(entry, batch_id)
        finally:
            # batch-scoped cache: release once both epoch writes
            # land, else a long-running stream grows the block
            # manager without bound (ADVICE r14)
            routing.unpersist()

    return write_batch


def decontam_gate_writer(
    out_path: str,
    index_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
    reject_path: str | None = None,
    manifest_path: str | None = None,
):
    """Return a ``foreachBatch`` function implementing BENCHMARK
    decontamination as a stream (the third gate in the admission
    ladder: exact/near dedup → decontamination → LM quality): each
    micro-batch is screened against a persisted benchmark n-gram
    index (``operators.decontam_index``), docs colliding with
    ``>= min_hits`` stored grams are dropped, survivors are written
    under their own ``_epoch`` partition; rejects (if ``reject_path``
    is given) carry the full collision audit (n_hits, n_grams,
    n_benchmarks, containment).

    Like the LM gate — and unlike the near-dedup gate — the stream
    never mutates the index (benchmarks are curated out of band via
    ``upsert_decontam_index``/``delete_benchmark_from_index``), so
    replay idempotence is structural: screening is a pure function of
    (index generation, batch), and the epoch overwrite replaces the
    batch's own previous output. Gram geometry derives from the
    index's meta; per-batch cost is the batch's own explode +
    broadcast join (the bounded gram table broadcasts — benchmark
    suites are MBs against any corpus).

    ``manifest_path`` (r15): when given, every batch ALSO lands one
    ``operators.lineage`` row under the same epoch discipline —
    (slice_id = the batch id, n_docs, content_fp, n_admitted,
    admitted_fp, decontam_fp, run_id = batch id) — so the stream
    builds its own cross-run provenance log as it admits data:
    ``stale_screenings(spark, manifest_path, {"decontam_fp": live})``
    later yields exactly the batches that predate a benchmark change.
    The index fingerprint is computed ONCE (first batch) and reused —
    the index is frozen for the stream's lifetime; the manifest write
    is epoch-overwritten, so replays update their own row instead of
    appending duplicates."""
    from ..operators import decontam_index as DC

    _fp_cache: list[str] = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.relational import track_pins

        spark = batch_df.sparkSession
        # the overlap probe pins its internal hits aggregate (ADVICE
        # r14 — one corpus-gram evaluation per call); the scope
        # releases that pin at batch end so the block manager stays
        # flat across micro-batches
        with track_pins():
            overlaps = DC.decontam_index_overlaps(
                spark, index_path, batch_df, id_col=id_col, text_col=text_col
            ).withColumnRenamed("doc", id_col)
            # one screening job feeds the survivor and reject writes;
            # persist (not localCheckpoint) so the finally-unpersist
            # actually releases the blocks (ADVICE r14)
            overlaps = overlaps.persist()
            overlaps.count()
            try:
                flagged = overlaps.filter(F.col("n_hits") >= min_hits)
                survivors = batch_df.join(
                    F.broadcast(flagged.select(id_col)), id_col, "left_anti"
                )
                idempotent_epoch_writer(out_path)(survivors, batch_id)
                if reject_path is not None:
                    rejected = batch_df.join(F.broadcast(flagged), id_col)
                    idempotent_epoch_writer(reject_path)(rejected, batch_id)
                if manifest_path is not None:
                    from ..operators import lineage as LN

                    if not _fp_cache:
                        _fp_cache.append(
                            DC.decontam_index_fingerprint(spark, index_path)
                        )
                    tag = F.lit(str(batch_id))
                    entry = LN.slice_lineage_manifest(
                        batch_df.withColumn("_slice", tag),
                        survivors.withColumn("_slice", tag),
                        slice_col="_slice",
                        id_col=id_col,
                        text_col=text_col,
                        provenance={"decontam_fp": _fp_cache[0]},
                    ).withColumn("run_id", F.lit(int(batch_id)))
                    idempotent_epoch_writer(manifest_path)(entry, batch_id)
            finally:
                overlaps.unpersist()

    return write_batch
