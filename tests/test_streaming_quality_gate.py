"""Streaming LM quality gate (``sinks.lm_quality_gate_writer``):
model-based perplexity admission with a frozen persisted LM — the
CCNet filter as a stream. Stateless across batches (no index to
mutate), so replay idempotence is structural; the tests pin the
routing (admit / high_ppl / too_short), the epoch layout, and the
real-engine path."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    textclass as TC,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.streaming import (
    sinks as SK,
)

DOC = "doc_id long, text string"
B = 512
GOOD = [
    "alpha beta gamma delta epsilon alpha beta gamma delta epsilon",
    "beta gamma delta epsilon alpha beta gamma delta epsilon alpha",
    "gamma delta epsilon alpha beta gamma delta epsilon alpha beta",
]
BAD = "zzz qqq xxx www yyy zzz qqq xxx www yyy vvv"


def _model(spark, tmp_path, name="lm"):
    ref = spark.createDataFrame(list(enumerate(GOOD)), DOC)
    uni, bi, n = TC.fit_bigram_lm(ref, "doc_id", "text", num_buckets=B)
    path = str(tmp_path / name)
    TC.save_bigram_lm(uni, bi, n, path, num_buckets=B)
    return path


def test_gate_routes_admit_reject_and_short(spark, tmp_path):
    model = _model(spark, tmp_path)
    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")
    # calibrate the threshold from the model itself: in-domain docs
    # score low ppl, OOV docs score near the backoff floor
    write = SK.lm_quality_gate_writer(
        out, model, max_ppl=50.0, reject_path=rej
    )
    batch = spark.createDataFrame(
        [(10, GOOD[0]), (11, BAD), (12, "single"), (13, None)], DOC
    )
    write(batch, 0)
    admitted = spark.read.parquet(out)
    assert {r.doc_id for r in admitted.collect()} == {10}
    assert "ppl" in admitted.columns  # margin kept for downstream
    rejected = {r.doc_id: r.reject_reason for r in spark.read.parquet(rej).collect()}
    assert rejected == {11: "high_ppl", 12: "too_short", 13: "too_short"}

    # at-least-once replay: same committed state, no duplicate rows
    write(batch, 0)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {10}
    assert spark.read.parquet(out).count() == 1
    assert spark.read.parquet(rej).count() == 3


def test_gate_knobs_derive_from_model_meta(spark, tmp_path):
    """The writer must score with the MODEL's num_buckets/base_hash
    (meta), not defaults: an md5/B-bucket model scored with the
    default 65536/xxhash64 space would mis-bucket every transition
    and admit garbage."""
    ref = spark.createDataFrame(list(enumerate(GOOD)), DOC)
    uni, bi, n = TC.fit_bigram_lm(ref, "doc_id", "text", num_buckets=B, base_hash="md5")
    path = str(tmp_path / "lm_md5")
    TC.save_bigram_lm(uni, bi, n, path, num_buckets=B, base_hash="md5")
    out = str(tmp_path / "out")
    SK.lm_quality_gate_writer(out, path, max_ppl=50.0)(
        spark.createDataFrame([(1, GOOD[1]), (2, BAD)], DOC), 0
    )
    got = {r.doc_id: r.ppl for r in spark.read.parquet(out).collect()}
    assert set(got) == {1}
    # and the attached ppl equals the direct batch operator's
    direct = TC.lm_score_docs(
        spark.createDataFrame([(1, GOOD[1])], DOC),
        uni, bi, n, "doc_id", "text", num_buckets=B, base_hash="md5",
    ).first()
    assert got[1] == direct.ppl


def test_gate_through_real_streaming_engine(spark, tmp_path):
    model = _model(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, GOOD[0]), (2, BAD)], DOC).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame([(3, GOOD[2]), (4, "x")], DOC).coalesce(1).write.parquet(
        str(src / "f2")
    )
    out, rej = str(tmp_path / "gate_out"), str(tmp_path / "gate_rej")
    stream = (
        spark.readStream.schema(DOC)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            SK.lm_quality_gate_writer(out, model, max_ppl=50.0, reject_path=rej)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}
    rejected = {r.doc_id: r.reject_reason for r in spark.read.parquet(rej).collect()}
    assert rejected == {2: "high_ppl", 4: "too_short"}
    assert spark.read.parquet(out).select("_epoch").distinct().count() == 2


def test_model_refit_crash_safety(spark, tmp_path):
    """A refit at the same path stages into {path}__build and swaps
    whole — a crash inside the swap self-heals at the next load, and
    a crash before the swap leaves the old generation intact (the
    band-index rebuild contract, shared machinery)."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
        index_store as IS,
    )

    ref1 = spark.createDataFrame([(1, GOOD[0])], DOC)
    ref2 = spark.createDataFrame([(2, BAD)], DOC)
    path = str(tmp_path / "lm_gen")
    u1, b1, n1 = TC.fit_bigram_lm(ref1, "doc_id", "text", num_buckets=B)
    TC.save_bigram_lm(u1, b1, n1, path, num_buckets=B)
    # crash BEFORE the swap: partial __build (uni only, no meta)
    u2, b2, n2 = TC.fit_bigram_lm(ref2, "doc_id", "text", num_buckets=B)
    u2.write.parquet(f"{path}__build/uni")
    _, _, meta = TC.load_bigram_lm(spark, path)
    assert meta.n_tokens == n1  # old generation intact
    # a clean refit clears the debris and swaps
    TC.save_bigram_lm(u2, b2, n2, path, num_buckets=B)
    _, _, meta = TC.load_bigram_lm(spark, path)
    assert meta.n_tokens == n2
    # crash INSIDE the swap: store set aside, no finished build
    fs, Path = IS._fs(spark, path)
    assert fs.rename(Path(path), Path(f"{path}__old"))
    _, _, meta = TC.load_bigram_lm(spark, path)  # heals on entry
    assert meta.n_tokens == n2


def test_gate_releases_batch_checkpoints(spark, tmp_path):
    """Block-manager hygiene (ADVICE r14): the per-batch eager
    localCheckpoint of the scored relation must be unpersisted once
    both epoch writes land — a long-running stream would otherwise
    pin one checkpoint RDD per micro-batch forever. The two
    model-table pins from writer construction are lifetime-scoped by
    design and form the baseline."""
    model = _model(spark, tmp_path, "lm_unp")
    out, rej = str(tmp_path / "out_unp"), str(tmp_path / "rej_unp")
    write = SK.lm_quality_gate_writer(out, model, max_ppl=50.0, reject_path=rej)

    def _ids():
        # id SET, not count: the async ContextCleaner may reclaim
        # other tests' dead pins mid-test, shrinking a raw count
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in jmap.keySet().toArray()}

    base = _ids()
    for b in range(3):
        write(spark.createDataFrame([(100 + b, GOOD[0]), (200 + b, BAD)], DOC), b)
    leaked = _ids() - base
    assert not leaked, f"batches left pinned RDDs: {leaked}"
