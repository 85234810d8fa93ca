"""Persisted MinHash band index (incremental dedup lifecycle).

A new batch checked against a stored corpus index must (a) reproduce
the in-session batch miner's cross pairs exactly under the exact
rescore, (b) reproduce a DuckDB-recomputed signature-agreement
estimate bit-for-bit under the md5 base hash, (c) prune the band
scan under ``bands_to_probe`` (PartitionFilters), and (d) honor the
delete → restore → compact lifecycle with parameters and governor
state derived from the index, never the caller."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    dedup_index as DI,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    index_store as IS,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table

THRESH = 0.5
BATCH_JOBS, COMPACT_JOBS = 20, 10
# recorded before the probe/upsert/compact plans were rewritten
PINNED_BATCHES = [
    ({329, 360, 369, 391}, {"inserted": 96, "restored": 0}),
    ({404, 411, 425, 428, 436, 450, 459, 467, 487}, {"inserted": 91, "restored": 0}),
]
PINNED_FINGERPRINT = "0a4b564504ee6e64"


def _split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d, d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    """Read-only index over the even-id half (xxhash64, ungoverned) —
    shared by the non-mutating tests; mutating tests build their own."""
    d, old, new = _split(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("mhidx") / "idx")
    DI.build_minhash_index(old, path, n=3, num_perm=32, band_rows=2, seed=42)
    return path, d, old, new


def _norm_pairs(rows):
    return {
        (min(r[0], r[1]), max(r[0], r[1]), r.n_common, round(r.jaccard, 6))
        for r in rows
    }


def test_exact_rescore_matches_batch_miner_cross_pairs(spark, built):
    """Index dedup (exact rescore) == the batch miner over old∪new,
    restricted to pairs crossing the split: signatures are per-doc,
    so a split corpus and a joint corpus band identically."""
    path, d, old, new = built
    got = DI.minhash_index_dedup(
        spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
    ).collect()
    full = DD.minhash_duplicate_pairs(
        spark, d, "doc_id", "text", n=3, threshold=THRESH,
        num_perm=32, band_rows=2, seed=42,
    ).collect()
    want = {
        (r.doc_a, r.doc_b, r.n_common, round(r.jaccard, 6))
        for r in full
        if (r.doc_a % 2) != (r.doc_b % 2)
    }
    assert len(got) > 0  # testdata plants cross near-dups at every SF
    assert _norm_pairs(got) == want
    # the exact contract also carries per-side set sizes
    assert all(r.n_new > 0 and r.n_corpus > 0 for r in got)


def test_estimate_rescore_matches_duckdb_signature_agreement(
    spark, sf_dir, tmp_path, duck
):
    """md5 base hash ⇒ the WHOLE estimate path (base hash → seeded
    universal-hash signatures → banded cross candidates → agreement
    fraction) is recomputable in DuckDB and must agree bit-for-bit."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans.queries_ext import (
        _MH_SIG_COLS,
        _NTOKS,
    )

    d, old, new = _split(spark, sf_dir)
    path = str(tmp_path / "mh_md5")
    DI.build_minhash_index(
        old, path, n=3, num_perm=32, band_rows=2, seed=42, base_hash="md5"
    )
    got = {
        (r.new_id, r.corpus_id, r.n_agree)
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=0.4, rescore="estimate"
        ).collect()
    }

    bands_sql = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, h{2 * b} AS v0, h{2 * b + 1} AS v1 FROM sig"
        for b in range(16)
    )
    agree_sql = " + ".join(f"(a.h{i} = b.h{i})::INT" for i in range(32))
    want = {
        tuple(r)
        for r in duck.execute(
            f"""
    WITH t AS (SELECT doc_id, {_NTOKS} AS toks FROM documents),
    sh_str AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END) AS s
      FROM t
    ),
    hashed AS (
      SELECT DISTINCT doc_id,
             (('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS h
      FROM sh_str
    ),
    sig AS (SELECT doc_id, {_MH_SIG_COLS} FROM hashed GROUP BY doc_id),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bands n JOIN bands c
        ON n.band_id = c.band_id AND n.v0 = c.v0 AND n.v1 = c.v1
      WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    )
    SELECT new_id, corpus_id, {agree_sql} AS n_agree
    FROM cand JOIN sig a ON a.doc_id = new_id JOIN sig b ON b.doc_id = corpus_id
    WHERE ({agree_sql}) / 32.0 >= 0.4
    """
        ).fetchall()
    }
    assert len(want) > 0
    assert got == want


def test_bands_to_probe_prunes_partitions_and_bounds_recall(
    spark, built, unpinned
):
    path, d, old, new = built
    # pins print as Scan ExistingRDD and hide the band scan; build the
    # asserted plan with its whole lineage
    with unpinned():
        probed = DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old,
            bands_to_probe=4,
        )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    part_filters = [s.split("]")[0] for s in plan.split("PartitionFilters: ")[1:]]
    assert any("band_id" in pf for pf in part_filters), part_filters

    full = DI.minhash_index_dedup(
        spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
    )
    sub = {(r.new_id, r.corpus_id) for r in probed.collect()}
    sup = {(r.new_id, r.corpus_id) for r in full.collect()}
    assert sub <= sup  # fewer bands only ever lowers recall


def test_delete_restore_compact_lifecycle(spark, sf_dir, tmp_path):
    d, old, new = _split(spark, sf_dir)
    path = str(tmp_path / "mh_life")
    DI.build_minhash_index(old, path, n=3, num_perm=32, band_rows=2, seed=42)

    base = {
        (r.new_id, r.corpus_id)
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
        ).collect()
    }
    victim = sorted(base)[0][1]  # a corpus doc involved in a pair

    DI.delete_from_minhash_index(
        spark.createDataFrame([(victim,)], "doc_id long"), path
    )
    after_del = {
        (r.new_id, r.corpus_id)
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
        ).collect()
    }
    assert after_del == {p for p in base if p[1] != victim}

    # re-admitting the unchanged doc clears its tombstone (restore)
    res = DI.upsert_minhash_index(old.filter(F.col("doc_id") == victim), path)
    assert res == {"inserted": 0, "restored": 1}
    restored = {
        (r.new_id, r.corpus_id)
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
        ).collect()
    }
    assert restored == base

    # delete again, compact: physically gone, tombstones dropped
    DI.delete_from_minhash_index(
        spark.createDataFrame([(victim,)], "doc_id long"), path
    )
    n_before = spark.read.parquet(f"{path}/sigs").count()
    assert DI.compact_minhash_index(path, spark) == 1
    assert spark.read.parquet(f"{path}/sigs").count() == n_before - 1
    assert IS.tombstones(spark, path) is None
    after_compact = {
        (r.new_id, r.corpus_id)
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
        ).collect()
    }
    assert after_compact == after_del


def test_upsert_equals_joint_build(spark, sf_dir, tmp_path):
    """build(old) + upsert(new) must hold the same signature rows as
    build(old ∪ new) — the incremental path lands in the identical
    signature space (frozen meta params), so the stored state
    converges to the one-shot build's."""
    d, old, new = _split(spark, sf_dir)
    inc, joint = str(tmp_path / "inc"), str(tmp_path / "joint")
    DI.build_minhash_index(old, inc, n=3, num_perm=32, band_rows=2, seed=42)
    res = DI.upsert_minhash_index(new, inc)
    assert res["restored"] == 0 and res["inserted"] == new.count()
    # idempotent: re-upserting the same batch appends nothing
    assert DI.upsert_minhash_index(new, inc) == {"inserted": 0, "restored": 0}

    DI.build_minhash_index(d, joint, n=3, num_perm=32, band_rows=2, seed=42)
    cols = spark.read.parquet(f"{joint}/sigs").columns
    got = {tuple(r) for r in spark.read.parquet(f"{inc}/sigs").select(cols).collect()}
    want = {tuple(r) for r in spark.read.parquet(f"{joint}/sigs").select(cols).collect()}
    assert got == want
    gb = {tuple(r) for r in spark.read.parquet(f"{inc}/bands").select("doc", "band_id", "v0", "v1").collect()}
    wb = {tuple(r) for r in spark.read.parquet(f"{joint}/bands").select("doc", "band_id", "v0", "v1").collect()}
    assert gb == wb


def test_build_is_independent_of_input_partitioning(spark, sf_dir, tmp_path):
    """The build shingles and signs the corpus as it arrives: one
    input partition or four, the stored index (signatures, bands and
    governor set) must have the identical content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    prints = set()
    for nparts in (1, 4):
        path = str(tmp_path / f"p{nparts}")
        DI.build_minhash_index(
            d.repartition(nparts), path, n=3, num_perm=32, band_rows=2, seed=42,
            max_shingle_freq=5,
        )
        prints.add(DI.minhash_index_fingerprint(spark, path))
    assert len(prints) == 1, prints


def test_governor_state_is_part_of_the_index(spark, tmp_path):
    """A governed index persists its hot-shingle set, and the batch
    side drops the SAME shingles: a batch doc identical to a corpus
    doc must estimate jaccard 1.0 (same governed signature space),
    and a doc made ENTIRELY of boilerplate vanishes from the index's
    view instead of becoming a hot band key."""
    boiler = "subscribe to our newsletter for updates today"
    corpus = spark.createDataFrame(
        [(i, f"{boiler} unique content piece number {i} alpha beta") for i in range(10)]
        + [(100, "a genuinely distinct document about sparrows and rivers flowing")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "gov")
    DI.build_minhash_index(
        corpus, path, n=3, num_perm=32, band_rows=2, seed=42, max_shingle_freq=5
    )
    hot = DI._hot_shingles(spark, path)
    assert hot is not None and hot.count() > 0

    batch = spark.createDataFrame(
        [
            (200, "a genuinely distinct document about sparrows and rivers flowing"),
            (201, boiler),  # pure boilerplate: every shingle is hot
        ],
        "doc_id long, text string",
    )
    got = DI.minhash_index_dedup(spark, path, batch, threshold=0.9, rescore="estimate")
    rows = got.collect()
    assert {(r.new_id, r.corpus_id) for r in rows} == {(200, 100)}
    assert rows[0].jaccard_est == 1.0  # identical governed shingle sets


def test_empty_batch_and_self_id_exclusion(spark, built):
    path, d, old, new = built
    empty = new.limit(0)
    assert (
        DI.minhash_index_dedup(spark, path, empty, rescore="exact", corpus_docs=old)
        .count()
        == 0
    )
    assert DI.minhash_index_dedup(spark, path, empty, rescore="estimate").count() == 0
    # a re-crawl of an indexed doc id must not match itself…
    recrawl = old.limit(5)
    self_pairs = (
        DI.minhash_index_dedup(spark, path, recrawl, threshold=0.99, rescore="estimate")
        .filter(F.col("new_id") == F.col("corpus_id"))
        .count()
    )
    assert self_pairs == 0
    # …but with exclude_id_eq=False it trivially does (est == 1.0)
    self_hits = DI.minhash_index_dedup(
        spark, path, recrawl, threshold=0.99, rescore="estimate", exclude_id_eq=False
    ).filter(F.col("new_id") == F.col("corpus_id"))
    assert self_hits.count() == 5


def test_rescore_validation_and_stats(spark, built):
    path, d, old, new = built
    with pytest.raises(ValueError, match="rescore"):
        DI.minhash_index_dedup(spark, path, new, rescore="nope")
    with pytest.raises(ValueError, match="corpus_docs"):
        DI.minhash_index_dedup(spark, path, new, rescore="exact")

    stats = DI.minhash_index_stats(spark, path)
    rows = {r.band_id: r for r in stats.collect()}
    n_old = old.count()
    assert set(rows) == set(range(16))  # 32 perms / 2 rows per band
    for r in rows.values():
        assert r.n_docs == n_old  # one row per live doc per band
        assert 1 <= r.max_bucket <= n_old
        assert r.n_buckets <= n_old


def test_compact_to_empty_keeps_tables_readable(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(1, "one tiny document here"), (2, "another tiny document there")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_empty")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(corpus.select("doc_id"), path)
    assert DI.compact_minhash_index(path, spark) == 2
    assert spark.read.parquet(f"{path}/sigs").count() == 0
    assert spark.read.parquet(f"{path}/bands").count() == 0
    batch = spark.createDataFrame([(9, "one tiny document here")], "doc_id long, text string")
    assert DI.minhash_index_dedup(spark, path, batch, rescore="estimate").count() == 0
    # and the emptied index accepts new docs again
    assert DI.upsert_minhash_index(batch, path)["inserted"] == 1


def test_aborted_upsert_retry_is_recoverable(spark, tmp_path):
    """Crash contract: upsert appends bands BEFORE sigs, so an abort
    between the two leaves the doc absent from sigs — the retry
    re-admits it (re-appending both), and the duplicated band rows
    are harmless because the query's candidate set is distinct()."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_abort")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)

    batch = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    # simulate the aborted first attempt: band rows landed, sigs did not
    meta = IS.read_meta(spark, path, DI._META_SCHEMA)
    pairs = DI._governed_shingles(batch, "doc_id", "text", meta, None)
    sig = DD.minhash_signatures(
        pairs, num_perm=meta.num_perm, seed=meta.seed, base_hash=meta.base_hash
    )
    DD.banded_signature_rows(sig, meta.num_perm, meta.band_rows).write.mode(
        "append"
    ).partitionBy("band_id").parquet(f"{path}/bands")

    # retry: doc 2 is absent from sigs, so it re-inserts cleanly
    assert DI.upsert_minhash_index(batch, path) == {"inserted": 1, "restored": 0}
    probe = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    got = DI.minhash_index_dedup(spark, path, probe, threshold=0.9, rescore="estimate")
    rows = got.collect()
    # one row per (new, corpus) pair despite duplicated band rows
    assert sorted((r.new_id, r.corpus_id, r.jaccard_est) for r in rows) == [
        (3, 1, 1.0),
        (3, 2, 1.0),
    ]


def test_build_n_defaults_by_unit(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    pw, pc = str(tmp_path / "w"), str(tmp_path / "c")
    DI.build_minhash_index(docs, pw)
    DI.build_minhash_index(docs, pc, unit="char")
    assert IS.read_meta(spark, pw, DI._META_SCHEMA).n == 3
    assert IS.read_meta(spark, pc, DI._META_SCHEMA).n == 5


def test_estimate_plan_joins_are_all_broadcast(spark, built, unpinned):
    """The 100 TB contract of the query path: the stored band and
    signature tables are only ever probed by BROADCAST joins (batch
    side broadcast) — a SortMergeJoin/ShuffledHashJoin here would
    shuffle corpus-sized state per batch."""
    path, d, old, new = built
    with unpinned():
        q = DI.minhash_index_dedup(spark, path, new, threshold=THRESH, rescore="estimate")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_set_input_index_matches_set_miner_cross_pairs(spark, sf_dir, tmp_path):
    """A set-input index (item_col) over co-purchase sets — the
    reference's S1 "similar users" shape — must reproduce
    ``minhash_set_pairs``'s cross pairs for a new-entity batch, with
    the mode recorded in meta so text/set probes can't be mixed."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", F.col("l_partkey").cast("string").alias("part"))
        .distinct()
    )
    old = cp.filter(F.col("o_custkey") % 2 == 0)
    new = cp.filter(F.col("o_custkey") % 2 == 1)
    path = str(tmp_path / "mh_sets")
    DI.build_minhash_index(
        old, path, id_col="o_custkey", item_col="part",
        num_perm=32, band_rows=2, seed=42,
    )
    assert IS.read_meta(spark, path, DI._META_SCHEMA).unit == "items"

    got = {
        (r.new_id, r.corpus_id, r.n_common, round(r.jaccard, 6))
        for r in DI.minhash_index_dedup(
            spark, path, new, id_col="o_custkey", item_col="part",
            threshold=0.05, rescore="exact", corpus_docs=old,
        ).collect()
    }
    sets = cp.select(F.col("o_custkey").alias("doc"), F.col("part").alias("shingle"))
    full = DD.minhash_set_pairs(
        sets, threshold=0.05, num_perm=32, band_rows=2, seed=42
    ).collect()
    want = {
        ((r.doc_a if r.doc_a % 2 else r.doc_b), (r.doc_b if r.doc_a % 2 else r.doc_a),
         r.n_common, round(r.jaccard, 6))
        for r in full
        if (r.doc_a % 2) != (r.doc_b % 2)
    }
    assert len(got) > 0
    assert got == want

    # mode mixing is refused in both directions
    with pytest.raises(ValueError, match="item_col"):
        DI.minhash_index_dedup(spark, path, new, id_col="o_custkey")
    text_path = str(tmp_path / "mh_text")
    DI.build_minhash_index(
        spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"), text_path
    )
    with pytest.raises(ValueError, match="text"):
        DI.minhash_index_dedup(
            spark, text_path,
            spark.createDataFrame([(2, "x")], "doc_id long, it string"),
            item_col="it",
        )


def test_upsert_of_tombstoned_absent_id_clears_tombstone(spark, tmp_path):
    """A tombstoned id whose rows were already compacted away is a
    plain INSERT (restored=0) — and its stale tombstone must clear,
    or the freshly appended rows stay invisible to every query."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_reinsert")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)
    assert DI.compact_minhash_index(path, spark) == 1
    # doc 1 is physically gone; tombstone it AGAIN (a late delete of
    # an absent id is a harmless no-op tombstone) then re-admit it
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)
    res = DI.upsert_minhash_index(corpus.filter(F.col("doc_id") == 1), path)
    assert res == {"inserted": 1, "restored": 0}
    assert IS.tombstones(spark, path) is None
    probe = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    got = DI.minhash_index_dedup(spark, path, probe, threshold=0.9, rescore="estimate")
    assert [(r.new_id, r.corpus_id) for r in got.collect()] == [(9, 1)]


def test_compact_retry_converges_after_partial_swap(spark, tmp_path):
    """Crash contract: bands swaps FIRST, the work-to-do probe reads
    sigs (swapped LAST) — a retry after a crash between the two swaps
    must still rewrite both tables, not no-op and drop tombstones
    over unshielded band rows."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_crash")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)

    # simulate the first attempt crashing AFTER the bands swap: bands
    # already clean, sigs still dirty, tombstones intact
    clean_bands = spark.read.parquet(f"{path}/bands").filter(F.col("doc") != 1)
    clean_bands.write.mode("overwrite").partitionBy("band_id").parquet(
        f"{path}/bands__compact"
    )
    IS.swap(spark, f"{path}/bands__compact", f"{path}/bands")
    assert spark.read.parquet(f"{path}/bands").filter(F.col("doc") == 1).count() == 0
    assert spark.read.parquet(f"{path}/sigs").filter(F.col("doc") == 1).count() == 1

    # retry: must report the doc removed and clean BOTH tables
    assert DI.compact_minhash_index(path, spark) == 1
    assert spark.read.parquet(f"{path}/sigs").filter(F.col("doc") == 1).count() == 0
    assert spark.read.parquet(f"{path}/bands").filter(F.col("doc") == 1).count() == 0
    assert IS.tombstones(spark, path) is None
    # exact rescore must not resurrect the deleted doc
    probe = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    got = DI.minhash_index_dedup(
        spark, path, probe, threshold=0.9, rescore="exact", corpus_docs=corpus
    )
    assert got.count() == 0


def test_compact_to_empty_drops_a_crashed_attempts_staging(spark, tmp_path):
    """A compaction that empties the index pins one empty band
    partition in the staging table. Partitions staged by an earlier
    attempt that crashed before its swap must not ride along, or the
    removed docs' band rows come back with their tombstones gone."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_stage")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)
    # the first compaction staged its bands (doc 2 kept), then crashed
    spark.read.parquet(f"{path}/bands").filter("doc != 1").write.partitionBy(
        "band_id"
    ).parquet(f"{path}/bands__compact")
    DI.delete_from_minhash_index(spark.createDataFrame([(2,)], "doc_id long"), path)
    assert DI.compact_minhash_index(path, spark) == 2
    assert spark.read.parquet(f"{path}/bands").count() == 0
    assert DI.minhash_index_stats(spark, path).count() == 0


def test_recover_compaction_heals_missing_live_table(spark, tmp_path):
    """A crash INSIDE a swap (live table set aside, replacement not
    yet in place) self-heals on the next compact entry."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    path = str(tmp_path / "mh_heal")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    fs, Path = IS._fs(spark, path)
    # simulate: live sigs renamed aside, crash before the rename-in
    assert fs.rename(Path(f"{path}/sigs"), Path(f"{path}/sigs__old"))
    assert DI.compact_minhash_index(path, spark) == 0  # heals, then no tombstones
    assert spark.read.parquet(f"{path}/sigs").count() == 1


def test_stats_ignore_retry_duplicated_band_rows(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_dupstats")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    before = {r.band_id: (r.n_docs, r.max_bucket) for r in DI.minhash_index_stats(spark, path).collect()}
    # simulate a retried upsert's duplicated band append
    spark.read.parquet(f"{path}/bands").filter(F.col("doc") == 1).write.mode(
        "append"
    ).partitionBy("band_id").parquet(f"{path}/bands")
    after = {r.band_id: (r.n_docs, r.max_bucket) for r in DI.minhash_index_stats(spark, path).collect()}
    assert after == before


def test_screen_is_the_gate_admission_decision(spark, built):
    """minhash_index_screen (batch API) = cross-corpus drop +
    visibility + within-batch SemDeDup rule, and its survivors carry
    all original columns."""
    path, d, old, new = built
    surv = DI.minhash_index_screen(
        spark, path, new, threshold=THRESH, within_batch=False
    )
    assert surv.columns == new.columns
    kept = {r.doc_id for r in surv.select("doc_id").collect()}
    hits = {
        r.new_id
        for r in DI.minhash_index_dedup(
            spark, path, new, threshold=THRESH, rescore="estimate"
        ).collect()
    }
    all_new = {r.doc_id for r in new.select("doc_id").collect()}
    assert kept == all_new - hits  # ungoverned index: every doc visible

    # within_batch=True additionally drops the higher id of each
    # within-batch near-dup pair
    surv_wb = {
        r.doc_id
        for r in DI.minhash_index_screen(
            spark, path, new, threshold=THRESH, within_batch=True
        ).select("doc_id").collect()
    }
    assert surv_wb <= kept


# ---- ADVICE r13 regressions -------------------------------------------------


def test_band_rows_must_divide_num_perm(spark, tmp_path):
    """A num_perm that band_rows does not divide is refused, not
    silently truncated to fewer bands than the sigs store (which
    would quietly lower LSH recall and freeze the mismatch into a
    persisted index's meta)."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    path = str(tmp_path / "bad_knobs")
    with pytest.raises(ValueError, match="multiple of band_rows"):
        DI.build_minhash_index(corpus, path, num_perm=33, band_rows=2)
    # fail-fast: nothing was written (no half-built generation)
    assert not IS.exists(spark, path)
    sig = spark.createDataFrame([(1, 10, 11, 12)], "doc long, h0 long, h1 long, h2 long")
    with pytest.raises(ValueError, match="multiple of band_rows"):
        DD.banded_signature_rows(sig, 3, 2)


def test_tombstone_restore_crash_heals_without_losing_unrelated_tombstones(
    spark, tmp_path
):
    """Upsert's tombstone-restore is a rename-swap, not a plain
    overwrite: a crash inside the swap self-heals on the next index
    load, and tombstones for UNRELATED docs survive (the plain
    overwrite could lose them, silently resurrecting deleted docs)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally unrelated words over here now"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_tomb")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(
        spark.createDataFrame([(1,), (2,)], "doc_id long"), path
    )
    fs, Path = IS._fs(spark, path)

    # crash after the restore write, live table set aside, rename-in
    # not yet done: the complete __restore (doc 2 kept) must win
    spark.createDataFrame([(2,)], "tomb_id long").write.parquet(
        f"{path}/tombstones__restore"
    )
    assert fs.rename(Path(f"{path}/tombstones"), Path(f"{path}/tombstones__old"))
    DI.load_index_state(spark, path)  # heals on entry
    tomb = IS.tombstones(spark, path)
    assert tomb is not None and {r.tomb_id for r in tomb.collect()} == {2}

    # crash BEFORE the restore write finished (no _SUCCESS-complete
    # replacement): the set-aside old table is reinstated
    IS.delete(spark, f"{path}/tombstones__restore")
    assert fs.rename(Path(f"{path}/tombstones"), Path(f"{path}/tombstones__old"))
    DI.load_index_state(spark, path)
    tomb = IS.tombstones(spark, path)
    assert tomb is not None and {r.tomb_id for r in tomb.collect()} == {2}


def test_full_restore_leaves_no_resurrectable_tombstone_debris(spark, tmp_path):
    """When an upsert restores the LAST tombstones (kept == 0), any
    swap debris is dropped too — a stale complete __restore beside a
    legitimately-absent live table must not be 'healed' back into
    existence later."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    path = str(tmp_path / "mh_debris")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)
    # stale debris from an imagined earlier crashed restore
    spark.createDataFrame([(1,)], "tomb_id long").write.parquet(
        f"{path}/tombstones__restore"
    )
    got = DI.upsert_minhash_index(
        corpus.filter(F.col("doc_id") == 1), path, id_col="doc_id", text_col="text"
    )
    assert got == {"inserted": 0, "restored": 1}
    assert IS.tombstones(spark, path) is None
    DI.load_index_state(spark, path)  # recovery must NOT resurrect debris
    assert IS.tombstones(spark, path) is None


def test_broadcast_batch_false_unhints_batch_sides_and_matches(spark, built):
    """broadcast_batch=False must be honored on EVERY batch-sized join
    side — band probe AND rescore legs AND the screen's id lists —
    with identical results (the hint only changes strategy). The
    r12 form force-broadcast the rescore sides regardless."""
    path, d, old, new = built

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    est_t = DI.minhash_index_dedup(spark, path, new, threshold=THRESH)
    est_f = DI.minhash_index_dedup(
        spark, path, new, threshold=THRESH, broadcast_batch=False
    )
    key = lambda rows: {(r.new_id, r.corpus_id, r.n_agree) for r in rows}
    assert key(est_f.collect()) == key(est_t.collect())
    assert hints(est_f) < hints(est_t)

    ex_t = DI.minhash_index_dedup(
        spark, path, new, threshold=THRESH, rescore="exact", corpus_docs=old
    )
    ex_f = DI.minhash_index_dedup(
        spark,
        path,
        new,
        threshold=THRESH,
        rescore="exact",
        corpus_docs=old,
        broadcast_batch=False,
    )
    kex = lambda rows: {(r.new_id, r.corpus_id, r.n_common) for r in rows}
    assert kex(ex_f.collect()) == kex(ex_t.collect())
    assert hints(ex_f) < hints(ex_t)

    s_t = DI.minhash_index_screen(spark, path, new, threshold=THRESH)
    s_f = DI.minhash_index_screen(
        spark, path, new, threshold=THRESH, broadcast_batch=False
    )
    ids = lambda df: {r.doc_id for r in df.select("doc_id").collect()}
    assert ids(s_f) == ids(s_t)
    assert hints(s_f) < hints(s_t)


def test_delete_heals_pending_restore_before_appending(spark, tmp_path):
    """r13 review: delete_from_minhash_index must heal a crashed
    tombstone-restore BEFORE appending — a plain append would create
    a fresh live table that permanently masks the __restore holding
    every unrelated tombstone (deleted docs would silently
    resurface)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally unrelated words over here now"),
            (3, "yet another distinct document body text"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_delheal")
    DI.build_minhash_index(corpus, path, n=3, num_perm=32, band_rows=2, seed=42)
    DI.delete_from_minhash_index(spark.createDataFrame([(1,)], "doc_id long"), path)
    # crash inside a restore swap: live set aside, complete __restore
    # (still holding doc 1's tombstone) waiting to be renamed in
    fs, Path = IS._fs(spark, path)
    spark.read.parquet(f"{path}/tombstones").write.parquet(
        f"{path}/tombstones__restore"
    )
    assert fs.rename(Path(f"{path}/tombstones"), Path(f"{path}/tombstones__old"))
    # the next operation is a DELETE of doc 2
    DI.delete_from_minhash_index(spark.createDataFrame([(2,)], "doc_id long"), path)
    tomb = {r.tomb_id for r in IS.tombstones(spark, path).collect()}
    assert tomb == {1, 2}, "healed restore must survive the append"


def test_gate_index_build_is_memoized_and_cleanup_registered(spark, sf_dir):
    """ADVICE r14: the registry's gate-index build must run ONCE per
    (process, sf_dir) — the second index query in a gate/bench run
    reuses the first call's write instead of re-writing parquet — and
    the process must register an atexit cleanup for the directory it
    created (no /tmp residue per driver/bench/survey run)."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import (
        queries_index as QI,
    )
    import os

    QI._IDX_BUILT.pop((os.getpid(), sf_dir), None)
    calls = []
    real_build = QI.DI.build_minhash_index

    def counting_build(*a, **k):
        calls.append(1)
        return real_build(*a, **k)

    QI.DI.build_minhash_index = counting_build
    try:
        p1, _ = QI._build_md5_index(spark, sf_dir)
        p2, _ = QI._build_md5_index(spark, sf_dir)
    finally:
        QI.DI.build_minhash_index = real_build
    assert p1 == p2
    assert len(calls) == 1
    assert (os.getpid(), sf_dir) in QI._IDX_BUILT
    # cleanup removes exactly this process's directories
    QI._cleanup_md5_indexes()
    assert not os.path.exists(os.path.dirname(p1))
    assert QI._IDX_BUILT == {}


def _ingest_batch(spark, path, batch):
    """One gate step as a streaming ingest runs it: probe the batch,
    then admit the docs without a hit. Returns (hit ids, upsert
    counts)."""
    state = DI.load_index_state(spark, path)
    hits = DI.minhash_index_dedup(spark, path, batch, threshold=THRESH, index_state=state)
    hit = {r.new_id for r in hits.select("new_id").distinct().collect()}
    keep = batch.filter(~F.col("doc_id").isin(sorted(hit))) if hit else batch
    return hit, DI.upsert_minhash_index(keep, path, index_state=state)


def _docs(spark, sf_dir, lo, hi):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))


def test_ingest_and_compact_job_budget(spark, sf_dir, tmp_path, count_jobs):
    """A probe+upsert batch and a compaction each run a fixed number
    of Spark jobs, whatever the batch size: no per-doc or per-column
    plans, no eager pin or count that one aggregate already answers."""
    path = str(tmp_path / "budget")
    DI.build_minhash_index(_docs(spark, sf_dir, 0, 300), path, max_shingle_freq=20)
    # both batches hold near-duplicates of the corpus: a batch without
    # a single candidate lets AQE skip the empty rescore's stages
    small = count_jobs(lambda: _ingest_batch(spark, path, _docs(spark, sf_dir, 320, 340)))
    large = count_jobs(lambda: _ingest_batch(spark, path, _docs(spark, sf_dir, 340, 440)))
    DI.delete_from_minhash_index(
        spark.createDataFrame([(i,) for i in range(0, 300, 50)], "doc_id long"), path
    )
    compact = count_jobs(lambda: DI.compact_minhash_index(path, spark))
    # the budgets are the counts measured on this fixture
    assert small == large, (small, large)
    assert small <= BATCH_JOBS and compact <= COMPACT_JOBS, (small, compact)


def test_probe_plan_build_round_trip_budget(spark, built, monkeypatch):
    """Building (not running) the probe plan, with the index state
    loaded once beforehand as an ingest loop does, costs a bounded
    number of Py4J round trips: every per-column projection is SQL
    text, so a Column-API loop over the num_perm signature columns
    (several calls per column node) cannot come back unnoticed."""
    import threading

    import py4j.java_gateway as JG

    path, d, old, new = built
    state = DI.load_index_state(spark, path)
    calls = []
    real = JG.GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *a, **k):
        # py4j's finalizer thread releases garbage (of any earlier
        # test too) on its own schedule: count this thread's calls
        if threading.get_ident() == me:
            calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(JG.GatewayClient, "send_command", counting)
    DI.minhash_index_dedup(spark, path, new, threshold=THRESH, index_state=state)
    monkeypatch.undo()
    assert len(calls) <= 400, len(calls)


def test_ingest_lifecycle_pins_index_content(spark, sf_dir, tmp_path):
    """build → 2 × (probe → upsert) → delete → restore one deleted doc
    → compact on the fixture corpus. The hit ids, the upsert counts,
    the docs removed and the content fingerprint are literals recorded
    before the probe/upsert/compact plans were rewritten: a plan
    rewrite must not move a bit of what the index holds or returns."""
    path = str(tmp_path / "life")
    DI.build_minhash_index(_docs(spark, sf_dir, 0, 300), path, max_shingle_freq=20)
    got = [_ingest_batch(spark, path, _docs(spark, sf_dir, lo, lo + 100)) for lo in (300, 400)]
    DI.delete_from_minhash_index(
        spark.createDataFrame([(i,) for i in range(0, 300, 50)], "doc_id long"), path
    )
    restore = DI.upsert_minhash_index(_docs(spark, sf_dir, 100, 101), path)
    removed = DI.compact_minhash_index(path, spark)
    assert got == PINNED_BATCHES
    assert restore == {"inserted": 0, "restored": 1}
    assert removed == 5
    assert DI.minhash_index_fingerprint(spark, path) == PINNED_FINGERPRINT
