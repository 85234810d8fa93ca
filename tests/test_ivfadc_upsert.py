"""Incremental IVFADC index upsert: frozen-model encoding parity,
update idempotence, untouched-cell isolation, and an INDEPENDENT
numpy replay of the ADC scoring over the upserted artifacts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    index_store as IS,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import vectorops as VO
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table

UPSERT_JOBS = 24


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_encode_with_book_reproduces_fit_codes(spark, emb):
    codes, book = VO.pq_fit(emb, dim=64, m=8, k=16, iters=2)
    re_encoded = VO.pq_encode_with_book(emb, book, dim=64, m=8)
    a = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in re_encoded.collect()}
    assert a == b


def test_upsert_job_budget(spark, emb, tmp_path, count_jobs):
    """An upsert runs a fixed number of Spark jobs: the model tables
    are read with their written schemas, so no read infers one."""
    path = str(tmp_path / "idx_budget")
    VO.build_ivfadc_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=8, iters=1)
    jobs = count_jobs(
        lambda: VO.upsert_ivfadc_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    )
    # the budget is the count measured on this fixture
    assert jobs <= UPSERT_JOBS, jobs


@pytest.mark.parametrize("residual", [False, True])
def test_upsert_adds_updates_and_isolates_cells(spark, emb, tmp_path, residual):
    path = str(tmp_path / f"idx_{residual}")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    VO.build_ivfadc_index(
        first, path, n_cells=8, dim=64, m=8, pq_k=16, iters=2,
        encode_residuals=residual,
    )
    before = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }

    VO.upsert_ivfadc_index(second, path)
    after = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    n_first, n_second = first.count(), second.count()
    assert len(after) == n_first + n_second
    # pre-existing ids keep their codes and cells
    for vid, v in before.items():
        assert after[vid] == v
    # model tables untouched
    assert spark.read.parquet(f"{path}/meta").collect()[0]["encode_residuals"] == residual

    # re-upserting the same batch is an idempotent update
    VO.upsert_ivfadc_index(second, path)
    again = {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    assert again == after


def test_search_after_upsert_matches_numpy_adc_replay(spark, emb, tmp_path):
    path = str(tmp_path / "idx_np")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 250), path, n_cells=8, dim=64, m=8,
        pq_k=16, iters=2,
    )
    VO.upsert_ivfadc_index(emb.filter(F.col("vec_id") >= 250), path)

    probes = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=10, n_probe_cells=3
    ).collect()

    # independent replay from the stored artifacts
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    sub_d = meta.dim // meta.m
    book = np.zeros((meta.m, meta.pq_k, sub_d), dtype=np.int64)
    for r in spark.read.parquet(f"{path}/codebook").collect():
        book[r["subspace"], r["cluster"], r["d"]] = r["c"]
    cents = {r["cell"]: np.array(r["center"]) for r in
             spark.read.parquet(f"{path}/centroids").collect()}
    codes = {r["vec_id"]: (np.array(r["codes"]), r["cell"]) for r in
             spark.read.parquet(f"{path}/codes").collect()}

    pv = np.array(probes.collect()[0]["probe_vec"])
    # route: top-3 cells by cosine
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    ranked_cells = sorted(cents, key=lambda c: (-cos(pv, cents[c]), c))[:3]
    qx = np.floor(pv * meta.scale).astype(np.int64).reshape(meta.m, sub_d)
    # ADC tables: squared int distance of probe sub-vectors to centroids
    tables = ((qx[:, None, :] - book) ** 2).sum(axis=2)  # m × k
    expect = {}
    for vid, (cd, cell) in codes.items():
        if cell in ranked_cells:
            expect[vid] = int(tables[np.arange(meta.m), cd].sum())
    top = sorted(expect.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    want = {(vid, dist) for vid, dist in top}
    assert {(r["vec_id"], r["adc_dist"]) for r in got} == want
    # upserted ids are reachable by search
    assert any(r["vec_id"] >= 250 for r in got)


# ------------------------------------------------- delete + compaction


def _codes_map(spark, path):
    return {
        r["vec_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }


def test_delete_tombstones_then_compact_rewrites_only_affected_cells(
    spark, emb, tmp_path
):
    """Full lifecycle (VERDICT r6 ask #6): upsert → delete → search
    excludes immediately (tombstone) → compact physically removes the
    rows from ONLY the affected cells → tombstones are gone and
    search is unchanged."""
    import os

    path = str(tmp_path / "idx_del")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 250), path, n_cells=8, dim=64, m=8,
        pq_k=16, iters=2,
    )
    VO.upsert_ivfadc_index(emb.filter(F.col("vec_id") >= 250), path)
    before = _codes_map(spark, path)

    probes = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    base_hits = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=10, n_probe_cells=8
    ).collect()
    victims = [r["vec_id"] for r in base_hits[:3]]

    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"), path
    )
    # search excludes tombstoned ids immediately, before any rewrite
    after_del = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=10, n_probe_cells=8
    ).collect()
    got_ids = {r["vec_id"] for r in after_del}
    assert not (got_ids & set(victims))
    # survivors keep their distances (same model, same codes)
    base_dist = {r["vec_id"]: r["adc_dist"] for r in base_hits}
    for r in after_del:
        if r["vec_id"] in base_dist:
            assert r["adc_dist"] == base_dist[r["vec_id"]]

    # file-level isolation: snapshot per-cell mtimes before compaction
    affected_cells = {before[v][1] for v in victims}
    def cell_mtimes():
        out = {}
        for d in os.listdir(f"{path}/codes"):
            if d.startswith("cell="):
                cdir = os.path.join(f"{path}/codes", d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(cdir, f))
                    for f in os.listdir(cdir) if f.endswith(".parquet")
                }
        return out
    pre = cell_mtimes()

    removed = VO.compact_ivfadc_index(path, spark=spark)
    assert removed == len(victims)
    after = _codes_map(spark, path)
    assert set(after) == set(before) - set(victims)
    for vid in after:
        assert after[vid] == before[vid]
    # tombstone table is gone
    assert IS.tombstones(spark, path) is None
    # untouched cells kept their files byte-for-byte (same mtimes)
    post = cell_mtimes()
    for d, files in pre.items():
        cell = int(d.split("=")[1])
        if cell not in affected_cells:
            assert post[d] == files, f"untouched {d} was rewritten"
    # search after compaction identical to tombstone-filtered search
    after_compact = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=10, n_probe_cells=8
    ).collect()
    assert {(r["vec_id"], r["adc_dist"]) for r in after_compact} == {
        (r["vec_id"], r["adc_dist"]) for r in after_del
    }


def test_delete_then_reupsert_makes_id_searchable_again(spark, emb, tmp_path):
    path = str(tmp_path / "idx_revive")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 200), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    probes = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    hit0 = VO.ivfadc_index_search(spark, path, probes, k_neighbors=5,
                                  n_probe_cells=4).collect()
    victim = hit0[0]["vec_id"]
    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(victim,)], "vec_id long"), path
    )
    assert victim not in {
        r["vec_id"] for r in VO.ivfadc_index_search(
            spark, path, probes, k_neighbors=5, n_probe_cells=4).collect()
    }
    VO.upsert_ivfadc_index(emb.filter(F.col("vec_id") == victim), path)
    # tombstone cleared by the upsert; id ranks again with its old dist
    revived = {
        r["vec_id"]: r["adc_dist"] for r in VO.ivfadc_index_search(
            spark, path, probes, k_neighbors=5, n_probe_cells=4).collect()
    }
    assert revived.get(victim) == hit0[0]["adc_dist"]
    assert IS.tombstones(spark, path) is None


def test_tombstone_restore_crash_keeps_deleted_ids_hidden(spark, emb, tmp_path):
    """The upsert clears tombstones by a staged restore and a swap,
    and every entry point heals a crash inside that swap: with the
    live table set aside as ``__old``, deleted ids stay hidden from
    the search, whether or not the ``__restore`` copy was complete."""
    path = str(tmp_path / "idx_tomb_crash")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=1,
    )
    VO.delete_from_ivfadc_index(spark.createDataFrame([(3,), (7,)], "vec_id long"), path)
    probes = emb.filter(F.col("vec_id").isin(3, 7)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )

    def found():
        return {
            r["vec_id"] for r in VO.ivfadc_index_search(
                spark, path, probes, k_neighbors=5, n_probe_cells=4).collect()
        }

    fs, Path = IS._fs(spark, path)
    # crash inside the restore of id 3: the complete __restore (id 7
    # kept) must win over the set-aside table
    spark.createDataFrame([(7,)], "tomb_id long").write.parquet(
        f"{path}/tombstones__restore"
    )
    assert fs.rename(Path(f"{path}/tombstones"), Path(f"{path}/tombstones__old"))
    assert 7 not in found() and 3 in found()

    # crash before the restore write finished: the set-aside table
    # is reinstated
    IS.delete(spark, f"{path}/tombstones__restore")
    assert fs.rename(Path(f"{path}/tombstones"), Path(f"{path}/tombstones__old"))
    assert 7 not in found()
    assert {r.tomb_id for r in IS.tombstones(spark, path).collect()} == {7}


def test_compact_removes_fully_emptied_cell_partition(spark, emb, tmp_path):
    """Dynamic partition overwrite only replaces partitions present in
    the written data — an emptied cell must be removed explicitly or
    its stale files survive compaction."""
    import os

    path = str(tmp_path / "idx_empty")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 150), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    codes = _codes_map(spark, path)
    cells = {}
    for vid, (_, cell) in codes.items():
        cells.setdefault(cell, []).append(vid)
    target_cell, victim_ids = min(cells.items(), key=lambda kv: len(kv[1]))
    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(v,) for v in victim_ids], "vec_id long"), path
    )
    removed = VO.compact_ivfadc_index(path, spark=spark)
    assert removed == len(victim_ids)
    assert not os.path.exists(f"{path}/codes/cell={target_cell}")
    after = _codes_map(spark, path)
    assert set(after) == set(codes) - set(victim_ids)
    # a probe that routes into the emptied cell still searches fine
    probes = emb.filter(F.col("vec_id") == 11).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = VO.ivfadc_index_search(spark, path, probes, k_neighbors=5,
                                 n_probe_cells=4).collect()
    assert len(got) == 5
    assert not ({r["vec_id"] for r in got} & set(victim_ids))


def test_compact_infers_custom_id_col_from_codes_schema(spark, emb, tmp_path):
    """ADVICE r7: compaction hardcoded ``vec_id``, so an index built
    with a custom id_col could be tombstoned and searched but never
    physically compacted. The id column is now inferred from the
    stored codes schema (the one column that is neither ``codes`` nor
    ``cell``)."""
    path = str(tmp_path / "idx_custom_id")
    docs = emb.filter(F.col("vec_id") < 150).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    VO.build_ivfadc_index(docs, path, n_cells=4, dim=64, m=8, pq_k=16,
                          iters=2, id_col="doc_id")
    before = {
        r["doc_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    victims = sorted(before)[:5]
    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        path, id_col="doc_id",
    )
    removed = VO.compact_ivfadc_index(path, spark=spark)  # id_col inferred
    assert removed == len(victims)
    after = {
        r["doc_id"]: (list(r["codes"]), r["cell"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    assert set(after) == set(before) - set(victims)
    assert IS.tombstones(spark, path) is None


def test_compact_that_empties_every_cell_keeps_index_readable(
    spark, emb, tmp_path
):
    """ADVICE r7: deleting every row then compacting used to leave
    ``{path}/codes`` with no parquet files, so the next search/upsert
    failed with a schema-inference error. A schema-bearing empty
    partition is kept instead: search returns empty, upsert rebuilds."""
    path = str(tmp_path / "idx_all_gone")
    subset = emb.filter(F.col("vec_id") < 80)
    VO.build_ivfadc_index(subset, path, n_cells=4, dim=64, m=8, pq_k=16,
                          iters=2)
    all_ids = [r["vec_id"] for r in subset.select("vec_id").collect()]
    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(v,) for v in all_ids], "vec_id long"), path
    )
    removed = VO.compact_ivfadc_index(path, spark=spark)
    assert removed == len(all_ids)
    # codes table still readable, just empty
    assert spark.read.parquet(f"{path}/codes").count() == 0
    probes = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    assert VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=5, n_probe_cells=4
    ).count() == 0
    # the emptied index accepts new vectors again
    revive = emb.filter(F.col("vec_id") < 20)
    VO.upsert_ivfadc_index(revive, path)
    got = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=5, n_probe_cells=4
    ).collect()
    assert 0 < len(got) <= 5
    assert all(r["vec_id"] < 20 for r in got)


def test_compact_without_tombstones_is_a_noop(spark, emb, tmp_path):
    path = str(tmp_path / "idx_noop")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    before = _codes_map(spark, path)
    assert VO.compact_ivfadc_index(path, spark=spark) == 0
    assert _codes_map(spark, path) == before


def test_upsert_moving_an_id_across_cells_leaves_no_stale_copy(
    spark, emb, tmp_path
):
    """r9 review: an updated embedding that routes to a DIFFERENT
    cell must remove the old cell's copy — previously the anti-join
    covered only the new rows' cells, so the stale copy survived and
    a search probing both cells summed two code rows into one garbage
    adc_dist."""
    path = str(tmp_path / "idx_move")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    codes = spark.read.parquet(f"{path}/codes")
    # pick a victim id and a donor living in a DIFFERENT cell; give
    # the victim the donor's embedding so it must move cells
    cell_of = {r["vec_id"]: r["cell"] for r in codes.collect()}
    victim = 7
    donor = next(v for v, c in cell_of.items() if c != cell_of[victim])
    donor_vec = emb.filter(F.col("vec_id") == donor).collect()[0]["embedding"]
    moved = spark.createDataFrame(
        [(victim, list(donor_vec))], "vec_id long, embedding array<double>"
    )
    VO.upsert_ivfadc_index(moved, path)
    after = spark.read.parquet(f"{path}/codes").filter(
        F.col("vec_id") == victim
    ).collect()
    assert len(after) == 1, f"stale duplicate copies: {after}"
    assert after[0]["cell"] == cell_of[donor]
    # search probing every cell sees exactly one ranked row for it
    probes = moved.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=100, n_probe_cells=4
    ).filter(F.col("vec_id") == victim).collect()
    assert len(got) == 1


def test_rebuild_clears_previous_generation_tombstones(spark, emb, tmp_path):
    """r9 review: tombstones belong to an index GENERATION — after a
    full rebuild whose corpus contains a previously deleted id, that
    id must rank again."""
    path = str(tmp_path / "idx_regen")
    subset = emb.filter(F.col("vec_id") < 100)
    VO.build_ivfadc_index(subset, path, n_cells=4, dim=64, m=8, pq_k=16, iters=2)
    VO.delete_from_ivfadc_index(
        spark.createDataFrame([(7,)], "vec_id long"), path
    )
    VO.build_ivfadc_index(subset, path, n_cells=4, dim=64, m=8, pq_k=16, iters=2)
    probes = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=5, n_probe_cells=4
    ).collect()
    assert any(r["vec_id"] == 7 for r in got)


def test_null_vectors_are_filtered_not_crashed(spark, emb, tmp_path):
    """r10 advice: the degenerate-input contract is uniform across the
    knn operators — NULL embedding ⇒ row silently filtered (the
    knn_bruteforce contract), raise_error reserved for genuinely
    wrong-length vectors. size(NULL) is NULL, so the guard's
    otherwise() branch used to crash PQ/IVFADC jobs on NULL input."""
    path = str(tmp_path / "idx_null")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    # NULL probe vector: dropped, real probe still ranks
    real = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    null_probe = spark.createDataFrame(
        [(999, None)], "probe_id long, probe_vec array<double>"
    )
    got = VO.ivfadc_index_search(
        spark, path, real.unionByName(null_probe), k_neighbors=5, n_probe_cells=4
    ).collect()
    assert {r["probe_id"] for r in got} == {3}
    # NULL corpus vector: pq_fit drops the row, others encode fine
    with_null = emb.filter(F.col("vec_id") < 50).unionByName(
        spark.createDataFrame([(998, None)], "vec_id long, embedding array<double>")
    )
    codes, _ = VO.pq_fit(with_null, dim=64, m=8, k=16, iters=1)
    assert 998 not in {r["vec_id"] for r in codes.select("vec_id").collect()}


def test_upsert_and_compact_do_not_touch_session_overwrite_mode(
    spark, emb, tmp_path
):
    """r10 advice: upsert/compact used a session-wide
    partitionOverwriteMode save/set/restore — the same cross-query
    race fixed in streaming.sinks. They now pass the per-write option,
    so the session conf is never written and a session pinned to
    'static' still gets correct partition-scoped behavior."""
    path = str(tmp_path / "idx_conf")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        before = _codes_map(spark, path)
        VO.upsert_ivfadc_index(emb.filter(F.col("vec_id").between(100, 120)), path)
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
        )
        after = _codes_map(spark, path)
        assert set(before) < set(after)
        for vid, v in before.items():
            assert after[vid] == v
        # compaction under a static session conf must still rewrite
        # ONLY the affected cells (per-write dynamic wins)
        victims = sorted(after)[:3]
        VO.delete_from_ivfadc_index(
            spark.createDataFrame([(v,) for v in victims], "vec_id long"), path
        )
        removed = VO.compact_ivfadc_index(path, spark=spark)
        assert removed == len(victims)
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
        )
        final = _codes_map(spark, path)
        assert set(final) == set(after) - set(victims)
        for vid in final:
            assert final[vid] == after[vid]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_wrong_dim_vectors_raise_instead_of_silently_ranking(
    spark, emb, tmp_path
):
    """r9 review: short vectors previously encoded/scored with
    silently missing subspaces (smaller ADC sums → spuriously high
    ranks). Encode, upsert, and probe paths must all fail loudly."""
    from py4j.protocol import Py4JJavaError

    path = str(tmp_path / "idx_dim")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, dim=64, m=8,
        pq_k=16, iters=2,
    )
    short = spark.createDataFrame(
        [(999, [0.5] * 48)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length|Py4JJavaError"):
        VO.upsert_ivfadc_index(short, path)
    short_probe = short.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    with pytest.raises(Exception, match="vector length|Py4JJavaError"):
        VO.ivfadc_index_search(spark, path, short_probe, k_neighbors=5).collect()
    # pq_knn probe guard
    codes, book = VO.pq_fit(emb.filter(F.col("vec_id") < 50), dim=64, m=8, k=16, iters=1)
    with pytest.raises(Exception, match="vector length|Py4JJavaError"):
        VO.pq_knn(codes, book, short_probe, dim=64, m=8).collect()


def test_residual_upsert_rejects_wrong_dim_vectors(spark, emb, tmp_path):
    """Under residual encoding the vector is checked before the
    centroid subtraction: ``zip_with`` pads a short vector with NULLs
    to the centroid's length, so a check after it passed a 48-d vector
    and stored codes for its missing subspaces."""
    path = str(tmp_path / "idx_dim_resid")
    VO.build_ivfadc_index(
        emb.filter(F.col("vec_id") < 100), path, n_cells=4, iters=1,
        encode_residuals=True,
    )
    short = spark.createDataFrame(
        [(999, [0.5] * 48)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length 48 != expected dim 64"):
        VO.upsert_ivfadc_index(short, path)
    assert not spark.read.parquet(f"{path}/codes").filter("vec_id = 999").collect()
