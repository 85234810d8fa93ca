"""Property tests for approximate dedup and ANN paths (SURVEY §5:
approximate ops validate against their exact ground truth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import vectorops as VO
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table


# module-scoped caches are dropped at teardown: a cached table left in
# the session swaps its scan into later modules' plans, which then run
# extra cache-materializing jobs and break their job budgets
@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_minhash_dedup_subset_and_recall(spark, docs):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    mh = DD.minhash_duplicate_pairs(spark, docs, "doc_id", "text", n=3, threshold=0.5).collect()
    for r in mh:
        assert (r.doc_a, r.doc_b) in exact
        assert exact[(r.doc_a, r.doc_b)] == pytest.approx(r.jaccard, abs=1e-9)
    # high-similarity recall: P(collide in ≥1 of 16 tables) ≥ 1-(1-.8)^16 ≈ 1
    strong = {p for p, j in exact.items() if j >= 0.8}
    found = {(r.doc_a, r.doc_b) for r in mh}
    assert len(strong & found) / max(1, len(strong)) >= 0.9


def test_simhash_finds_planted_dups(docs):
    exact = {(r.doc_a, r.doc_b) for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()}
    sh = {(r.doc_a, r.doc_b) for r in DD.simhash_duplicate_pairs(docs, "doc_id", "text", max_hamming=8).collect()}
    # simhash and shingle-jaccard measure different geometries; require
    # meaningful overlap on the planted very-near dups, not equality
    assert exact
    assert len(exact & sh) / len(exact) >= 0.5
    # and hamming on identical docs must be 0: doubled corpus check
    doubled = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    pairs = DD.simhash_duplicate_pairs(doubled, "doc_id", "text", max_hamming=0)
    n_self = pairs.filter(F.col("doc_b") - F.col("doc_a") == 1000000).count()
    assert n_self == docs.count()


def test_dedup_representatives_resolves_transitively(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    reps = {r.doc_id: r.rep_id for r in DD.dedup_representatives(pairs, rounds=3).collect()}
    assert reps == {2: 1, 3: 1, 4: 1, 11: 10}


def test_ann_lsh_subset_of_bruteforce(spark, emb):
    # min_cosine=0.3: the synthetic embeddings top out at ~0.51
    # non-self cosine, so higher thresholds make this test (and the
    # registry entry) vacuous — r01 shipped exactly that bug, with
    # the non-empty assert satisfied by self-matches only.
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact = {
        (r.probe_id, r.vec_id): r.cos_sim
        for r in VO.knn_bruteforce(emb, probes, k=100).collect()
        if r.cos_sim >= 0.3
    }
    ann = VO.ann_lsh_neighbors(emb, probes, min_cosine=0.3).collect()
    non_self = [r for r in ann if r.probe_id != r.vec_id]
    assert non_self, "ANN must emit non-self neighbors at this threshold"
    for r in non_self:
        key = (r.probe_id, r.vec_id)
        assert key in exact
        assert exact[key] == pytest.approx(r.cos_sim, abs=1e-6)
    # recall against brute force (exact non-self pairs at ≥0.3)
    exact_non_self = {k for k in exact if k[0] != k[1]}
    found = {(r.probe_id, r.vec_id) for r in non_self}
    assert len(found & exact_non_self) / len(exact_non_self) >= 0.8


def test_embedding_near_duplicates_non_vacuous(spark, emb):
    pairs = VO.embedding_near_duplicates(emb, min_cosine=0.45).collect()
    assert pairs, "near-dup threshold must emit pairs on the testdata"
    assert all(r.id_a < r.id_b for r in pairs)
    # subset of brute force: every emitted pair really is ≥ 0.45
    vecs = {r.vec_id: r.embedding for r in emb.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb)

    for r in pairs:
        assert cos(vecs[r.id_a], vecs[r.id_b]) == pytest.approx(r.cos_sim, abs=1e-6)
        assert r.cos_sim >= 0.45


def test_ivf_recall_vs_bruteforce(emb):
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact = VO.knn_bruteforce(emb, probes, k=10).collect()
    approx = VO.ivf_knn(emb, probes, k=10, n_cells=8, n_probe_cells=4)
    exact_set = {(r.probe_id, r.vec_id) for r in exact}
    approx_set = {(r.probe_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_kmeans_segments_deterministic(spark, emb):
    a = VO.kmeans_segments(emb, vec_col="embedding", k=4, id_cols=["vec_id"])
    b = VO.kmeans_segments(emb, vec_col="embedding", k=4, id_cols=["vec_id"])
    assert a.groupBy("segment").count().count() <= 4
    ra = {r.vec_id: r.segment for r in a.collect()}
    rb = {r.vec_id: r.segment for r in b.collect()}
    assert ra == rb
    # segments should correlate with the synthetic labels' cluster structure
    assert len(set(ra.values())) >= 2


def test_dedup_representatives_fixpoint_on_long_chain(spark):
    # a 12-node path: rounds=3 cannot fully resolve it, fixpoint must
    chain = [(i, i + 1) for i in range(1, 12)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    fixed = {r.doc_id: r.rep_id for r in DD.dedup_representatives(pairs, rounds=None).collect()}
    assert fixed == {i: 1 for i in range(2, 13)}
    bounded = {r.doc_id: r.rep_id for r in DD.dedup_representatives(pairs, rounds=3).collect()}
    assert any(v != 1 for v in bounded.values())  # documents the bound


def test_hyperplane_ann_subset_of_bruteforce(spark, emb):
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    exact = {
        (r.probe_id, r.vec_id): r.cos_sim
        for r in VO.knn_bruteforce(e, probes, k=200).collect()
        if r.cos_sim >= 0.3
    }
    ann = VO.ann_hyperplane_neighbors(e, probes, min_cosine=0.3).collect()
    non_self = [r for r in ann if r.probe_id != r.vec_id]
    assert non_self, "deterministic ANN must emit non-self neighbors"
    for r in non_self:
        assert (r.probe_id, r.vec_id) in exact
        assert exact[(r.probe_id, r.vec_id)] == pytest.approx(r.cos_sim, abs=1e-6)


def test_hyperplane_signatures_deterministic(spark, emb):
    a = {(r.vec_id, r.table_id): r.key for r in VO.hyperplane_signatures(emb).collect()}
    b = {(r.vec_id, r.table_id): r.key for r in VO.hyperplane_signatures(emb).collect()}
    assert a == b
    n_tables = 10
    assert len(a) == emb.count() * n_tables


def test_ivf_deterministic_subset_and_exact_cosines(spark, emb):
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = VO.ivf_knn_deterministic(
        e, probes, k=10, n_cells=16, n_probe_cells=4, exclude_id_eq_probe=True
    ).collect()
    assert out, "deterministic IVF must emit neighbors"
    all_cos = {
        (r.probe_id, r.vec_id): r.cos_sim
        for r in VO.knn_bruteforce(e, probes, k=10_000).collect()
    }
    per_probe = {}
    for r in out:
        assert r.probe_id != r.vec_id
        assert all_cos[(r.probe_id, r.vec_id)] == pytest.approx(r.cos_sim, abs=1e-9)
        per_probe.setdefault(r.probe_id, []).append(r.rank)
    for pid, ranks in per_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (pid, ranks)


def test_semantic_dedup_matches_bruteforce_rule(spark, emb):
    """semantic_dedup's kept flags must equal the brute-force replay
    of its documented rule: drop j iff some i<j in the SAME cluster
    has cosine(i, j) >= tau. Also pins the two global invariants:
    output is a partition of the input ids, and every cluster keeps
    at least its lowest-id member."""
    import numpy as np

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    tau = 0.4
    out = VO.semantic_dedup(e, k=8, iters=2, min_cosine=tau).collect()
    rows = {r.vec_id: r for r in out}
    vecs = {r.vec_id: np.array(r.embedding) for r in e.collect()}
    assert set(rows) == set(vecs)

    by_seg: dict[int, list[int]] = {}
    for r in out:
        by_seg.setdefault(r.segment, []).append(r.vec_id)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    n_dropped = 0
    for seg, ids in by_seg.items():
        ids.sort()
        assert rows[ids[0]].kept, "lowest id in a cluster can never drop"
        for j in ids:
            expect_drop = any(
                i < j and cos(vecs[i], vecs[j]) >= tau for i in ids
            )
            assert rows[j].kept == (not expect_drop), (seg, j)
            n_dropped += int(expect_drop)
    assert n_dropped > 0, "tau=0.4 must exercise real pruning on testdata"


def test_pq_codes_shape_determinism_and_distortion(spark, emb):
    """PQ invariants: one code row per vector with m codes in [0, k);
    identical across runs (hash-seeded fits, no RNG); and the codes
    actually quantize — per subspace, mean intra-code distance is
    below mean cross-code distance (a random labeling has them
    equal in expectation)."""
    import numpy as np

    e = emb.select("vec_id", "embedding")
    m, k, dim = 4, 8, 64
    a = VO.pq_encode(e, dim=dim, m=m, k=k, iters=2).collect()
    vecs = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in e.collect()}
    assert len(a) == len(vecs)
    for r in a:
        assert len(r.codes) == m
        assert all(0 <= c < k for c in r.codes), r

    b = VO.pq_encode(e, dim=dim, m=m, k=k, iters=2).collect()
    assert sorted((r.vec_id, tuple(r.codes)) for r in a) == sorted(
        (r.vec_id, tuple(r.codes)) for r in b
    )

    sub_d = dim // m
    codes = {r.vec_id: list(r.codes) for r in a}
    ids = sorted(vecs)
    for j in range(m):
        intra, cross = [], []
        for x in range(0, len(ids), 7):          # subsample pairs for speed
            for y in range(x + 1, len(ids), 11):
                vi, vj = ids[x], ids[y]
                d = float(
                    np.sum(
                        (vecs[vi][j * sub_d:(j + 1) * sub_d]
                         - vecs[vj][j * sub_d:(j + 1) * sub_d]) ** 2
                    )
                )
                (intra if codes[vi][j] == codes[vj][j] else cross).append(d)
        assert intra and cross, "both pair kinds must occur"
        assert np.mean(intra) < np.mean(cross), f"subspace {j} doesn't quantize"


def test_pq_adc_recall_vs_exact(spark, emb):
    """ADC is approximate — and the synthetic embeddings are weakly
    clustered (within-cluster cosine ~0.1-0.3), so top-10 recall is
    modest by nature. What a broken table join CANNOT fake: (a) every
    probe's own vector at rank 1 (its codes are its own
    quantization), and (b) recall far above chance (10/500 = 2%;
    measured 0.4-0.5 mean at m=16/k=16, bound at 0.2 for margin)."""
    import numpy as np

    e = emb.select("vec_id", "embedding")
    codes, book = VO.pq_fit(e, dim=64, m=16, k=16, iters=2)
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = VO.pq_knn(codes, book, probes, k_neighbors=10, dim=64, m=16).collect()
    by_probe: dict[int, list] = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.vec_id))
    vecs = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in e.collect()}
    overlaps = []
    for pid, ranked in by_probe.items():
        ranked.sort()
        assert ranked[0][1] == pid, "own vector must be the ADC nearest"
        exact = sorted(vecs, key=lambda v: (float(np.sum((vecs[pid] - vecs[v]) ** 2)), v))[:10]
        overlaps.append(len({v for _, v in ranked} & set(exact)) / 10)
    assert sum(overlaps) / len(overlaps) >= 0.2, overlaps


def _ivfadc_recall(e, probes, exact, n_probe_cells, residual):
    out = VO.ivfadc_knn(
        e, probes, k_neighbors=10, n_cells=8, n_probe_cells=n_probe_cells,
        dim=64, m=8, pq_k=16, iters=2, exclude_id_eq_probe=True,
        encode_residuals=residual,
    ).collect()
    by_probe: dict[int, set] = {}
    for r in out:
        assert r.probe_id != r.vec_id
        by_probe.setdefault(r.probe_id, set()).add(r.vec_id)
    return sum(
        len(by_probe.get(p, set()) & exact[p]) / 10 for p in exact
    ) / len(exact)


def test_ivfadc_composed_recall_floor_and_monotone(spark, emb):
    """Composed IVFADC recall (VERDICT r4 ask #2): routing loss ×
    quantization loss on the operator a user actually calls, both
    encoding variants. Probing ALL cells reduces IVFADC to pure ADC
    (no routing loss), so recall must be ≥ the single-cell probe —
    the monotonicity the layout promises. Per-STEP recall is not
    guaranteed monotone (a wider candidate pool can displace a true
    neighbor from the ADC top-10), so the pin is endpoints 1 → 8 of
    8 cells. Floors sit well under the measured values (raw 0.10/
    0.24, residual 0.06/0.12 at sf0.001 — the synthetic embeddings
    are weakly clustered, so composed top-10 recall is modest by
    nature and residual encoding shows no gain; see the operator
    docstring)."""
    import numpy as np

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    vecs = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in e.collect()}
    exact = {
        pid: set(
            sorted(
                (v for v in vecs if v != pid),
                key=lambda v: (float(np.sum((vecs[pid] - vecs[v]) ** 2)), v),
            )[:10]
        )
        for pid in range(5)
        if pid in vecs
    }

    for residual, floor_1, floor_all in ((False, 0.05, 0.15), (True, 0.03, 0.08)):
        r1 = _ivfadc_recall(e, probes, exact, n_probe_cells=1, residual=residual)
        r_all = _ivfadc_recall(e, probes, exact, n_probe_cells=8, residual=residual)
        assert r1 >= floor_1, (residual, r1)
        assert r_all >= floor_all, (residual, r_all)
        assert r_all >= r1, f"probing all cells must not lose recall: {r1} -> {r_all}"


def test_pq_knn_rejects_mismatched_m(spark, emb):
    """VERDICT r5 ask #7: a fit/search knob mismatch must ERROR, not
    silently drop subspaces. Both guards: the codebook-geometry check
    (driver-side, before any job) and the per-row codes length guard
    (codegen'd raise_error)."""
    import pytest

    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
        vectorops as VO,
    )

    e = emb.limit(60)
    codes, book = VO.pq_fit(e, dim=64, m=8, k=4, iters=1)
    probes = e.limit(2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    # wrong m vs the codebook → driver-side ValueError before any job
    with pytest.raises(ValueError, match="codebook was fit with m=8"):
        VO.pq_knn(codes, book, probes, k_neighbors=3, dim=64, m=4)
    # right geometry still works
    out = VO.pq_knn(codes, book, probes, k_neighbors=3, dim=64, m=8)
    assert out.count() > 0


def test_knn_vectorized_matches_hof_on_degenerate_rows(spark):
    """r9 review: the 'same contract' pair must agree on NULL and
    zero-norm embeddings — the HOF variant filters them (try_divide
    NULL), the vectorized one previously crashed on NULL and ranked
    zero-norm rows at cos_sim 0.0."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
            (3, None),                  # NULL embedding
            (4, [0.8, 0.6, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, None), (12, [0.0, 0.0, 0.0, 0.0])],
        "probe_id long, probe_vec array<double>",
    )
    hof = {
        (r["probe_id"], r["vec_id"])
        for r in VO.knn_bruteforce(corpus, probes, k=4).collect()
    }
    vec = {
        (r["probe_id"], r["vec_id"])
        for r in VO.knn_bruteforce_vectorized(corpus, probes, k=4).collect()
    }
    assert vec == hof
    assert all(v in (1, 4) for _, v in vec)
    assert all(p == 10 for p, _ in vec)


def test_ann_lsh_survives_zero_norm_and_null_rows(spark):
    """r9 review: one degenerate row previously killed the whole LSH
    job (l2_normalize -> NULL components -> array_to_vector throws)."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, None),
            (4, [0.9, 0.1, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0])], "probe_id long, probe_vec array<double>"
    )
    got = VO.ann_lsh_neighbors(corpus, probes, min_cosine=0.5).collect()
    ids = {r["vec_id"] for r in got}
    assert 1 in ids and 2 not in ids and 3 not in ids


def test_ann_hyperplane_empty_probes_returns_empty(spark):
    """r9 review: an empty probes frame is a legitimate no-probes
    search — previously dim inference crashed on first()=None."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    probes = spark.createDataFrame([], "probe_id long, probe_vec array<double>")
    assert VO.ann_hyperplane_neighbors(corpus, probes).count() == 0
    with pytest.raises(ValueError, match="pass dim"):
        VO.hyperplane_signatures(probes, "probe_id", "probe_vec")


def test_kmeans_segments_rejects_empty_feature_list(spark):
    df = spark.createDataFrame([(1, 2.0)], "id long, x double")
    with pytest.raises(ValueError, match="exactly one"):
        VO.kmeans_segments(df, feature_cols=[])
    with pytest.raises(ValueError, match="exactly one"):
        VO.kmeans_segments(df, feature_cols=["x"], vec_col="x")


def test_pq_fit_corpus_smaller_than_k(spark):
    """ADVICE r15 (medium): with fewer corpus vectors than k the seed
    pass yields <k clusters, so the per-(subspace, d) codebook arrays
    are shorter than k. The k-column assign must skip the missing
    cluster slots (try_element_at -> NULL, argmin over non-NULLs)
    instead of throwing INVALid_ARRAY_INDEX under Spark 4's default
    ANSI mode. Codes must land on existing clusters only."""
    rows = [(i, [float((i + 1) * (j + 1) % 7) for j in range(8)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, book = VO.pq_fit(df, dim=8, m=2, k=16, iters=2)
    got = codes.collect()
    n_clusters = book.select("cluster").distinct().count()
    assert n_clusters <= 3
    assert len(got) == 3
    for r in got:
        assert len(r.codes) == 2
        assert all(0 <= c < n_clusters for c in r.codes), r


def test_knn_vectorized_partitioning_invariant_under_ties(spark):
    """VERDICT r15 ask #3: the per-batch top-k pre-reduction must use
    the global tie rule (cos_sim desc, id asc) so results cannot
    depend on file-split geometry. Plant exact ties: many corpus
    vectors COLLINEAR with the probe (cos_sim exactly 1.0 against
    everyone), more than k of them, so a tie-unaware batch top-k
    would keep arbitrary members per batch. Permute partitioning and
    require identical output, which must also equal the HOF variant."""
    probe = [(0, [1.0, 0.0])]
    # 12 collinear vectors (cos=1.0), ids interleaved high/low, plus
    # orthogonal distractors; k=5 < 12 forces tie cuts at the boundary
    corpus = [(i, [float(i % 7 + 1), 0.0]) for i in range(12)] + [
        (100 + i, [0.0, 1.0]) for i in range(6)
    ]
    probes = spark.createDataFrame(probe, "probe_id long, probe_vec array<double>")
    outs = []
    for nparts in (1, 3, 7):
        cdf = spark.createDataFrame(
            corpus, "vec_id long, embedding array<double>"
        ).repartition(nparts)
        got = VO.knn_bruteforce_vectorized(cdf, probes, k=5).collect()
        outs.append(sorted((r.probe_id, r.vec_id, r.rank) for r in got))
    assert outs[0] == outs[1] == outs[2]
    # ties must resolve to the LOWEST ids among the collinear set
    assert [v for _, v, _ in outs[0]] == [0, 1, 2, 3, 4]

    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    hof = VO.knn_bruteforce(cdf, probes, k=5).collect()
    assert sorted((r.probe_id, r.vec_id, r.rank) for r in hof) == outs[0]
