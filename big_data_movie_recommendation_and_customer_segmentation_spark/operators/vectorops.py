"""Embedding similarity search + clustering (north-star extension).

Search over an ``array<float>`` embedding column:

- ``knn_bruteforce`` — exact top-k cosine for a bounded probe set.
  Broadcast the probes, one pass over the corpus, per-probe top-k
  heap (TakeOrderedAndProject via window). Linear in corpus size —
  the correct baseline, and often the right answer when the probe
  set is small.
- ``ann_lsh_neighbors`` / ``ann_hyperplane_neighbors`` — LSH
  candidate generation (BucketedRandomProjection, or deterministic
  sign-random-projection keys), rescored with exact cosine.
- ``ivf_knn`` / ``ivf_knn_deterministic`` — inverted-file ANN
  (IVF-Flat, Johnson et al. 2017): a coarse quantizer (pyspark.ml
  KMeans, or hash-seeded cells) restricts each probe to its
  ``n_probe_cells`` nearest cells via a cell-keyed equi-join.
- ``pq_fit`` / ``pq_knn`` — product quantization and asymmetric
  -distance (ADC) search (Jégou et al. 2011), exact integer
  arithmetic end to end.
- ``ivfadc_knn`` and the stored IVFADC index (``build_ivfadc_index``,
  ``ivfadc_index_search``, upsert / delete / compact) — IVF cells
  plus PQ codes, the one stored vector layout, kept by
  ``index_store``. The in-memory operator and the stored index share
  one model step and one ADC scorer, so they agree bit for bit.
- ``kmeans_segments`` — customer/user segmentation (the north star
  names K-means; the reference's segmentation used LSH pairs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import index_store as IS
from .relational import _pin, per_group_topk


def knn_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact cosine top-k neighbors per probe.

    ``probes`` must be bounded (it is broadcast). The cross join is
    a BroadcastNestedLoopJoin: |corpus| × |probes| similarity
    evaluations, all inside codegen; the per-probe top-k keeps only
    k rows per probe per task before the final shuffle.
    Output: probe_id, vec_id, cos_sim, rank.
    """
    joined = corpus.select(id_col, vec_col).crossJoin(
        F.broadcast(probes.select(probe_id_col, probe_vec_col))
    )
    scored = joined.select(
        probe_id_col,
        id_col,
        V.cosine(vec_col, probe_vec_col).alias("cos_sim"),
    ).filter(F.col("cos_sim").isNotNull())
    return per_group_topk(
        scored,
        probe_id_col,
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def knn_bruteforce_vectorized(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact cosine top-k per probe via Arrow-batched numpy matmul —
    same contract as ``knn_bruteforce``, ~7× faster measured at
    sf0.1 (higher-order array functions are interpreted per element;
    one BLAS matmul per Arrow batch is the vectorized path the
    PySpark guide prescribes when Python is worth it).

    Probes are collected (bounded by contract — they're broadcast in
    the HOF variant too) and normalized once; each corpus batch
    yields its per-batch top-k, and a final per-probe window reduces
    to the global top-k (global top-k ⊆ union of batch top-ks, so
    the pre-reduction is lossless and caps shuffle volume at
    k × batches × probes).
    Output: probe_id, vec_id, cos_sim, rank.
    """
    import numpy as np
    import pandas as pd

    # Id field types come from the input schemas (not hardcoded long):
    # string/int-typed ids keep their type end-to-end, matching the
    # HOF variant's contract.
    id_type = corpus.schema[id_col].dataType.simpleString()
    probe_id_type = probes.schema[probe_id_col].dataType.simpleString()
    partial_schema = f"{probe_id_col} {probe_id_type}, {id_col} {id_type}, cos_sim double"

    # NULL and zero-norm rows are dropped on BOTH sides to match the
    # HOF variant's contract (cosine via try_divide is NULL there and
    # filtered out); without this a NULL embedding crashed the numpy
    # conversion and a zero-norm vector ranked with cos_sim 0.0
    # (r9 review).
    rows = [
        r
        for r in probes.select(probe_id_col, probe_vec_col).collect()
        if r[1] is not None
    ]
    if rows:
        pid_all = np.array([r[0] for r in rows])
        pm = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
        pnorm = np.linalg.norm(pm, axis=1, keepdims=True)
        keep_p = pnorm[:, 0] > 0.0
        rows = [r for r, k in zip(rows, keep_p) if k]
    if not rows:
        return corpus.sparkSession.createDataFrame([], partial_schema + ", rank int")
    pid = pid_all[keep_p]
    pmn = pm[keep_p] / pnorm[keep_p]

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            keep = norms[:, 0] > 0.0
            if not keep.any():
                continue
            pdf, m, norms = pdf[keep], m[keep], norms[keep]
            mn = m / norms
            sims = mn @ pmn.T
            take = min(k, len(pdf))
            ids = pdf[id_col].values
            for j in range(sims.shape[1]):
                # Tie-safe batch pre-reduction (VERDICT r15 ask #3):
                # plain argpartition picks an ARBITRARY k-th row among
                # equal cos_sim values, so the kept candidate set — and
                # through it the final result — depended on batch
                # composition (file-split geometry). Select by the same
                # total order the global reduce uses (cos_sim desc, id
                # asc): take every row at or above the k-th value, then
                # lexsort that candidate set with the id tiebreak. The
                # global top-k is a prefix of this order restricted to
                # any superset, so the reduction stays lossless under
                # ANY partitioning.
                s = sims[:, j]
                kth = np.partition(s, len(s) - take)[len(s) - take]
                cand = np.nonzero(s >= kth)[0]
                sel = cand[np.lexsort((ids[cand], -s[cand]))[:take]]
                yield pd.DataFrame(
                    {probe_id_col: pid[j], id_col: ids[sel], "cos_sim": s[sel]}
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(score, partial_schema)
    return per_group_topk(
        partial,
        probe_id_col,
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def _to_ml_vectors(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def _hash_seeded_centroids(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """First ``n_cells`` vectors in md5-hash order of their ids (a
    deterministic, SQL-replayable pseudo-random seed pick), numbered
    0..n_cells−1 as ``(cell, _cv)``. ONE implementation shared by
    ``ivf_knn_deterministic`` / ``ivfadc_knn`` /
    ``build_ivfadc_index`` so the stored-vs-in-memory equivalence
    those operators promise can never drift between copies (r9
    review). Bounded: n_cells rows → the single-partition window is
    safe."""
    from ..functions.textops import shared_token_hash

    order = [shared_token_hash(F.col(id_col).cast("string")).alias("_o"), id_col]
    return (
        corpus.select(*order, vec_col)
        .orderBy("_o", id_col)
        .limit(n_cells)
        .selectExpr(f"row_number() OVER (ORDER BY _o, `{id_col}`) - 1 AS cell", f"`{vec_col}` AS _cv")
    )


def _nearest_cells(
    df: DataFrame,
    centroids: DataFrame,
    key_col: str,
    vec_col: str,
    n: int,
    keep_vec: bool = False,
) -> DataFrame:
    """Top-``n`` nearest centroids per row by cosine (ties to the
    lower cell id) — the broadcast routing half shared by corpus
    cell assignment (n=1), probe routing (n=n_probe_cells), and
    stored-index upsert routing."""
    sel = (
        [F.col(key_col)]
        + ([F.col(vec_col)] if keep_vec else [])
        + [F.col("cell"), V.cosine(vec_col, "_cv").alias("_csim")]
    )
    out = [key_col] + ([vec_col] if keep_vec else []) + ["cell"]
    return per_group_topk(
        df.select(key_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .select(*sel),
        key_col,
        [F.col("_csim").desc(), F.col("cell").asc()],
        n,
    ).select(*out)


def _checked_vec(vec, expected_len: int, ctx: str):
    """Length-guard a vector column in-plan: wrong-dim vectors feed
    PQ's (subspace, d) equi-joins, where missing subspaces SILENTLY
    drop and the summed ADC distance comes out smaller — the exact
    wrong-but-plausible-ranking class the pq_knn codes guard already
    blocks for the corpus side (ADVICE r4). This extends the guard to
    probe/input vectors (r9 review): codegen'd size() check,
    raise_error at execution so the job fails loudly.

    NULL vectors pass through as NULL — the degenerate-input contract
    across all knn operators is "NULL embedding ⇒ row filtered"
    (matching ``knn_bruteforce``; every consumer of this guard ends
    at a ``posexplode``/``zip_with``+``posexplode``, which drops NULL
    rows), and ``raise_error`` is reserved for genuinely wrong-length
    vectors (r10 advice — size(NULL) is NULL, so without the explicit
    NULL arm the otherwise() branch crashed the job)."""
    cv = F.col(vec) if isinstance(vec, str) else vec
    return (
        F.when(F.size(cv) == F.lit(expected_len), cv)
        .when(cv.isNull(), cv)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{ctx}: vector length "),
                    F.size(cv).cast("string"),
                    F.lit(f" != expected dim {expected_len}"),
                )
            )
        )
    )


def _quantized(
    df: DataFrame, keys: list[str], vec_col: str, dim: int, m: int, scale: int, ctx: str
) -> DataFrame:
    """One row per vector component, ``(*keys, subspace, d, x)``: the
    component's PQ subspace, its 0-based index inside the subspace,
    and its integer value ``floor(v·scale)``. Every PQ relation (the
    fit, the encoding against a frozen codebook, the probes' distance
    tables) is built from this one projection, so they quantize
    alike. Length-guarded by ``_checked_vec``. SQL text: a handful of
    Py4J calls instead of one per Column node."""
    sub_d = dim // m
    return df.select(
        *keys, F.posexplode(_checked_vec(vec_col, dim, ctx)).alias("gd", "xr")
    ).selectExpr(
        *[f"`{c}`" for c in keys],
        f"CAST(gd / {sub_d} AS INT) AS subspace",
        f"gd % {sub_d} AS d",
        f"CAST(floor(CAST(xr AS DOUBLE) * {scale}) AS BIGINT) AS x",
    )


def _residuals(
    df: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    key_col: str,
    vec_col: str,
    dim: int,
    ctx: str,
) -> DataFrame:
    """``(key, cell, vec − centroid(cell))`` for every ``(key, cell)``
    row of ``cells`` — the IVFADC residual, an exact double
    subtraction on every engine. The vector is length-checked BEFORE
    the subtraction: ``zip_with`` pads a short vector with NULLs to
    the centroid's length, which the check after it cannot see."""
    return (
        df.select(key_col, vec_col)
        .join(cells, key_col)
        .join(F.broadcast(centroids), "cell")
        .select(
            key_col,
            "cell",
            F.zip_with(
                _checked_vec(vec_col, dim, ctx), "_cv", lambda a, b: a - b
            ).alias(vec_col),
        )
    )


def ann_lsh_neighbors(
    corpus: DataFrame,
    probes: DataFrame,
    min_cosine: float = 0.8,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate neighbors with cosine ≥ min_cosine via
    BucketedRandomProjectionLSH over unit-normalized vectors.

    Candidates come from hash-bucket equi-joins (shuffle keyed on
    bucket ids — sub-linear vs the brute-force cross product); the
    cosine reported is exact (recomputed on the raw arrays).
    Output: probe_id, vec_id, cos_sim.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    radius = float((2.0 - 2.0 * min_cosine) ** 0.5)

    # Zero-norm / NULL embeddings normalize to NULL components
    # (try_divide), which the vector/hash UDFs cannot take — one
    # degenerate row killed the whole LSH job where brute force just
    # filters it (cosine NULL). A plain filter is NOT enough: the
    # merged whole-stage-codegen Filter evaluates the LSH's UDF
    # subexpressions on EVERY scan row regardless of the other
    # conjuncts, so degenerate rows must be substituted with a
    # valid same-dim unit vector and excluded via a plain boolean
    # column (r9 review).
    head = corpus.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    empty_schema = (
        f"{probe_id_col} {probes.schema[probe_id_col].dataType.simpleString()}, "
        f"{id_col} {corpus.schema[id_col].dataType.simpleString()}, cos_sim double"
    )
    if head is None:
        return corpus.sparkSession.createDataFrame([], empty_schema)
    vdim = len(head[0])
    subst = F.array(F.lit(1.0), *[F.lit(0.0)] * (vdim - 1))

    def _safe_units(df_, idc, vc):
        valid = F.col(vc).isNotNull() & (V.norm(vc) > 0)
        return df_.select(
            F.col(idc),
            F.col(vc),
            F.when(valid, V.l2_normalize(vc)).otherwise(subst).alias("_unit"),
            valid.alias("_ok"),
        ).filter(F.col("_ok"))

    c = _to_ml_vectors(_safe_units(corpus, id_col, vec_col), "_unit", "features")
    p = _to_ml_vectors(
        _safe_units(probes, probe_id_col, probe_vec_col), "_unit", "features"
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(c, p, radius, distCol="_dist")
    return joined.select(
        F.col(f"datasetB.{probe_id_col}").alias(probe_id_col),
        F.col(f"datasetA.{id_col}").alias(id_col),
        V.cosine(F.col(f"datasetA.{vec_col}"), F.col(f"datasetB.{probe_vec_col}")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= min_cosine)


def hyperplane_lsh_planes(n_planes: int, dim: int, tag: str = "hp") -> list[list[int]]:
    """Deterministic integer hyperplanes from the shared md5-prefix
    primitive: ``w[p][d] = (int(md5(f"{tag}:{p}:{d}")[:8], 16) % 2001)
    - 1000`` — uniform in [-1000, 1000], computable identically in
    driver Python (hashlib), Spark SQL (conv/substring/md5), and
    DuckDB (('0x'||substr(md5(x),1,8))::BIGINT). RNG-free seed
    material that makes sign-LSH oracle-checkable; a symmetric
    component distribution is all sign-random-projection needs
    (Charikar 2002 uses gaussians, but any sign-symmetric law gives
    locality sensitivity, and false positives are removed by the
    exact rescore)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{tag}:{p}:{d}".encode()).hexdigest()[:8], 16) % 2001) - 1000
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 10,
    bits_per_table: int = 6,
    quant_scale: int = 1_000_000,
    dim: int | None = None,
    tag: str = "hp",
) -> DataFrame:
    """Sign-random-projection LSH keys: (id, table_id, key) with one
    ``bits_per_table``-bit key per hash table.

    Every arithmetic step is EXACT so the keys cannot drift between
    engines: components quantize via ``floor(v * quant_scale)`` (an
    int64; floor is bit-defined in IEEE, unlike round's tie-breaking),
    plane weights are md5-derived integers, and the projection dot
    products are int64 matmuls — a sign can never flip due to float
    summation order, which would silently change the candidate set.

    One Arrow-batched numpy pass over the vectors (the 100 TB shape:
    no shuffle, no driver state beyond the tiny plane matrix); output
    is ``n_tables`` rows per vector.
    """
    import numpy as np
    import pandas as pd

    if dim is None:
        head = df.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                "hyperplane_signatures: cannot infer dim from an empty "
                "DataFrame or a NULL first vector — pass dim= explicitly"
            )
        dim = len(head[0])
    planes = np.array(
        hyperplane_lsh_planes(n_tables * bits_per_table, dim, tag=tag), dtype=np.int64
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, table_id int, key long"

    def keys(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q = np.floor(m * quant_scale).astype(np.int64)
            dots = q @ planes.T
            bits = (dots >= 0).astype(np.int64)
            packed = np.zeros((len(pdf), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for i in range(bits_per_table):
                    packed[:, t] |= bits[:, t * bits_per_table + i] << i
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, n_tables),
                    "table_id": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "key": packed.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(keys, out_schema)


def ann_hyperplane_neighbors(
    corpus: DataFrame,
    probes: DataFrame,
    min_cosine: float = 0.3,
    n_tables: int = 10,
    bits_per_table: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    dim: int | None = None,
) -> DataFrame:
    """Approximate neighbors with cosine ≥ ``min_cosine`` via
    deterministic sign-random-projection LSH (vs
    ``ann_lsh_neighbors``'s BucketedRandomProjectionLSH, whose JVM
    RNG is not reproducible outside Spark — this variant's candidate
    set is bit-reproducible in SQL, so the whole approximate pipeline
    can be value-oracle-checked).

    Candidates collide on any of ``n_tables`` ``bits_per_table``-bit
    sign keys (shuffle keyed on (table, key) — cost tracks collision
    density, not |corpus|×|probes|); the reported cosine is exact,
    recomputed on the raw vectors. Output: probe_id, vec_id, cos_sim.
    """
    if dim is None:
        # infer once from the corpus so an EMPTY probes frame (a
        # legitimate no-probes search) returns empty instead of
        # crashing probe-side dim inference (r9 review)
        head = corpus.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                "ann_hyperplane_neighbors: cannot infer dim from an empty "
                "corpus — pass dim= explicitly"
            )
        dim = len(head[0])
    csig = hyperplane_signatures(
        corpus, id_col, vec_col, n_tables, bits_per_table, dim=dim
    )
    psig = hyperplane_signatures(
        probes, probe_id_col, probe_vec_col, n_tables, bits_per_table, dim=dim
    )
    cand = (
        csig.join(F.broadcast(psig), ["table_id", "key"])
        .select(probe_id_col, id_col)
        .distinct()
    )
    rescored = (
        cand.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(probes.select(probe_id_col, probe_vec_col)), probe_id_col)
        .select(
            probe_id_col,
            id_col,
            V.cosine(vec_col, probe_vec_col).alias("cos_sim"),
        )
    )
    return rescored.filter(F.col("cos_sim") >= min_cosine)


def ivf_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF-style ANN: KMeans-partition the corpus into ``n_cells``,
    search only each probe's ``n_probe_cells`` nearest cells.

    Scan cost drops to ~(n_probe_cells/n_cells) of brute force; the
    cell assignment is a bounded broadcast (centroids are tiny). The
    coarse quantizer doesn't need converged KMeans — ``max_iter=8``
    (vs the default 20) moves centroids <1% of within-cell variance
    and halves training cost; at 100 TB fit it on a sample. The
    stored, cell-partitioned form whose scan prunes to the probed
    cells is ``build_ivfadc_index``.
    Output: probe_id, vec_id, cos_sim, rank (approximate top-k).
    """
    from pyspark.ml.clustering import KMeans

    c_feats = _to_ml_vectors(corpus.select(id_col, vec_col), vec_col, "features")
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features", predictionCol="cell"
    )
    model = km.fit(c_feats)
    assigned = model.transform(c_feats).select(id_col, vec_col, "cell")

    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    centroids = corpus.sparkSession.createDataFrame(centers, "cell int, _cv array<double>")
    probe_cells = _nearest_cells(
        probes, centroids, probe_id_col, probe_vec_col, n_probe_cells, keep_vec=True
    )

    scored = (
        assigned.join(probe_cells, "cell")
        .select(
            probe_id_col,
            id_col,
            V.cosine(vec_col, probe_vec_col).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    return per_group_topk(
        scored,
        probe_id_col,
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def ivf_knn_deterministic(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    exclude_id_eq_probe: bool = False,
) -> DataFrame:
    """IVF ANN with an RNG-free coarse quantizer: the centroids are
    the ``n_cells`` corpus vectors that come first in md5-hash order
    of their id — a deterministic "random" sample (hash order is
    independent of vector geometry), so index build + search are
    bit-reproducible in SQL, unlike ``ivf_knn``'s KMeans quantizer
    (iterative, JVM RNG). Seed-vector centroids are the classic IVF
    bootstrap; KMeans refines them into tighter cells at the cost of
    the training passes — same search plan either way (cell-keyed
    equi-join, scan ~n_probe_cells/n_cells of the corpus).
    Output: probe_id, vec_id, cos_sim, rank.
    """
    centroids = _hash_seeded_centroids(corpus, n_cells, id_col, vec_col)
    assigned = _nearest_cells(corpus, centroids, id_col, vec_col, 1, keep_vec=True)
    probe_cells = _nearest_cells(
        probes, centroids, probe_id_col, probe_vec_col, n_probe_cells, keep_vec=True
    )

    scored = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .select(
            probe_id_col,
            id_col,
            V.cosine(vec_col, probe_vec_col).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    if exclude_id_eq_probe:
        scored = scored.filter(F.col(id_col) != F.col(probe_id_col))
    return per_group_topk(
        scored,
        probe_id_col,
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def embedding_near_duplicates(
    df: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.3,
    num_hash_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Semantic near-dup pairs: LSH self-join, cosine ≥ min_cosine,
    a < b dedup. The embedding leg of the dedup ladder.
    Output: id_a, id_b, cos_sim."""
    out = ann_lsh_neighbors(
        df, df.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")),
        min_cosine=min_cosine, bucket_length=bucket_length,
        num_hash_tables=num_hash_tables, id_col=id_col, vec_col=vec_col, seed=seed,
    )
    return (
        out.filter(F.col("probe_id") < F.col(id_col))
        .select(F.col("probe_id").alias("id_a"), F.col(id_col).alias("id_b"), "cos_sim")
    )


def embedding_near_duplicates_deterministic(
    df: DataFrame,
    min_cosine: float = 0.45,
    n_tables: int = 10,
    bits_per_table: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_key_freq: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs via the deterministic sign-LSH
    self-join (the oracle-checkable sibling of
    ``embedding_near_duplicates``): vectors collide on any of the
    md5-derived hyperplane sign keys, candidates rescore with exact
    cosine, a < b dedup. Shuffle is keyed on (table, key) — cost
    tracks bucket collision density, never the N² pair space.

    ``max_key_freq`` is the degenerate-content governor (the
    embedding analog of simhash's ``max_band_freq``, SCALE.md §22):
    N copies of one embedding — templated content through a
    deterministic embedding model — share every (table, key) and
    would emit C(N,2) candidates; buckets larger than the cap are
    dropped from candidate generation. Mass-identical vectors belong
    to exact dedup upstream (fingerprint the vector bytes). Default
    ``None`` preserves the exact ungoverned plan.
    Output: id_a, id_b, cos_sim."""
    sig = hyperplane_signatures(df, id_col, vec_col, n_tables, bits_per_table, dim=dim)
    if max_key_freq is not None:
        ok = (
            sig.groupBy("table_id", "key")
            .agg(F.count(F.lit(1)).alias("_kn"))
            .filter(F.col("_kn") <= F.lit(int(max_key_freq)))
            .select("table_id", "key")
        )
        sig = sig.join(ok, ["table_id", "key"])
    a = sig.select(F.col(id_col).alias("id_a"), "table_id", "key")
    b = sig.select(F.col(id_col).alias("id_b"), "table_id", "key")
    cand = (
        a.join(b, ["table_id", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", V.cosine("_va", "_vb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cosine)
    )


def kmeans_segments(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    vec_col: str | None = None,
    k: int = 5,
    seed: int = 42,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """K-means segmentation (north-star K11). Features either a list
    of numeric columns (assembled + standardized — the customer-
    segmentation path) or an existing ``array<float>`` column (the
    embedding path). Output: input id columns + ``segment``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    # bool() also rejects feature_cols=[] / vec_col="" — previously []
    # slipped past the is-None check and died later on F.col(None)
    # (r9 review)
    if bool(feature_cols) == bool(vec_col):
        raise ValueError("pass exactly one of feature_cols / vec_col")
    if feature_cols:
        assembled = VectorAssembler(inputCols=feature_cols, outputCol="_raw").transform(df)
        scaler = StandardScaler(inputCol="_raw", outputCol="features", withMean=True, withStd=True)
        feats = scaler.fit(assembled).transform(assembled)
    else:
        feats = _to_ml_vectors(df, vec_col, "features")
    km = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="segment")
    model = km.fit(feats)
    keep = id_cols or [c for c in df.columns]
    return model.transform(feats).select(*keep, "segment")


def kmeans_segments_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Deterministic quantized Lloyd k-means (K11's value-checkable
    sibling — ``kmeans_segments`` keeps pyspark.ml KMeans for the
    production path).

    Every quantity is an exact integer, so the whole fit is
    bit-reproducible across engines and a SQL oracle can replay it:

    - components quantized ``floor(x * scale)`` (int64);
    - init = the k vectors with the smallest ``md5(id)`` (hash-seeded,
      engine-independent — no RNG);
    - assignment = argmin of integer squared L2, ties to the lowest
      cluster id;
    - new centroids = element-wise ``floor(sum / n)`` (the division is
      two exact ints through IEEE double — exact floor for any
      |sum| < 2^53); empty clusters keep their previous centroid;
    - a fixed ``iters`` Lloyd rounds, then one final assignment.

    Scale shape: the vector relation explodes to |V|·dim narrow rows
    once; each round is one broadcast join against k·dim centroid
    rows plus two keyed aggregations — no driver loop over data, no
    collect; plan depth grows with ``iters`` (keep it small, or
    checkpoint between rounds at cluster scale).
    Output: id_col, segment.
    """
    asg, _ = kmeans_quantized_fit(
        df, id_col=id_col, vec_col=vec_col, k=k, iters=iters, scale=scale
    )
    return asg


def kmeans_quantized_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    iters: int = 2,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """The quantized-Lloyd fit with its model exposed: returns
    ``(assignments(id, segment), centroids(cluster, d, c))`` where
    ``d`` is the 0-based component index and ``c`` the integer
    centroid component — the relation PQ's asymmetric-distance
    tables are built from (``pq_knn``). Same bit-exact semantics as
    ``kmeans_segments_quantized`` (which now delegates here)."""
    from pyspark.sql import Window

    ve = df.select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("d", "xr")
    ).select(
        "vid", "d", F.floor(F.col("xr").cast("double") * F.lit(scale)).cast("long").alias("x")
    )

    seed_order = [F.md5(F.col("vid").cast("string")).asc(), F.col("vid").asc()]
    # distributed top-k on the hash (TakeOrderedAndProject), THEN a
    # row_number over just k rows — never a global single-partition
    # window over all ids
    seeds = (
        df.select(F.col(id_col).alias("vid"))
        .orderBy(*seed_order)
        .limit(k)
        .withColumn("cluster", F.row_number().over(Window.orderBy(*seed_order)) - 1)
    )

    def assign(cent: DataFrame) -> DataFrame:
        # Kept in the k-rows two-level-aggregate form: the k-columns
        # variant that pays off for pq_fit (subspaced, m·k narrow
        # tables) was micro-benchmarked here at k=20/flat-d and came
        # out equal-to-slower (0.49-0.58 s vs 0.57-0.60 s warm at
        # sf0.1), so this shape stays (r15 A/B).
        dist = (
            ve.join(F.broadcast(cent), "d")
            .groupBy("vid", "cluster")
            .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("dist"))
        )
        return dist.groupBy("vid").agg(
            F.min(F.struct("dist", "cluster")).alias("m")
        ).select("vid", F.col("m.cluster").alias("cluster"))

    cent = ve.join(seeds, "vid").select("cluster", "d", F.col("x").alias("c"))
    for _ in range(iters):
        asg = assign(cent)
        new = (
            ve.join(asg, "vid")
            .groupBy("cluster", "d")
            .agg(F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("c_new"))
        )
        cent = (
            cent.withColumnRenamed("c", "c_prev")
            .join(new, ["cluster", "d"], "left")
            .select("cluster", "d", F.coalesce("c_new", "c_prev").alias("c"))
        )
    asg = assign(cent).select(
        F.col("vid").alias(id_col), F.col("cluster").alias("segment")
    )
    return asg, cent


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
    iters: int = 2,
    scale: int = 1000,
    min_cosine: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings, then compare vectors
    only WITHIN a cluster and drop every item that has a lower-id
    cluster-mate at cosine ≥ ``min_cosine``. Survivors are the
    id-order minima of each within-cluster similarity neighborhood —
    a one-pass, join-expressible pruning rule (no iteration, no
    transitive closure), deterministic for a fixed clustering.

    Clustering is ``kmeans_segments_quantized`` (hash-seeded integer
    Lloyd), so the WHOLE pipeline — assignment and pruning decisions
    — is bit-reproducible and SQL-oracle-checkable.

    Scale shape: the paper's point is exactly this plan — k bounds
    pair volume. The self-join shuffles on the cluster key and costs
    Σ|cluster|² comparisons; pick k ∝ N / target_cluster_size (e.g.
    ~N/5000 at corpus scale) so each cluster's pair block fits an
    executor, and raise ``iters`` only as codegen depth allows. No
    all-pairs path: cross-cluster near-dups are deliberately out of
    scope (that is SemDeDup's recall/cost trade). One input shape no
    k fixes: millions of IDENTICAL embeddings (templated content
    through a deterministic encoder) land in one cluster and square
    there — exact-dedup the vectors upstream first, the same
    layering contract as the text ladder's governors (SCALE.md §22).

    Output: ``id_col``, ``segment``, ``kept`` (true = survivor).
    """
    asg = kmeans_segments_quantized(
        df, id_col=id_col, vec_col=vec_col, k=k, iters=iters, scale=scale
    )
    # The assignment feeds three consumers (both self-join sides and
    # the final kept-flag join); localCheckpoint truncates the
    # unrolled Lloyd lineage so the fit runs once, not three times
    # (measured 11.5 s → ~6 s cold at sf0.1). Same pattern/rationale
    # as dedup.cluster_representatives' per-round checkpoint.
    asg = asg.localCheckpoint(eager=False)
    asg_v = asg.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
    a = asg_v.select(
        F.col(id_col).alias("id_a"), F.col("segment").alias("_seg"),
        F.col(vec_col).alias("_va"),
    )
    b = asg_v.select(
        F.col(id_col).alias("id_b"), F.col("segment").alias("_seg"),
        F.col(vec_col).alias("_vb"),
    )
    dropped = (
        a.join(b, "_seg")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(V.cosine("_va", "_vb") >= F.lit(min_cosine))
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return asg.join(dropped, id_col, "left").select(
        id_col, "segment", F.col("_dropped").isNull().alias("kept")
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, the
    workhorse of billion-scale ANN): split each vector into ``m``
    subspaces of ``dim/m`` components, fit an independent codebook of
    ``k`` centroids per subspace with the deterministic quantized
    Lloyd, and store each vector as its m code ids — dim floats
    compress to m small ints (64×4 B → 8 B here), which is what lets
    a 100 TB embedding corpus sit in executor memory for rescoring.

    Semantics are m independent quantized-Lloyd fits over the
    subspace slices (what the SQL oracle replays); execution is
    ``pq_fit``'s single joint pass — see its docstring for why the
    two are bit-identical and the scan count is independent of m.

    Output: ``id_col``, ``codes`` array<int> of length m.
    """
    codes, _ = pq_fit(
        df, id_col=id_col, vec_col=vec_col, dim=dim, m=m, k=k, iters=iters, scale=scale
    )
    return codes


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """PQ encode with the model exposed: returns ``(codes(id, codes),
    codebook(subspace, cluster, d, c))`` — m·k·dim/m integer centroid
    rows, broadcastable at any real geometry, which ``pq_knn`` turns
    into per-probe distance tables.

    All m codebooks fit in ONE joint Lloyd pass with ``subspace`` as
    an extra grouping key — every aggregation/argmin groups by
    (…, subspace), so the result is bit-identical to m independent
    ``kmeans_quantized_fit`` runs over the subspace slices (the SQL
    oracle replays exactly that formulation), but the corpus is
    scanned once per round instead of m times and the plan is one
    shallow job instead of m sequential ones (measured 19 s → ~3 s
    warm at sf0.1 for m=8, PERF.md). Seeds are the k smallest
    md5(id) vectors — shared across subspaces, as the per-slice fits
    would also pick them (md5(id) is slice-independent)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    # every projection and aggregate below is SQL text: one Py4J call
    # per plan step instead of one per column (k sums, k distances)
    ve = _quantized(
        df.select(F.col(id_col).alias("vid"), vec_col), ["vid"], vec_col,
        dim, m, scale, "pq_fit input",
    )
    seed_key = "md5(CAST(vid AS STRING))"
    seeds = (
        df.select(F.col(id_col).alias("vid"))
        .orderBy(F.expr(seed_key), "vid")
        .limit(k)
        .selectExpr("vid", f"row_number() OVER (ORDER BY {seed_key}, vid) - 1 AS cluster")
    )

    def assign(cent: DataFrame) -> DataFrame:
        # r15 optimization (guide §2.3 "aggregate before you shuffle" /
        # fewer rows through the agg): the old shape joined ve to the
        # codebook on (subspace, d) — k rows per component, a
        # |corpus|·dim·k-row hash aggregate keyed (vid, subspace,
        # cluster), then an argmin regroup. The codebook is instead
        # broadcast as ONE row per (subspace, d) carrying the k
        # cluster components as a cluster-indexed array, so the join
        # is 1:1 and the k squared-distance contributions ride as k
        # agg columns over a (vid, subspace)-keyed aggregate —
        # identical exact-integer sums, k× fewer rows and hash
        # probes, one aggregate instead of two. argmin =
        # array_position of the array minimum (FIRST occurrence →
        # lowest cluster id, the same tie rule as the old
        # min(struct(dist, cluster))). Bit-identical output — pinned
        # by the PQ/IVFADC oracle queries and unit suites.
        cent_arr = cent.groupBy("subspace", "d").agg(
            F.expr("transform(array_sort(collect_list(struct(cluster, c))), s -> s.c) AS cs")
        )
        # try_element_at, not cs[i] (ADVICE r15, medium): when the
        # corpus holds fewer than k vectors the seeds yield <k
        # clusters and cs is shorter than k; under Spark 4's default
        # ANSI mode a bare out-of-bounds index throws
        # INVALID_ARRAY_INDEX. try_element_at yields NULL instead, the
        # NULL rides through the sum, and array_min/array_position
        # skip NULL entries — identical argmin over the clusters that
        # exist (the old join-on-cluster shape's behavior).
        j = ve.join(F.broadcast(cent_arr), ["subspace", "d"]).selectExpr(
            "vid",
            "subspace",
            *[
                f"(x - try_element_at(cs, {i + 1})) * "
                f"(x - try_element_at(cs, {i + 1})) AS _d{i}"
                for i in range(k)
            ],
        )
        sums = ", ".join(f"sum(_d{i})" for i in range(k))
        return (
            j.groupBy("vid", "subspace")
            .agg(F.expr(f"array({sums}) AS _a"))
            .selectExpr(
                "vid", "subspace", "CAST(array_position(_a, array_min(_a)) - 1 AS INT) AS cluster"
            )
        )

    cent = ve.join(seeds, "vid").selectExpr("subspace", "cluster", "d", "x AS c")
    for _ in range(iters):
        asg = assign(cent)
        new = (
            ve.join(asg, ["vid", "subspace"])
            .groupBy("subspace", "cluster", "d")
            .agg(F.expr("CAST(floor(sum(x) / count(1)) AS BIGINT) AS c_new"))
        )
        cent = (
            cent.withColumnRenamed("c", "c_prev")
            .join(new, ["subspace", "cluster", "d"], "left")
            .selectExpr("subspace", "cluster", "d", "coalesce(c_new, c_prev) AS c")
        )
    cent = cent.localCheckpoint(eager=False)
    codes = (
        assign(cent)
        .groupBy("vid")
        .agg(F.expr("transform(array_sort(collect_list(struct(subspace, cluster))), s -> s.cluster) AS codes"))
        .withColumnRenamed("vid", id_col)
    )
    return codes, cent


def pq_knn(
    codes: DataFrame,
    codebook: DataFrame,
    probes: DataFrame,
    k_neighbors: int = 10,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    dim: int = 64,
    m: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """Asymmetric-distance PQ search (the IVFADC scoring half of
    Jégou et al. 2011): each probe builds an m×k integer table of
    squared distances to every subspace centroid, and a corpus
    vector's approximate distance is the sum of m table lookups on
    its codes — no corpus floats touched at query time.

    Every quantity is an exact integer (probe components quantized
    with the codebook's floor(x·scale)), so results are
    bit-reproducible and SQL-replayable. Ties rank by id.

    A caller passing an ``m`` different from the one the codes were
    fit with would silently drop subspaces in the inner join and
    return wrong-but-plausible rankings (ADVICE r4) — so every code
    row is length-checked in the plan (codegen'd size() guard,
    raise_error on mismatch: the job fails loudly instead). The
    codebook side gets the same treatment (ADVICE r5 / VERDICT r5
    ask #7): its actual geometry (n subspaces × components) is read
    from the codebook itself — one bounded 1-row aggregate, the same
    derive-from-the-index discipline as ``ivfadc_index_search`` —
    and a ``dim``/``m`` that disagrees with the fit raises before
    any job runs.

    Scale shape: the distance tables are |probes|·m·k rows —
    broadcast; the corpus side explodes codes to m rows per vector,
    joins the broadcast tables, and sums — one narrow pass, then a
    per-probe top-k (WindowGroupLimit). Nothing quadratic, no
    vectors shuffled.

    Output: probe_id, vec_id, adc_dist (long), rank.
    """
    sub_d = dim // m
    # Geometry check against the codebook itself (bounded 1-row agg):
    # a fit/search knob mismatch must error, not silently drop
    # subspaces in the equi-joins below.
    geom = codebook.agg(
        (F.max("subspace") + 1).alias("m_fit"),
        (F.max("d") + 1).alias("sub_d_fit"),
    ).first()
    if geom["m_fit"] is not None and (
        int(geom["m_fit"]) != m or int(geom["sub_d_fit"]) != sub_d
    ):
        raise ValueError(
            f"pq_knn: codebook was fit with m={geom['m_fit']}, "
            f"sub_d={geom['sub_d_fit']} (dim={int(geom['m_fit']) * int(geom['sub_d_fit'])}) "
            f"but search was called with m={m}, sub_d={sub_d} (dim={dim})"
        )
    # probe components, quantized like the codebook; length-guarded —
    # a short probe would build distance tables missing subspaces and
    # rank every candidate by a partial sum (r9 review)
    pq = _quantized(probes, [probe_id_col], probe_vec_col, dim, m, scale, "pq_knn probe")
    codes_checked = F.when(F.size("codes") == F.lit(m), F.col("codes")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pq_knn: codes length "),
                F.size("codes").cast("string"),
                F.lit(f" != m={m} — codes were fit with a different m"),
            )
        )
    )
    # every code row scores against every probe's tables
    cand = codes.select(F.col(id_col), codes_checked.alias("codes"))
    return _adc_topk(pq, codebook, cand, [probe_id_col], k_neighbors, probe_id_col, id_col)


def _dist_table(q: DataFrame, book: DataFrame, keys: list[str]) -> DataFrame:
    """``(*keys, subspace, cluster, dist)``: the exact integer squared
    distance of each quantized sub-vector of ``q`` (``_quantized``
    rows) to every codeword of its subspace — a probe's ADC table, or
    the argmin input of an encoding."""
    return (
        q.join(F.broadcast(book), ["subspace", "d"])
        .groupBy(*keys, "subspace", "cluster")
        .agg(F.expr("sum((x - c) * (x - c)) AS dist"))
    )


def _adc_topk(
    pq: DataFrame,
    book: DataFrame,
    cand: DataFrame,
    keys: list[str],
    k: int,
    probe_id_col: str,
    id_col: str,
) -> DataFrame:
    """The one asymmetric-distance scorer: the probes' distance tables
    keyed by ``keys`` (the probe, plus the cell under residual
    encoding), joined to the exploded codes of the candidate rows
    ``cand`` on the subspace, the codeword and whichever table keys
    ``cand`` carries (none: every code scores against every probe),
    summed per (probe, vector), then the per-probe top-k by
    ``(adc_dist, id)``. The tables are |probes|·m·k rows (times the
    probed cells) — broadcast; no vector is shuffled.
    Output: probe_id, vec_id, adc_dist (long), rank."""
    on = [c for c in keys if c in cand.columns]
    ce = cand.selectExpr(
        *[f"`{c}`" for c in on + [id_col]], "posexplode(codes) AS (subspace, cluster)"
    )
    scores = (
        ce.join(F.broadcast(_dist_table(pq, book, keys)), on + ["subspace", "cluster"])
        .groupBy(probe_id_col, id_col)
        .agg(F.expr("sum(dist) AS adc_dist"))
    )
    return per_group_topk(
        scores,
        probe_id_col,
        [F.col("adc_dist").asc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
        keep_rank=True,
    )


def _ivfadc_probes_quantized(
    probes: DataFrame,
    probe_cells: DataFrame,
    centroids: DataFrame,
    residual: bool,
    dim: int,
    m: int,
    scale: int,
    probe_id_col: str,
    probe_vec_col: str,
) -> tuple[DataFrame, list[str]]:
    """The quantized probes an IVFADC search scores with, and their
    table keys: the raw probe keyed by the probe, or under residual
    encoding the probe's residual against each probed cell's
    centroid, keyed by (probe, cell)."""
    if not residual:
        keys = [probe_id_col]
    else:
        keys = [probe_id_col, "cell"]
        probes = _residuals(
            probes, probe_cells, centroids, probe_id_col, probe_vec_col, dim, "ivfadc probe"
        )
    return _quantized(probes, keys, probe_vec_col, dim, m, scale, "ivfadc probe"), keys


def _ivfadc_model(
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    m: int,
    pq_k: int,
    iters: int,
    scale: int,
    id_col: str,
    vec_col: str,
    encode_residuals: bool,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The IVFADC model step shared by ``ivfadc_knn`` and
    ``build_ivfadc_index``: each vector's nearest cell, and the PQ
    codes and codebook fit over the raw vectors or over their
    residuals. Returns ``(assigned(id, cell), codes(id, codes),
    codebook)``."""
    assigned = _nearest_cells(corpus, centroids, id_col, vec_col, 1)
    fit_input = corpus
    if encode_residuals:
        # The residual frame feeds every Lloyd round, so truncate its
        # (crossJoin+window) lineage once instead of re-deriving it
        # per round.
        fit_input = _residuals(
            corpus, assigned, centroids, id_col, vec_col, dim, "ivfadc input"
        ).localCheckpoint(eager=False)
    codes, book = pq_fit(
        fit_input, id_col=id_col, vec_col=vec_col, dim=dim, m=m, k=pq_k,
        iters=iters, scale=scale,
    )
    return assigned, codes, book


def ivfadc_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k_neighbors: int = 10,
    n_cells: int = 16,
    n_probe_cells: int = 4,
    dim: int = 64,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    exclude_id_eq_probe: bool = False,
    encode_residuals: bool = False,
) -> DataFrame:
    """IVF + PQ search in the billion-scale ANN layout of Jégou et
    al. 2011: an IVF coarse quantizer restricts each probe to
    ``n_probe_cells`` of ``n_cells`` inverted lists, and candidates
    score by PQ asymmetric distance (m integer table lookups on
    their stored codes) instead of touching raw vectors. Search cost
    is ~(n_probe_cells/n_cells) of the corpus per probe, at 8 bytes
    of state per vector — both knobs independent of dim.

    ``encode_residuals`` picks the quantization target (ADVICE r4):
    False (default) PQ-encodes the RAW vectors — the simpler, lower
    -recall IVF+PQ variant; True encodes the RESIDUAL
    x − centroid(cell(x)) after coarse assignment, which is the
    paper's actual IVFADC: residuals concentrate near zero, so the
    same pq_k spends its codewords on a much tighter distribution
    (lower distortion at equal state — the benefit materializes when
    cells are tight; on weakly-clustered data raw and residual
    recall are comparable, measured in tests/test_dedup_vectors.py).
    Probe distance tables are then per (probe, probed cell) — the
    probe's residual against that cell's centroid —
    |probes|·n_probe_cells·m·k rows, still a broadcast.

    Deterministic end to end either way: the coarse quantizer is the
    ``ivf_knn_deterministic`` hash-seeded one, the codebooks the
    quantized joint Lloyd (over raw vectors or exact-double
    residuals), probe tables the same floor(x·scale) integers — so
    one SQL oracle replays index build, encoding, routing, AND
    scoring. Ties rank by id.
    Output: probe_id, vec_id, adc_dist (long), rank.
    """
    centroids = _hash_seeded_centroids(corpus, n_cells, id_col, vec_col)
    assigned, codes, book = _ivfadc_model(
        corpus, centroids, dim, m, pq_k, iters, scale, id_col, vec_col, encode_residuals
    )
    probe_cells = _nearest_cells(
        probes, centroids, probe_id_col, probe_vec_col, n_probe_cells
    )
    cand = probe_cells.join(assigned, "cell").join(codes, id_col)
    if exclude_id_eq_probe:
        cand = cand.filter(F.col(probe_id_col) != F.col(id_col))
    pq, keys = _ivfadc_probes_quantized(
        probes, probe_cells, centroids, encode_residuals, dim, m, scale,
        probe_id_col, probe_vec_col,
    )
    return _adc_topk(pq, book, cand, keys, k_neighbors, probe_id_col, id_col)


# the fixed schemas of a stored IVFADC index's model tables: reading
# them with these skips a schema-inference job per table
_IVFADC_META_SCHEMA = (
    "dim int, m int, pq_k int, iters int, scale int, n_cells int, encode_residuals boolean"
)
_CODEBOOK_SCHEMA = "subspace int, cluster int, d int, c bigint"
# the one table of the layout rewritten by swap (the tombstone restore)
_IVFADC_TABLES = (IS.TOMBSTONES,)


def build_ivfadc_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    dim: int = 64,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode_residuals: bool = False,
) -> None:
    """Materialize the IVFADC layout to storage — the form a 100 TB
    ANN corpus actually lives in: per-vector state is (id, m code
    bytes, cell), parquet-partitioned BY CELL so a search touching
    ``n_probe_cells`` cells prunes every other partition at the scan
    (PartitionFilters, asserted in tests). Alongside ride the two
    tiny model tables — ``centroids`` (n_cells rows) and ``codebook``
    (m·pq_k·dim/m integer rows) — plus a one-row ``meta`` table
    recording the geometry, so ``ivfadc_index_search`` derives
    dim/m/scale/encoding FROM THE INDEX rather than trusting the
    caller to repeat them (the mismatch class ADVICE r4 flagged on
    ``pq_knn``, solved structurally here).

    Same model step as ``ivfadc_knn`` (``_ivfadc_model``: hash-seeded
    cells, joint quantized Lloyd, optional residual encoding) and the
    same ADC scorer, so a stored index searched with the same knobs
    reproduces the in-memory operator bit for bit (equivalence-tested).

    A build or rebuild is a new index generation, staged and swapped
    in as a unit (``index_store.generation``): a crash mid-rebuild
    never leaves new centroids under old codes, and tombstones of the
    previous generation are gone with it, so ids deleted before the
    rebuild rank again when the fresh corpus contains them (r9
    review). Every entry point heals a crash inside a swap first.
    """
    spark = corpus.sparkSession
    meta = (dim, m, pq_k, iters, scale, n_cells, encode_residuals)
    with IS.generation(spark, path, meta, _IVFADC_META_SCHEMA) as tmp:
        # the seed pick runs once: written first, then every consumer
        # reads the stored copy (with the written schema, so no
        # inference job)
        seeded = _hash_seeded_centroids(
            corpus, n_cells, id_col, vec_col
        ).withColumnRenamed("_cv", "center")
        seeded.write.mode("overwrite").parquet(f"{tmp}/centroids")
        centroids = (
            spark.read.schema(seeded.schema)
            .parquet(f"{tmp}/centroids")
            .withColumnRenamed("center", "_cv")
        )
        assigned, codes, book = _ivfadc_model(
            corpus, centroids, dim, m, pq_k, iters, scale, id_col, vec_col, encode_residuals
        )
        (
            codes.join(assigned, id_col)
            .select(id_col, F.col("codes").cast("array<int>").alias("codes"), "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{tmp}/codes")
        )
        book.write.mode("overwrite").parquet(f"{tmp}/codebook")


def ivfadc_index_search(
    spark,
    path: str,
    probes: DataFrame,
    k_neighbors: int = 10,
    n_probe_cells: int = 4,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    exclude_id_eq_probe: bool = False,
) -> DataFrame:
    """Search a stored IVFADC index (``build_ivfadc_index``): route
    each probe against the tiny centroid table, scan ONLY the
    selected cell partitions of the codes table (partition pruning —
    search I/O is ~n_probe_cells/n_cells of the 8-bytes-per-vector
    state, never the raw vectors), and score by broadcast ADC
    tables. Geometry (dim/m/scale/residual encoding) comes from the
    index's meta table, so a knob mismatch with build time is
    impossible by construction.

    The routed (probe, cell) pairs are broadcast into the codes join,
    so dynamic partition pruning restricts the codes scan to the
    probed cells inside the one search plan — no driver-side pass over
    the routing first.
    Output: probe_id, vec_id, adc_dist (long), rank.
    """
    IS.heal(spark, path, _IVFADC_TABLES)
    meta = IS.read_meta(spark, path, _IVFADC_META_SCHEMA)
    centroids = spark.read.parquet(f"{path}/centroids").withColumnRenamed("center", "_cv")
    book = spark.read.schema(_CODEBOOK_SCHEMA).parquet(f"{path}/codebook")

    # Pinned: the routing runs once, and the codes join below reuses its
    # broadcast for dynamic partition pruning of the cell partitions.
    # Spark prunes only when the broadcast side holds a filter it cannot
    # prove redundant and that plans the same in the pruning subquery as
    # in the broadcast. The window's top-n filter fails both (the pin
    # carries it as a known constraint; unpinned, the optimizer rewrites
    # it into a group limit that only the broadcast gets), so the filter
    # is the index's cell range.
    probe_cells = _pin(
        _nearest_cells(probes, centroids, probe_id_col, probe_vec_col, n_probe_cells)
    ).where(f"cell < {meta.n_cells}")
    codes = spark.read.parquet(f"{path}/codes")
    # logically-deleted ids (delete_from_ivfadc_index) stop ranking
    # immediately; physical removal is compact_ivfadc_index's job.
    # The tombstone table is bounded by deletes since last compaction,
    # so the anti-join broadcasts.
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        codes = codes.join(
            F.broadcast(tomb.withColumnRenamed("tomb_id", id_col)), id_col, "left_anti"
        )

    # batch-sized build side; the broadcast is what dynamic partition
    # pruning reuses to prune the codes scan to the probed cells
    cand = codes.join(F.broadcast(probe_cells), "cell")
    if exclude_id_eq_probe:
        cand = cand.where(f"`{probe_id_col}` != `{id_col}`")
    pq, keys = _ivfadc_probes_quantized(
        probes, probe_cells, centroids, meta.encode_residuals, meta.dim, meta.m,
        meta.scale, probe_id_col, probe_vec_col,
    )
    return _adc_topk(pq, book, cand, keys, k_neighbors, probe_id_col, id_col)


def ivfadc_rerank_knn(
    corpus: DataFrame,
    probes: DataFrame,
    k_neighbors: int = 5,
    shortlist: int = 30,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
    round_to: int = 6,
    **ivfadc_kwargs,
) -> DataFrame:
    """Two-stage retrieval — the production ANN shape (Jégou et al.
    2011 §V): IVFADC produces a ``shortlist`` of candidates per probe
    from 8-byte PQ codes, then ONLY those candidates' raw vectors are
    fetched and re-scored with exact cosine to pick the final
    ``k_neighbors``. Quantization error affects WHICH ~30 candidates
    surface, not their final order — recall at equal k strictly
    dominates ADC-only ranking (pinned in tests).

    100 TB shape: stage 1 never touches raw vectors (inherited from
    ``ivfadc_knn``); stage 2 joins the |probes|·shortlist-row
    shortlist (broadcast — bounded by contract, probes are a bounded
    set) against the corpus by id, so exactly the shortlisted
    vectors are read — a point-lookup join, not a scan-and-score.
    """
    short = ivfadc_knn(
        corpus,
        probes,
        k_neighbors=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
        probe_vec_col=probe_vec_col,
        **ivfadc_kwargs,
    ).select(probe_id_col, id_col)
    rescored = (
        corpus.select(id_col, F.col(vec_col).alias("_cand_vec"))
        .join(F.broadcast(short), id_col)
        .join(
            F.broadcast(probes.select(probe_id_col, probe_vec_col)), probe_id_col
        )
        .select(
            probe_id_col,
            id_col,
            F.round(V.cosine(probe_vec_col, "_cand_vec"), round_to).alias("cos_sim"),
        )
    )
    return per_group_topk(
        rescored,
        probe_id_col,
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k_neighbors,
        rank_col="rank",
        keep_rank=True,
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Upper-triangle sample covariance matrix of a vector column:
    rows ``(i, j, cov)`` for 0 <= i <= j < d.

    Built the only way it survives 100 TB: each Arrow batch reduces
    to its d×d Gram partial (one BLAS ``X.T @ X`` per batch) via
    ``mapInPandas``, so the shuffle carries d(d+1)/2 rows PER BATCH
    — the data-sized relation never moves. Per-dimension means come
    from one ``posexplode`` aggregate (d rows per vector, map-side
    combined to d rows total); cov_ij = (Σ x_i x_j − n μ_i μ_j) /
    (n − 1).

    A naive double-explode (d² rows per vector) would multiply the
    scan 4096× at d=64 before the first combine — the Gram-partial
    plan replaces that with in-batch matmul.
    """
    import numpy as np
    import pandas as pd

    el = df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"))
    means = el.groupBy("i").agg(F.avg("x").alias("mu"), F.count("x").alias("n"))

    def gram_partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            g = m.T @ m
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame({"i": iu.astype("int32"), "j": ju.astype("int32"),
                                "sp": g[iu, ju]})

    partials = df.select(vec_col).mapInPandas(gram_partial, "i int, j int, sp double")
    sp = partials.groupBy("i", "j").agg(F.sum("sp").alias("sp"))
    ma = means.select(F.col("i"), F.col("mu").alias("_mu_i"), F.col("n"))
    mb = means.select(F.col("i").alias("j"), F.col("mu").alias("_mu_j"))
    return (
        sp.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            # + 0.0 collapses IEEE -0.0 so a near-zero covariance
            # rounds to the same signed zero in every engine
            (
                F.round(
                    (F.col("sp") - F.col("n") * F.col("_mu_i") * F.col("_mu_j"))
                    / (F.col("n") - 1),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    k: int = 8,
):
    """Principal components from the distributed covariance matrix:
    returns ``(components, explained_variance, explained_ratio)``
    where ``components`` is a k×d numpy array (rows = components,
    descending eigenvalue order, sign-normalized so each row's
    largest-|.| entry is positive — deterministic across LAPACK
    builds).

    The ONLY driver-side step is the d×d eigendecomposition —
    bounded by d² (d=64 → 4 KB), never by n. No SQL oracle exists
    for eigenvectors; correctness is pinned by property tests
    (variance ordering, projection decorrelation, reconstruction
    error monotone in k) — see tests/test_pca.py.
    """
    import numpy as np

    cov_rows = embedding_covariance(df, vec_col, round_to=12).collect()
    d = max(r["j"] for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    vals = vals[order]
    comps = vecs[:, order].T                   # k×d
    flip = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]
    ratio = vals / max(np.trace(cov), 1e-300)
    return comps, vals, ratio


def pca_project(
    df: DataFrame,
    components,
    vec_col: str = "embedding",
    *,
    out_col: str = "pca",
) -> DataFrame:
    """Project a vector column onto fitted components (k×d) — the
    k dot products run as JVM-side higher-order ``aggregate`` over a
    broadcast literal row, no Python in the per-row path."""
    comp_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for row in components
        ]
    )
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn(
        out_col,
        F.transform(
            comp_lit,
            lambda row: F.aggregate(
                F.zip_with(v, row, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )


def pq_encode_with_book(
    df: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """Encode vectors against an EXISTING codebook (no refit): the
    assignment half of ``pq_fit``, exposed for incremental index
    maintenance — new vectors entering a stored ANN index must use
    the index's codebooks, not codebooks refit on themselves, or
    their codes live in a different quantization space than the
    corpus they join (standard IVF practice: encode with the frozen
    model, retrain only on rebuild).

    Same integer quantization (floor(x·scale)) and argmin tiebreak
    as ``pq_fit``'s in-loop assignment, so encoding the ORIGINAL
    corpus with its own codebook reproduces its codes bit for bit
    (tested). One explode + broadcast-codebook join + two keyed
    aggregates; nothing quadratic.
    """
    ve = _quantized(
        df.select(F.col(id_col).alias("vid"), vec_col), ["vid"], vec_col,
        dim, m, scale, "pq_encode_with_book input",
    )
    dist = _dist_table(ve, codebook, ["vid"])
    return (
        dist.groupBy("vid", "subspace")
        .agg(F.min(F.struct("dist", "cluster")).alias("m"))
        .select("vid", "subspace", F.col("m.cluster").alias("cluster"))
        .groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "cluster"))),
                lambda s: s["cluster"],
            ).alias("codes")
        )
        .select(F.col("vid").alias(id_col), "codes")
    )


def upsert_ivfadc_index(
    new_vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally upsert vectors into a stored IVFADC index
    (``build_ivfadc_index``) WITHOUT rebuilding: route each new
    vector with the index's frozen centroids, encode it with the
    index's frozen codebook (residual-aware per the meta table), and
    rewrite ONLY the affected cell partitions (dynamic partition
    overwrite — untouched cells keep their files). An id that
    already exists in an affected cell is replaced (update
    semantics); ids in untouched cells are untouched by
    construction.

    Model tables (meta/centroids/codebook) are immutable here —
    quantization drift from a shifting data distribution is a
    REBUILD decision, surfaced by recall monitoring, not something
    an upsert should silently change.

    Scale notes: the merged affected-cell relation is pinned with an
    eager localCheckpoint before the overwrite (Spark cannot
    overwrite a path it is still reading); its size is the affected
    cells' rows — bounded by the upsert batch's cell locality, not
    the index size. The affected-cell id list collect is ≤ n_cells
    values.
    """
    spark = new_vectors.sparkSession
    IS.heal(spark, path, _IVFADC_TABLES)
    meta = IS.read_meta(spark, path, _IVFADC_META_SCHEMA)
    centroids = spark.read.parquet(f"{path}/centroids").select(
        "cell", F.col("center").alias("_cv")
    )
    book = spark.read.schema(_CODEBOOK_SCHEMA).parquet(f"{path}/codebook")

    assigned = _nearest_cells(new_vectors, centroids, id_col, vec_col, 1)
    fit_input = new_vectors
    if meta.encode_residuals:
        fit_input = _residuals(
            new_vectors, assigned, centroids, id_col, vec_col, meta.dim, "ivfadc upsert"
        )
    codes = pq_encode_with_book(
        fit_input, book, id_col=id_col, vec_col=vec_col,
        dim=meta.dim, m=meta.m, scale=meta.scale,
    )
    new_rows = codes.join(assigned, id_col).select(
        id_col, F.col("codes").cast("array<int>").alias("codes"), "cell"
    )

    # Affected cells = cells receiving new rows ∪ cells holding a
    # PRIOR copy of an upserted id: an updated embedding can route to
    # a DIFFERENT cell, and without rewriting the old cell its stale
    # copy survives — searches probing both cells would then sum two
    # code rows per id into one garbage adc_dist (r9 review). The
    # prior-copy lookup is an id-keyed semi-join over (id, cell) only
    # (the codes column prunes away); at 100 TB churn rates, keep an
    # id→cell manifest beside the index to make this O(batch) instead
    # of an index-wide id scan per upsert.
    codes_tbl = spark.read.parquet(f"{path}/codes")
    prior_cells = (
        codes_tbl.join(new_rows.select(id_col), id_col, "left_semi")
        .select("cell")
        .distinct()
    )
    # driver-side collect bounded by O(n_cells) — distinct cell ids
    # only (a build knob, ~√N); the codes themselves never collect
    cells = [
        r.cell
        for r in new_rows.select("cell").unionByName(prior_cells).distinct().collect()
    ]
    old = codes_tbl.filter(F.col("cell").isin(cells))
    merged = (
        old.join(new_rows.select(id_col), id_col, "left_anti")
        .select(id_col, "codes", "cell")
        .unionByName(new_rows)
        .localCheckpoint(eager=True)  # break the read-from-overwrite-target dependency
    )
    # per-write option, not a session-conf save/set/restore: the
    # session-wide toggle races concurrent static-mode overwrites in
    # the same SparkSession (the exact defect fixed in
    # streaming.sinks.idempotent_epoch_writer — r10 advice)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )

    # a re-inserted id must become searchable again: clear any
    # tombstone covering the upserted ids (tombstone table is small —
    # bounded by deletes since the last compaction) by the staged
    # restore, which keeps the other ids' tombstones through a crash
    tomb = IS.tombstones(spark, path)
    if tomb is not None:
        kept = tomb.join(
            new_rows.select(F.col(id_col).alias("tomb_id")), "tomb_id", "left_anti"
        ).localCheckpoint(eager=True)
        IS.restore_tombstones(spark, path, kept if kept.count() > 0 else None)


def delete_from_ivfadc_index(
    delete_ids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
) -> None:
    """Logically delete vectors from a stored IVFADC index
    (``build_ivfadc_index``) by APPENDING their ids to a tombstone
    table — O(batch) I/O, no cell rewrite, the churn-friendly half of
    the delete lifecycle (a 100 TB corpus deletes continuously;
    rewriting cell partitions per delete batch would turn every
    delete into a compaction). ``ivfadc_index_search`` anti-joins the
    tombstones, so deleted ids stop ranking immediately; the physical
    rewrite is deferred to ``compact_ivfadc_index``, whose cadence
    bounds the tombstone table's size (and therefore the anti-join's
    broadcast cost). Deleting an id that is not in the index is a
    harmless no-op tombstone; a later upsert of a tombstoned id
    clears its tombstone (see ``upsert_ivfadc_index``)."""
    spark = delete_ids.sparkSession
    IS.heal(spark, path, _IVFADC_TABLES)
    IS.append_tombstones(delete_ids.select(F.col(id_col).alias("tomb_id")), path)


def compaction_keep_plan(codes, tomb, id_col: str, affected: list):
    """The surviving-rows relation an IVFADC compaction rewrites:
    partition-pruned scan of the affected cells, anti-join against
    the (small, broadcastable) tombstone table. Factored out of
    ``compact_ivfadc_index`` so tools/gen_plans.py renders exactly
    the production plan shape."""
    return (
        codes.filter(F.col("cell").isin(affected))
        .join(tomb.withColumnRenamed("tomb_id", id_col), id_col, "left_anti")
        .select(id_col, "codes", "cell")
    )


def compact_ivfadc_index(path: str, spark=None, *, id_col: str | None = None) -> int:
    """Physically apply tombstones (``delete_from_ivfadc_index``) and
    reclaim space: rewrite ONLY the cell partitions that actually
    contain tombstoned ids (dynamic partition overwrite — the same
    partition-pruned discipline as the upsert; untouched cells keep
    their files byte-for-byte), then drop the tombstone table. A cell
    whose every row is deleted needs special handling: dynamic
    overwrite only replaces partitions PRESENT in the written data,
    so emptied cells are removed explicitly via the FileSystem API —
    without this they would silently keep their stale files.

    Returns the number of rows physically removed. The affected-cell
    list collect is bounded by n_cells; the rewritten relation is the
    affected cells' rows (pinned with an eager localCheckpoint before
    the overwrite, as in the upsert).

    ``id_col`` defaults to whatever id column the stored codes table
    carries (the one column that is neither ``codes`` nor ``cell``) —
    an index built with a custom ``id_col`` compacts without the
    caller restating it (ADVICE r7: the previous hardcoded ``vec_id``
    made such indexes tombstone-able but never compactable). If the
    compaction would empty EVERY cell, a schema-bearing empty
    partition is kept so ``{path}/codes`` stays readable — a bare
    directory with no parquet files would make the next
    search/upsert fail with an inference error (ADVICE r7)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    IS.heal(spark, path, _IVFADC_TABLES)
    tomb = IS.tombstones(spark, path)
    if tomb is None:
        return 0
    codes = spark.read.parquet(f"{path}/codes")
    if id_col is None:
        id_col = next(c for c in codes.columns if c not in ("codes", "cell"))
    tomb_as_id = tomb.withColumnRenamed("tomb_id", id_col)
    doomed = codes.join(tomb_as_id, id_col, "left_semi")
    # driver-side collects bounded by O(n_cells) — distinct cell ids
    # only (a build knob, ~√N), never the code rows being compacted
    affected = [r.cell for r in doomed.select("cell").distinct().collect()]
    all_cells = {r.cell for r in codes.select("cell").distinct().collect()}
    removed = doomed.count()
    if affected:
        keep = compaction_keep_plan(codes, tomb, id_col, affected).localCheckpoint(
            eager=True  # break read-from-overwrite-target
        )
        surviving = {r.cell for r in keep.select("cell").distinct().collect()}
        # per-write option — same session-conf-race rationale as
        # upsert_ivfadc_index above (r10 advice)
        (
            keep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        )
        for cell in set(affected) - surviving:
            IS.delete(spark, f"{path}/codes/cell={cell}")
        if not surviving and set(affected) == all_cells:
            # fully emptied: keep partition discovery alive
            IS.pin_empty_partition(keep, f"{path}/codes", "cell")
    IS.drop_tombstones(spark, path)
    return removed


def semantic_index_dedup(
    spark,
    path: str,
    new_vectors: DataFrame,
    corpus_vectors: DataFrame,
    *,
    min_cosine: float = 0.9,
    k_candidates: int = 10,
    n_probe_cells: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id_eq: bool = True,
) -> DataFrame:
    """Semantic near-duplicates between a NEW embedding batch and the
    corpus behind a stored IVFADC index — the embedding twin of
    ``dedup_index.minhash_index_dedup``: the one-time index pays the
    corpus pass; each batch is routed/scored against 8-byte-per-
    vector PQ state (cell-partition-pruned scan, broadcast ADC
    tables, tombstones honored — all inherited from
    ``ivfadc_index_search``), then the surviving candidates are
    rescored with EXACT cosine by re-reading only the candidate
    corpus vectors (broadcast semi-join into ``corpus_vectors`` — at
    100 TB the raw-vector scan is candidate-bounded, not corpus-
    bounded; the same candidate-text discipline as the MinHash
    index's exact rescore).

    Recall contract (the SemDeDup-style trade, explicit): a corpus
    near-dup is missed only if it quantizes outside the probe's
    ``n_probe_cells`` nearest cells or below rank ``k_candidates`` —
    both knobs monotone in recall. Identical/near-identical vectors
    route to the same cell by construction, so exact re-uploads are
    always caught. Output: new_id, corpus_id, cos_sim (≥
    ``min_cosine``), deterministic for the deterministic index
    construction.
    """
    probes = new_vectors.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    cand = ivfadc_index_search(
        spark,
        path,
        probes,
        k_neighbors=k_candidates,
        n_probe_cells=n_probe_cells,
        id_col=id_col,
        exclude_id_eq_probe=exclude_id_eq,
    ).select(F.col("probe_id").alias("new_id"), F.col(id_col).alias("corpus_id"))
    # cand feeds the candidate-id semi-join AND the rescore join: one
    # lazy materialization instead of running the whole ADC search
    # twice (same multi-consumer discipline as the MinHash index)
    cand = _pin(cand)

    corpus_cand = corpus_vectors.join(
        F.broadcast(cand.select(F.col("corpus_id").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("_vc"))
    new_side = new_vectors.select(
        F.col(id_col).alias("new_id"), F.col(vec_col).alias("_vn")
    )
    return (
        cand.join(F.broadcast(new_side), "new_id")
        .join(corpus_cand, "corpus_id")
        .select("new_id", "corpus_id", V.cosine("_vn", "_vc").alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cosine)
    )
