"""Stored IVFADC index: search must prune the codes table's cell
partitions (search I/O = n_probe_cells/n_cells of the 8-byte-per-
vector state) and reproduce the in-memory ``ivfadc_knn`` bit for bit
— both encoding variants, with geometry taken from the index's meta
table rather than the caller."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import vectorops as VO
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table

SEARCH_JOBS = 12
BUILD_JOBS = 19


def _executed_scans(df, table_dir: str) -> list[dict]:
    """Metrics of the executed file scans of ``table_dir`` in ``df``'s
    final (post-AQE) plan, e.g. ``numPartitions`` and ``numFiles``."""
    found = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "FileSourceScanExec" and node.relation().location().rootPaths().apply(0).toString().endswith(table_dir):
            metrics = node.metrics()
            found.append({k: metrics.apply(k).value() for k in ("numPartitions", "numFiles")})
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


@pytest.mark.parametrize("residual", [False, True])
def test_ivfadc_index_prunes_and_matches_inmemory(spark, sf_dir, tmp_path, residual):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / f"ivfadc_{residual}")
    VO.build_ivfadc_index(
        e, path, n_cells=8, dim=64, m=8, pq_k=16, iters=2,
        encode_residuals=residual,
    )

    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = VO.ivfadc_index_search(
        spark, path, probes, k_neighbors=10, n_probe_cells=4,
        exclude_id_eq_probe=True,
    )

    plan = out._jdf.queryExecution().executedPlan().toString()
    # several scans appear (probes, centroids, codebook); the CODES
    # scan must carry a cell partition filter
    part_filters = [s.split("]")[0] for s in plan.split("PartitionFilters: ")[1:]]
    assert any("cell" in pf for pf in part_filters), part_filters

    got = {
        (r.probe_id, r.vec_id, r.adc_dist, r.rank) for r in out.collect()
    }
    # real pruning, read from the executed codes scan: one probe routed
    # to 4 of the 8 cells reads exactly those 4 cell partitions
    one = VO.ivfadc_index_search(
        spark, path, probes.filter(F.col("probe_id") == 0), k_neighbors=10,
        n_probe_cells=4,
    )
    one.collect()
    scans = _executed_scans(one, f"{path}/codes")
    assert len(scans) == 1 and scans[0]["numPartitions"] == 4, scans
    mem = {
        (r.probe_id, r.vec_id, r.adc_dist, r.rank)
        for r in VO.ivfadc_knn(
            e, probes, k_neighbors=10, n_cells=8, n_probe_cells=4,
            dim=64, m=8, pq_k=16, iters=2, exclude_id_eq_probe=True,
            encode_residuals=residual,
        ).collect()
    }
    # deterministic construction both sides => exact agreement,
    # distances included
    assert got == mem


def test_ivfadc_index_search_job_budget(spark, sf_dir, tmp_path, count_jobs):
    """A stored-index search runs a fixed number of Spark jobs: the
    meta read needs no inference, and the probe routing runs once
    (no driver-side collect of the probed cells ahead of the search)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivfadc_budget")
    VO.build_ivfadc_index(e, path, n_cells=8, iters=1)
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    jobs = count_jobs(
        lambda: VO.ivfadc_index_search(spark, path, probes, k_neighbors=10).collect()
    )
    # the budget is the count measured on this fixture
    assert jobs <= SEARCH_JOBS, jobs


def test_build_job_budget(spark, sf_dir, tmp_path, count_jobs):
    """An index build runs a fixed number of Spark jobs: the seed pick,
    the PQ fit and the codes write, with the model step shared by the
    in-memory operator adding none."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jobs = count_jobs(
        lambda: VO.build_ivfadc_index(e, str(tmp_path / "ivfadc_build"), n_cells=8, iters=1)
    )
    # the budget is the count measured on this fixture
    assert jobs <= BUILD_JOBS, jobs


def test_pq_knn_over_stored_index_matches_full_probe_search(spark, sf_dir, tmp_path):
    """``pq_knn`` over a stored index's codes and codebook ranks every
    vector; ``ivfadc_index_search`` probing every cell of a raw-encoded
    index does too. The two callers of the one ADC scorer must agree
    on every row, distances included."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "ivfadc_full")
    VO.build_ivfadc_index(e, path, n_cells=8, dim=64, m=8, pq_k=16, iters=2)
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    searched = VO.ivfadc_index_search(spark, path, probes, k_neighbors=10, n_probe_cells=8)
    direct = VO.pq_knn(
        spark.read.parquet(f"{path}/codes"), spark.read.parquet(f"{path}/codebook"),
        probes, k_neighbors=10, dim=64, m=8,
    )

    def rows(df):
        return sorted((r.probe_id, r.vec_id, r.adc_dist, r.rank) for r in df.collect())

    got = rows(searched)
    assert len(got) == 50 and got == rows(direct)


def test_ivfadc_index_meta_drives_geometry(spark, sf_dir, tmp_path):
    """A search against an index built with non-default geometry must
    succeed WITHOUT the caller restating dim/m/scale — the meta table
    is the single source of truth (the ADVICE r4 mismatch class)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    path = str(tmp_path / "ivfadc_m16")
    VO.build_ivfadc_index(e, path, n_cells=4, dim=64, m=16, pq_k=8, iters=1)
    probes = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = VO.ivfadc_index_search(spark, path, probes, k_neighbors=5, n_probe_cells=2)
    rows = out.collect()
    assert rows and all(r.rank <= 5 for r in rows)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (meta.m, meta.pq_k, meta.n_cells) == (16, 8, 4)


def test_ivfadc_index_search_is_independent_of_input_partitioning(spark, sf_dir, tmp_path):
    """Cell assignment, PQ encoding and probe routing read their input
    as it arrives: corpus and probes at one partition or at four must
    give the identical neighbour lists."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    outs = []
    for nparts in (1, 4):
        path = str(tmp_path / f"ivfadc_p{nparts}")
        VO.build_ivfadc_index(e.repartition(nparts), path, n_cells=8, dim=64, m=8, pq_k=16, iters=2)
        out = VO.ivfadc_index_search(
            spark, path, probes.repartition(nparts), k_neighbors=10, n_probe_cells=4
        )
        outs.append(sorted((r.probe_id, r.rank, r.vec_id) for r in out.collect()))
    assert outs[0] and outs[0] == outs[1]
