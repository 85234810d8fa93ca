"""The workloads: inputs, one pass over the library, output checks.

A workload's ``prepare`` writes its seeded inputs (not timed) and keeps
the ground truth the checks score against. ``run_pass`` reads the inputs
through ``sources.io`` and drives the library only through
``plans.movielens``, ``operators.dedup_index`` and ``operators.vectorops``.
Each step is one operation; a step whose output check fails, or that
raises, counts as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup_index as DI
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import vectorops as VO
from big_data_movie_recommendation_and_customer_segmentation_spark.operators.als import ALSConfig
from big_data_movie_recommendation_and_customer_segmentation_spark.plans import movielens as ML
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import io as IO


class Ops:
    """Counts operations and the ones whose check failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}")


def _in_unit(metrics: dict) -> bool:
    vals = [metrics[k] for k in ("precision_at_k", "map", "ndcg_at_k")]
    return all(0.0 <= v <= 1.0 for v in vals)


def _read(spark, tr, path: str):
    with tr.span("sources.io", "read_parquet_evolved"):
        return tr.materialise(IO.read_parquet_evolved(spark, [path]))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------------ recsys


class Recsys:
    """The reference's scripts over one ratings table, in its order:
    S1 LSH movie twins and S2 their Pearson check, then S3 chronological
    split, S4 popularity eval at b=1000 on val+test and a bias sweep on
    val, and S5 ALS fit, rank-eval on val+test and RMSE."""

    name = "recsys"
    N_USERS, N_ITEMS = 800, 2000
    CLUSTERS, COPIES = 30, 2  # 90 planted twin pairs: all fit in the top 100
    HASH_TABLES = 16  # planted twins sit at Jaccard 0.75 or more: 16 tables still find them
    BIASES = (10.0, 100.0)
    ALS = ALSConfig(rank=16, max_iter=4)

    def prepare(self, spark, seed: int, work: str) -> dict:
        self.path = f"{work}/ratings"
        ratings = gen.ratings(spark, seed, self.N_USERS, self.N_ITEMS, self.CLUSTERS, self.COPIES)
        ratings.write.mode("overwrite").parquet(self.path)
        self.planted = gen.planted_twin_pairs(self.N_USERS, self.CLUSTERS, self.COPIES)
        self.seed = seed
        return gen.fingerprints({"ratings": spark.read.parquet(self.path)})

    def run_pass(self, spark, tr, ops: Ops, work: str) -> dict:
        ratings = _read(spark, tr, self.path)

        pairs = ML.movie_twins(spark, ratings, k=100, method="lsh", num_hash_tables=self.HASH_TABLES).cache()
        got = {(r["user_a"], r["user_b"]) for r in pairs.select("user_a", "user_b").collect()}
        twin_recall = len(got & self.planted) / len(self.planted)
        ops.check("movie_twins", 0 < len(got) <= 100, f"{len(got)} pairs")
        cv = ML.correlation_validation(spark, ratings, pairs, n_trials=1, sample_size=500, seed=self.seed)
        ops.check("correlation_validation", cv["twin_avg_corr"] > cv["random_avg_corr"], str(cv))
        pairs.unpersist()

        split = ML.split_ratings(ratings).cache()
        n_split = split.count()
        counts = {r["split"]: r["count"] for r in split.groupBy("split").count().collect()}
        n_in = (
            ratings.groupBy("userId").count().filter(F.col("count") >= 5).agg(F.sum("count")).first()[0]
        )
        late = (
            split.groupBy("userId")
            .agg(
                F.max(F.when(F.col("split") == "train", F.col("timestamp"))).alias("tmax"),
                F.min(F.when(F.col("split") == "test", F.col("timestamp"))).alias("tmin"),
            )
            .filter(F.col("tmax") > F.col("tmin"))
            .count()
        )
        ops.check("split", sum(counts.values()) == n_in == n_split and late == 0,
                  f"rows {counts} vs {n_in}, {late} users with train after test")
        train = split.filter(F.col("split") == "train")
        val = split.filter(F.col("split") == "val")
        test = split.filter(F.col("split") == "test")

        pop = ML.popularity_eval(spark, train, val, test, bias=1000.0)
        ops.check("popularity_eval", _in_unit(pop["val"]) and _in_unit(pop["test"]), str(pop))
        sweep = ML.popularity_bias_sweep(spark, train, val, biases=self.BIASES)
        ops.check("popularity_bias_sweep", all(_in_unit(r) for r in sweep), str(sweep))
        als = ML.als_pipeline(spark, train, val, test, config=self.ALS)
        rmse = als["test"]["rmse"]
        ops.check("als_pipeline", _in_unit(als["val"]) and _in_unit(als["test"]) and 0 < rmse < 5, str(als))
        split.unpersist()
        # NDCG over val and test: steadier across seeds than MAP, which
        # turns on the rank of a user's first few hits
        ndcg = (als["val"]["ndcg_at_k"] + als["test"]["ndcg_at_k"]) / 2
        return {
            "recall": twin_recall,
            "topk_quality": ndcg,
            "detail": {
                "twin_recall": (twin_recall, "ratio"),
                "twin_avg_corr": (cv["twin_avg_corr"], "r"),
                "random_avg_corr": (cv["random_avg_corr"], "r"),
                "als_map_at_100": (als["val"]["map"], "ratio"),
                "als_ndcg_at_100": (als["val"]["ndcg_at_k"], "ratio"),
                "als_test_map_at_100": (als["test"]["map"], "ratio"),
                "als_test_ndcg_at_100": (als["test"]["ndcg_at_k"], "ratio"),
                "als_test_rmse": (rmse, "rating"),
                "popularity_map_at_100_b1000": (pop["val"]["map"], "ratio"),
            },
        }


# ----------------------------------------------------------- corpus_ingest


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least 10 of ``n`` samples above it."""
    if n < 11:
        return None
    return int(math.floor(100 * (n - 10) / n))


class CorpusIngest:
    """Persisted MinHash band index and IVFADC index over a seeded
    corpus; fixed-size batches are probed and their new docs upserted;
    one delete + compaction pass; one ANN search scored against an
    exact NumPy brute force."""

    name = "corpus_ingest"
    N_CORPUS, BATCH, N_BATCHES = 2000, 100, 2
    DUP_SHARE, THRESHOLD = 0.5, 0.7
    N_VECS, N_PROBES = 2000, 50

    def prepare(self, spark, seed: int, work: str) -> dict:
        n = self.N_CORPUS
        gen.documents(spark, seed, 0, n).write.mode("overwrite").parquet(f"{work}/corpus")
        gen.documents(
            spark, seed, n, self.BATCH * self.N_BATCHES, dup_share=self.DUP_SHARE, dup_source_range=n
        ).write.mode("overwrite").parquet(f"{work}/batches")
        gen.embeddings(spark, seed, self.N_VECS).write.mode("overwrite").parquet(
            f"{work}/embeddings"
        )
        tables = {t: spark.read.parquet(f"{work}/{t}") for t in ("corpus", "batches", "embeddings")}
        dups = tables["batches"].filter(F.col("dup_of").isNotNull()).select("doc_id").toPandas()
        self.planted = set(dups["doc_id"].tolist())
        self.deletes = list(range(0, n, 50))
        emb = tables["embeddings"].orderBy("vec_id").toPandas()
        x = np.stack(emb["embedding"].to_numpy())
        p = x[: self.N_PROBES]
        d = ((p[:, None, :] - x[None, :, :]) ** 2).sum(-1)
        self.exact = [set(np.argsort(d[i], kind="stable")[:10].tolist()) for i in range(len(p))]
        self.input_bytes = sum(_dir_bytes(f"{work}/{t}") for t in tables)
        return gen.fingerprints(tables)

    def run_pass(self, spark, tr, ops: Ops, work: str) -> dict:
        idx, vidx = f"{work}/minhash_index", f"{work}/ivfadc_index"
        for p in (idx, vidx):
            shutil.rmtree(p, ignore_errors=True)
        corpus = _read(spark, tr, f"{work}/corpus").select("doc_id", "text")
        batches = _read(spark, tr, f"{work}/batches").select("doc_id", "text")
        emb = _read(spark, tr, f"{work}/embeddings")

        with tr.span("operators.dedup_index", "build_minhash_index"):
            DI.build_minhash_index(corpus, idx, max_shingle_freq=self.N_CORPUS // 50)
        ops.check("build_minhash_index", os.path.isdir(f"{idx}/bands"), "no band table")

        flagged: set[int] = set()
        admitted, latencies = 0, []
        t_ingest = time.perf_counter()
        for b in range(self.N_BATCHES):
            t0 = time.perf_counter()
            lo = self.N_CORPUS + b * self.BATCH
            batch = batches.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + self.BATCH))
            state = DI.load_index_state(spark, idx)
            with tr.span("operators.dedup_index", "minhash_index_dedup"):
                hits = DI.minhash_index_dedup(spark, idx, batch, threshold=self.THRESHOLD, index_state=state)
                hit = {r["new_id"] for r in hits.select("new_id").distinct().collect()}
            keep = batch.filter(~F.col("doc_id").isin(sorted(hit))) if hit else batch
            with tr.span("operators.dedup_index", "upsert_minhash_index"):
                res = DI.upsert_minhash_index(keep, idx, index_state=state)
            latencies.append(time.perf_counter() - t0)
            ops.check(f"batch{b}", res["inserted"] == self.BATCH - len(hit) and res["restored"] == 0, str(res))
            flagged |= hit
            admitted += res["inserted"]
        ingest_s = time.perf_counter() - t_ingest

        dels = spark.createDataFrame([(i,) for i in self.deletes], "doc_id long")
        with tr.span("operators.dedup_index", "delete_from_minhash_index"):
            DI.delete_from_minhash_index(dels, idx)
        with tr.span("operators.dedup_index", "compact_minhash_index"):
            removed = DI.compact_minhash_index(idx, spark)
        live = DI.minhash_index_stats(spark, idx).filter(F.col("band_id") == 0).first()["n_docs"]
        expect = self.N_CORPUS + admitted - len(self.deletes)
        ops.check("compact_minhash_index", removed == len(self.deletes) and live == expect,
                  f"removed {removed}, live {live}, expected {expect}")
        dup_recall = len(flagged & self.planted) / len(self.planted)
        index_bytes = _dir_bytes(idx)

        with tr.span("operators.vectorops", "build_ivfadc_index"):
            VO.build_ivfadc_index(emb, vidx, n_cells=4, iters=1)
        probes = emb.filter(F.col("vec_id") < self.N_PROBES).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
        )
        with tr.span("operators.vectorops", "ivfadc_index_search"):
            found = VO.ivfadc_index_search(spark, vidx, probes, k_neighbors=10).collect()
        got: dict[int, set] = {}
        for r in found:
            got.setdefault(r["probe_id"], set()).add(r["vec_id"])
        ann = statistics.fmean(len(got.get(i, set()) & self.exact[i]) / 10 for i in range(self.N_PROBES))
        ops.check("ivfadc_index_search", all(len(got.get(i, ())) == 10 for i in range(self.N_PROBES)),
                  f"{len(found)} neighbours for {self.N_PROBES} probes")
        index_bytes += _dir_bytes(vidx)

        lat = sorted(latencies)
        pct = tail_percentile(len(lat))
        detail = {
            "batch_p50_s": (statistics.median(lat), "s"),
            "docs_per_s": (admitted / ingest_s, "1/s"),
            "dup_recall": (dup_recall, "ratio"),
            "ann_recall_at_10": (ann, "ratio"),
            "index_space_amp": (index_bytes / self.input_bytes, "ratio"),
        }
        if pct is not None:
            detail["batch_tail_s"] = (float(np.percentile(lat, pct)), "s")
        return {
            "recall": dup_recall,
            "topk_quality": ann,
            "detail": detail,
            "batch_tail": {"percentile": pct, "samples": len(lat)},
        }


WORKLOADS = {w.name: w for w in (Recsys, CorpusIngest)}
