"""Measured scaling for the persisted MinHash band index
(operators/dedup_index.py): at each SF, split documents into a 99%
corpus and a 1% "daily batch", then time

- build          — build_minhash_index over the corpus (one-time),
- query_estimate — batch vs index, signature-agreement rescore,
- query_exact    — batch vs index, exact rescore (candidate text
                   re-read from the corpus table),
- recompute      — the counterfactual: the in-session batch miner
                   over corpus ∪ batch (what every batch costs when
                   there is no index), restricted to cross pairs.

plus query_fixed_batch — a FIXED 50-doc batch at every SF, the true
incremental shape (corpus grows, the day's batch doesn't).

The 100 TB claim under test: build is the linear one-time pass;
per-batch query cost tracks the batch + candidate density, so the
fixed-batch slope should be ~0 in corpus size while recompute stays
super-constant, and the proportional-batch queries land in between.
Warm medians of 3 per point (same methodology as
tools/scaling_exponents.py), one session.

    python tools/scale_dedup_index.py            # writes SCALING_DEDUP_INDEX_r12.json
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    dedup as DD,
    dedup_index as DI,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]
_SF1 = os.path.join(REPO, "benchdata", "sf1")
if os.path.isdir(_SF1):
    SF_DIRS.append(("1", _SF1))

GOV = 100  # max_shingle_freq, the production governor default
REPS = 3


def _median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def main() -> None:
    spark = get_spark(app_name="bdmrcs-scale-dedup-index")
    out = {}
    for sf, d in SF_DIRS:
        docs = load_table(spark, d, "documents")
        corpus = docs.filter(F.col("doc_id") % 100 != 0).localCheckpoint()
        batch = docs.filter(F.col("doc_id") % 100 == 0).localCheckpoint()
        # the sharper 100 TB shape: a FIXED 50-doc batch against a
        # growing corpus — per-batch query cost should be ~flat.
        # Deterministic 50 docs at EVERY SF (r12 review: the earlier
        # doc_id<5000 spelling yielded only 5 docs at sf0.01, mixing
        # batch-size scaling into the published slope), re-id'd so the
        # probe never self-matches corpus ids.
        fixed = (
            docs.filter(F.col("doc_id") % 10 == 5)
            .orderBy("doc_id")
            .limit(50)
            .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
            .localCheckpoint()
        )
        path = f"/tmp/mhidx_scale_sf{sf}"
        builds, ests, exacts, recomputes, fixeds = [], [], [], [], []
        for _ in range(REPS):
            t0 = time.monotonic()
            DI.build_minhash_index(
                corpus, path, n=3, num_perm=32, band_rows=2, seed=42,
                max_shingle_freq=GOV,
            )
            builds.append(time.monotonic() - t0)

            t0 = time.monotonic()
            n_est = DI.minhash_index_dedup(
                spark, path, batch, threshold=0.5, rescore="estimate"
            ).count()
            ests.append(time.monotonic() - t0)

            t0 = time.monotonic()
            n_ex = DI.minhash_index_dedup(
                spark, path, batch, threshold=0.5, rescore="exact",
                corpus_docs=corpus,
            ).count()
            exacts.append(time.monotonic() - t0)

            t0 = time.monotonic()
            n_re = (
                DD.minhash_duplicate_pairs(
                    spark, docs, "doc_id", "text", n=3, threshold=0.5,
                    num_perm=32, band_rows=2, seed=42, max_shingle_freq=GOV,
                )
                .filter((F.col("doc_a") % 100 == 0) != (F.col("doc_b") % 100 == 0))
                .count()
            )
            recomputes.append(time.monotonic() - t0)

            t0 = time.monotonic()
            DI.minhash_index_dedup(
                spark, path, fixed, threshold=0.5, rescore="estimate"
            ).count()
            fixeds.append(time.monotonic() - t0)
        out[sf] = {
            "n_corpus": corpus.count(),
            "n_batch": batch.count(),
            "pairs_estimate": n_est,
            "pairs_exact": n_ex,
            "pairs_recompute": n_re,
            "build_s": round(_median(builds), 3),
            "query_estimate_s": round(_median(ests), 3),
            "query_exact_s": round(_median(exacts), 3),
            "recompute_s": round(_median(recomputes), 3),
            "n_fixed_batch": fixed.count(),
            "query_fixed_batch_s": round(_median(fixeds), 3),
        }
        print(sf, json.dumps(out[sf]), flush=True)

    def slope(metric, a, b):
        if a not in out or b not in out:
            return None
        return round(
            math.log(out[b][metric] / out[a][metric])
            / math.log(float(b) / float(a)),
            3,
        )

    result = {
        "points": out,
        "slopes_0.01_to_0.1": {
            m: slope(m, "0.01", "0.1")
            for m in (
                "build_s", "query_estimate_s", "query_exact_s", "recompute_s",
                "query_fixed_batch_s",
            )
        },
        "slopes_0.1_to_1": {
            m: slope(m, "0.1", "1")
            for m in (
                "build_s", "query_estimate_s", "query_exact_s", "recompute_s",
                "query_fixed_batch_s",
            )
        },
        "governor": GOV,
        "reps": REPS,
        "methodology": "warm medians of 3, one session, local[32]",
    }
    with open(os.path.join(REPO, "SCALING_DEDUP_INDEX_r12.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result["slopes_0.01_to_0.1"]))
    print(json.dumps(result["slopes_0.1_to_1"]))


if __name__ == "__main__":
    main()
