"""Regenerate PLANS.md: formatted physical plans of representative
queries with one-line commentary. Run from the repo root."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark

SF_DIR = "/root/testdata/sf0.01"

NOTES = {
    "pricing_summary": "Scan→agg core: pushdown + pruning + partial aggregation, one shuffle.",
    "candidates_unseen": "Candidate pipeline: broadcast cross join, top-k semi-filter on the seen side BEFORE its distinct, anti join.",
    "revenue_rollup_region_nation": "Star join: all three dims broadcast; ROLLUP grouping sets in a single Expand+agg pass.",
    "recent_orders_per_customer": "Per-group top-k: WindowGroupLimit pushes the limit below the sort.",
    "minhash_duplicate_pairs": "Dedup scale path: one regex shingle scan, map-local universal-hash signatures, banded self-join, exact rescore.",
    "purchase_attribution_asof": "As-of join: union + single keyed window (one Exchange), no range join.",
    "purchase_click_attribution": "Stream-stream-shaped attribution: equi-join on user with the hour bound as a range residual — no cartesian.",
    "semantic_dedup_survivors": "SemDeDup: quantized-Lloyd assignment (checkpoint boundary), within-cluster pair prune keyed on the cluster id.",
    "ivfadc_residual_knn": "Residual IVFADC: coarse routing, residual computation (checkpoint boundary), joint-Lloyd codebooks, per-(probe,cell) broadcast tables.",
    "purchase_click_attribution_left": "Left-outer attribution: effects drive, same equi-join + range residual, null causes for the unattributed.",
    "part_association_rules": "Market-basket: incidence dedup + size governor (checkpoint boundary), basket-key self-join, broadcast item counts and N.",
    "customer_revenue_pareto": "Bucketed two-pass prefix sum: per-bucket window + broadcast exclusive offsets — NO Exchange SinglePartition.",
    "customer_rfm_segments": "RFM ladders: one keyed agg; percentile cuts folded in as literals — no global ntile window.",
    "snapshot_diff_orders": "CDC diff: ONE full-outer sort-merge join on the key, codegen'd null-safe struct compare.",
    "part_skyline": "Skyline sweep: bucketed prefix-MIN (broadcast offsets) + in-bucket RANGE window — no SinglePartition, no quadratic join.",
    "orders_profile": "Single-pass profiling: one scan, Expand for the multi-distinct, stack-unpivot of the single agg row.",
    "ivfadc_rerank_knn": "Two-stage ANN: PQ-code shortlist (stage 1), broadcast point-lookup join of shortlisted raw vectors (stage 2).",
    "customer_order_status_scd2": "SCD2 gaps-and-islands: ONE hash-by-key Exchange feeds change-flag window, run-id running sum, collapse agg, and valid_to lead.",
    "embedding_covariance": "Covariance via Gram partials: ArrowEvalPython/mapInPandas emits d(d+1)/2 rows per batch; vectors never shuffle.",
    "part_copurchase_pagerank": "PageRank: checkpointed edge relation (Scan ExistingRDD boundary in production), 2 keyed exchanges per iteration.",
    "purchase_value_auc": "Exact AUC: distinct-score collapse, bucketed prefix count (broadcast offsets), one scalar agg — no SinglePartition window.",
    "hybrid_doc_retrieval_rrf": "RRF fusion: two bounded top-50 producers union into one keyed agg; rank window sees <=100 rows.",
    "bloom_filtered_order_revenue": "Bloom semi-join: one broadcast-hash LEFT SEMI join per hash function fused into the scan stage, then the exact verify — zero probe-side exchanges before the agg.",
    "customer_item_cf_recommendations": "Item-kNN CF: governed cosine-neighbor subtree (checkpoint boundary), item-keyed history join, anti-join seen, WindowGroupLimit top-n.",
    "customer_repurchase_survival": "Kaplan-Meier: first/second-order window, one life-table agg, per-segment prefix windows on the tiny table.",
    "als_scoring_topk": "ALS serving algebra (r08): bounded 50-user side BROADCAST against the distributed item-factor relation, 8-term dot product in codegen, WindowGroupLimit top-5; recommendForUserSubset pinned row-for-row to this plan by tests/test_als_serving.py.",
    "doc_script_profile": "Script routing (r12): derived-text and stripped-text each materialized in ONE Project (CollapseProject keeps expensive multiply-referenced exprs), pre_stripped argmax — 4 regex-replace nodes total where the naive form carried ~25; one shuffle on the tiny script key.",
    "cjk_near_duplicate_pairs": "Char-unit dedup scale path (r12): transliteration + routing predicate map-local, codepoint-safe consuming-regex shingles, 60-bit hashed shingle keys through the governed self-join (checkpoint boundary) — same shape as ngram_duplicate_pairs.",
    "doc_encoding_quality": "Encoding QA (r12): three one-regex-scan damage counts per doc, map-local; integer partial aggregates into a 4-value leg key — the scan dominates at any scale.",
    "incremental_dedup_pairs": "Persisted-index probe (r13): the BATCH's band rows broadcast against the stored band table (corpus side is a parquet scan + BroadcastHashJoin — zero corpus shuffle), candidate ids broadcast-semi into stored sigs, 32-way agreement sum in codegen. Index size never rides a shuffle; query cost tracks candidate density.",
    "repeated_substring_spans": "Substring dedup (r13): per-position k-gram hash explode, doc-keyed winnow window (one Exchange on doc), 60-bit fingerprint self-join, exact k-gram verify against the two doc texts, same-diagonal chain windows keyed by (doc_a, doc_b, diag) — no SinglePartition anywhere.",
    "decontam_index_overlaps": "Decontam index probe (r15): ONE corpus explode + distinct feeding a BroadcastHashJoin against the stored gram table, doc-keyed hit agg (pinned — Scan ExistingRDD boundary), then the flagged set broadcast-LeftSemi prunes the corpus BEFORE the candidate-bounded denominator re-gram.",
    "spfhp_pack_assignments": "SPFHP packing (r15): bounded histogram collect feeds the driver-side greedy; slotting is a row_number window PARTITIONED BY length (parallel across length classes) + a broadcast demand-table join with rank-range routing — no SinglePartition exchange.",
    "corpus_slice_lineage": "Corpus lineage (r15): two per-slice XOR-fingerprint aggs (partial XOR rides the shuffle, one row per slice), screen subtree pruned by the broadcast flagged set, unhinted slice-key join (AQE broadcasts the sane case).",
    "mixture_epoch_materialization": "Mixture materialization (r15): the #langs-row allocation (temperature plan + milli-epoch quantization) broadcasts into the corpus scan; epoch expansion is a Generate (sequence explode) and the fractional-epoch gate an md5 filter — zero data shuffles before the final counting agg.",
    "bpe_vocab_merges": "BPE induction (r15): one explode+partial-agg word count, TakeOrderedAndProject top-V (per-task heaps, O(V) driver); the merge table itself is driver-computed on the bounded histogram, so the rendered plan is the histogram scan — the corpus never feeds the loop.",
}


def main() -> None:
    spark = get_spark(app_name="plans-doc")
    queries = entrymod.queries()
    lines = [
        "# PLANS — formatted physical plans of representative queries",
        "",
        "Generated from `df.explain('formatted')` at sf0.01. Regenerate:",
        "`python tools/gen_plans.py` (or the snippet in git history).",
        "",
        "Lazy pins and checkpoints print as `Scan ExistingRDD`: the plan",
        "below each boundary runs once and every consumer reads its copy.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, note in NOTES.items():
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        lines += [f"## {name}", "", note, "", "```", plan.strip()[:6000], "```", ""]

    # IVFADC compaction rewrite (r08): not a queries() entry — an
    # index-lifecycle op — so render its keep-relation from a scratch
    # index built the production way.
    import tempfile

    from pyspark.sql import functions as F

    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
        vectorops as VO,
    )
    from big_data_movie_recommendation_and_customer_segmentation_spark.sources import (
        load_table,
    )

    with tempfile.TemporaryDirectory() as tmp:
        emb = load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        path = os.path.join(tmp, "idx")
        VO.build_ivfadc_index(emb, path, n_cells=8, dim=64, m=8, pq_k=16, iters=2)
        VO.delete_from_ivfadc_index(
            emb.select("vec_id").limit(5), path
        )
        codes = spark.read.parquet(f"{path}/codes")
        tomb = VO._index_tombstones(spark, path)
        doomed = codes.join(
            tomb.withColumnRenamed("tomb_id", "vec_id"), "vec_id", "left_semi"
        )
        affected = [r.cell for r in doomed.select("cell").distinct().collect()]
        keep = VO.compaction_keep_plan(codes, tomb, "vec_id", affected)
        plan = keep._jdf.queryExecution().explainString(mode)
        lines += [
            "## ivfadc_compaction_keep (index lifecycle, r08)",
            "",
            "Compaction rewrite relation: partition-PRUNED scan of only the "
            "affected `cell=` partitions (PartitionFilters carries the isin), "
            "BroadcastHashJoin LeftAnti against the small tombstone table — "
            "untouched cells are never read, the rewrite I/O is "
            "O(affected cells), and the result overwrites via dynamic "
            "partition overwrite (emptied cells removed, fully-emptied index "
            "kept readable via a schema-bearing empty partition).",
            "",
            "```",
            plan.strip()[:6000],
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
