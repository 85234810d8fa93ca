"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints per-query detail lines, then ONE final JSON line:
  {"metric": "headline_queries_total_wall", "value": N, "unit": "sec", ...}

Each query is fully materialized via the ``noop`` sink (executes the
whole plan, no driver collect cost). A warmup run of the flagship
query absorbs JVM/codegen startup so per-query numbers reflect the
plans, not session spin-up.

Headline methodology (r07, VERDICT r6 ask #2): the parsed ``value``
is the MEDIAN-OF-3 one-shot total — per-query medians over three
independent one-shot passes, each in a FRESH JVM (subprocess
children; codegen caches are JVM-static, so an in-process session
restart would not reset them), summed. A single one-shot sample has
a measured within-session spread (±0.5 s/query, PROBE_r06.json)
larger than the round-over-round deltas it was being used to argue
about; the median kills that artifact while keeping one-shot
semantics (codegen compile included). Sidecars: this session's
single one-shot total (``one_shot_this_session``, the pre-r07
series) and ``warm_median_total`` (steady-state). Set
SPARK_GRAFT_BENCH_REPS=1 to skip the child sessions during local
iteration.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark
from big_data_movie_recommendation_and_customer_segmentation_spark.plans import QUERY_REGISTRY

# Headline set: one per operator family — scan/agg, join+agg, window
# top-k, candidate pipeline (cross+anti join), split window, corr,
# set-similarity self-join, text stats, exact+minhash dedup, vector
# top-k, event-time windows.
HEADLINE = [
    "pricing_summary",
    "segment_revenue",
    "recent_orders_per_customer",
    "part_popularity_biased",
    "candidates_unseen",
    "chronological_split_counts",
    "corr_qty_price_by_flag",
    "top_similar_customer_pairs",
    "doc_quality_scores",
    "exact_duplicate_groups",
    "ngram_duplicate_pairs",
    "minhash_duplicate_pairs",
    "knn_bruteforce",
    "knn_bruteforce_vectorized",
    "tfidf_top_terms",
    "purchase_attribution_asof",
    "events_session_interval_join",
    "tumbling_hourly_events",
    "session_windows_per_user",
]

# Second bench set (VERDICT r4 ask #7): the headline list is frozen at
# its r01 composition for cross-round comparability, so regressions in
# the newer operator families (PQ/IVFADC ANN, semantic dedup,
# attribution join, funnel/trending) would otherwise only surface in
# PERF.md notes. These ~6 representatives get their own one-shot total
# (`extended_queries_wall` in the final line) so the driver's BENCH
# record catches them too.
EXTENDED = [
    "pq_adc_knn",
    "ivfadc_knn",
    "semantic_dedup_survivors",
    "purchase_click_attribution",
    "trending_event_types",
    "signup_click_purchase_funnel",
    # r5 pipeline families (added before BENCH_r05's first recording
    # of extended_queries_wall so the set is stable from its debut)
    "part_association_rules",
    "customer_revenue_pareto",
    "fuzzy_duplicate_pairs",
    "snapshot_diff_orders",
    # r5 analytics families (same debut window): the two heaviest new
    # plans — the iterative graph job and the governed cosine
    # self-join — so regressions in them are driver-recorded
    "part_copurchase_pagerank",
    "part_cosine_neighbors",
    # r5 insights batch (same debut window): the item-CF recommender
    # rides the same cosine subtree plus its own join/agg tail — the
    # heaviest insights plan, worth a driver-recorded number
    "customer_item_cf_recommendations",
    # r5 graph batch (same debut window): the fixpoint
    # label-propagation loop is the only iterative-until-converged
    # plan in the registry — its round count is data-dependent, so
    # regressions deserve a driver-recorded number
    "part_copurchase_components",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibration_probe(spark) -> float:
    """Fixed-work host-speed control (VERDICT r13 ask #2): a constant
    synthetic sort-aggregate-join over ``spark.range`` data — pinned
    row counts, pinned input partitioning, zero disk reads — timed
    FIRST in every bench session. Identical code + identical data
    every round means the only variable is the host, so every stamp
    carries its own day factor: PERF.md reads
    ``calib_wall / CALIB_BASELINE`` and reports a host-normalized
    view mechanically instead of re-litigating elevated stamps with
    after-the-fact A/Bs (two rounds running: r12's drift probe,
    r13's +35% identical-code check).

    The shape intentionally samples the three machine paths the
    headline queries stress: a shuffle join (1M-row build side — too
    big to broadcast by estimate, so sort-merge/shuffled-hash), a
    wide-key aggregation (map-side partial combine), and a global
    sort. One-shot semantics (first jobs in the session) so the
    number includes codegen compile, same as the one-shot legs it
    normalizes."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    fact = spark.range(0, 20_000_000, 1, 32).select(
        (F.col("id") % 1_000_003).alias("k"),
        ((F.col("id") * 2654435761) % 1_000_000_007).alias("v"),
    )
    dim = spark.range(0, 1_000_000, 1, 32).select(
        (F.col("id") % 1_000_003).alias("k"),
        (F.col("id") % 97).alias("w"),
    )
    materialize(
        fact.join(dim, "k")
        .groupBy((F.col("v") % 8192).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("w").alias("s"),
            F.avg("v").alias("m"),
        )
        .orderBy("g")
    )
    return round(time.perf_counter() - t0, 3)


def _next_round() -> int:
    """Round number for the sidecar stamp.

    An explicit ``SPARK_GRAFT_ROUND`` env var wins outright — the
    artifact inference below can still misfire on a re-bench inside a
    finished round (BENCH_rN committed → stamps N+1, r10 advice), so
    any builder-initiated run should pin the round explicitly.

    Fallback inference from committed driver artifacts. Two writers
    share this path (PERF.md §Round 9):

    - builder runs mid-round N: CORRECTNESS_r{N-1} AND BENCH_r{N-1}
      both exist (committed together at the end of round N-1) →
      stamp N = max+1;
    - the driver's own end-of-round-N run: it writes CORRECTNESS_rN
      BEFORE benching, so max = N but BENCH_rN does not exist yet →
      stamp N = max.

    The old unconditional max+1 made the driver's run overshoot into
    round N+1's slot (the r08→r09 off-by-one VERDICT r8 flagged)."""
    import glob
    import re

    explicit = os.environ.get("SPARK_GRAFT_ROUND")
    if explicit:
        if not re.fullmatch(r"\d+", explicit.strip()):
            raise SystemExit(
                f"SPARK_GRAFT_ROUND must be a bare round number "
                f"(e.g. 11), got {explicit!r}"
            )
        return int(explicit.strip())

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    if not rounds:
        return 0
    latest = max(rounds)
    bench_done = os.path.exists(os.path.join(here, f"BENCH_r{latest:02d}.json"))
    return latest + 1 if bench_done else latest


def write_detail_sidecar(
    timings: dict[str, float],
    warm: dict[str, float],
    warm_median: dict[str, float],
    extended: dict[str, float],
    sf: float,
    path: str | None = None,
    oneshot_reps: dict[str, list[float]] | None = None,
    oneshot_median: dict[str, float] | None = None,
    tier3: dict[str, float] | None = None,
    calib_wall: float | None = None,
    calib_walls: list[float] | None = None,
) -> str:
    """Commit-ready per-round sidecar (VERDICT r4 ask #3): the driver
    keeps only ~2000 chars of bench stdout, so the full per-query
    dicts ride in BENCH_DETAIL_r{N}.json in the repo — per-query
    numbers stay auditable from committed artifacts alone even when
    the stdout detail lines truncate."""
    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_DETAIL_r{_next_round():02d}.json",
        )
    payload = {
        "sf": sf,
        "queries": timings,
        "queries_warm": warm,
        "queries_warm_median": warm_median,
        "extended_queries": extended,
        "headline_total": round(sum(timings.values()), 3),
        "warm_total": round(sum(warm.values()), 3),
        "warm_median_total": round(sum(warm_median.values()), 3),
        "extended_queries_wall": round(sum(extended.values()), 3),
    }
    if tier3:
        # r13 incremental/substring tier: its OWN total — folding it
        # into extended_queries_wall would shift that frozen-at-debut
        # cross-round series
        payload["index_tier_queries"] = tier3
        payload["index_tier_wall"] = round(sum(tier3.values()), 3)
    if calib_wall is not None:
        # fixed-work host control (VERDICT r13 ask #2): one value per
        # session this run spawned, parent's last — read against
        # BASELINE.md's calib pin for the day's host factor
        payload["calib_wall"] = calib_wall
        payload["calib_walls"] = calib_walls or [calib_wall]
        payload["calib_wall_median"] = round(
            statistics.median(calib_walls or [calib_wall]), 3
        )
    if oneshot_reps is not None:
        # full per-(query, fresh-JVM-rep) record behind the median
        payload["queries_oneshot_reps"] = oneshot_reps
    if oneshot_median is not None:
        payload["queries_oneshot_median"] = oneshot_median
        payload["oneshot_median_total"] = round(sum(oneshot_median.values()), 3)
    with open(path, "w") as f:
        json.dump(
            payload,
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    return path


def format_output(
    timings: dict[str, float],
    warm: dict[str, float],
    warm_median: dict[str, float],
    sf: float,
    extended: dict[str, float] | None = None,
    oneshot_median: dict[str, float] | None = None,
    oneshot_sessions: int = 1,
    tier3: dict[str, float] | None = None,
    calib_wall: float | None = None,
) -> list[str]:
    """Emit per-query detail lines FIRST and a compact headline line
    LAST.

    The driver records only the last ~2000 chars of stdout and parses
    the `metric`/`value` pair out of them.  r02/r03 printed a single
    ~2400-char JSON line, so the captured tail started mid-JSON and
    `BENCH_r{02,03}.json` came back `"parsed": null`.  The headline
    line must therefore stay small (< 1500 chars, pinned by
    tests/test_bench_contract.py); the three per-query dicts ride on
    their own preceding lines where truncation costs nothing.

    Since r07 the parsed `value` is the median-of-3 one-shot total
    (fresh JVM per rep — see module docstring); `one_shot_this_session`
    carries the pre-r07 single-sample series, `warm_median_total` the
    steady-state comparator. The hypervisor throttles CPU in bursts
    (an identical plan swung 3→14 s run-to-run, PERF.md), so any
    single sample is noise-dominated; every cross-round series here
    is a median.
    """
    extended = extended or {}
    oneshot_median = oneshot_median or timings
    final = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(oneshot_median.values()), 3),
        "unit": "sec",
        "one_shot_sessions": oneshot_sessions,
        "one_shot_this_session": round(sum(timings.values()), 3),
        "warm_median_total": round(sum(warm_median.values()), 3),
        "sf": sf,
        # r16 (VERDICT r15 ask #1): the per-query one-shot-median map
        # rides IN the final line so the driver's tail capture (last
        # ~2000 chars) sees it and PERF's per-query/geomean/scaling
        # comparisons work again. ``value`` remains sum(queries).
        # Additions-only: the preceding detail lines are unchanged.
        # Worst-case final-line length with this map is ~950 chars
        # (pinned < 1500 by tests/test_bench_contract.py).
        "queries": oneshot_median,
    }
    if extended:
        final["extended_queries_wall"] = round(sum(extended.values()), 3)
    if tier3:
        final["index_tier_wall"] = round(sum(tier3.values()), 3)
    if calib_wall is not None:
        final["calib_wall"] = calib_wall
    return [
        json.dumps({"queries": timings}),
        json.dumps({"queries_warm": warm, "warm_total": round(sum(warm.values()), 3)}),
        json.dumps({"queries_warm_median": warm_median}),
        json.dumps({"queries_oneshot_median": oneshot_median}),
        json.dumps({"queries_extended": extended}),
        json.dumps({"queries_index_tier": tier3 or {}}),
        json.dumps(final),
    ]


def _clean_block_manager(spark) -> None:
    # Release dead references AND force a JVM GC so the
    # ContextCleaner reclaims checkpoint/cache blocks previous
    # queries left behind. Python gc alone is not enough: with
    # a large local driver heap the JVM may not GC for minutes,
    # so dead localCheckpoint RDDs pin their blocks and storage
    # pressure slows later queries 4-6x (root-caused r03,
    # PERF.md "checkpoint block pressure").
    import gc

    gc.collect()
    spark._jvm.System.gc()


def _warmup(spark, sf_dir: str, names: list[str]) -> None:
    materialize(QUERY_REGISTRY[names[0]](spark, sf_dir))  # JVM/codegen warmup
    # Warm the Python/Arrow worker pool too: the first mapInPandas job
    # pays worker spawn (~2 s) that a long-lived cluster pays once;
    # workers are reused afterwards (spark.python.worker.reuse).
    spark.range(32).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def one_shot_pass(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """One cold (first-in-this-JVM) execution per headline query."""
    timings: dict[str, float] = {}
    for name in names:
        _clean_block_manager(spark)
        t0 = time.perf_counter()
        materialize(QUERY_REGISTRY[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def run_child_oneshot(sf_dir: str) -> None:
    """Child-process mode: fresh JVM → warmup → one one-shot pass →
    single JSON line on stdout. The parent computes the per-query
    median across children + its own pass (codegen caches are static
    per JVM, so a genuinely cold one-shot needs a new process)."""
    spark = get_spark(app_name="bdmrcs-bench-child")
    calib = calibration_probe(spark)  # FIRST: host control before any query
    names = [n for n in HEADLINE if n in QUERY_REGISTRY]
    _warmup(spark, sf_dir, names)
    print(json.dumps({"queries": one_shot_pass(spark, sf_dir, names), "calib": calib}))
    spark.stop()


def _spawn_child_oneshots(sf_dir: str, n_children: int) -> list[dict[str, float]]:
    """Run ``n_children`` fresh-JVM one-shot passes sequentially (never
    concurrently — two local[32] JVMs would contend for the same
    cores and measure the contention, not the plans)."""
    import subprocess

    results = []
    env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")
    for i in range(n_children):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                capture_output=True,
                text=True,
                timeout=1800,
            )
        except subprocess.TimeoutExpired as exc:
            # a hung child JVM degrades to fewer reps, same as rc!=0
            print(
                f"# one-shot child {i} timed out after {exc.timeout}s; "
                "continuing with remaining reps",
                file=sys.stderr,
            )
            continue
        line = next(
            (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
            None,
        )
        if proc.returncode != 0 or line is None:
            print(
                f"# one-shot child {i} failed (rc={proc.returncode}); "
                f"stderr tail: {proc.stderr[-300:]}",
                file=sys.stderr,
            )
            continue
        results.append(json.loads(line))
    return results


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD"):
        run_child_oneshot(sf_dir)
        return

    # Fresh-JVM one-shot reps FIRST (children), then this session's
    # full pass — sequential so only one JVM ever holds the cores.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    child_payloads = _spawn_child_oneshots(sf_dir, reps - 1)
    child_runs = [p["queries"] for p in child_payloads]

    spark = get_spark(app_name="bdmrcs-bench")
    # Host control FIRST (VERDICT r13 ask #2): fixed synthetic work,
    # zero disk — calib_wall / BASELINE.md's calib pin is the day's
    # host factor, so an elevated stamp self-adjudicates.
    calib_wall = calibration_probe(spark)
    calib_walls = [p["calib"] for p in child_payloads if "calib" in p] + [calib_wall]
    names = [n for n in HEADLINE if n in QUERY_REGISTRY]
    _warmup(spark, sf_dir, names)

    def clean_block_manager() -> None:
        _clean_block_manager(spark)

    timings = one_shot_pass(spark, sf_dir, names)
    oneshot_runs = child_runs + [timings]
    oneshot_reps = {n: [r[n] for r in oneshot_runs if n in r] for n in names}
    # statistics.median, not sorted(v)[len(v)//2]: with an even rep
    # count (a child failed/timed out) the latter is the UPPER middle
    # sample, biasing the cross-round series upward (ADVICE r7).
    oneshot_median = {
        n: round(statistics.median(v), 3) for n, v in oneshot_reps.items() if v
    }

    warm: dict[str, float] = {}
    warm_median: dict[str, float] = {}
    for name in names:
        # Warm runs isolate steady-state execution from one-shot
        # codegen compile (2-5x on wide plans — see PERF.md). Host
        # noise reached 2× on single warm runs (PERF.md), so the
        # steady-state comparison metric is the MEDIAN of 3 warm runs.
        runs = []
        for _ in range(3):
            clean_block_manager()
            t0 = time.perf_counter()
            materialize(QUERY_REGISTRY[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        warm[name] = runs[0]
        warm_median[name] = sorted(runs)[1]

    # extended set: one-shot each (cross-round trend detection, not
    # micro-benchmarking — the sidecar keeps the per-query numbers)
    extended: dict[str, float] = {}
    for name in [n for n in EXTENDED if n in QUERY_REGISTRY]:
        clean_block_manager()
        t0 = time.perf_counter()
        materialize(QUERY_REGISTRY[name](spark, sf_dir))
        extended[name] = round(time.perf_counter() - t0, 3)

    # Stored-index ANN path (VERDICT r5 ask #6): the persistent
    # IVFADC surface a 100 TB user actually calls — build the
    # cell-partitioned index to disk, then search it (partition-
    # pruned scan + meta-derived geometry). Timed as two entries so
    # a regression in either half is driver-visible.
    import shutil
    import tempfile

    idx_dir = tempfile.mkdtemp(prefix="bench_ivfadc_")
    try:
        from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
            vectorops as _VO,
        )
        from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
            load_table as _load,
        )
        from pyspark.sql import functions as _F

        idx_path = os.path.join(idx_dir, "idx")
        emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        clean_block_manager()
        t0 = time.perf_counter()
        _VO.build_ivfadc_index(emb, idx_path, n_cells=16, dim=64, m=8, pq_k=16, iters=2)
        extended["ivfadc_index_build"] = round(time.perf_counter() - t0, 3)
        probes = emb.filter(_F.col("vec_id") < 5).select(
            _F.col("vec_id").alias("probe_id"), _F.col("embedding").alias("probe_vec")
        )
        clean_block_manager()
        t0 = time.perf_counter()
        materialize(_VO.ivfadc_index_search(spark, idx_path, probes, k_neighbors=10))
        extended["ivfadc_index_search"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:  # bench must never die on the optional tier
        print(f"# ivfadc stored-index bench skipped: {exc}", file=sys.stderr)
    finally:
        # cleanup must run on the failure path too, or each failed run
        # leaks a materialized index directory (r06 advisor finding)
        shutil.rmtree(idx_dir, ignore_errors=True)

    # r13 incremental/substring dedup tier: the persisted MinHash band
    # index lifecycle a 100 TB corpus actually runs (build once, probe
    # per batch) plus the winnowed-span pipeline. Recorded under its
    # OWN total (`index_tier_wall`) so `extended_queries_wall` stays a
    # frozen-at-debut cross-round series.
    tier3: dict[str, float] = {}
    mh_dir = tempfile.mkdtemp(prefix="bench_mhidx_")
    try:
        from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
            dedup_index as _DI,
        )
        from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
            substring as _SS,
        )
        from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
            load_table as _load,
        )
        from pyspark.sql import functions as _F

        docs = _load(spark, sf_dir, "documents")
        corpus = docs.filter(_F.col("doc_id") % 2 == 0)
        batch = docs.filter(_F.col("doc_id") % 2 == 1)
        mh_path = os.path.join(mh_dir, "idx")
        clean_block_manager()
        t0 = time.perf_counter()
        _DI.build_minhash_index(corpus, mh_path, n=3, num_perm=32, band_rows=2, seed=42)
        tier3["mh_index_build"] = round(time.perf_counter() - t0, 3)
        clean_block_manager()
        t0 = time.perf_counter()
        materialize(
            _DI.minhash_index_dedup(
                spark, mh_path, batch, threshold=0.5, rescore="estimate"
            )
        )
        tier3["mh_index_query"] = round(time.perf_counter() - t0, 3)
        clean_block_manager()
        t0 = time.perf_counter()
        materialize(
            _SS.repeated_span_pairs(docs, "doc_id", "text", k=25, window=12, min_len=50)
        )
        tier3["substring_spans"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:  # bench must never die on the optional tier
        print(f"# mh index tier bench skipped: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(mh_dir, ignore_errors=True)

    # Only the driver's scale (sf0.1) writes the committed sidecar —
    # an sf0.01 smoke run must not clobber the round's cross-round
    # comparable record (it did once in r5; see PERF.md).
    if abs(sf - 0.1) < 1e-9:
        write_detail_sidecar(
            timings, warm, warm_median, extended, sf,
            oneshot_reps=oneshot_reps, oneshot_median=oneshot_median,
            tier3=tier3, calib_wall=calib_wall, calib_walls=calib_walls,
        )
    for line in format_output(
        timings, warm, warm_median, sf, extended,
        oneshot_median=oneshot_median, oneshot_sessions=len(oneshot_runs),
        tier3=tier3, calib_wall=calib_wall,
    ):
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
