"""Guards on the two driver-facing surfaces: bench.py's headline list
and the __spark_entry__ registry — a rename that orphans either would
silently weaken the per-round BENCH/CORRECTNESS record."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_headline_queries_all_registered():
    import bench
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import QUERY_REGISTRY

    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in QUERY_REGISTRY]
    assert not missing, f"bench HEADLINE/EXTENDED names not in registry: {missing}"


def test_entry_contract_shape():
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert q, "queries() is empty"
    # every oracle refers to a registered query
    orphans = [k for k in o if k not in q]
    assert not orphans, f"oracle_sql entries without queries(): {orphans}"
    assert callable(next(iter(q.values())))


def test_bench_headline_metric_name_is_driver_parseable():
    """The driver parses the r01 `metric`/`value` pair by name; the
    r02 rename produced BENCH `"parsed": null`. Pin the literal."""
    import inspect

    import bench

    src = inspect.getsource(bench)
    assert '"metric": "headline_queries_total_wall"' in src
    assert '"warm_median_total"' in src


def test_bench_final_line_fits_driver_tail_capture():
    """The driver keeps only the last ~2000 chars of bench stdout;
    r02/r03 printed one ~2400-char JSON line whose head (with the
    `metric` key) was truncated away → `"parsed": null` two rounds
    running. The LAST emitted line must stay compact and
    self-contained even at worst-case float widths."""
    import json

    import bench

    # worst-case: every headline query at a 4-digit-second timing
    fat = {n: 9999.999 for n in bench.HEADLINE}
    fat_ext = {n: 9999.999 for n in bench.EXTENDED}
    lines = bench.format_output(
        fat, fat, fat, sf=0.1, extended=fat_ext, oneshot_median=fat, oneshot_sessions=3
    )
    final = lines[-1]
    assert len(final) < 1500, len(final)
    parsed = json.loads(final)
    assert parsed["metric"] == "headline_queries_total_wall"
    for key in (
        "value", "unit", "warm_median_total", "sf", "extended_queries_wall",
        "one_shot_this_session", "one_shot_sessions",
    ):
        assert key in parsed, key
    # r07 methodology (VERDICT r6 ask #2): the parsed value is the
    # median-of-reps one-shot total, not this session's single sample
    assert parsed["value"] == round(sum(fat.values()), 3)
    assert parsed["one_shot_sessions"] == 3
    # r16 (VERDICT r15 ask #1): the per-query one-shot-median map must
    # ride IN the final line — the driver's tail capture drops the
    # earlier detail lines, which left PERF's per-query/geomean/
    # scaling comparison empty for two rounds. value == sum(queries).
    assert parsed["queries"] == fat
    assert parsed["value"] == round(sum(parsed["queries"].values()), 3)
    # and the detail lines individually stay under the tail capture
    for ln in lines:
        assert len(ln) < 2000, len(ln)


def test_bench_detail_sidecar_covers_both_sets(tmp_path):
    """VERDICT r4 ask #3: per-query numbers must be recoverable from
    the committed BENCH_DETAIL sidecar alone (the driver's stdout
    tail truncates the detail lines)."""
    import json

    import bench

    fat = {n: 1.0 for n in bench.HEADLINE}
    fat_ext = {n: 2.0 for n in bench.EXTENDED}
    path = bench.write_detail_sidecar(
        fat, fat, fat, fat_ext, sf=0.1, path=str(tmp_path / "detail.json")
    )
    with open(path) as f:
        d = json.load(f)
    for key in ("queries", "queries_warm", "queries_warm_median"):
        assert set(d[key]) == set(bench.HEADLINE), key
    assert set(d["extended_queries"]) == set(bench.EXTENDED)
    for key in (
        "headline_total", "warm_total", "warm_median_total",
        "extended_queries_wall", "sf",
    ):
        assert key in d, key
    # the real sidecar path is round-stamped from driver artifacts
    assert bench._next_round() >= 1


def test_next_round_env_override_wins(monkeypatch):
    """r10 advice: the artifact inference can still stamp N+1 on a
    re-bench inside a finished round (BENCH_rN already committed);
    an explicit SPARK_GRAFT_ROUND pins the stamp outright."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "42")
    assert bench._next_round() == 42
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    assert bench._next_round() >= 1
    # malformed values fail with a named, actionable error instead of
    # an uncaught ValueError traceback (r11 advice)
    import pytest

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "r11")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_ROUND"):
        bench._next_round()
    monkeypatch.setenv("SPARK_GRAFT_ROUND", " 7 ")
    assert bench._next_round() == 7


def test_gate_priority_is_the_first_50_queries():
    """The driver's correctness gate records only the first 50
    ``queries()`` entries; GATE_PRIORITY curates them so every
    operator family keeps a green row (VERDICT r2 ask #1)."""
    import __spark_entry__ as E
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import GATE_PRIORITY

    names = list(E.queries())
    assert len(GATE_PRIORITY) == 50
    assert names[: len(GATE_PRIORITY)] == list(GATE_PRIORITY)
    # r15 rotation (VERDICT r14 asks #1/#2/#5): every age-1 family
    # (last gated r13, 36 of them) re-gates before its evidence hits
    # the 2-round freshness edge — three reps rotating to never-gated
    # value-green siblings, ten to their oldest-gated sibling — plus
    # the four newly registered queries (registry 178→182, the
    # VERDICT-sanctioned unfreeze: the decontam-index probe + the
    # decontam gate's batch admission twin, and SPFHP packing
    # assignments + efficiency); anchors keep the flagship,
    # drift-A/B, and streaming queries age-0
    for must in (
        # age-1 families re-gating (sample of the 36); reps rotate to
        # never-yet-gated or oldest-gated value-green siblings
        "ann_hyperplane_neighbors",      # rotates back per the r14 plan
        "events_session_interval_join",  # rotates back per the r14 plan
        "minhash_duplicate_pairs",       # rotates back per the r14 plan
        "lineitem_correlation_matrix",   # profiling first row
        "customer_360_profile",          # rfm_pareto first row
        "brand_price_elasticity",        # robust_stats first row
        "purchase_attribution_asof",     # asof_join oldest rep (r04)
        "pair_rating_correlation",       # correlation oldest rep (r04)
        "exact_duplicate_groups",        # exact_dedup oldest rep (r04)
        "incremental_dedup_pairs",       # r13-gated, re-gates on schedule
        "repeated_substring_spans",      # r13-gated, re-gates on schedule
        # the r15 new registrations (first rows, VERDICT r14 #1/#2)
        "decontam_index_overlaps",
        "decontam_screen_survivors",
        "spfhp_pack_assignments",
        "spfhp_pack_efficiency",
        # serving-parity-pinned ALS scoring oracle stays gated
        "als_scoring_topk",
        # multimodal anchor (real WAV decode)
        "media_audio_frames",
    ):
        assert must in GATE_PRIORITY, must
    # displaced: candidates_unseen, part_copurchase_pagerank, and
    # ivfadc_rerank_knn (all age 0 after r14, untouched this round)
    # cede their anchor slots and rotate back r16; the r13 reps whose
    # slots rotated to siblings are hash-green r13
    for displaced in (
        "candidates_unseen",
        "part_copurchase_pagerank",
        "ivfadc_rerank_knn",
        "purchase_attribution_asof_tolerance",  # asof_join slot → r04 rep
        "corr_qty_price_by_flag",     # correlation slot → r04 rep
        "duplicate_chunks",           # exact_dedup slot → r04 rep
        "purchase_value_auc",         # r14-gated, age-1, scheduled r16
        "nb_lang_classification",     # r14-gated, age-1, scheduled r16
        "token_shard_assignment",     # r14-gated; packing vouched by SPFHP rows
    ):
        assert displaced not in GATE_PRIORITY, displaced
    # the rows-only ml-lib k-means variant must have ceded its slot
    # to the value-checked deterministic sibling (VERDICT r3 ask #3)
    assert "kmeans_customer_segments" not in GATE_PRIORITY


def test_gate_rows_only_entries_are_the_declared_one():
    """Since r07 the gate window is 100% value-checked: the ALS slot
    moved from the rows-only fit query (als_recommendations — still
    registered and locally run) to als_scoring_topk, whose DuckDB
    oracle replays dot-product scoring over the factor parquet the
    seeded fit materializes. A new gate entry registered without an
    oracle is a silent downgrade of the correctness gate — catch it
    here."""
    import __spark_entry__ as E
    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import GATE_PRIORITY

    o = E.oracle_sql()
    rows_only = {n for n in GATE_PRIORITY if n not in o}
    assert rows_only == set(), rows_only


def test_gate_coverage_every_registry_name_has_evidence():
    """VERDICT r9 ask #4: the family→member vouching argument must be
    machine-checkable — every registry name carries at least
    local-oracle evidence (value-hash vs DuckDB at sf0.01, or
    rows-only WITH a value-checked same-family sibling), and the
    committed GATE_COVERAGE.md table stays total over the registry."""
    import __spark_entry__ as E

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    import gate_coverage as GC
    from gate_freshness import FAMILIES

    evidence = GC.collect_evidence()
    names = set(E.queries())
    assert set(evidence) == names, (
        f"coverage table not total: missing={sorted(names - set(evidence))} "
        f"ghosts={sorted(set(evidence) - names)}"
    )
    bad = {q for q, e in evidence.items() if e["local"] not in ("value", "rows-only")}
    assert not bad, f"registry names without local-oracle evidence: {sorted(bad)}"
    fam_has_value = {
        fam: any(evidence[m]["local"] == "value" for m in members)
        for fam, members in FAMILIES.items()
    }
    unvouched = {
        q
        for q, e in evidence.items()
        if e["local"] == "rows-only" and not fam_has_value[e["family"]]
    }
    assert not unvouched, (
        f"rows-only names with no value-checked sibling: {sorted(unvouched)}"
    )
    # the committed artifact exists and lists every name
    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "GATE_COVERAGE.md"
    )
    assert os.path.exists(md_path), "run tools/gate_coverage.py and commit the table"
    with open(md_path) as f:
        md = f.read()
    missing_rows = [q for q in names if f"| {q} |" not in md]
    assert not missing_rows, f"GATE_COVERAGE.md missing rows: {missing_rows}"
    # and it was regenerated from a recent driver artifact — the r10
    # table shipped stale at r09 (VERDICT r10 ask #6). Allow a stamp
    # exactly ONE round behind the newest artifact on disk: the driver
    # drops CORRECTNESS_r{N}.json AFTER the round's final commit, so a
    # table regenerated at round-start (stamp rN-1) is the freshest
    # state a committed tree can ever reach at round close (VERDICT
    # r12 ask #3a — the == form failed structurally every round).
    import glob
    import re

    newest = max(
        int(m.group(1))
        for p in glob.glob(os.path.join(os.path.dirname(md_path), "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    )
    m = re.search(r"latest driver round: r(\d+)", md)
    assert m and int(m.group(1)) >= newest - 1, (
        f"GATE_COVERAGE.md generated at r{m and m.group(1)} but newest "
        f"artifact is r{newest:02d} (more than one round stale) — rerun "
        f"tools/gate_coverage.py"
    )


def test_family_map_covers_the_whole_registry():
    """tools/gate_freshness.py reports per-family driver-evidence age;
    a query missing from its FAMILIES map silently escapes the
    staleness check, so the map must stay total (and free of typos)."""
    import __spark_entry__ as E

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from gate_freshness import QUERY_TO_FAMILY

    names = set(E.queries())
    unmapped = names - set(QUERY_TO_FAMILY)
    ghosts = set(QUERY_TO_FAMILY) - names
    assert not unmapped, f"queries missing a family: {sorted(unmapped)}"
    assert not ghosts, f"family map names not in registry: {sorted(ghosts)}"


def test_gated_queries_emit_only_flat_schemas(registry_frames):
    """The driver's pandas canonicalizer cannot sort list cells — a
    gated query emitting array/map/struct columns crashes its
    correctness row outright (r05: pq_codes, 'unhashable type:
    list'). Serialize complex values (array_join — see
    order_part_sets / pq_codes) before returning. Plan-construction
    only: no jobs beyond bounded probes."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from big_data_movie_recommendation_and_customer_segmentation_spark.plans import GATE_PRIORITY

    offenders = {}
    for name in GATE_PRIORITY:
        df = registry_frames[name]
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders[name] = complex_cols
    assert not offenders, (
        f"gated queries with driver-uncanonicalizable columns: {offenders}"
    )


def test_bench_calibration_probe_contract(tmp_path):
    """VERDICT r13 ask #2: every bench session must carry its own
    fixed-work host control. The final driver-parsed line and the
    committed sidecar both record ``calib_wall`` so an elevated stamp
    self-adjudicates against BASELINE.md's calib pin instead of
    needing another post-hoc A/B."""
    import json

    import bench

    fat = {n: 9999.999 for n in bench.HEADLINE}
    fat_ext = {n: 9999.999 for n in bench.EXTENDED}
    lines = bench.format_output(
        fat, fat, fat, sf=0.1, extended=fat_ext, oneshot_median=fat,
        oneshot_sessions=3, calib_wall=9999.999,
    )
    final = json.loads(lines[-1])
    assert final["calib_wall"] == 9999.999
    assert len(lines[-1]) < 1500, len(lines[-1])

    path = bench.write_detail_sidecar(
        fat, fat, fat, fat_ext, sf=0.1, path=str(tmp_path / "d.json"),
        calib_wall=3.0, calib_walls=[2.0, 4.0, 3.0],
    )
    with open(path) as f:
        d = json.load(f)
    assert d["calib_wall"] == 3.0
    assert d["calib_walls"] == [2.0, 4.0, 3.0]
    assert d["calib_wall_median"] == 3.0
    # the probe itself is fixed work: source-pinned knobs so the
    # cross-round series measures the host, not a drifting workload
    import inspect

    src = inspect.getsource(bench.calibration_probe)
    assert "20_000_000" in src and "1_000_000" in src


def test_index_tier_baseline_is_pinned():
    """VERDICT r13 ask #3: ``index_tier_wall`` needs a committed
    baseline for the 2x envelope to bind from r14 on. BASELINE.md
    must carry the pin (and the calib pin that qualifies it)."""
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BASELINE.md")) as f:
        text = f.read()
    assert re.search(r"index_tier_wall.*\d+\.\d+", text), (
        "BASELINE.md must pin index_tier_wall"
    )
    assert re.search(r"calib_wall.*\d+\.\d+", text), (
        "BASELINE.md must pin calib_wall"
    )


def test_env_reads_only_in_session_settings():
    """Behaviour is chosen by parameters, not environment flags: only
    ``session.py`` reads the environment, for deployment settings
    (core count, driver heap). An env-flag dual path elsewhere gives
    one call two plans that no caller can see."""
    import pathlib
    import re

    import big_data_movie_recommendation_and_customer_segmentation_spark as package

    pkg = pathlib.Path(package.__file__).parent
    env_read = re.compile(r"\bos\.(environ|getenv)\b")
    readers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if env_read.search(p.read_text(encoding="utf-8"))
    )
    assert readers == ["session.py"], readers


def test_filesystem_calls_only_in_index_store():
    """The crash-safe storage protocol (stage, meta last, swap, heal,
    tombstones) lives behind one module: only ``operators/index_store.py``
    reaches the Hadoop FileSystem or renames/deletes through it. A
    layout that hand-rolls its own swap or heal drifts from the
    protocol, as the IVFADC copy once did."""
    import pathlib
    import re

    import big_data_movie_recommendation_and_customer_segmentation_spark as package

    pkg = pathlib.Path(package.__file__).parent
    fs_call = re.compile(r"org\.apache\.hadoop\.fs|\bfs\.(rename|delete)\(")
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if fs_call.search(p.read_text(encoding="utf-8"))
    )
    assert callers == ["operators/index_store.py"], callers


def test_ivf_pq_core_written_once():
    """The IVF/PQ operators share one ADC scorer and one residual
    projection: the per-(probe, vector) sum of table distances and the
    ``vec − centroid`` subtraction each appear once in
    ``operators/vectorops.py``. A second copy lets the in-memory
    operator and the stored index drift apart."""
    import pathlib
    import re

    import big_data_movie_recommendation_and_customer_segmentation_spark as package

    src = (pathlib.Path(package.__file__).parent / "operators" / "vectorops.py").read_text(
        encoding="utf-8"
    )
    adc_sums = re.findall(r'\bsum\(\s*"?dist"?\s*\)', src)
    residuals = re.findall(r"\ba,\s*b\)?\s*(?::|->)\s*a\s*-\s*b\b", src)
    assert (len(adc_sums), len(residuals)) == (1, 1), (adc_sums, residuals)
