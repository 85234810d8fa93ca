"""Layer spans and per-layer Spark stage metrics.

A span wraps one call into a layer's public function. While it is open,
every Spark job is tagged with a job group unique to the span; when it
closes, the span's jobs are looked up in the status tracker and their
stages in the JVM status store (which is kept with the UI disabled).
A stage is charged to the first span that sees it: a later job that
reuses a shuffle only lists it as skipped.

In a traced pass, ``patched_layers`` also wraps the operator functions
that ``plans.movielens`` calls internally, and materialises each
returned DataFrame inside its span, so lazy work is charged to the layer
that built it rather than to whichever later call ran the action.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

MB = 1 << 20

# layer -> the metrics it reports besides the common set below
LAYER_METRICS = {
    "session": ("start_s",),
    "sources.io": ("wall_s", "input_mb"),
    "operators.splits": ("wall_s", "shuffle_mb"),
    "operators.recommend": ("wall_s", "cpu_s", "shuffle_mb", "spill_mb"),
    "operators.evaluate": ("wall_s", "cpu_s"),
    "operators.als": ("wall_s", "cpu_s", "gc_s"),
    "operators.similarity": ("wall_s", "cpu_s", "shuffle_mb", "spill_mb"),
    "operators.dedup_index": ("build_s", "probe_s", "upsert_s", "compact_s", "input_mb_per_probe", "output_mb"),
    "operators.vectorops": ("build_s", "search_s", "input_mb_per_search"),
}
COMMON_METRICS = ("self_s", "jobs", "tasks", "failed_tasks", "core_util")

_STAGE_FIELDS = ("tasks", "failed_tasks", "cpu_s", "gc_s", "input_mb", "output_mb", "shuffle_mb", "spill_mb")

# span name -> the per-call timing metric it feeds, for the index layers
_CALL_METRICS = {
    "build_minhash_index": "build_s",
    "minhash_index_dedup": "probe_s",
    "upsert_minhash_index": "upsert_s",
    "compact_minhash_index": "compact_s",
    "build_ivfadc_index": "build_s",
    "ivfadc_index_search": "search_s",
}

# operator functions reached only through plans.movielens, by the
# module attribute the plan looks them up under at call time
_PATCH_TARGETS = {
    "operators.splits": [("plans.movielens", "chronological_split")],
    "operators.recommend": [
        ("operators.recommend", f)
        for f in ("popularity_scores", "top_items", "recommend_unseen_topk", "prediction_lists", "truth_lists")
    ],
    "operators.evaluate": [("operators.evaluate", f) for f in ("ranking_metrics", "rmse")],
    "operators.als": [("operators.als", f) for f in ("fit_als", "recommend_for_users")],
    "operators.similarity": [
        ("operators.similarity", f) for f in ("minhash_lsh_pairs", "pair_rating_correlation", "random_pair_baseline")
    ],
}


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0


class NullTracer:
    """Untraced passes: spans cost nothing and touch no Spark state."""

    @contextmanager
    def span(self, layer: str, name: str):
        yield None

    def materialise(self, df: DataFrame) -> DataFrame:
        return df


class Tracer:
    """Records spans with their Spark stages; see the module docstring."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._cached: list[DataFrame] = []
        self._seq = 0
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(self._seq, layer, name, parent.id if parent else None, time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), f"{parent.layer}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect(s)
            self.spans.append(s)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _collect(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(self._group(s)))
        s.jobs = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store or never attempted
                    continue
                self._seen_stages.add(sid)
                s.stages.append(
                    {
                        "tasks": st.numCompleteTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "input_mb": st.inputBytes() / MB,
                        "output_mb": st.outputBytes() / MB,
                        "shuffle_mb": st.shuffleWriteBytes() / MB,
                        "spill_mb": st.diskBytesSpilled() / MB,
                    }
                )

    def materialise(self, df: DataFrame) -> DataFrame:
        """Run ``df`` now, inside the open span; later readers hit the cache."""
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def reset(self) -> None:
        """Drop the recorded spans and the DataFrames cached for them."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self.spans.clear()

    @contextmanager
    def patched_layers(self):
        """Wrap the operator functions ``plans.movielens`` calls, for the
        duration of one traced pass."""
        import importlib

        pkg = "big_data_movie_recommendation_and_customer_segmentation_spark"
        saved = []
        for layer, targets in _PATCH_TARGETS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(f"{pkg}.{mod_name}")
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, attr, orig))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # A call from inside the same layer is not materialised: its work
            # is charged to that layer either way, and the caller may rely on
            # evaluating the result lazily in one plan (random_pair_baseline
            # joins a seeded-rand sample against correlations of itself).
            nested = any(s.layer == layer for s in self._stack)
            with self.span(layer, name):
                out = fn(*args, **kwargs)
                if nested or not isinstance(out, DataFrame):
                    return out
                return self.materialise(out)

        return traced

    # ------------------------------------------------------------ report

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the spans recorded since the last reset."""
        by_id = {s.id: s for s in self.spans}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for layer, extra in LAYER_METRICS.items():
            if layer == "session":
                continue
            spans = [s for s in self.spans if s.layer == layer]
            # outermost spans of this layer only, so nested calls are not counted twice
            top = [s for s in spans if not _has_ancestor(s, layer, by_id)]
            agg = dict.fromkeys(_STAGE_FIELDS, 0.0)
            for s in spans:
                for st in s.stages:
                    for k in agg:
                        agg[k] += st[k]
            self_s = sum(_self_time(s, children.get(s.id, [])) for s in spans)
            m = {
                "wall_s": sum(s.end - s.start for s in top),
                "self_s": self_s,
                "jobs": float(sum(s.jobs for s in spans)),
                "core_util": agg["cpu_s"] / (self_s * self.cores) if self_s > 0 else 0.0,
                **agg,
            }
            for s in top:
                key = _CALL_METRICS.get(s.name)
                if key:
                    m[key] = m.get(key, 0.0) + (s.end - s.start)
            probes = [s for s in spans if s.name == "minhash_index_dedup"]
            searches = [s for s in spans if s.name == "ivfadc_index_search"]
            m["input_mb_per_probe"] = _per_call(probes)
            m["input_mb_per_search"] = _per_call(searches)
            for k in extra + COMMON_METRICS:
                out[f"{layer}.{k}"] = float(m.get(k, 0.0))
        return out

    def session_metrics(self, start_s: float, warmup: Span) -> dict[str, float]:
        cpu = sum(st["cpu_s"] for st in warmup.stages)
        wall = warmup.end - warmup.start
        return {
            "session.start_s": start_s,
            "session.self_s": wall,
            "session.jobs": float(warmup.jobs),
            "session.tasks": float(sum(st["tasks"] for st in warmup.stages)),
            "session.failed_tasks": float(sum(st["failed_tasks"] for st in warmup.stages)),
            "session.core_util": cpu / (wall * self.cores) if wall > 0 else 0.0,
        }


def _has_ancestor(s: Span, layer: str, by_id: dict[int, Span]) -> bool:
    p = s.parent
    while p is not None:
        if by_id[p].layer == layer:
            return True
        p = by_id[p].parent
    return False


def _self_time(s: Span, kids: list[Span]) -> float:
    """Span duration minus the union of the intervals its children cover."""
    covered, edge = 0.0, s.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, edge), min(k.end, s.end)
        if hi > lo:
            covered += hi - lo
            edge = hi
    return (s.end - s.start) - covered


def _per_call(spans: list[Span]) -> float:
    if not spans:
        return 0.0
    return sum(st["input_mb"] for s in spans for st in s.stages) / len(spans)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports."""
    layers = [f"{layer}.{k}" for layer, extra in LAYER_METRICS.items() for k in extra + COMMON_METRICS]
    return layers + ["trace.wall_s", "trace.overhead_s", "host.probe_s"]


def unit_of(name: str) -> str:
    """Unit of a metric, read off its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf in ("jobs", "tasks", "failed_tasks"):
        return "count"
    if leaf in ("core_util", "recall", "topk_quality"):
        return "ratio"
    if leaf == "peak_rss_mb" or "_mb" in leaf:
        return "MB"
    return "s"
