"""Benchmark entry point.

    python3 perfbench/run.py --workload {recsys,corpus_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed into
``.bench_work/`` (untimed), the workload runs against the library, every
output is checked, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. Earlier lines
carry the input fingerprints, the host-speed probe and the
workload-specific figures, each with its unit. See README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import env  # noqa: E402


def host_probe(spark) -> float:
    """Fixed-work host-speed control: the root bench.py calibration shape
    (shuffle join, wide aggregation, global sort over ``spark.range``)
    at 1/80 of its rows. Same code and data on every run, so only the
    host moves it."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    fact = spark.range(0, 250_000, 1, 4).select(
        (F.col("id") % 12_503).alias("k"),
        ((F.col("id") * 2654435761) % 1_000_000_007).alias("v"),
    )
    dim = spark.range(0, 12_500, 1, 4).select((F.col("id") % 12_503).alias("k"), (F.col("id") % 97).alias("w"))
    (
        fact.join(dim, "k")
        .groupBy((F.col("v") % 8192).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"), F.sum("w").alias("s"), F.avg("v").alias("m"))
        .orderBy("g")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _status_kb(pid, "VmHWM:")) / 1024


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of this Python process and the driver JVM."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    me = os.times()
    return jvm + me.user + me.system


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_passes(wl, spark, tracer, ops, work, seconds: float):
    """Passes until ``seconds`` of measured time: at least one."""
    results, walls = [], []
    while True:
        t0 = time.perf_counter()
        results.append(wl.run_pass(spark, tracer, ops, str(work)))
        walls.append(time.perf_counter() - t0)
        if sum(walls) >= seconds:
            return results, walls


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = env.ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    conf = env.pin(work)  # exits non-zero when the library is absent
    from spans import NullTracer, Tracer, unit_of
    from workloads import WORKLOADS, Ops

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spark = None
    try:
        spark = env.start(conf)
        start_s = time.perf_counter() - T0
        tracer = Tracer(spark) if args.trace else NullTracer()
        with tracer.span("session", "warmup") as warm_span:
            env.warmup(spark)
        setup_s = time.perf_counter() - T0
        info = {"workload": args.workload, "seed": args.seed, "cores": env.cores(),
                "driver_mem_mb": env.driver_mem_mb(), "setup_s": setup_s}
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        info["inputs"] = wl.prepare(spark, args.seed, str(work))
        info["generate_s"] = time.perf_counter() - t0
        info["host_probe_s"] = host_probe(spark)
        print(json.dumps(info), flush=True)

        ops = Ops()
        try:
            if args.trace:
                metrics, detail = traced_run(wl, spark, tracer, ops, work)
                metrics.update(tracer.session_metrics(start_s, warm_span))
                metrics["host.probe_s"] = info["host_probe_s"]
            else:
                pid = jvm_pid(spark)
                steal0, cpu0 = _steal_ticks(), cpu_seconds(pid)
                results, walls = run_passes(wl, spark, tracer, ops, work, args.seconds)
                steal_s = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
                metrics = {
                    "setup_s": setup_s,
                    "wall_s": statistics.median(walls),
                    "cpu_s": (cpu_seconds(pid) - cpu0) / len(walls),
                    "peak_rss_mb": peak_rss_mb(pid),
                    "recall": statistics.median(r["recall"] for r in results),
                    "topk_quality": statistics.median(r["topk_quality"] for r in results),
                }
                # share of the cores' time taken by other guests while measuring:
                # high values mark host contention, not a regression
                steal = steal_s / (sum(walls) * os.cpu_count())
                detail = {"passes": len(walls), "host_steal_share": steal, **_median_detail(results)}
        except Exception:  # a pass that raises counts as one more failed operation
            traceback.print_exc()
            ops.check("pass", False, "raised")
            metrics, detail = {}, {}
        elapsed_s = time.perf_counter() - T0
        print(json.dumps({"detail": detail, "problems": ops.problems, "elapsed_s": elapsed_s}), flush=True)
        print(json.dumps({
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }), flush=True)
        return 0 if ops.failed == 0 else 1
    finally:
        if spark is not None:
            env.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def traced_run(wl, spark, tracer, ops, work):
    """A traced cold pass gives the per-layer figures. An untraced and a
    traced warm pass follow; their difference is the tracing overhead."""
    from spans import NullTracer

    def timed(tr, patched):
        t0 = time.perf_counter()
        if patched:
            with tr.patched_layers():
                result = wl.run_pass(spark, tr, ops, str(work))
        else:
            result = wl.run_pass(spark, tr, ops, str(work))
        return result, time.perf_counter() - t0

    result, traced_cold = timed(tracer, True)
    metrics = tracer.layer_metrics()
    tracer.reset()
    _, untraced_warm = timed(NullTracer(), False)
    _, traced_warm = timed(tracer, True)
    tracer.reset()
    metrics["trace.wall_s"] = traced_cold
    metrics["trace.overhead_s"] = traced_warm - untraced_warm
    detail = {"traced_warm_s": traced_warm, "untraced_warm_s": untraced_warm, **_median_detail([result])}
    return metrics, detail


def _median_detail(results) -> dict:
    out = {}
    for name in results[0]["detail"]:
        vals = [r["detail"][name][0] for r in results]
        out[name] = {"value": statistics.median(vals), "unit": results[0]["detail"][name][1]}
    if "batch_tail" in results[0]:
        out["batch_tail"] = results[-1]["batch_tail"]
    return out


if __name__ == "__main__":
    sys.exit(main())
