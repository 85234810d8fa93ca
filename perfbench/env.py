"""The pinned Spark session every benchmark process runs.

All scratch space (Spark local dirs, JVM and Python temp files, the
warehouse) lives under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "big_data_movie_recommendation_and_customer_segmentation_spark"
# A small heap ceiling: G1 reaches it in every run, so peak RSS does not
# swing with when the heap happened to grow.
DRIVER_MEM_MB = 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return min(DRIVER_MEM_MB, total_kb // 1024 // 4)


def pin(work: Path) -> dict[str, str]:
    """Export the session settings and return the extra Spark conf."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"perfbench: library package {PACKAGE!r} not found under {ROOT}")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata files in /tmp from the launcher JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start(conf: dict[str, str]):
    """The library's own session factory, with the pinned settings."""
    from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark

    return get_spark(app_name="perfbench", extra_conf=conf)


def warmup(spark) -> None:
    spark.range(0, 100_000, 1, cores()).selectExpr("sum(id)").collect()


def stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
