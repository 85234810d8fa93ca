"""Dump `.explain("formatted")` for every bench-tier registry query
into plans/r15/<query>_<tag>.txt (optimization-round evidence).

    python tools/dump_bench_plans.py <tag> [sf_dir] [query ...]

Lazy pins and checkpoints print as `Scan ExistingRDD`, as in
production. Planning only — nothing executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod
import __spark_entry__ as entrymod
from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r16"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    queries = entrymod.queries()
    names = sys.argv[3:] or [
        n
        for n in benchmod.HEADLINE + benchmod.EXTENDED
        if n in queries
    ]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(app_name=f"plan-dump-{tag}")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = queries[name](spark, sf_dir)
        text = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir} ({tag})\n")
            f.write(text)
        n_ex = text.count("Exchange")
        print(f"{name}: {n_ex} Exchange, wrote {os.path.relpath(path, REPO)}")
    spark.stop()


if __name__ == "__main__":
    main()
