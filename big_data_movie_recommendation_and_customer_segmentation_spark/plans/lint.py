"""Physical-plan linter: the scale discipline, mechanized.

``lint_plan(df)`` walks the executed-plan string and reports the
anti-patterns this engine bans from hot paths:

* ``python_row_udf`` — ``BatchEvalPython``: a row-at-a-time Python
  UDF (the sanctioned Python escapes — ``mapInPandas`` /
  ``ArrowEvalPython`` — batch through Arrow and do not trigger it).
* ``cartesian`` — ``CartesianProduct``: a cross join whose small
  side was not broadcast; at scale this is |L|·|R| partitions of
  shuffle.
* ``single_partition`` — ``Exchange SinglePartition`` feeding a
  Window/Sort: a global window collapses the stage to one task.
  Bounded inputs (top-k cut, k-row gains tables) are legitimate —
  the repo-wide sweep test pins exactly which queries are ALLOWED
  to carry one, so a new unbounded global window fails the suite
  instead of shipping.

String-level on purpose: the plan string is the stable public
rendering (`explain`), the same thing a human reviews, and the rules
here are exactly the greps VERDICT's anti-pattern scans run. Not a
proof system — a complement to tests/test_plans.py's targeted
asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RULES: list[tuple[str, str, str]] = [
    (
        "python_row_udf",
        "BatchEvalPython",
        "row-at-a-time Python UDF in the plan (use pandas_udf/mapInPandas)",
    ),
    (
        "cartesian",
        "CartesianProduct",
        "non-broadcast cartesian product (broadcast the small side)",
    ),
    (
        "single_partition",
        "Exchange SinglePartition",
        "global single-partition exchange (bounded inputs only; "
        "repartition or use the bucketed prefix-sum otherwise)",
    ),
]


def _indent(line: str) -> int:
    """Tree depth of a plan line (length of the +- / :- / space
    prefix before the operator name)."""
    i = 0
    while i < len(line) and line[i] in " +-:*":
        i += 1
    return i


def _single_partition_window_hits(plan: str) -> int:
    """Count ``Exchange SinglePartition`` nodes whose PARENT is a
    Sort or Window — the global-window shape. A scalar aggregate's
    final gather (parent = HashAggregate) is legitimate: only
    map-side partials move through it."""
    # AQE/reuse wrappers sit between the exchange and its logical
    # consumer in the printed tree — walk through them.
    wrappers = ("AQEShuffleRead", "ShuffleQueryStage", "ReusedExchange",
                "InputAdapter", "WholeStageCodegen", "ResultQueryStage",
                "TableCacheQueryStage", "AdaptiveSparkPlan")
    lines = plan.split("\n")
    hits = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        ind = _indent(line)
        for j in range(i - 1, -1, -1):
            if not lines[j].strip():
                continue
            pj = _indent(lines[j])
            if pj < ind:
                if any(w in lines[j] for w in wrappers):
                    ind = pj  # step through the wrapper, keep climbing
                    continue
                if "Sort" in lines[j] or "Window" in lines[j]:
                    hits += 1
                break
    return hits


def lint_plan(df: DataFrame) -> list[dict]:
    """Return one finding dict per rule hit: ``{rule, message,
    count}``. Empty list = clean plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    findings = []
    for rule, needle, message in RULES:
        if rule == "single_partition":
            n = _single_partition_window_hits(plan)
        else:
            n = plan.count(needle)
        if n:
            findings.append({"rule": rule, "message": message, "count": n})
    return findings
