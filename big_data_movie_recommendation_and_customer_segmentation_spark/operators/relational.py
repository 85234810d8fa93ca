"""Relational core operators (SURVEY.md §2.B–2.H).

Each function is a named, composable DataFrame→DataFrame operator.
Docstrings cite the reference call sites they generalize
(paths relative to /root/reference) and state the shuffle behavior —
the thing that decides whether the operator survives 100 TB.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PIN_TRACK = threading.local()


def _pin(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint for a relation with several consumers:
    the lineage is truncated at the first action, so every consumer
    reads the one materialized copy instead of re-deriving it (the
    set miners measured ~2× warm, cold 3.0 vs 9.9 s at sf0.1). When
    a ``track_pins`` scope is active on this thread, the pin is
    registered for release at scope exit (ADVICE r14)."""
    out = df.localCheckpoint(eager=False)
    scope = getattr(_PIN_TRACK, "active", None)
    if scope is not None:
        scope.append(out)
    return out


def _release_pin(df: DataFrame) -> None:
    """Release the block-manager storage behind ONE localCheckpoint
    (ADVICE r14): the checkpointed RDD lives inside the DataFrame's
    LogicalRDD plan node, out of ``DataFrame.unpersist()``'s reach —
    a per-batch caller that never releases accumulates one pinned
    RDD per call for the process's lifetime. No-op for a plan whose
    root is not a checkpoint. The DataFrame must not be re-evaluated
    afterwards (truncated lineage cannot recompute)."""
    jplan = df._jdf.queryExecution().analyzed()
    if jplan.getClass().getName().endswith(".LogicalRDD"):
        jplan.rdd().unpersist(False)


@contextmanager
def track_pins():
    """Scope for per-batch callers (the streaming gates): every
    ``_pin`` this thread creates inside the scope — including nested
    ones whose LogicalRDD hides inside another checkpoint's RDD
    lineage, unreachable by any plan walk — is released at exit, so
    the block manager stays flat across micro-batches instead of
    growing by ~4 pinned RDDs per batch (ADVICE r14). Everything
    produced under the scope must be fully consumed before it closes
    (truncated lineage cannot recompute). Nested scopes compose: the
    inner scope releases its own pins only."""
    prev = getattr(_PIN_TRACK, "active", None)
    mine: list[DataFrame] = []
    _PIN_TRACK.active = mine
    try:
        yield
    finally:
        _PIN_TRACK.active = prev
        for df in mine:
            _release_pin(df)


def stratified_hash_sample(
    df: DataFrame,
    strata: str | Sequence[str],
    n_per_stratum: int,
    id_col: str,
    keep_rank: bool = False,
) -> DataFrame:
    """Deterministic stratified sample: the first ``n_per_stratum``
    rows per stratum in md5-hash order of ``id_col`` — the
    dataset-mixing primitive (balance languages / sources / quality
    buckets) without RNG, so resampling is stable across runs AND
    engines (the gate value-checks it; ``F.rand`` samples can only be
    rows-only). Hash order is independent of any data attribute, so
    the sample is as unbiased as a seeded shuffle.

    Plan shape: one WindowGroupLimit top-k per stratum — map tasks
    carry ≤ n rows per stratum into the exchange, so the full input
    is never sorted or shuffled whole.
    """
    from ..functions.textops import shared_token_hash

    order = [
        shared_token_hash(F.col(id_col).cast("string")).asc(),
        F.col(id_col).asc(),
    ]
    return per_group_topk(
        df, strata, order, n_per_stratum, rank_col="rank", keep_rank=keep_rank
    )


def keys_with_min_count(df: DataFrame, key: str, min_count: int, count_col: str = "n") -> DataFrame:
    """Keys appearing at least ``min_count`` times.

    Reference: the "active users ≥50 ratings" pre-filter at
    ``codes/Customer Segmentation/part1/top_100_pairs.py:34-35``,
    ``part2/correlation_optimised.py:18-19``,
    ``Movie Recommendation/part3/partition.py:16-17``.

    Shuffle: one exchange on ``key``; count is computed with a
    map-side partial aggregate, so the shuffle carries one row per
    (partition, key), not per input row. Scale-safe.
    """
    return df.groupBy(key).agg(F.count(F.lit(1)).alias(count_col)).filter(F.col(count_col) >= min_count)


def filter_active(df: DataFrame, key: str, min_count: int) -> DataFrame:
    """Keep rows whose ``key`` has ≥ ``min_count`` rows.

    Reference composes groupBy+filter+inner join
    (``top_100_pairs.py:34-36``) where the join's only purpose is to
    filter — the engine uses ``left_semi`` so the right side's
    columns never ship through the join.

    Shuffle: exchange on ``key`` for the agg + the semi-join (both
    sides co-partitioned on ``key``; AQE may broadcast the filtered
    key set when small).
    """
    active = keys_with_min_count(df, key, min_count).select(key)
    return df.join(active, key, "left_semi")


def topk(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: sort + limit.

    Reference: ``orderBy(desc, desc).limit(1000)`` at
    ``codes/Movie Recommendation/part4/popularity_evalutaion.py:31-32``.

    Catalyst fuses this to ``TakeOrderedAndProject`` — each partition
    keeps a k-row heap, the driver merges; no global sort, no full
    shuffle. O(k) driver memory regardless of input size.
    """
    return df.orderBy(*order_by).limit(k)


def per_group_topk(
    df: DataFrame,
    group_by: str | Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per group via row_number window.

    Reference: ``Window.partitionBy("userId").orderBy("movieId")`` +
    ``row_number`` + ``filter(rank<=100)`` at
    ``codes/Movie Recommendation/part4/popularity_evalutaion.py:52-54``.
    Callers must pass a deterministic total order (add a unique
    tiebreaker column) — the reference's single-column ordering is
    only deterministic because its key is unique.

    Shuffle: one exchange on the group keys + in-partition sort.
    Spark ≥3.5 inserts ``WindowGroupLimit``, so each map task keeps
    only k rows per group before the exchange — skew-resistant.
    """
    groups = [group_by] if isinstance(group_by, str) else list(group_by)
    w = Window.partitionBy(*groups).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS).

    Reference: the "unseen movies" filter
    ``candidates.join(seen, on=["userId","movieId"], how="left_anti")``
    at ``codes/Movie Recommendation/part4/popularity_evalutaion.py:47-48``.

    Shuffle: hash exchange on the join keys both sides (or broadcast
    of ``right`` when small — Catalyst/AQE decides).
    """
    return left.join(right, list(on), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (EXISTS).

    Replaces the reference's inner-join-as-filter
    (``top_100_pairs.py:36``) and its large ``isin`` lists
    (``correlation_optimised.py:32``) — an IN-list over thousands of
    ids belongs in a semi-join, not in the plan tree.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return left.join(right, keys, "left_semi")


def broadcast_cross_candidates(keys: DataFrame, small: DataFrame) -> DataFrame:
    """Cross join every key row with a (provably small) dimension.

    Reference: candidate generation
    ``users.crossJoin(broadcast(top_movies))`` at
    ``codes/Movie Recommendation/part4/popularity_evalutaion.py:42``.

    Shuffle: none — BroadcastNestedLoopJoin; the small side ships to
    every executor once. Caller is responsible for ``small`` being
    bounded (top-k output), which is what makes this 100 TB-safe.
    """
    return keys.crossJoin(F.broadcast(small))


def grouped_set(df: DataFrame, key: str | Sequence[str], col: str, out: str = "items") -> DataFrame:
    """Per-key sorted array of distinct values.

    Reference: ``groupBy(userId).agg(collect_set(movieId))`` at
    ``codes/Customer Segmentation/part1/top_100_pairs.py:47``.
    ``collect_set`` order is nondeterministic post-shuffle, so the
    engine always sorts (SURVEY §7 hard-part 1) — deterministic
    output is what makes the oracle hash stable.

    Shuffle: one exchange on ``key``; ObjectHashAggregate builds the
    set map-side. Per-key array must fit in executor memory — for
    heavy keys at 100 TB cap with ``slice`` upstream or pre-filter.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(F.array_sort(F.collect_set(col)).alias(out))


def grouped_list_sorted_by(
    df: DataFrame,
    key: str | Sequence[str],
    order_col: str | Column,
    value_col: str,
    out: str = "items",
    ascending: bool = True,
) -> DataFrame:
    """Per-key list of ``value_col`` ordered by ``order_col``.

    Reference relies on pre-groupBy row order surviving
    ``collect_list`` (``popularity_evalutaion.py:58-61``) — not
    guaranteed by Spark semantics. The engine collects
    ``struct(order, value)``, sorts the array, then projects: order
    is explicit in the data, immune to shuffle nondeterminism.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    pairs = F.collect_list(F.struct(order.alias("_o"), F.col(value_col).alias("_v")))
    arr = F.array_sort(pairs)
    if not ascending:
        arr = F.reverse(arr)
    return df.groupBy(*keys).agg(F.transform(arr, lambda s: s["_v"]).alias(out))


def distinct_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Distinct over selected columns.

    Reference: ``ratings.select("userId").distinct()`` etc.
    (``popularity_evalutaion.py:38,46``). Hash aggregate on all kept
    columns; partial dedup map-side bounds the shuffle.
    """
    return (df.select(*cols) if cols else df).distinct()


def columns_pruned(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit projection (reference ``select`` at
    ``popularity_evalutaion.py:21-23``). Catalyst prunes anyway; the
    named operator exists to document intent at pipeline boundaries."""
    return df.select(*cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: spread each hot join key over
    ``salt`` sub-partitions by extending the key with a salt.

    The left (big, skewed) side gets a deterministic salt from
    hashing its full row; the right side is replicated ``salt``
    times (one row per salt value) — so a key holding 10% of the
    left rows lands on ``salt`` tasks instead of one. Result is
    row-identical to the plain join for the SUPPORTED join types
    (inner / left outer / left semi / left anti — every left row
    carries exactly one salt, so left-side multiplicity is
    preserved). ``right``/``full`` joins are REJECTED: unmatched
    right rows exist once per salt replica and would surface
    ``salt`` times instead of once.

    Prefer AQE's skew-join splitting (on by default in the session
    factory) when it applies; salting is for the cases it can't
    reach — aggregation-feeding joins inside iterative loops,
    streaming joins, or engines without AQE. Cost: right side
    shuffles ``salt``× its volume, so keep the replicated side the
    small one.
    """
    supported = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in supported:
        raise ValueError(
            f"salted_join supports {sorted(supported)} only, got {how!r}: the right side "
            "is replicated per salt, so right/full joins would emit unmatched right rows "
            "once per salt value"
        )
    keys = [on] if isinstance(on, str) else list(on)
    l_salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int")
    )
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(r_salted, keys + ["_salt"], how).drop("_salt")


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    *,
    num_bits: int = 4096,
    num_hashes: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """Semi-join with a deterministic Bloom pre-filter: probe rows
    whose key misses ANY of ``num_hashes`` md5-derived bit positions
    are discarded BEFORE the exact semi-join exchange — the
    runtime-filter pattern that makes big-probe/small-build joins
    survive 100 TB (Spark's own row-level runtime filtering does this
    implicitly; this operator makes it explicit, governable, and
    replayable).

    Physical shape: the occupied-bits relation is at most
    ``num_bits`` one-int rows (~KBs) and BROADCASTS; the probe side
    passes through ``num_hashes`` broadcast-hash LEFT SEMI joins, one
    per hash function, each keyed on that hash's bit position — all
    map-side, same stage as the scan, no explode/aggregate/extra
    exchange (an earlier draft embedded the bitmap as a string
    literal: ``substring`` with a column offset is O(offset) per row
    in UTF8String, quadratic in num_bits — joins are the fast path).
    Survivors then verify with an exact left-semi join against the
    build keys, so the result EQUALS the plain semi-join (Bloom
    filters admit false positives, never false negatives) — the
    pre-filter only cuts the rows entering the exact join's exchange.
    Hashes are ``md5(seed || i || key)`` first-32-bits mod num_bits:
    no RNG, replayable anywhere.

    Scale note: FP rate ~(1-e^{-kn/m})^k; num_bits governs broadcast
    size, num_hashes the FP/compute trade. The build side pays two
    tiny shuffles (key dedup + bit dedup) bounded by the build
    relation, which is small by contract — that's what makes it the
    BUILD side.
    """

    def positions(col: Column, i: int) -> Column:
        h = F.md5(F.concat(F.lit(seed), F.lit(str(i)), col.cast("string")))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % num_bits).cast("int")

    build_keys = build.select(F.col(build_key).alias("_bk")).dropDuplicates(["_bk"])
    bits = (
        build_keys.select(
            F.explode(
                F.array(*[positions(F.col("_bk"), i) for i in range(num_hashes)])
            ).alias("_bit")
        )
        .dropDuplicates(["_bit"])
    )
    cand = probe
    for i in range(num_hashes):
        cand = cand.join(
            F.broadcast(bits.withColumnRenamed("_bit", f"_b{i}")),
            positions(F.col(probe_key), i) == F.col(f"_b{i}"),
            "left_semi",
        )
    return cand.join(build_keys, F.col(probe_key) == F.col("_bk"), "left_semi")
