"""Chronological train/val/test splitting (reference S3 parity).

Reference: ``codes/Movie Recommendation/part3/partition.py`` — per
user, order ratings by timestamp, bucket into fifths with
``floor((row_number-1)/num_ratings*5)``, then splits {0,1,2}=train,
{3}=val, {4}=test (60/20/20), users with ≥5 ratings only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRAIN, VAL, TEST = "train", "val", "test"


def chronological_fifths(
    df: DataFrame,
    user_col: str,
    time_col: str,
    tiebreak_col: str,
    min_rows_per_user: int = 5,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign each row its chronological fifth (0..4) within its user.

    Exactly the reference's bucket arithmetic
    (``partition.py:23-35``): ``floor((rn-1)/n*5)`` with rn from a
    per-user time-ordered row_number — but with an explicit
    tiebreaker column so equal timestamps order deterministically
    (SURVEY §7 hard-part 4; the reference orders by timestamp alone,
    ``partition.py:23``).

    Shuffle: one exchange on ``user_col`` shared by the count window,
    the ``min_rows_per_user`` filter on that count, and the
    row_number window (same partition key). The reference instead ran
    groupBy-count + join + window = two extra exchanges.
    """
    w_order = Window.partitionBy(user_col).orderBy(F.col(time_col).asc(), F.col(tiebreak_col).asc())
    w_all = Window.partitionBy(user_col)
    return (
        df.withColumn("_rn", F.row_number().over(w_order))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .filter(F.col("_n") >= min_rows_per_user)
        .withColumn(
            bucket_col,
            F.floor((F.col("_rn") - F.lit(1)) / F.col("_n") * F.lit(5)).cast("int"),
        )
        .drop("_rn", "_n")
    )


def chronological_split(
    df: DataFrame,
    user_col: str,
    time_col: str,
    tiebreak_col: str,
    min_rows_per_user: int = 5,
    split_col: str = "split",
) -> DataFrame:
    """60/20/20 per-user chronological split as a labeled column.

    The reference materializes three filtered copies in three write
    jobs, each re-running the window DAG (``partition.py:39-51``);
    the engine returns one DataFrame with a ``split`` label — write
    once with ``partitionBy(split)`` and read with partition pruning.
    """
    fifths = chronological_fifths(df, user_col, time_col, tiebreak_col, min_rows_per_user)
    return fifths.withColumn(
        split_col,
        F.when(F.col("bucket") < 3, F.lit(TRAIN)).when(F.col("bucket") == 3, F.lit(VAL)).otherwise(F.lit(TEST)),
    ).drop("bucket")


def kfold_assign(
    df: DataFrame, id_col: str, k: int, seed: str = ""
) -> DataFrame:
    """Deterministic k-fold assignment: fold = first-32-md5-bits of
    (seed ‖ id) mod k — the RNG-free analogue of ``randomSplit`` for
    cross-validation. Pure column math (no shuffle, no RNG state to
    coordinate across executors); folds are uniform by construction
    (md5 bits) and bit-replayable by any engine, so fold membership
    is auditable — the property ``randomSplit`` famously lacks
    (its per-partition sampling resplits when partitioning changes).

    Output: input columns + ``fold`` (int, 0..k-1).
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    fold = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(k)
    ).cast("int")
    return df.withColumn("fold", fold)
