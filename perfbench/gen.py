"""Seeded input generator.

Every column is a Spark expression over ``xxhash64(seed, stream, key...)``,
so one seed always yields the same rows, whatever the partitioning.
Each table is written once as parquet and fingerprinted; the workloads
then read it back through ``sources.io`` like any other input.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_U31 = float(1 << 31)

# ratings
N_GENRES = 12
GENRE_PREF = 0.85  # own-genre share of draws: enough latent signal for steady ALS quality
MIN_ACT, MAX_EXTRA_ACT = 20, 220  # ratings drawn per user: MIN_ACT + MAX_EXTRA_ACT * x**3
# documents
N_WORDS, VOCAB = 40, 20_000
BOILER_SHARE = 0.3
MUTATE = 0.01  # share of a planted duplicate's words replaced
# embeddings
DIM, CLUSTER_SIZE, SPREAD = 64, 10, 0.1


def _unit(seed: int, stream: str, *keys) -> Column:
    """Uniform [0, 1) from a hash of (seed, stream, keys)."""
    h = F.xxhash64(F.lit(seed), F.lit(stream), *[F.col(k) if isinstance(k, str) else k for k in keys])
    return F.pmod(h, F.lit(1 << 31)).cast("double") / _U31


def _zipf(u: Column, n: int) -> Column:
    """Zipf(s=1)-like rank in [0, n): log-uniform inverse CDF."""
    return F.least(F.floor(F.exp(u * math.log(n + 1))) - 1, F.lit(n - 1)).cast("long")


# ---------------------------------------------------------------- ratings


def ratings(
    spark: SparkSession,
    seed: int,
    n_users: int,
    n_items: int,
    twin_clusters: int,
    twin_copies: int,
) -> DataFrame:
    """MovieLens-shaped (userId, movieId, rating, timestamp).

    Items follow a Zipf popularity law inside and across genres; user
    activity is skewed (the cube of an even spread over [0, 1)). A
    ``GENRE_PREF`` share of a user's draws come from their own genre,
    and in-genre items are rated higher, so a latent-factor model has
    signal beyond popularity. Users 0..twin_clusters-1
    are made highly active and each gets ``twin_copies`` perturbed
    copies (ids from ``n_users`` up): a copy drops 2-12% of the seed
    user's items and jitters its ratings. Every pair inside a cluster
    is a planted twin pair (see ``planted_twin_pairs``)."""
    g = N_GENRES
    users = spark.range(n_users).select(F.col("id").alias("userId"))
    # activity and genre follow the user id, not the seed, so every seed
    # yields the same table shape: sizes, and so run times, stay comparable
    even = F.col("userId") * 0.6180339887498949 - F.floor(F.col("userId") * 0.6180339887498949)
    act = F.lit(MIN_ACT) + F.floor(F.pow(even, 3) * MAX_EXTRA_ACT)
    act = F.when(F.col("userId") < twin_clusters, F.lit(MIN_ACT + MAX_EXTRA_ACT // 2)).otherwise(act)
    rows = users.select(
        "userId",
        F.pmod(F.col("userId"), F.lit(g)).alias("ug"),
        (2 * _unit(seed, "ubias", "userId") - 1).alias("ub"),
        F.explode(F.sequence(F.lit(0), act.cast("int") - 1)).alias("j"),
    )
    in_genre = _unit(seed, "ing", "userId", "j") < GENRE_PREF
    per_genre = n_items // g
    item = F.when(
        in_genre,
        F.col("ug") + g * _zipf(_unit(seed, "gitem", "userId", "j"), per_genre),
    ).otherwise(_zipf(_unit(seed, "item", "userId", "j"), per_genre * g))
    rows = rows.select("userId", "ug", "ub", "j", item.alias("movieId"))
    iq = 2 * _unit(seed, "iq", "movieId") - 1
    noise = 2 * _unit(seed, "noise", "userId", "j") - 1
    affinity = F.when(F.pmod(F.col("movieId"), F.lit(g)) == F.col("ug"), 0.7).otherwise(-0.3)
    raw = 3.2 + 0.8 * F.col("ub") + 0.6 * iq + affinity + 0.6 * noise
    rating = F.least(F.greatest(F.round(raw * 2) / 2, F.lit(0.5)), F.lit(5.0))
    start = F.lit(1_000_000_000) + F.floor(_unit(seed, "start", "userId") * 50_000_000)
    ts = start + F.col("j") * 3600 + F.floor(_unit(seed, "jit", "userId", "j") * 3600)
    base = (
        rows.select("userId", "movieId", rating.alias("rating"), ts.cast("long").alias("timestamp"))
        # a user rates an item once: keep the earliest draw, deterministically
        .groupBy("userId", "movieId")
        .agg(F.min(F.struct("timestamp", "rating")).alias("s"))
        .select("userId", "movieId", "s.rating", "s.timestamp")
    )
    copies = (
        base.filter(F.col("userId") < twin_clusters)
        .withColumnRenamed("userId", "src")
        .crossJoin(spark.range(twin_copies).select(F.col("id").alias("c")))
        .withColumn("userId", F.lit(n_users) + F.col("src") * twin_copies + F.col("c"))
    )
    drop_p = 0.02 + 0.1 * _unit(seed, "tdrop", "userId")
    jitter = F.when(_unit(seed, "tjit", "userId", "movieId") < 0.3, 0.5).otherwise(0.0)
    twins = copies.filter(_unit(seed, "tkeep", "userId", "movieId") >= drop_p).select(
        "userId",
        "movieId",
        F.least(F.col("rating") + jitter, F.lit(5.0)).alias("rating"),
        (F.col("timestamp") + 17).alias("timestamp"),
    )
    return base.unionByName(twins)


def planted_twin_pairs(n_users: int, twin_clusters: int, twin_copies: int) -> set[tuple[int, int]]:
    """Every (a, b), a < b, inside one planted cluster."""
    out = set()
    for src in range(twin_clusters):
        members = [src] + [n_users + src * twin_copies + c for c in range(twin_copies)]
        out |= {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}
    return out


# -------------------------------------------------------------- documents

_BOILER = "this page was archived by the crawler please see terms of use for details"


def _words(seed: int, id_col: str, stream: str) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_WORDS - 1)),
        lambda j: F.concat(F.lit("w"), _zipf(_unit(seed, stream, id_col, j), VOCAB).cast("string")),
    )


def documents(
    spark: SparkSession,
    seed: int,
    first_id: int,
    n_docs: int,
    *,
    dup_share: float = 0.0,
    dup_source_range: int = 0,
) -> DataFrame:
    """(doc_id, text, dup_of) for ids first_id..first_id+n_docs-1.

    A ``BOILER_SHARE`` of docs open with one shared boilerplate line
    (hot shingles for the index governor). A ``dup_share`` of docs are
    near-duplicates of a doc in [0, dup_source_range): its words with a
    ``MUTATE`` share replaced; each replaced word changes at most 3 of
    the ~40 word-3-shingles. ``dup_of`` is the planted source id, null
    for fresh docs."""
    d = spark.range(first_id, first_id + n_docs).select(F.col("id").alias("doc_id"))
    is_dup = _unit(seed, "isdup", "doc_id") < dup_share if dup_share else F.lit(False)
    src = F.pmod(F.xxhash64(F.lit(seed), F.lit("src"), F.col("doc_id")), F.lit(max(dup_source_range, 1)))
    d = d.select("doc_id", F.when(is_dup, src).alias("dup_of"))
    # a duplicate shares its source's word draws (and boilerplate flag)
    key = F.coalesce(F.col("dup_of"), F.col("doc_id"))
    d = d.withColumn("_k", key)
    words = _words(seed, "_k", "word")
    fresh = _words(seed, "doc_id", "mut")
    mixed = F.when(
        F.col("dup_of").isNull(), words
    ).otherwise(
        F.transform(
            F.arrays_zip(words.alias("a"), fresh.alias("b"), F.sequence(F.lit(0), F.lit(N_WORDS - 1)).alias("j")),
            lambda z: F.when(_unit(seed, "m", "doc_id", z["j"]) < MUTATE, z["b"]).otherwise(z["a"]),
        )
    )
    body = F.concat_ws(" ", mixed)
    text = F.when(_unit(seed, "boiler", "_k") < BOILER_SHARE, F.concat(F.lit(_BOILER + " "), body)).otherwise(body)
    return d.select("doc_id", text.alias("text"), "dup_of")


# ------------------------------------------------------------- embeddings


def embeddings(spark: SparkSession, seed: int, n_vecs: int) -> DataFrame:
    """(vec_id, embedding array<double>): consecutive runs of
    ``CLUSTER_SIZE`` ids share a hash-drawn centre in [-1, 1)^DIM and
    differ by uniform noise of +-SPREAD. Centres lie far apart next to
    the noise, so a vector's exact 10 nearest neighbours are itself and
    its cluster mates."""
    v = spark.range(n_vecs).select(F.col("id").alias("vec_id"), (F.col("id") / CLUSTER_SIZE).cast("long").alias("_c"))
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))

    def coord(d):
        centre = _unit(seed, "ctr", "_c", d)
        noise = _unit(seed, "nz", "vec_id", d)
        return (2 * centre - 1) * (1 - SPREAD) + (2 * noise - 1) * SPREAD

    return v.select("vec_id", F.transform(dims, coord).alias("embedding"))


# ------------------------------------------------------------ fingerprint


def fingerprints(tables: dict[str, DataFrame]) -> dict[str, dict]:
    """Row count and an order-independent content hash per table, in one job."""
    hashed = [df.select(F.lit(name).alias("t"), F.xxhash64(*df.columns).alias("h")) for name, df in tables.items()]
    union = hashed[0]
    for h in hashed[1:]:
        union = union.unionByName(h)
    rows = union.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).collect()
    return {r["t"]: {"rows": int(r["n"]), "fingerprint": format(int(r["s"] or 0) % (1 << 64), "016x")} for r in rows}
