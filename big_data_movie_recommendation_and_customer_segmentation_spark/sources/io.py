"""Sources and sinks.

The reference loads every input with ``spark.read.csv(path,
header=True, inferSchema=True)`` (reference ``codes/Customer
Segmentation/part1/top_100_pairs.py:26`` and six more call sites) —
a schema-inferring extra pass per file, with defensive re-casting
afterwards (``codes/Movie Recommendation/part5/als_latent_factors.py:16-19``).

This engine inverts that: **explicit StructType schemas, Parquet
first**. At 100 TB an inference pass is a full extra scan, and CSV
can't push filters or prune columns; Parquet gives both for free.
CSV remains supported as a secondary source with a mandatory schema.
"""

from __future__ import annotations

import functools as _functools
import os as _os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed schemas for the driver's synthetic tables (TESTDATA.md).
# Declaring them (rather than trusting parquet footers) documents the
# engine's data model and catches drift loudly.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)

# Physical quirk some generator versions exhibit: events.ts written
# as TIMESTAMP(NANOS,false), which Spark cannot represent — with
# spark.sql.legacy.parquet.nanosAsLong=true (set in session.py) it
# scans as int64 nanoseconds, converted below to a micros timestamp
# (`div 1000` truncation — identical to DuckDB's ns→µs handling).
# Whether the conversion applies is decided per-file from the parquet
# footer (one cached metadata read), so both TIMESTAMP(NANOS) and
# TIMESTAMP(MICROS) inputs load correctly.
_MAYBE_LONG_NANOS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _stored_as_int64(path: str, col: str) -> bool:
    """True when the parquet footer stores ``col`` as TIMESTAMP(NANOS)
    (pyarrow surfaces it as ``timestamp[ns]``) or as a plain int64 —
    either way Spark's ``nanosAsLong`` scan yields int64 nanoseconds
    that need the µs conversion in ``load_table``. One driver-side
    footer read, cached per (file, mtime, size) so regenerated
    fixtures at the same path are re-sniffed. Missing paths raise
    (load_table would fail anyway, with a murkier error)."""
    p = path
    if _os.path.isdir(p):
        parts = sorted(f for f in _os.listdir(p) if f.endswith(".parquet"))
        if not parts:
            return False
        p = _os.path.join(p, parts[0])
    st = _os.stat(p)
    return _sniff_ns_or_int64(p, st.st_mtime_ns, st.st_size, col)


# Bounded: entries are tiny, but a long-lived driver re-sniffing many
# regenerated fixture paths (mtime in the key) should not grow without
# limit (ADVICE r3).
@_functools.lru_cache(maxsize=1024)
def _sniff_ns_or_int64(p: str, mtime_ns: int, size: int, col: str) -> bool:
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        typ = pq.read_schema(p).field(col).type
    except (KeyError, OSError, pa.ArrowInvalid) as exc:
        warnings.warn(
            f"parquet footer sniff failed for {p!r} column {col!r} ({exc!r}); "
            "assuming declared timestamp schema",
            stacklevel=2,
        )
        return False
    return pa.types.is_integer(typ) or (
        pa.types.is_timestamp(typ) and typ.unit == "ns"
    )


def _physical_schema(name: str, long_cols: tuple[str, ...]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in long_cols else f.dataType, f.nullable)
            for f in SCHEMAS[name]
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with the declared schema.

    Column pruning and predicate pushdown flow from downstream
    ``select``/``filter`` into this scan via Catalyst — verify with
    ``.explain``: ``ReadSchema`` should list only referenced columns
    and ``PushedFilters`` the sargable predicates.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    long_cols = tuple(
        c for c in _MAYBE_LONG_NANOS.get(name, ()) if _stored_as_int64(path, c)
    )
    df = spark.read.schema(_physical_schema(name, long_cols)).parquet(path)
    for c in long_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """CSV scan with mandatory schema (no inferSchema — replaces
    reference's ``top_100_pairs.py:26`` pattern without the extra
    inference pass)."""
    return spark.read.schema(schema).option("header", header).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Parquet sink, optionally hive-partitioned.

    The reference writes its three chronological splits as three
    separate jobs, each re-running the window DAG
    (``codes/Movie Recommendation/part3/partition.py:39-51``). With
    ``partition_by=("split",)`` this is one job and readers get
    partition pruning on ``split`` for free.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    partition_by: tuple[str, ...] = (),
) -> None:
    """CSV sink (reference-compat A2): the reference writes its three
    chronological splits as three separate CSV jobs
    (``codes/Movie Recommendation/part3/partition.py:39-51``, each
    re-running the window DAG). Here one call writes one split — or,
    with ``partition_by=("split",)``, ONE job writes all splits
    hive-partitioned, each split a directory of CSV part files.

    CSV is the compat/interchange format only: it can't push filters
    or prune columns, so anything re-read at scale belongs in
    parquet (``write_parquet``)."""
    w = df.write.mode(mode).option("header", header)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-hash-partitioned on
    ``bucket_cols`` so joins/aggregations on those keys skip the
    shuffle entirely (the physical plan shows SortMergeJoin with no
    Exchange on either side when both inputs share bucketing).

    At 100 TB this is the difference between re-shuffling the fact
    table per query and paying the partitioning once at write time.
    ``num_buckets`` should be sized so a bucket ≈ one task's memory
    budget at the target scale.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """JSON-lines scan with mandatory schema — the interchange format
    of LLM corpus pipelines (one document object per line).

    Schema is required for the same reason as ``read_csv``: inference
    is a full extra pass at 100 TB, and a declared schema projects
    only referenced fields from each line (Jackson parses lazily —
    ``ReadSchema`` in the plan shows the pruned struct). Corrupt
    lines land in ``_corrupt_record`` if the schema declares it,
    else the row is null-filled (PERMISSIVE mode): a 10-billion-line
    crawl should never abort on one malformed record, and the
    corrupt-count is one ``filter`` away instead of one failed job.

    No ``compression`` parameter: it is a WRITE-side option — the
    JSON reader infers the codec from each file's extension, so
    accepting one here would be a silent no-op (ADVICE r3).
    """
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partition_by: tuple[str, ...] = (),
) -> None:
    """JSON-lines sink, gzip by default (JSONL is an interchange
    format — it leaves the cluster, so wire size beats scan speed;
    anything re-read by this engine belongs in parquet). One job
    writes all partitions hive-partitioned, same as the other sinks.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """Parquet sink clustered on ``cluster_by``: rows are
    range-partitioned across files and sorted within each file on the
    cluster keys, so every file (and every row group inside it)
    covers a narrow, non-overlapping key range.

    This is the data-skipping layout for high-cardinality predicates
    where hive partitioning is wrong (a directory per customer id is
    a small-files disaster): parquet readers — Spark included — prune
    row groups whose min/max statistics exclude the predicate, so a
    point or range query on the cluster key touches O(1) of the
    files instead of all of them. At 100 TB this is the difference
    between a full scan and a few-MB read; the write itself costs one
    range exchange (sampled bounds, skew-resistant) plus an
    in-partition sort — no extra pass.

    ``num_files`` caps the file count (defaults to the session's
    shuffle parallelism). Verified by tests/test_io_sinks.py reading
    the parquet footers: per-file key ranges must not overlap.
    """
    cols = [F.col(c) for c in cluster_by]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def read_parquet_evolved(
    spark: SparkSession, paths: list[str], *, fill_missing: dict | None = None
) -> DataFrame:
    """Read parquet snapshots whose schemas EVOLVED across writes
    (columns added over time): ``mergeSchema`` unifies the footer
    schemas, older files surface the newer columns as null, and
    ``fill_missing`` supplies per-column defaults (applied only
    where null — pure column expressions).

    The 100 TB reality this serves: a corpus written daily for a
    year has k schema generations; re-writing history on every
    schema change is a full-corpus rewrite, so the READER carries
    the evolution. mergeSchema costs one footer read per file (not
    per row) — fine at any scale when file counts are sane
    (range-clustered or bucketed layouts keep them sane).
    """
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    for col, default in (fill_missing or {}).items():
        df = df.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return df


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV ingest that splits clean rows from quarantine:
    returns ``(good, bad)`` where ``bad`` keeps the raw line of every
    row that failed the schema (type mismatch, arity) in
    ``corrupt_col``. The 100 TB posture: never fail a 6-hour ingest
    on row 10^11, never silently null-out garbage either — quarantine
    it for replay. Spark disallows plans whose scan is pruned down to
    ONLY the corrupt column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    RECORD_COLUMN), so the parsed relation is cached first — the
    documented workaround, and what you'd do anyway to avoid scanning
    the ingest twice for the good/bad split.
    """
    full_schema = T.StructType(
        schema.fields + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    ).cache()
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, str],
    mode: str = "overwrite",
    num_files: int | None = None,
    bits: int = 16,
) -> None:
    """Parquet sink clustered on a Z-order (Morton) curve over TWO
    numeric columns: each column is affinely mapped onto ``bits``-bit
    integers, their bits are interleaved into one z-value, and rows
    are range-partitioned + sorted on it — so every file's min/max
    envelope is narrow on BOTH dimensions at once, which 1-D range
    clustering (``write_range_clustered``) cannot do for the second
    key.

    This is the lakehouse multi-dimensional data-skipping layout
    (Delta/Iceberg ``OPTIMIZE ZORDER BY``): predicates on either (or
    both) cluster columns prune files/row groups via parquet min-max
    stats, at the cost of each dimension's per-file extent shrinking
    as ~n_files^-1/2 instead of the 1-D layout's n_files^-1. Write
    cost is identical to the range-clustered sink — one agg for the
    bounds, one range exchange on the z-value, in-partition sort; the
    interleave is 2·bits codegen'd shift/or terms, no UDF.

    The affine min-max mapping is skew-sensitive (a heavy hitter
    compresses the rest of the axis); for skewed columns map through
    a percentile ladder first (segmentation.quantile_bucket) and
    z-order the bucket ids. Nulls map to cell 0.

    Verified by tests/test_io_sinks.py from the parquet footers: the
    mean normalized (dim1-extent × dim2-extent) file area must be a
    fraction of both the unclustered layout's and the 1-D layout's
    second-dimension coverage.
    """
    c1, c2 = cluster_by
    bounds = df.agg(
        F.min(F.col(c1).cast("double")).alias("_lo1"),
        F.max(F.col(c1).cast("double")).alias("_hi1"),
        F.min(F.col(c2).cast("double")).alias("_lo2"),
        F.max(F.col(c2).cast("double")).alias("_hi2"),
    )
    cells = (1 << bits) - 1

    def norm(col: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        scaled = F.when(
            span > 0,
            F.floor((F.col(col).cast("double") - F.col(lo)) / span * cells),
        ).otherwise(F.lit(0))
        return F.coalesce(F.least(scaled, F.lit(cells)), F.lit(0)).cast("long")

    with_cells = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_zx", norm(c1, "_lo1", "_hi1")
    ).withColumn("_zy", norm(c2, "_lo2", "_hi2"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(F.col("_zx"), i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(F.col("_zy"), i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    zed = with_cells.withColumn("_z", z).drop("_lo1", "_hi1", "_lo2", "_hi2", "_zx", "_zy")
    out = (
        zed.repartitionByRange(num_files, F.col("_z"))
        if num_files
        else zed.repartitionByRange(F.col("_z"))
    )
    out.sortWithinPartitions("_z").drop("_z").write.mode(mode).parquet(path)
