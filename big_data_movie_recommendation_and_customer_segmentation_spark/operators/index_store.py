"""Crash-safe storage for the persisted index layouts: the MinHash band
index (``dedup_index``), the benchmark gram index (``decontam_index``),
the IVFADC index (``vectorops.build_ivfadc_index``) and the bigram LM
(``textclass.save_bigram_lm``). Every layout is a directory of parquet
tables under ``{path}/`` plus a one-row ``meta/`` table holding the
frozen knobs its readers derive parameters from. This module is the
only code that touches the Hadoop FileSystem, so the rules below hold
for every layout on whatever store it lives on (local, HDFS, S3A).

Protocol:

1. Generation (``generation``). A build or refit writes the whole new
   generation into the sibling ``{path}__build`` and writes ``meta/``
   LAST: its ``_SUCCESS`` marker is the build-complete flag. ``swap``
   then sets the live directory aside as ``{path}__old``, renames the
   build in and deletes the set-aside. Readers never see new tables
   under an old meta (new sigs under old bands, new centroids under
   old codes); a crash before the swap leaves the live generation
   untouched, and the next build deletes the partial ``__build``. A
   tombstone never outlives the generation it was issued against: the
   new generation simply has none.
2. Table rewrite (``swap``). A compaction rewrites one table into
   ``{table}__compact``, a tombstone restore into
   ``tombstones__restore``, and swaps it in the same way. Nothing is
   deleted before its replacement is in place: Spark's ``overwrite``
   deletes the target before committing, so a crash mid-write would
   lose rows of the table being rewritten (for tombstones: the
   deletes of UNRELATED ids, silently resurrecting them).
3. Heal (``heal``). Every entry point heals first: a missing live
   directory or table is reinstated from whichever complete copy
   exists, the finished staging copy (its ``_SUCCESS`` marker present:
   it is the newer state) else the set-aside ``__old``. Healing must
   precede any read or append: a tombstone append into a table whose
   live copy is set aside would create a fresh table that masks the
   heal for good, and a retried restore that sees no tombstones skips
   the restore it came to perform. A healthy index costs a few
   existence probes.
4. Tombstones (``tombstones``, ``append_tombstones``,
   ``restore_tombstones``, ``drop_tombstones``). Logical deletes
   append ids to ``tombstones/``; every query anti-joins it; a
   compaction or rebuild reclaims it. An absent table is the normal
   no-tombstones state, which ``heal`` leaves alone unless swap debris
   says otherwise, so dropping the table deletes its debris first.

The debris names (``__build``, ``__old``, ``__compact``,
``__restore``) are part of the on-disk format: an index left by a
crash heals on the next entry, whichever version wrote it.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TOMBSTONES = "tombstones"


def _fs(spark: SparkSession, path: str):
    """The FileSystem holding ``path`` and the JVM ``Path`` class."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), Path


def _delete(fs, Path, path: str) -> None:
    if fs.exists(Path(path)):
        fs.delete(Path(path), True)


def _rename(fs, Path, src: str, dst: str) -> None:
    # Hadoop rename reports failure via its RETURN VALUE, not an
    # exception: unchecked, it could silently leave the table missing
    # at the stable path
    if not fs.rename(Path(src), Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def exists(spark: SparkSession, path: str) -> bool:
    fs, Path = _fs(spark, path)
    return bool(fs.exists(Path(path)))


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; an absent path is a no-op."""
    _delete(*_fs(spark, path), path)


def any_file(spark: SparkSession, *patterns: str) -> bool:
    """Whether any file matches one of the glob ``patterns``."""
    fs, Path = _fs(spark, patterns[0])
    for pattern in patterns:
        matches = fs.globStatus(Path(pattern))
        if matches is not None and len(matches) > 0:
            return True
    return False


def swap(spark: SparkSession, tmp: str, live: str) -> None:
    """Move the complete copy ``tmp`` into place at ``live`` without a
    window where the stable path is deleted but not replaced: set the
    live copy ASIDE as ``{live}__old`` (rename, not delete), rename
    ``tmp`` in, then drop the set-aside. An absent ``live`` (a first
    build) is simply filled. A crash at any point leaves the old or the
    new complete copy for ``heal``."""
    fs, Path = _fs(spark, live)
    old = f"{live}__old"
    _delete(fs, Path, old)  # stale set-aside from a crashed attempt
    if fs.exists(Path(live)):
        _rename(fs, Path, live, old)
    try:
        _rename(fs, Path, tmp, live)
    except Exception:
        if fs.exists(Path(old)):
            fs.rename(Path(old), Path(live))  # best-effort restore
        raise
    _delete(fs, Path, old)


def _reinstate(fs, Path, live: str, staged: str, marker: str) -> None:
    if fs.exists(Path(live)):
        return
    old = f"{live}__old"
    if fs.exists(Path(marker)):
        _rename(fs, Path, staged, live)
        # the set-aside is now an obsolete generation: drop it, or a
        # later swap/heal could rename INTO it (Hadoop local rename
        # nests src inside an existing dst dir)
        _delete(fs, Path, old)
    elif fs.exists(Path(old)):
        _rename(fs, Path, old, live)


def heal(spark: SparkSession, path: str, tables: tuple[str, ...] = ()) -> None:
    """Repair a crash inside a prior swap: first of the whole index
    (``__build`` with ``meta/_SUCCESS``, else ``__old``), then of each
    table in ``tables`` that the layout rewrites by swap
    (``tombstones__restore``, ``{table}__compact``, else
    ``{table}__old``). No-op on a healthy or not-yet-built index."""
    fs, Path = _fs(spark, path)
    build = f"{path}__build"
    _reinstate(fs, Path, path, build, f"{build}/meta/_SUCCESS")
    for table in tables:
        live = f"{path}/{table}"
        staged = live + ("__restore" if table == TOMBSTONES else "__compact")
        _reinstate(fs, Path, live, staged, f"{staged}/_SUCCESS")


@contextmanager
def generation(spark: SparkSession, path: str, meta: tuple, meta_schema: str):
    """Stage a new generation of the index at ``path``: yields the
    staging directory for the caller's tables; when the block finishes
    without raising, writes the one-row ``meta`` LAST and swaps the
    generation in. A raise leaves the live index untouched."""
    heal(spark, path)
    tmp = f"{path}__build"
    delete(spark, tmp)
    yield tmp
    spark.createDataFrame([meta], meta_schema).write.mode("overwrite").parquet(f"{tmp}/meta")
    swap(spark, tmp, path)


def read_meta(spark: SparkSession, path: str, schema: str):
    """The one ``meta/`` row, read with the schema the build wrote (no
    schema-inference job): a driver-side collect bounded by
    construction at any index size."""
    return spark.read.schema(schema).parquet(f"{path}/meta").collect()[0]


def tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's tombstone table, or None when nothing is deleted.
    Read with inference: the tombstone column has the indexed ids'
    type, which only the files know."""
    if not exists(spark, f"{path}/{TOMBSTONES}"):
        return None
    return spark.read.parquet(f"{path}/{TOMBSTONES}")


def append_tombstones(ids: DataFrame, path: str) -> None:
    """Logically delete ``ids`` (one tombstone column): an O(batch)
    append. Callers heal first (see the module docstring)."""
    ids.distinct().write.mode("append").parquet(f"{path}/{TOMBSTONES}")


def drop_tombstones(spark: SparkSession, path: str) -> None:
    """Remove the tombstone table AND any debris of a crashed restore.
    Debris goes BEFORE the live table: the reverse order, crashed
    between the deletes, leaves a live-absent table beside a complete
    ``__restore`` that ``heal`` would resurrect as the newer state."""
    for suffix in ("__restore", "__old", ""):
        delete(spark, f"{path}/{TOMBSTONES}{suffix}")


def restore_tombstones(spark: SparkSession, path: str, kept: DataFrame | None) -> None:
    """Replace the tombstone table by ``kept`` through a staged
    ``__restore`` and a swap, never an in-place overwrite; ``kept=None``
    (no tombstone stays) drops the table and its debris."""
    if kept is None:
        drop_tombstones(spark, path)
        return
    tmp = f"{path}/{TOMBSTONES}__restore"
    delete(spark, tmp)
    kept.write.parquet(tmp)
    swap(spark, tmp, f"{path}/{TOMBSTONES}")


def pin_empty_partition(df: DataFrame, path: str, part_col: str) -> None:
    """Write a schema-bearing EMPTY partition ``{path}/{part_col}=0``:
    a hive-partitioned write of zero rows leaves no parquet file at
    all, so the next read of ``path`` fails schema inference. Every
    layout that can legitimately empty out (IVFADC codes, MinHash
    bands) pins its schema through this one helper (r12 review: three
    hand-rolled copies drifted)."""
    df.limit(0).drop(part_col).write.mode("overwrite").parquet(f"{path}/{part_col}=0")
