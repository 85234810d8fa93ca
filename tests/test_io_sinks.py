"""Sink-side behavior: partitioned parquet write (the engine's S3
A2 replacement — one job + partition pruning instead of the
reference's three filtered writes, ``partition.py:39-51``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import splits as S
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import load_table
from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import write_parquet


def test_partitioned_split_write_and_pruned_read(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    labeled = S.chronological_split(ev, "user_id", "ts", tiebreak_col="event_id")
    out = str(tmp_path / "split_parquet")
    write_parquet(labeled, out, partition_by=("split",))

    back = spark.read.parquet(out)
    # one write, three readable partitions, counts preserved
    expected = {r["split"]: r["n"] for r in labeled.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["split"]: r["n"] for r in back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expected and set(got) == {"train", "val", "test"}

    # the split filter must prune partitions at scan, not post-filter
    plan = back.filter(F.col("split") == "train")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan, plan[:2000]


def test_csv_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import read_csv

    r = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_csv")
    r.write.mode("overwrite").option("header", True).csv(path)
    back = read_csv(spark, path, r.schema)
    assert back.schema == r.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, r.collect()))


def test_write_csv_split_roundtrip(spark, sf_dir, tmp_path):
    """A2 compat: the reference's chronological-split CSV write
    (``partition.py:39-51``) as one partitioned job, re-read per
    split with the explicit schema — counts and rows preserved."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import read_csv, write_csv

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    labeled = S.chronological_split(ev, "user_id", "ts", tiebreak_col="event_id")
    out = str(tmp_path / "split_csv")
    write_csv(labeled, out, partition_by=("split",))

    expected = {
        r["split"]: r["n"]
        for r in labeled.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    data_schema = labeled.drop("split").schema
    for split, n in expected.items():
        back = read_csv(spark, f"{out}/split={split}", data_schema)
        assert back.count() == n
    assert set(expected) == {"train", "val", "test"}


def _write_events_fixture(tmp_path, ts_type):
    """Write a minimal events.parquet with ``ts`` in the given arrow
    type; returns the sf_dir-shaped directory containing it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / f"events_{ts_type}"
    d.mkdir()
    micros = [1_700_000_000_000_000 + i * 1_000_000 for i in range(4)]
    if ts_type == "ns":
        ts = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    elif ts_type == "us":
        ts = pa.array(micros, type=pa.timestamp("us"))
    else:  # raw int64 nanos
        ts = pa.array([m * 1000 for m in micros], type=pa.int64())
    tbl = pa.table(
        {
            "event_id": pa.array(range(4), type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([1, 1, 2, 2], type=pa.int64()),
            "event_type": pa.array(["view"] * 4, type=pa.string()),
            "value": pa.array([1.0] * 4, type=pa.float64()),
            "props": pa.array(["{}"] * 4, type=pa.string()),
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"))
    return str(d)


def test_load_table_sniffs_ts_physical_type(spark, tmp_path):
    """Regression (ADVICE r2): pyarrow surfaces TIMESTAMP(NANOS) as
    ``timestamp[ns]`` — never an integer — so the footer sniff must
    match on the logical type's unit, not ``is_integer`` alone.
    All three physical encodings must load to identical micros."""
    import datetime as dt

    expected = [
        dt.datetime(2023, 11, 14, 22, 13, 20) + dt.timedelta(seconds=i)
        for i in range(4)
    ]
    for enc in ("ns", "us", "int64"):
        d = _write_events_fixture(tmp_path, enc)
        got = sorted(
            r["ts"] for r in load_table(spark, d, "events").select("ts").collect()
        )
        assert got == expected, (enc, got)


def test_footer_sniff_cache_invalidates_on_rewrite(spark, tmp_path):
    """Regenerating a fixture at the same path with a different ts
    physical type must be re-sniffed (cache keys on mtime/size)."""
    import shutil

    d = _write_events_fixture(tmp_path, "us")
    assert load_table(spark, d, "events").count() == 4
    ns_dir = _write_events_fixture(tmp_path, "ns")
    shutil.copyfile(f"{ns_dir}/events.parquet", f"{d}/events.parquet")
    import os as _o

    _o.utime(f"{d}/events.parquet")  # ensure distinct mtime_ns
    assert load_table(spark, d, "events").select("ts").distinct().count() == 4


def test_jsonl_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    """JSONL source/sink: gzip-compressed write, schema-declared
    re-read, values preserved — the LLM-corpus interchange path."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, partition_by=("lang",))
    back = read_jsonl(spark, out, docs.drop("lang").schema)
    cols = ["doc_id", "text", "source", "n_chars"]
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, docs.select(cols).collect())
    )
    # hive partitioning must prune at scan, not post-filter
    part = spark.read.schema(docs.drop("lang").schema).json(out)
    from pyspark.sql import functions as FF

    plan = (
        part.filter(FF.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:2000]


def test_jsonl_corrupt_lines_do_not_abort(spark, tmp_path):
    """PERMISSIVE mode: malformed lines surface as _corrupt_record
    rows; a 10B-line crawl must never abort on one bad record."""
    import gzip as _g

    from pyspark.sql import types as TT

    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import read_jsonl

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        'THIS IS NOT JSON\n'
        '{"doc_id": 2, "text": "also ok"}\n'
    )
    schema = TT.StructType(
        [
            TT.StructField("doc_id", TT.LongType()),
            TT.StructField("text", TT.StringType()),
            TT.StructField("_corrupt_record", TT.StringType()),
        ]
    )
    df = read_jsonl(spark, str(p), schema).cache()
    assert df.count() == 3
    assert df.filter("_corrupt_record IS NOT NULL").count() == 1
    assert df.filter("doc_id IS NOT NULL").count() == 2
    df.unpersist()


def test_range_clustered_write_produces_disjoint_key_ranges(spark, sf_dir, tmp_path):
    """write_range_clustered must yield parquet files whose
    cluster-key min/max ranges are pairwise disjoint — the property
    row-group/file skipping depends on. Checked from the real
    footers via pyarrow, not from the plan."""
    import os

    import pyarrow.parquet as pq

    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
        write_range_clustered,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    out = str(tmp_path / "clustered")
    write_range_clustered(li, out, cluster_by=("l_orderkey",), num_files=8)

    ranges = []
    import os as _os

    for f in sorted(_os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(_os.path.join(out, f)).metadata
        lo = hi = None
        n = 0
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # l_orderkey
            assert col.statistics is not None and col.statistics.has_min_max
            lo = col.statistics.min if lo is None else min(lo, col.statistics.min)
            hi = col.statistics.max if hi is None else max(hi, col.statistics.max)
            n += md.row_group(rg).num_rows
        if n:
            ranges.append((lo, hi))
    assert len(ranges) >= 2, "expect several data files"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # and the data round-trips
    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_read_parquet_evolved_merges_and_fills(spark, tmp_path):
    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
        read_parquet_evolved,
    )

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string").write.parquet(v1)
    spark.createDataFrame(
        [(3, "c", 0.9), (4, "d", 0.1)], "id int, name string, quality double"
    ).write.parquet(v2)
    out = read_parquet_evolved(spark, [v1, v2], fill_missing={"quality": 0.5})
    rows = {r["id"]: r for r in out.collect()}
    assert set(out.columns) == {"id", "name", "quality"}
    assert rows[1]["quality"] == 0.5 and rows[3]["quality"] == 0.9  # default only where missing


def test_read_csv_with_quarantine_splits(spark, tmp_path):
    from pyspark.sql import types as T

    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
        read_csv_with_quarantine,
    )

    p = tmp_path / "in.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\ngarbage-row-no-comma\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("qty", T.IntegerType())]
    )
    good, bad = read_csv_with_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    bad_lines = {r["raw_line"] for r in bad.collect()}
    assert any("notanumber" in b for b in bad_lines)
    assert any("garbage-row-no-comma" in b for b in bad_lines)
    assert len(bad_lines) == 2


def test_zorder_clustered_write_shrinks_both_dims(spark, tmp_path):
    """Footer-verified Z-order quality: with files' min/max stats
    from the parquet footers, the mean normalized (dim1 x dim2)
    bounding area per file must be far below 1 (unclustered), and
    the SECOND dimension's mean extent must beat the 1-D
    range-clustered layout, which cannot shrink it."""
    import os

    import pyarrow.parquet as pq

    from big_data_movie_recommendation_and_customer_segmentation_spark.sources.io import (
        write_range_clustered,
        write_zorder_clustered,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).cast("long").alias("x"),
        ((F.col("id") * 7919) % 149).cast("long").alias("y"),
    )
    zpath, rpath = str(tmp_path / "zorder"), str(tmp_path / "range1d")
    write_zorder_clustered(df, zpath, ("x", "y"), num_files=16, bits=8)
    write_range_clustered(df, rpath, ("x",), num_files=16)

    def extents(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            out.append(
                ((maxs["x"] - mins["x"]) / 140.0, (maxs["y"] - mins["y"]) / 148.0)
            )
        return out

    zext = extents(zpath)
    rext = extents(rpath)
    assert len(zext) >= 8
    z_area = sum(ex * ey for ex, ey in zext) / len(zext)
    z_ymean = sum(ey for _, ey in zext) / len(zext)
    r_ymean = sum(ey for _, ey in rext) / len(rext)
    # both dims shrink: mean file area a small fraction of the domain
    assert z_area < 0.25, z_area
    # the 1-D layout leaves y uncontrolled (~full extent per file)
    assert r_ymean > 0.9, r_ymean
    assert z_ymean < 0.6, z_ymean
    # and nothing was lost
    assert spark.read.parquet(zpath).count() == n
