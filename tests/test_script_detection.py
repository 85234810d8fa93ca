"""Script detection (`textops.script_shares` / `dominant_script`):
the routing signal that sends unsegmented-script documents (CJK) to
the char shingle unit (tests/test_char_shingles.py)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from big_data_movie_recommendation_and_customer_segmentation_spark.functions import textops as TX

CASES = [
    ("en", "The quick brown fox", "latin"),
    ("ja", "吾輩は猫である。名前はまだ無い", "cjk"),
    ("ko", "나는 고양이로소이다", "cjk"),
    ("ru", "Все счастливые семьи похожи друг на друга", "cyrillic"),
    ("ar", "كل السعداء متشابهون", "arabic"),
    ("num", "12345 67890", "digit"),
    ("empty", "", "und"),
    ("ws", "   \t ", "und"),
    ("mixed", "Tokyo 東京 2020", "latin"),  # 5 latin vs 2 cjk vs 4 digit
    ("math", "5×3 7÷2", "digit"),  # × ÷ are NOT latin letters
    ("extb", "𠜎𠜱𠝹𠱓𠱸𠲖爨爩", "cjk"),  # supplementary Han counts as cjk
    # Southeast-Asian unsegmented scripts (r11 VERDICT gap: Thai was
    # a documented char_shingles target with no SCRIPT_RANGES class,
    # so it classified 'other' and never took the char route)
    ("th", "สวัสดีชาวโลกทั้งหลาย", "thai"),
    ("lo", "ສະບາຍດີຊາວໂລກ", "lao"),
    ("my", "မင်္ဂလာပါကမ္ဘာ", "myanmar"),
    ("km", "សួស្តីពិភពលោក", "khmer"),
]


def test_dominant_script_and_shares(spark):
    df = spark.createDataFrame([(k, t) for k, t, _ in CASES], "k string, t string")
    rows = {
        r["k"]: r
        for r in df.select(
            "k",
            TX.dominant_script("t").alias("script"),
            TX.script_shares("t").alias("s"),
        ).collect()
    }
    for k, _, want in CASES:
        assert rows[k]["script"] == want, f"{k}: got {rows[k]['script']}"
    # shares sum to 1 on non-empty docs; NULL on empty
    s = rows["mixed"]["s"]
    names = TX.SCRIPT_PRIORITY + ("other",)
    total = sum(s[c] for c in names)
    assert abs(total - 1.0) < len(names) * 1.1e-4  # 4-decimal-rounded shares
    assert rows["empty"]["s"]["latin"] is None
    assert rows["empty"]["s"]["n_chars"] == 0


def test_script_share_counts_match_duckdb(spark):
    """The per-class counts replay in DuckDB via
    len(regexp_extract_all(...)) over the same whitespace-stripped
    text — the oracle spelling a script-routing query would use."""
    df = spark.createDataFrame([(k, t) for k, t, _ in CASES], "k string, t string")
    sp = {
        r["k"]: (r["s"]["latin"], r["s"]["cjk"], r["s"]["n_chars"])
        for r in df.select("k", TX.script_shares("t").alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in CASES)
        + ") v(k, t)",
        [x for k, t, _ in CASES for x in (k, t)],
    )
    latin_re = TX.SCRIPT_RANGES["latin"]
    cjk_re = TX.SCRIPT_RANGES["cjk"]
    du = {
        k: (lat, cjk, n)
        for k, lat, cjk, n in con.execute(
            f"""
        WITH s AS (SELECT k, regexp_replace(t, '\\s+', '', 'g') AS st FROM t)
        SELECT k,
               round(len(regexp_extract_all(st, '{latin_re}')) * 1.0 / nullif(len(st), 0), 4),
               round(len(regexp_extract_all(st, '{cjk_re}')) * 1.0 / nullif(len(st), 0), 4),
               len(st)
        FROM s
        """
        ).fetchall()
    }
    assert sp == du


def test_routing_predicate_feeds_char_unit(spark):
    """End-to-end routing: docs whose dominant script is unsegmented
    go to the char unit, the rest to the word unit — both legs find
    their near-dup pair."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD

    rows = [
        ("ja1", "吾輩は猫である名前はまだ無いどこで生れたか"),
        ("ja2", "吾輩は犬である名前はまだ無いどこで生れたか"),
        ("en1", "the quick brown fox jumps over the lazy dog today"),
        ("en2", "the quick brown fox jumps over the lazy cat today"),
        # Thai near-dup pair (one word differs): must take the char
        # leg — the r11 gap left Thai on the word leg where each doc
        # is a handful of unsegmented runs and the pair is missed
        ("th1", "กาลครั้งหนึ่งนานมาแล้ว มีหมู่บ้านเล็กๆ อยู่กลางป่าใหญ่ ริมธารน้ำใส"),
        ("th2", "กาลครั้งหนึ่งนานมาแล้ว มีหมู่บ้านเล็กๆ อยู่กลางป่าใหญ่ ริมธารน้ำเย็น"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    routed = df.withColumn(
        "unseg", TX.dominant_script("text").isin(*TX.UNSEGMENTED_SCRIPTS)
    )
    char_leg = DD.ngram_jaccard_pairs(
        routed.filter("unseg"), "doc_id", "text", n=5, threshold=0.3, unit="char"
    )
    word_leg = DD.ngram_jaccard_pairs(
        routed.filter("NOT unseg"), "doc_id", "text", n=3, threshold=0.3
    )
    assert sorted((r["doc_a"], r["doc_b"]) for r in char_leg.collect()) == [
        ("ja1", "ja2"),
        ("th1", "th2"),
    ]
    assert [(r["doc_a"], r["doc_b"]) for r in word_leg.collect()] == [("en1", "en2")]


def test_transliterate_tokens_matches_duckdb(spark):
    """`textops.transliterate_tokens` — the deterministic twin-corpus
    generator behind the script-routing gate queries (the synthetic
    testdata is Latin-only) — replays exactly in DuckDB via the
    documented list_transform/list_extract spelling, and the derived
    text routes to the char unit."""
    texts = [
        "the quick   Brown fox", "hello hello world", "", "   ",
        "key agg row scan slow fast table value part",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    sp = {
        r["i"]: (r["han"], r["th"])
        for r in df.select(
            "i",
            TX.transliterate_tokens("t", TX.HAN_ALPHABET).alias("han"),
            TX.transliterate_tokens("t", TX.THAI_ALPHABET).alias("th"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(i, t)",
        texts,
    )

    def lit_list(alpha):
        return "[" + ", ".join(f"'{c}'" for c in alpha) + "]"

    du = {
        i: (han, th)
        for i, han, th in con.execute(
            f"""
        WITH toks AS (
          SELECT i, list_filter(regexp_split_to_array(
                   trim(regexp_replace(lower(t), '\\s+', ' ', 'g')), '\\s+'),
                   x -> x <> '') AS tk
          FROM t
        )
        SELECT i,
          coalesce(array_to_string(list_transform(tk, x -> list_extract(
            {lit_list(TX.HAN_ALPHABET)},
            (1 + ('0x' || substr(md5(x), 1, 8))::BIGINT % {len(TX.HAN_ALPHABET)})::INT)), ''), ''),
          coalesce(array_to_string(list_transform(tk, x -> list_extract(
            {lit_list(TX.THAI_ALPHABET)},
            (1 + ('0x' || substr(md5(x), 1, 8))::BIGINT % {len(TX.THAI_ALPHABET)})::INT)), ''), '')
        FROM toks
        """
        ).fetchall()
    }
    assert sp == du
    # the Han twin of a non-empty doc routes to the char unit
    routed = df.filter("t <> '' AND trim(t) <> ''").select(
        TX.dominant_script(TX.transliterate_tokens("t", TX.HAN_ALPHABET)).alias("d")
    )
    assert {r["d"] for r in routed.collect()} == {"cjk"}


def test_route_by_script_matches_inline_predicate(spark):
    """`dedup.route_by_script` (one-shot materialized routing column)
    routes exactly like the inline `dominant_script(...)` filter —
    the plan-shape fix for the ~20× predicate-pushdown re-inlining of
    expensive text derivations (see its docstring) must be
    value-neutral."""
    from big_data_movie_recommendation_and_customer_segmentation_spark.operators import dedup as DD

    rows = [(k, t) for k, t, _ in CASES]
    df = spark.createDataFrame(rows, "k string, t string")
    want = {
        (r["k"], r["d"])
        for r in df.select("k", TX.dominant_script("t").alias("d")).collect()
    }
    routed = DD.route_by_script(df, "t")
    got = {(r["k"], r["dominant_script"]) for r in routed.collect()}
    assert got == want
    unseg = routed.filter(F.col("dominant_script").isin(*TX.UNSEGMENTED_SCRIPTS))
    assert {r["k"] for r in unseg.collect()} == {"ja", "ko", "extb", "th", "lo", "my", "km"}


def test_pre_stripped_dominant_script_is_value_identical(spark):
    """`dominant_script(st, pre_stripped=True)` over a materialized
    whitespace-stripped column computes the same values as the
    self-stripping form (stripping is idempotent) — the plan-size
    contract behind doc_script_profile's single-strip Project."""
    df = spark.createDataFrame([(k, t) for k, t, _ in CASES], "k string, t string")
    both = df.select(
        "k",
        TX.dominant_script("t").alias("d_full"),
        TX.dominant_script(
            F.regexp_replace("t", r"\s+", ""), pre_stripped=True
        ).alias("d_pre"),
        TX.script_shares("t").alias("s_full"),
        TX.script_shares(
            F.regexp_replace("t", r"\s+", ""), pre_stripped=True
        ).alias("s_pre"),
    ).collect()
    for r in both:
        assert r["d_full"] == r["d_pre"], r["k"]
        assert r["s_full"] == r["s_pre"], r["k"]
