"""Script-routing queries (r12, VERDICT r11 ask #3): promote the r11
char-shingle / script-detection additions into driver-gated entries.

The synthetic corpus is Latin-only, so these queries derive a
deterministic unsegmented-script twin corpus from ``documents`` via
``textops.transliterate_tokens`` (token → one BMP codepoint through
the shared md5-prefix hash) — the char-unit dedup path and the
dominant-script router are exercised on real CJK/Thai codepoints with
non-trivial row counts, and the whole derivation replays exactly in
the DuckDB oracle (parity pinned in tests/test_script_detection.py).

Reference parity note: the reference's scripts have no multilingual
routing at all (it tokenizes by whitespace throughout); this module
is part of the commissioned LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops as TX
from ..operators import dedup as DD
from ..sources import load_table
from .queries import query
from .queries_ext import _NORM, _NTOKS, MAX_SHINGLE_FREQ


def _xlit_sql(alphabet: tuple[str, ...]) -> str:
    """DuckDB spelling of ``textops.transliterate_tokens`` (see its
    docstring; empty-token-list NULL coalesced to '')."""
    lits = "[" + ", ".join(f"'{c}'" for c in alphabet) + "]"
    return (
        "coalesce(array_to_string(list_transform("
        f"{_NTOKS}, t -> list_extract({lits}, "
        f"(1 + ('0x' || substr(md5(t), 1, 8))::BIGINT % {len(alphabet)})::INT"
        ")), ''), '')"
    )


_SCRIPT_NAMES = TX.SCRIPT_PRIORITY + ("other",)


def _script_count_sql(cls: str, st: str = "st") -> str:
    """Per-class character count over the whitespace-stripped text —
    DuckDB twin of the regexp_count legs in textops._script_counts.
    Single quotes in the range literal are impossible (ranges are
    char classes), so direct interpolation is safe."""
    return f"len(regexp_extract_all({st}, '{TX.SCRIPT_RANGES[cls]}'))"


def _dominant_sql(st: str = "st") -> str:
    """DuckDB twin of ``textops.dominant_script``: counts array →
    first-max argmax into the priority-ordered name array ('und' for
    NULL/empty — the NULL leg and the trailing coalesce mirror the
    Spark function's NULL-contract guards). list_indexof returns the
    FIRST maximal index, matching Spark's array_position tiebreak."""
    cnts = ", ".join(_script_count_sql(c, st) for c in TX.SCRIPT_PRIORITY)
    total = " + ".join(_script_count_sql(c, st) for c in TX.SCRIPT_PRIORITY)
    arr = f"[{cnts}, len({st}) - ({total})]"
    names = "[" + ", ".join(f"'{n}'" for n in _SCRIPT_NAMES) + "]"
    return (
        f"CASE WHEN {st} IS NULL OR len({st}) = 0 THEN 'und' ELSE "
        f"coalesce(list_extract({names}, "
        f"list_indexof({arr}, list_aggregate({arr}, 'max'))), 'und')"
        " END"
    )


# Deterministic multiscript overlay: every 7th doc becomes its Han
# twin, the next its Thai twin, the rest keep their (normalized)
# Latin text — so the profile sees three scripts with exact counts.
_DERIVED_SQL = f"""
    der AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN {_xlit_sql(TX.HAN_ALPHABET)}
                  WHEN doc_id % 7 = 1 THEN {_xlit_sql(TX.THAI_ALPHABET)}
                  ELSE {_NORM} END AS t2
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, regexp_replace(t2, '\\s+', '', 'g') AS st FROM der
    )
"""

_PROFILE_CLASSES = ("latin", "cjk", "thai", "digit")


@query(
    "doc_script_profile",
    oracle=f"""
    WITH {_DERIVED_SQL}
    SELECT {_dominant_sql()} AS script,
           count(*) AS n_docs,
           {", ".join(f"CAST(sum({_script_count_sql(c)}) AS BIGINT) AS {c}_chars" for c in _PROFILE_CLASSES)},
           CAST(sum(len(st)) AS BIGINT) AS n_chars
    FROM stripped
    GROUP BY 1
    ORDER BY script
    """,
)
def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus script profile over the deterministic multiscript
    overlay (Han/Thai twins for doc_id % 7 ∈ {0, 1}): dominant-script
    routing class → doc count + exact per-class character totals.

    Exercises `textops.dominant_script` (counts-array argmax with
    priority tiebreak) and the SCRIPT_RANGES classes — including the
    Thai range added r12 — with integer-exact aggregates (no FP
    rounding surface). Map-local regexp_count legs, one shuffle on
    the tiny script key; at 100 TB the scan dominates and the
    exchange carries |scripts|×|tasks| rows. The derived text and its
    whitespace-stripped form are each materialized in their own
    Project (expensive + multiply-referenced, so CollapseProject
    keeps them) — the ~20 downstream regex legs run on the
    materialized string instead of re-deriving/re-stripping per leg."""
    d = load_table(spark, sf_dir, "documents")
    t2 = (
        F.when(F.col("doc_id") % 7 == 0, TX.transliterate_tokens("text", TX.HAN_ALPHABET))
        .when(F.col("doc_id") % 7 == 1, TX.transliterate_tokens("text", TX.THAI_ALPHABET))
        .otherwise(TX.normalized_text("text"))
    )
    # stripping is idempotent, so dominant_script/regexp_count over
    # the pre-stripped column compute identical values
    stripped = d.select(t2.alias("t2")).select(
        F.regexp_replace(F.col("t2"), r"\s+", "").alias("st")
    )
    sel = stripped.select(
        TX.dominant_script("st", pre_stripped=True).alias("script"),
        F.length("st").alias("n_chars"),
        *[
            F.regexp_count("st", F.lit(TX.SCRIPT_RANGES[c])).alias(f"{c}_chars")
            for c in _PROFILE_CLASSES
        ],
    )
    return (
        sel.groupBy("script")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(f"{c}_chars").alias(f"{c}_chars") for c in _PROFILE_CLASSES],
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("script")
    )


@query(
    "cjk_near_duplicate_pairs",
    oracle=f"""
    WITH twin AS (
      SELECT doc_id, {_xlit_sql(TX.HAN_ALPHABET)} AS t2 FROM documents
    ),
    routed AS (
      SELECT doc_id, t2 FROM (
        SELECT doc_id, t2, regexp_replace(t2, '\\s+', '', 'g') AS st FROM twin
      ) WHERE {_dominant_sql()} IN ({", ".join(f"'{s}'" for s in TX.UNSEGMENTED_SCRIPTS)})
    ),
    nrm AS (
      SELECT doc_id, trim(regexp_replace(lower(t2), '\\s+', ' ', 'g')) AS norm FROM routed
    ),
    sh_str AS (
      SELECT doc_id,
             unnest(CASE WHEN len(norm) >= 5
                    THEN list_transform(range(1, len(norm) - 3), j -> substr(norm, j, 5))
                    ELSE [norm] END) AS s_str
      FROM nrm
    ),
    d_all AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(s_str), 1, 15))::BIGINT AS s FROM sh_str
    ),
    ok_sh AS (SELECT s FROM d_all GROUP BY s HAVING count(*) <= {MAX_SHINGLE_FREQ}),
    d AS (SELECT d_all.* FROM d_all JOIN ok_sh USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def cjk_near_duplicate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-unit near-dup pairs over the routed CJK twin corpus: the
    full unsegmented-script dedup path — dominant-script routing
    predicate → ``char_shingles`` (codepoint-safe consuming regex) →
    hashed-shingle governed self-join → exact Jaccard ≥ 0.5.

    The Han twin preserves the corpus's token-level near-dup
    structure 1:1 at character level (token 5-grams ↔ char 5-grams),
    so the planted near-dup pairs surface through the char unit
    (25 pairs at sf0.01, 256 at sf0.1). Same scale shape as
    ``ngram_duplicate_pairs``: 8-byte hashed shingle keys through
    every shuffle, ``max_shingle_freq`` governor against boilerplate
    blowup — banded/capped, never all-pairs. Routing goes through
    ``dedup.route_by_script`` (one-shot materialized routing column)
    rather than an inline filter, which predicate pushdown would
    re-inline ~20× per row (see its docstring; 23.7→~7 s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    twin = d.select(
        "doc_id", TX.transliterate_tokens("text", TX.HAN_ALPHABET).alias("text")
    )
    routed = (
        DD.route_by_script(twin, "text")
        .filter(F.col("dominant_script").isin(*TX.UNSEGMENTED_SCRIPTS))
        .drop("dominant_script")
    )
    out = DD.ngram_jaccard_pairs(
        routed, "doc_id", "text", n=5, threshold=0.5,
        max_shingle_freq=MAX_SHINGLE_FREQ, hash_shingles=True, unit="char",
    )
    return out.withColumn("jaccard", F.round("jaccard", 6))


# Deterministic decode-damage overlay (r12 encoding-QA battery): the
# synthetic corpus is clean UTF-8, so the query plants each damage
# class on a deterministic doc subset — replacement chars, mojibake,
# raw controls — and the clean remainder proves the zero baseline.
_ENC_LEG_SQL = """
    der AS (
      SELECT CASE WHEN doc_id % 11 = 0 THEN 'replacement'
                  WHEN doc_id % 11 = 1 THEN 'mojibake'
                  WHEN doc_id % 11 = 2 THEN 'control'
                  ELSE 'clean' END AS leg,
             CASE WHEN doc_id % 11 = 0 THEN replace(text, 'o', '�')
                  WHEN doc_id % 11 = 1 THEN replace(text, 'e', 'Ã©')
                  WHEN doc_id % 11 = 2 THEN replace(text, 'a', chr(7))
                  ELSE text END AS t2
      FROM documents
    )
"""


@query(
    "doc_encoding_quality",
    oracle=f"""
    WITH {_ENC_LEG_SQL},
    c AS (
      SELECT leg,
             len(regexp_extract_all(t2, '{TX.REPLACEMENT_CHAR_RE}')) AS repl,
             len(regexp_extract_all(t2, '{TX.CONTROL_CHAR_RE}')) AS ctrl,
             len(regexp_extract_all(t2, '{TX.MOJIBAKE_RE}')) AS moji,
             len(t2) AS n
      FROM der
    )
    SELECT leg, count(*) AS n_docs,
           CAST(sum(repl) AS BIGINT) AS repl_chars,
           CAST(sum(ctrl) AS BIGINT) AS ctrl_chars,
           CAST(sum(moji) AS BIGINT) AS moji_hits,
           CAST(sum(n) AS BIGINT) AS n_chars,
           round(1 - least(1.0, (4 * CAST(sum(repl) AS BIGINT)
                                 + 2 * CAST(sum(moji) AS BIGINT)
                                 + CAST(sum(ctrl) AS BIGINT)) * 1.0
                                / nullif(CAST(sum(n) AS BIGINT), 0)), 6) AS quality
    FROM c
    GROUP BY leg
    ORDER BY leg
    """,
)
def doc_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding-health report over the deterministic
    decode-damage overlay: per damage leg, doc count + exact signal
    totals (replacement chars / C0-C1 controls / mojibake signatures)
    + the composite quality score computed from the summed integers.

    The ingest-QA battery a 100 TB crawl needs before any text
    operator runs (`textops.replacement_char_count /
    control_char_count / mojibake_count / encoding_quality_score`) —
    damaged docs route to re-decode or quarantine, clean docs prove
    the zero baseline. Three one-regex-scan counts per doc, map-local;
    one shuffle on the 4-value leg key. Integer-exact aggregates; the
    only FP surface is one double division of exact ints per leg,
    rounded identically in both engines."""
    d = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    leg = (
        F.when(m == 0, F.lit("replacement"))
        .when(m == 1, F.lit("mojibake"))
        .when(m == 2, F.lit("control"))
        .otherwise(F.lit("clean"))
    )
    t2 = (
        F.when(m == 0, F.replace(F.col("text"), F.lit("o"), F.lit("�")))
        .when(m == 1, F.replace(F.col("text"), F.lit("e"), F.lit("Ã©")))
        .when(m == 2, F.replace(F.col("text"), F.lit("a"), F.lit("\x07")))
        .otherwise(F.col("text"))
    )
    der = d.select(leg.alias("leg"), t2.alias("t2"))
    per = der.select(
        "leg",
        TX.replacement_char_count("t2").alias("repl"),
        TX.control_char_count("t2").alias("ctrl"),
        TX.mojibake_count("t2").alias("moji"),
        F.length("t2").alias("n"),
    )
    agg = per.groupBy("leg").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("repl").alias("repl_chars"),
        F.sum("ctrl").alias("ctrl_chars"),
        F.sum("moji").alias("moji_hits"),
        F.sum("n").alias("n_chars"),
    )
    damage = (
        F.lit(4) * F.col("repl_chars")
        + F.lit(2) * F.col("moji_hits")
        + F.col("ctrl_chars")
    )
    return agg.select(
        "leg", "n_docs", "repl_chars", "ctrl_chars", "moji_hits", "n_chars",
        F.round(
            F.lit(1.0) - F.least(F.lit(1.0), F.try_divide(damage, F.col("n_chars"))),
            6,
        ).alias("quality"),
    ).orderBy("leg")
