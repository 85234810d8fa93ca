"""The crash-safe index store (``operators.index_store``): the one
generation / swap / heal protocol that every persisted layout shares.
Each crash test runs once per layout through that layout's own public
entry points, so a layout that stops staging its builds or stops
healing on entry fails here."""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Callable

import pytest

from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    decontam_index as DC,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    dedup_index as DI,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    index_store as IS,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    textclass as TC,
)
from big_data_movie_recommendation_and_customer_segmentation_spark.operators import (
    vectorops as VO,
)

DOC = "doc_id long, text string"
TEXTS = {
    1: "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu",
    2: "totally unrelated words over here now about rivers and mountain weather",
}


@dataclass(frozen=True)
class Layout:
    build: Callable  # (spark, path, generation 1 or 2) -> None
    entries: dict  # name -> (spark, path) -> comparable result; each heals first
    compacted: tuple = ()  # tables a compaction swaps in

    def read(self, spark, path):
        return next(iter(self.entries.values()))(spark, path)


def _minhash_build(spark, path, gen):
    DI.build_minhash_index(
        spark.createDataFrame([(gen, TEXTS[gen])], DOC), path, n=3,
        num_perm=32 if gen == 1 else 16, band_rows=2, seed=42 if gen == 1 else 7,
    )


def _decontam_build(spark, path, gen):
    DC.build_decontam_index(
        spark.createDataFrame([(f"b{gen}", TEXTS[gen])], "bench_id string, text string"),
        path, n=4,
    )


def _decontam_overlaps(spark, path):
    probe = spark.createDataFrame(list(TEXTS.items()), DOC)
    return sorted(r.doc for r in DC.decontam_index_overlaps(spark, path, probe).collect())


def _ivfadc_build(spark, path, gen):
    vectors = spark.range(48).selectExpr(
        "id AS vec_id",
        f"transform(sequence(0, 7), d -> CAST((id * {gen + 2} + d * 5) % 31 AS DOUBLE))"
        " AS embedding",
    )
    VO.build_ivfadc_index(vectors, path, n_cells=4, dim=8, m=4, pq_k=4, iters=1)


def _ivfadc_search(spark, path):
    probes = spark.range(3).selectExpr(
        "id AS probe_id", "transform(sequence(0, 7), d -> CAST(id + d AS DOUBLE)) AS probe_vec"
    )
    found = VO.ivfadc_index_search(spark, path, probes, k_neighbors=5, n_probe_cells=2)
    return sorted(tuple(r) for r in found.collect())


def _lm_build(spark, path, gen):
    ref = spark.createDataFrame([(gen, TEXTS[gen])], DOC)
    uni, bi, n = TC.fit_bigram_lm(ref, "doc_id", "text", num_buckets=64)
    TC.save_bigram_lm(uni, bi, n, path, num_buckets=64)


LAYOUTS = {
    "minhash": Layout(
        _minhash_build,
        {
            "fingerprint": DI.minhash_index_fingerprint,
            "stats": lambda s, p: sorted(map(tuple, DI.minhash_index_stats(s, p).collect())),
            "compact": lambda s, p: DI.compact_minhash_index(p, s),
        },
        compacted=("bands", "sigs"),
    ),
    "decontam": Layout(
        _decontam_build,
        {
            "fingerprint": DC.decontam_index_fingerprint,
            "overlaps": _decontam_overlaps,
            "stats": lambda s, p: sorted(map(tuple, DC.decontam_index_stats(s, p).collect())),
            "compact": lambda s, p: DC.compact_decontam_index(p, s),
        },
        compacted=("grams",),
    ),
    "ivfadc": Layout(
        _ivfadc_build,
        {"search": _ivfadc_search, "compact": lambda s, p: VO.compact_ivfadc_index(p, s)},
    ),
    "bigram_lm": Layout(_lm_build, {"fingerprint": TC.lm_model_fingerprint}),
}


def _rename(spark, src, dst):
    fs, Path = IS._fs(spark, src)
    assert fs.rename(Path(src), Path(dst))


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_rebuild_crash_before_swap_leaves_live_generation_intact(spark, tmp_path, layout):
    """A rebuild stages everything into {path}__build — a crash at ANY
    point before the swap (here: every table staged, meta not yet
    written) leaves the live index fully readable at its old
    generation, and the next build clears the debris."""
    L = LAYOUTS[layout]
    path, staged = str(tmp_path / "gen"), str(tmp_path / "staged")
    L.build(spark, path, 1)
    want1 = L.read(spark, path)
    L.build(spark, staged, 2)
    want2 = L.read(spark, staged)
    assert want2 != want1
    IS.delete(spark, f"{staged}/meta")
    _rename(spark, staged, f"{path}__build")
    assert L.read(spark, path) == want1  # live generation untouched
    # the next full rebuild clears the debris and swaps cleanly
    L.build(spark, path, 2)
    assert not IS.exists(spark, f"{path}__build")
    assert not IS.exists(spark, f"{path}__old")
    assert L.read(spark, path) == want2


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_rebuild_crash_inside_swap_heals_on_next_entry(spark, tmp_path, layout):
    """A crash INSIDE the whole-index swap self-heals at the next
    entry: the finished build (meta/_SUCCESS present) wins as the
    newer generation; with no finished build, the set-aside old
    generation is reinstated."""
    L = LAYOUTS[layout]

    # case A: live set aside, no finished build -> old gen restored
    pa = str(tmp_path / "heal_a")
    L.build(spark, pa, 1)
    want1 = L.read(spark, pa)
    _rename(spark, pa, f"{pa}__old")
    assert L.read(spark, pa) == want1

    # case B: live set aside AND a complete __build exists -> build wins
    pb, staged = str(tmp_path / "heal_b"), str(tmp_path / "staged")
    L.build(spark, pb, 1)
    L.build(spark, staged, 2)
    want2 = L.read(spark, staged)
    assert want2 != want1
    _rename(spark, pb, f"{pb}__old")
    _rename(spark, staged, f"{pb}__build")
    assert L.read(spark, pb) == want2  # the newer generation
    assert not IS.exists(spark, f"{pb}__old")


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_read_paths_heal_crashed_swaps(spark, tmp_path, layout):
    """Every entry point heals swap debris first: after a crashed
    table rewrite (live table missing, complete ``__compact`` beside
    it) and after a crashed whole-index rebuild (index dir missing,
    complete ``__build``), each read path and compaction self-repairs
    and answers as before, instead of raising path-not-found."""
    L = LAYOUTS[layout]
    crashes = [(f"/{t}", f"/{t}__compact") for t in L.compacted] + [("", "__build")]
    for i, ((name, entry), (live, aside)) in enumerate(
        itertools.product(L.entries.items(), crashes)
    ):
        path = str(tmp_path / f"p{i}")
        L.build(spark, path, 1)
        want = entry(spark, path)
        _rename(spark, path + live, path + aside)
        assert entry(spark, path) == want, (name, live)
        assert IS.exists(spark, path + live), (name, live)
