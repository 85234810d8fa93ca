"""Vector column functions over ``array<float>`` embeddings.

JVM-side expressions (``zip_with`` + ``aggregate``) — no Python UDF
in the similarity hot path. In Spark 4.1 these lambda functions are
not code-generated: they evaluate through ``CodegenFallback``, i.e.
interpreted, inside an otherwise whole-stage-codegen'd stage. That
has not measured as a cost at embedding widths: an unrolled,
code-generated cosine was no faster at 64 dimensions (320K cosines
on 4 cores: 1.0-1.5 s either way). The Pandas-UDF alternative is
kept in ``operators/vectorops.py`` only for batched top-k where
Arrow amortizes better.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ. SQL (DuckDB): ``list_dot_product(a, b)``."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is 0 (try_divide).
    SQL: ``list_cosine_similarity(a, b)``."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize (for cosine↔euclidean LSH equivalence:
    ‖x−y‖² = 2−2·cos on the unit sphere)."""
    ca = F.col(a) if isinstance(a, str) else a
    n = norm(ca)
    return F.transform(ca, lambda x: F.try_divide(x, n))
