"""Vector math as pure Spark SQL expressions (SURVEY.md §2.8 F7/F10).

The reference's only distance metric is cosine (qdrant_embedder.py:96-102,
``Distance.COSINE`` for both named vectors).  We implement dot/norm/cosine as
``zip_with`` + ``aggregate`` folds over ``ARRAY<FLOAT>`` columns — these stay
inside JVM codegen, so a 100 TB scan never crosses into Python.  Everything is
computed in DOUBLE (cast per element) so results are reproducible against the
DuckDB oracle, which folds the same arrays in the same index order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, folded in index order as DOUBLE."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to flat arithmetic for a KNOWN small dimension.

    Adds terms in the same index order as :func:`dot`, so results are
    bit-identical.  CAVEAT (measured, not guessed): inside join codegen
    (e.g. the broadcast-nested-loop consume path) Spark cannot split a
    single expression across methods, so dims ≳32 blow Janino's 64 KB
    method limit — the stage then pays a failed-compile + interpreted
    fallback on EVERY run, slower than the plain HOF fold.  Use only in
    projections / small dims; for wide vectors use :func:`dot` (HOF) or
    the BLAS paths (knn.knn_join_vectorized, dedup vectorized).
    """
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(dim)
    ]
    acc = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def l2_distance(a: Column, b: Column) -> Column:
    diff2 = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))


def l1_distance(a: Column, b: Column) -> Column:
    """Manhattan (L1) distance — Qdrant ``Distance.MANHATTAN``, the fourth
    declared metric.  Same fold shape as :func:`l2_distance` (abs instead
    of square, no sqrt), so it stays inside JVM codegen and reproduces
    bit-identically in the DuckDB oracle's list fold."""
    diff = F.zip_with(
        a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)


def normalize(a: Column) -> Column:
    """Unit-normalize an array<float> column (stays array<double>)."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def mean_pool(vecs: Column) -> Column:
    """Element-wise mean of a MULTIVECTOR column (``array<array<float>>``
    → ``array<double>``): the coarse representation the ivf_mv index
    clusters by (max-sim rescoring stays exact on the full token lists).
    Pure zip_with/aggregate fold — JVM-side; NULL tokens inside the list
    are dropped first (``array_max`` skips them in the max-sim scorer, so
    the pooled point must not go NULL either — a NULL acc would silently
    drop the point from the artifact while the exact scan still scores
    it); an empty/all-NULL list yields NULL (no tokens → no pooled
    point), matching the scorer's empty-list drop policy."""
    toks = F.filter(vecs, lambda v: v.isNotNull())
    summed = F.aggregate(
        toks,
        F.array_repeat(F.lit(0.0), F.size(F.element_at(toks, 1))),
        lambda acc, v: F.zip_with(
            acc, v, lambda a, b: a + b.cast("double")),
        lambda acc: F.transform(acc, lambda x: x / F.size(toks)))
    return F.when(F.size(toks) > 0, summed)


def scale(a: Column, s: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double") * s)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x.cast("double") + y.cast("double"))
