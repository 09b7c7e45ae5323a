"""kNN similarity join — the reference's delegated query surface
(SURVEY.md §2.3 J5; reference README.md:13 "Query the DB and return the
results"; cosine metric from qdrant_embedder.py:96-102).

Scale design (SURVEY.md §4.3): queries are SMALL, the corpus is 100 TB —
so always ``broadcast()`` the query side, never shuffle the corpus.  The
broadcast-nested-loop produces (query × corpus-partition) locally; the
per-query top-k is a window over only the surviving rows.  For very large
query sets use :func:`knn_join_blocked` (IVF-style centroid pruning).

Memory-bounded variants live in :mod:`.quantize` (scalar-int8 / binary /
product quantization, trained IVF); lexical and hybrid retrieval in
:mod:`.text_search`.  All share this module's output contract
(qid, vec_id, sim-or-dist, rank).

Every search over a stored collection takes one route:
:func:`resolve_route` names the space and decides, once, between the
persisted index and the exact scan, returning a :class:`Route`;
:func:`exact_scan` is the one place that picks the exact scorer
(:func:`knn_join` / :func:`knn_join_maxsim` /
:func:`knn_join_maxsim_vectorized`) for a route.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vector

# Canonical metric names.  The reference creates every collection with
# Distance.COSINE (qdrant_embedder.py:96-102), but the vectors_config model it
# persists (and our collection meta sidecar mirrors) declares a per-space
# ``distance`` — so search must honor dot / euclidean too.
_METRIC_ALIASES = {
    "cosine": "cosine", "cos": "cosine",
    "dot": "dot", "dotproduct": "dot", "ip": "dot",
    "euclid": "euclid", "euclidean": "euclid", "l2": "euclid",
    "manhattan": "manhattan", "l1": "manhattan", "cityblock": "manhattan",
}


def resolve_metric(name: str) -> str:
    m = _METRIC_ALIASES.get(str(name).strip().lower())
    if m is None:
        raise ValueError(
            f"unknown distance metric {name!r}; one of {sorted(set(_METRIC_ALIASES))}")
    return m


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    round_to: int | None = 6,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k per query vector under ``metric`` (cosine | dot | euclid).

    Returns (qid, vec_id, sim, rank) with deterministic tie-breaking on
    corpus id.  ``sim`` is the metric's score: cosine similarity or dot
    product rank DESCENDING (bigger = nearer); euclidean distance ranks
    ASCENDING (smaller = nearer).  The query side is broadcast; the corpus
    is scanned once with no shuffle before the final per-query top-k window.

    For cosine, per-side L2 norms are computed ONCE in projections before
    the join — |Q|+|C| norm evaluations instead of 2·|Q|·|C| — so the
    per-pair work is a single dot-product fold.  Norm and dot use the same
    expressions as :func:`functions.vector.cosine_similarity`, so values are
    bit-identical to the one-expression form (and to the SQL oracle).
    """
    metric = resolve_metric(metric)
    q_cols = [F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")]
    if metric == "cosine":
        q_cols.append(vector.l2_norm(F.col(query_vec)).alias("_qn"))
        c = corpus.withColumn("_cn", vector.l2_norm(F.col(corpus_vec)))
    else:
        c = corpus
    pairs = c.join(F.broadcast(queries.select(*q_cols)), how="cross")
    if metric == "cosine":
        denom = F.col("_qn") * F.col("_cn")
        sim = F.when(
            denom != 0.0,
            vector.dot(F.col("qvec"), F.col(corpus_vec)) / denom,
        )
        ascending = False
    elif metric == "dot":
        sim = vector.dot(F.col("qvec"), F.col(corpus_vec))
        ascending = False
    elif metric == "manhattan":
        sim = vector.l1_distance(F.col("qvec"), F.col(corpus_vec))
        ascending = True
    else:  # euclid
        sim = vector.l2_distance(F.col("qvec"), F.col(corpus_vec))
        ascending = True
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col(corpus_id))
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = pairs.select("qid", F.col(corpus_id).alias("vec_id"), sim.alias("sim"))
    # zero-norm vectors have no defined cosine: drop (NaN would rank FIRST
    # in Spark's descending order — above every real score).  dot/euclid are
    # total functions, but the null guard is harmless there.
    scored = scored.filter(F.col("sim").isNotNull() & ~F.isnan("sim"))
    order = F.asc("sim") if ascending else F.desc("sim")
    w = Window.partitionBy("qid").orderBy(order, F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


class Route(NamedTuple):
    """One search request's resolved decisions (:func:`resolve_route`)."""

    vector_name: str     # the searched space
    cfg: dict            # its declared config (distance, multivector, ...)
    metric: str          # the explicit override, else the declared metric
    imeta: dict | None   # the fresh index to probe; None = the exact scan
    always: bool         # use_index resolved to 'always'


def _declared_space(meta: dict, collection: str,
                    vector_name: str | None) -> tuple[str, dict]:
    """The (only or named) vector space of a collection's meta and its
    declared config — the one place a request names its space."""
    vectors = meta.get("vectors", {})
    if vector_name is None:
        if len(vectors) != 1:
            raise ValueError(
                f"collection {collection!r} declares {sorted(vectors)} "
                f"vector spaces; pass vector_name")
        vector_name = next(iter(vectors))
    return vector_name, vectors.get(vector_name, {})


def _resolve_search_space(root: str, collection: str,
                          vector_name: str | None, meta: dict | None = None):
    """Resolve the searched dense space: collection meta (read unless
    passed), id column, the space (:func:`_declared_space`) and its
    declared metric.  Returns (meta, id_col, vector_name, metric)."""
    if meta is None:
        from .upsert import collection_meta  # noqa: PLC0415

        meta = collection_meta(root, collection) or {}
    vector_name, cfg = _declared_space(meta, collection, vector_name)
    if str(cfg.get("kind", "")).lower() == "sparse":
        # the dense surface (search/recommend/discover/context/groups)
        # has no meaning over a posting-list space — refuse HERE, once,
        # so every caller gets the same message instead of a deep
        # shape error (recommend can't average postings, discover
        # can't triplet-score them, ...)
        raise ValueError(
            f"space {collection!r}/{vector_name!r} is SPARSE — this "
            f"operation needs a dense (or multivector) space; query a "
            f"sparse space with a sparse nearest node "
            f"({{'nearest': {{'indices': [...], 'values': [...]}}, "
            f"'using': {vector_name!r}}}) or search_sparse_points")
    metric = resolve_metric(cfg.get("distance", "cosine"))
    return meta, meta.get("id_col", "id"), vector_name, metric


def resolve_route(root: str, collection: str, vector_name: str | None, *,
                  tenant: str | None = None, metric: str | None = None,
                  use_index: str | bool = "auto", rescore: bool = True,
                  oversampling: float | None = None,
                  meta: dict | None = None) -> Route:
    """Decide index vs exact scan for one search — every vector search
    (``search_collection``, ``search_points``) asks here, once.

    ``use_index``: "auto" probes the stored index iff it is present, of
    a kind the space can use (a multivector space needs a pooled kind),
    fresh (its built_version equals the collection's data version) and
    built for the search metric; otherwise it returns the exact scan — a
    mutation can never be masked by a stale index.  "always" (or
    ``True``) requires that index and raises naming why it can't be
    used; False is the exact scan regardless.  ``rescore=False`` or an
    ``oversampling`` describe the quantized artifact's search, which the
    exact scan can't honor, so they imply "always".

    ``tenant`` makes the decision TENANT-AWARE: the global index clusters
    across tenants and can't answer a scoped search, so only the
    tenant's own artifact (``build_vector_index(tenant=...)``) qualifies.
    """
    if not (isinstance(use_index, bool) or use_index in ("auto", "always")):
        raise ValueError(
            f"use_index must be 'auto', 'always', True or False; "
            f"got {use_index!r}")
    meta, _, vector_name, declared = _resolve_search_space(
        root, collection, vector_name, meta)
    cfg = meta.get("vectors", {}).get(vector_name, {})
    multivector = cfg.get("multivector")
    if multivector is not None \
            and str(multivector).lower() not in ("max_sim", "maxsim"):
        raise ValueError(
            f"unknown multivector comparator {multivector!r} for "
            f"{collection!r}/{vector_name!r} (only 'max_sim')")
    metric = declared if metric is None else resolve_metric(metric)
    if not rescore or oversampling is not None:
        if use_index is False:
            raise ValueError(
                "rescore=False / oversampling describe the quantized "
                "artifact's search — they can't combine with "
                "use_index=False (the exact scan has no quantized "
                "stage)")
        use_index = "always"
    always = use_index is True or use_index == "always"
    if use_index is False:
        return Route(vector_name, cfg, metric, None, False)
    from .index import MV_KINDS, vector_index_meta  # noqa: PLC0415
    from .upsert import _version_of  # noqa: PLC0415

    imeta = vector_index_meta(root, collection, vector_name, tenant)
    if imeta is None:
        why = "absent"
    elif multivector is not None and imeta["kind"] not in MV_KINDS:
        why = f"kind {imeta['kind']!r} (need one of {MV_KINDS})"
    elif int(imeta["built_version"]) != _version_of(root, collection, meta):
        why = "stale"
    elif imeta["metric"] != metric:
        why = f"built for metric {imeta['metric']!r}"
    else:
        return Route(vector_name, cfg, metric, imeta, always)
    if always:
        hint = ", ".join(
            (["kind='ivf_mv'"] if multivector is not None else [])
            + (["tenant=..."] if tenant is not None else []))
        raise ValueError(
            f"use_index='always' but the "
            f"{'multivector ' if multivector is not None else ''}index for "
            f"{collection!r}/{vector_name!r}"
            + (f" (tenant {tenant!r})" if tenant is not None else "")
            + f" is {why}; build_vector_index"
            + (f"({hint})" if hint else "")
            + " or search with use_index='auto'")
    return Route(vector_name, cfg, metric, None, False)


def exact_scan(queries: DataFrame, corpus: DataFrame, route: Route,
               k: int = 10, query_id: str = "qid", query_vec: str = "qvec",
               corpus_id: str = "id", exclude_self: bool = False,
               round_to: int | None = 6,
               vectorized: str | bool = "auto") -> DataFrame:
    """The exact scan of a resolved route — the ONE place that picks the
    scorer: :func:`knn_join` for a dense space; for a multivector space
    late-interaction max-sim, BLAS-batched
    (:func:`knn_join_maxsim_vectorized`) when ``vectorized`` allows and
    both id columns are integral, else the expression form
    :func:`knn_join_maxsim` (the bit-identical oracle contract)."""
    kw = dict(k=k, query_id=query_id, query_vec=query_vec,
              corpus_id=corpus_id, corpus_vec=route.vector_name,
              metric=route.metric, exclude_self=exclude_self,
              round_to=round_to)
    if route.cfg.get("multivector") is None:
        return knn_join(queries, corpus, **kw)
    if vectorized is not False and _maxsim_blas_ok(
            vectorized, queries, query_id, corpus, corpus_id):
        return knn_join_maxsim_vectorized(queries, corpus, **kw)
    return knn_join_maxsim(queries, corpus, **kw)


def search_collection(
    spark: SparkSession,
    root: str,
    collection: str,
    queries: DataFrame,
    k: int = 10,
    vector_name: str | None = None,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "id",
    metric: str | None = None,
    exclude_self: bool = False,
    use_index: str | bool = "auto",
    n_probe: int | None = None,
    rerank_factor: int = 5,
    tenant: str | None = None,
    vectorized: str | bool = "auto",
    rescore: bool = True,
    oversampling: float | None = None,
    probe_per_token: bool = False,
) -> DataFrame:
    """Search a stored collection with the metric its meta DECLARES.

    The collection's ``_collection_meta.json`` sidecar records the named
    vector spaces with their distance (the vectors_config model of
    qdrant_embedder.py:95-102, persisted by operators.upsert.create_collection);
    a collection created with ``{"distance": "dot"}`` is searched by dot
    product without the caller restating it.  ``metric`` overrides only when
    passed explicitly.

    :func:`resolve_route` decides between a PERSISTED index
    (operators.index — the Qdrant model, where searches probe the
    structure built at upsert time) and the exact scan, from
    ``use_index`` ("auto" | "always" | True | False), ``tenant`` (only
    a per-tenant artifact answers a scoped search) and the quantization
    params; :func:`exact_scan` scores the scan.

    ``n_probe=None`` (the default) probes EVERY list, so for a kind='ivf'
    index dispatch changes the physical plan but never the answer —
    accuracy is traded for speed only when the caller passes an explicit
    ``n_probe``.  pq/ivf_pq indexes remain approximate by construction
    (ADC candidate selection precedes the exact rescore) regardless of
    probe width — building one IS the accuracy/memory trade.  Index
    searches return the same (qid, vec_id, sim, rank) contract for every
    index kind.

    ``vectorized`` picks the PHYSICAL scorer for a multivector exact
    scan: "auto" (default) routes to the BLAS
    :func:`knn_join_maxsim_vectorized` when both id columns are integral
    (its long/long output contract — higher-order expressions never
    enter whole-stage codegen, so the interpreted form loses badly at
    scale), "always" requires it (raises on non-integral ids), False
    keeps the expression form (the bit-identical oracle contract).
    Single-vector scans are unaffected.

    ``rescore`` / ``oversampling`` are Qdrant's
    ``QuantizationSearchParams`` (round 13), threaded to the stored
    artifact: ``rescore=False`` returns the QUANTIZED-score ranking for
    the sq/pq/bq kinds (skipping the exact-rescore fetch — the
    cheap-recall mode), ``oversampling`` sizes the candidate stage at
    ``ceil(oversampling·k)``.

    ``probe_per_token`` (round 13 — multivector artifacts only): probe
    the union of every query TOKEN's nearest lists alongside the pooled
    query's, recovering recall the mean-pool loses on semantically
    scattered token sets; see :func:`index.search_indexed`.
    """
    if vectorized is not False and vectorized not in ("auto", "always"):
        raise ValueError(
            f"vectorized must be 'auto', 'always' or False; "
            f"got {vectorized!r}")
    route = resolve_route(root, collection, vector_name, tenant=tenant,
                          metric=metric, use_index=use_index,
                          rescore=rescore, oversampling=oversampling)
    return _run_route(spark, root, collection, queries, route, k=k,
                      query_id=query_id, query_vec=query_vec,
                      corpus_id=corpus_id, exclude_self=exclude_self,
                      n_probe=n_probe, rerank_factor=rerank_factor,
                      tenant=tenant, vectorized=vectorized,
                      rescore=rescore, oversampling=oversampling,
                      probe_per_token=probe_per_token)


def _run_route(spark: SparkSession, root: str, collection: str,
               queries: DataFrame, route: Route, *, k: int, query_id: str,
               query_vec: str, corpus_id: str, exclude_self: bool,
               n_probe: int | None, rerank_factor: int,
               tenant: str | None, vectorized: str | bool = "auto",
               rescore: bool = True, oversampling: float | None = None,
               probe_per_token: bool = False) -> DataFrame:
    """Run a resolved unfiltered route: probe ``route.imeta`` or scan."""
    from .index import _search_route  # noqa: PLC0415
    from .upsert import read_collection  # noqa: PLC0415

    if route.imeta is not None:
        return _search_route(
            spark, root, collection, queries, route, k=k, n_probe=n_probe,
            query_id=query_id, query_vec=query_vec,
            exclude_self=exclude_self, round_to=6, tenant=tenant,
            rerank_factor=rerank_factor, rescore=rescore,
            oversampling=oversampling, probe_per_token=probe_per_token)
    if probe_per_token:
        # the silently-ignored-knob refusal (round 14, ADVICE r13 #3):
        # the exact scan has no probe stage to widen
        raise ValueError(
            "probe_per_token widens a multivector artifact's pooled "
            "probe — this search resolved to the exact scan (no fresh "
            "multivector index); build/refresh the index, search with "
            "use_index='always', or drop the flag (the "
            "silently-ignored-knob refusal)")
    corpus = read_collection(spark, root, collection, tenant=tenant)
    return exact_scan(queries, corpus, route, k=k, query_id=query_id,
                      query_vec=query_vec, corpus_id=corpus_id,
                      exclude_self=exclude_self, vectorized=vectorized)


def _maxsim_blas_ok(mode, queries: DataFrame, query_id: str,
                    corpus: DataFrame, corpus_id: str) -> bool:
    """True when the BLAS max-sim path's id contract holds (both id
    columns integral — its output schema is long/long).  'always' raises
    instead of silently degrading."""
    from pyspark.sql.types import (  # noqa: PLC0415
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    integral = (ByteType, ShortType, IntegerType, LongType)
    ok = (isinstance(queries.schema[query_id].dataType, integral)
          and isinstance(corpus.schema[corpus_id].dataType, integral))
    if mode == "always" and not ok:
        raise ValueError(
            "vectorized='always' needs integral query and corpus id "
            "columns (the long/long output contract of the BLAS max-sim "
            "path); cast the ids or use vectorized='auto'")
    return ok


def knn_join_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    round_to: int | None = 6,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k — the 100 TB physical strategy.

    The query side is SMALL by contract (it is broadcast in :func:`knn_join`
    too); here it ships to every partition inside the UDF closure as one
    numpy matrix.  Each corpus partition computes a single BLAS matmul
    (batch × dim) @ (dim × m) and keeps only its LOCAL top-k per query, so
    the global merge window sees ``partitions × m × k`` candidate rows
    instead of ``|corpus| × m`` — the same partial/final shape Spark uses
    for aggregates.  No shuffle touches the corpus.

    Scores come from float64 BLAS accumulation, which can differ from the
    sequential fold by ~1 ulp — fine for production ranking, so this is the
    bench/scale path while :func:`knn_join` (bit-identical to the SQL
    oracle) is the semantic contract.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    # The query side is small BY CONTRACT (it ships to every partition in
    # the UDF closure); the limit turns a misuse into a loud error instead
    # of a silent driver-side collect of an unbounded DataFrame.
    q_pd = (queries.select(F.col(query_id).alias("qid"),
                           F.col(query_vec).alias("qvec"))
            .limit(max_queries + 1).toPandas())
    if len(q_pd) > max_queries:
        raise ValueError(
            f"knn_join_vectorized collects the query side to the driver; got "
            f">{max_queries} queries — use knn_join_blocked for large query sets")
    qids = q_pd["qid"].to_numpy()
    Q = np.stack(q_pd["qvec"].to_numpy()).astype(np.float64)          # (m, d)
    Qn = np.linalg.norm(Q, axis=1)
    Qn[Qn == 0.0] = np.nan  # zero-norm query → NULL sims, like the SQL path
    n_local = k + 1 if exclude_self else k

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)  # (b, d)
            ids = pdf[corpus_id].to_numpy()
            Cn = np.linalg.norm(C, axis=1)
            Cn[Cn == 0.0] = np.nan
            S = (C @ Q.T) / np.outer(Cn, Qn)                             # (b, m)
            kk = min(n_local, len(ids))
            # Local pruning must agree with the global (rounded sim, vec_id)
            # ordering: select on ROUNDED scores and keep every row tying the
            # kk-th rounded score, else a boundary-tying candidate with a
            # smaller vec_id could be pruned here yet outrank a kept row in
            # the global window (data-dependent divergence from the oracle).
            Sr = np.round(S, round_to) if round_to is not None else S
            Sr = np.where(np.isnan(Sr), -np.inf, Sr)
            thresh = -np.partition(-Sr, kk - 1, axis=0)[kk - 1, :]       # (m,)
            # isfinite guard: an all-NaN column has thresh=-inf, and
            # -inf >= -inf would emit the whole partition for that query
            i_arr, j_arr = np.nonzero((Sr >= thresh[np.newaxis, :])
                                      & np.isfinite(Sr))
            yield pd.DataFrame({
                "qid": qids[j_arr].astype("int64"),
                "vec_id": ids[i_arr].astype("int64"),
                "sim": S[i_arr, j_arr],
            })

    cand = corpus.select(corpus_id, corpus_vec).mapInPandas(
        part, "qid long, vec_id long, sim double")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("vec_id"))
    if round_to is not None:
        cand = cand.withColumn("sim", F.round("sim", round_to))
    cand = cand.filter(F.col("sim").isNotNull() & ~F.isnan("sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    max_euclidean: float = 1.2,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via Spark ML ``BucketedRandomProjectionLSH`` — the
    LSH-bucketed scale path next to the IVF one (:func:`knn_join_blocked`).

    Both sides are L2-normalized, so euclidean distance d on the unit sphere
    maps monotonically to cosine: sim = 1 - d²/2.  ``approxSimilarityJoin``
    only compares pairs whose random-projection buckets collide in some hash
    table — candidate generation is an equi-join on bucket keys, never an
    all-pairs scan.  Recall is probabilistic (grows with ``num_hash_tables``
    and ``max_euclidean``), so register rows-only; :func:`knn_join` is the
    exact contract.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

    def unit(df: DataFrame, id_c: str, vec_c: str, out_id: str) -> DataFrame:
        n = vector.l2_norm(F.col(vec_c))
        arr = F.transform(F.col(vec_c), lambda x: x.cast("double") / n)
        return (df.filter(n != 0.0)
                .select(F.col(id_c).alias(out_id),
                        array_to_vector(arr).alias("features")))

    q = unit(queries, query_id, query_vec, "qid")
    c = unit(corpus, corpus_id, corpus_vec, "vec_id")
    # materialize each side's normalized+hashed features ONCE (round 16,
    # guide §1.2/§5): approxSimilarityJoin re-transforms any input missing
    # its outputCol, so handing it lazy frames re-runs the normalize HOF +
    # array_to_vector + hash UDF chain per join side per action (measured
    # 5.2 s vs 2.0 s at sf0.1, identical rows).  localCheckpoint inside
    # the fixture's timed flow — nothing survives the query.
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables,
        seed=seed).fit(c)
    qt = model.transform(q).localCheckpoint(eager=True)
    ct = model.transform(c).localCheckpoint(eager=True)
    joined = model.approxSimilarityJoin(qt, ct, max_euclidean, distCol="dist")
    cand = joined.select(
        F.col("datasetA.qid").alias("qid"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("sim"),
    )
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("vec_id"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
    centroid_label: str = "label",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """IVF-style approximate kNN: probe only the ``n_probe`` partitions whose
    centroid is nearest each query, then exact top-k inside them.

    ``centroids`` comes from :mod:`.centroid` (one row per label).  At 100 TB
    the corpus is stored partitioned by label, so the probe filter becomes
    partition pruning — each query touches n_probe/n_partitions of the data.
    """
    q = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec"))
    cent = centroids.select(
        F.col(centroid_label).alias("_label"), F.col(centroid_vec).alias("_cvec")
    )
    probe_w = Window.partitionBy("qid").orderBy(
        F.desc("csim"), F.asc("_label")
    )
    probes = (
        q.join(F.broadcast(cent), how="cross")
        # rounded so probe ranking is reproducible against the SQL oracle
        .withColumn("csim", F.round(
            vector.cosine_similarity(F.col("qvec"), F.col("_cvec")), 6))
        .withColumn("crank", F.row_number().over(probe_w))
        .filter(F.col("crank") <= n_probe)
        .select("qid", "qvec", F.col("_label").alias("probe_label"))
    )
    pairs = corpus.withColumn("_cn", vector.l2_norm(F.col(corpus_vec))).join(
        F.broadcast(probes.withColumn("_qn", vector.l2_norm(F.col("qvec")))),
        F.col(corpus_label) == F.col("probe_label"),
    ).filter(F.col("qid") != F.col(corpus_id))
    denom = F.col("_qn") * F.col("_cn")
    scored = pairs.select(
        "qid",
        F.col(corpus_id).alias("vec_id"),
        F.round(
            F.when(denom != 0.0,
                   vector.dot(F.col("qvec"), F.col(corpus_vec)) / denom), 6
        ).alias("sim"),
    ).filter(F.col("sim").isNotNull() & ~F.isnan("sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def maxsim_score_expr(qvecs: "F.Column", cvecs: "F.Column",
                      metric: str) -> "F.Column":
    """The late-interaction score as one JVM-side expression:
    ``Σ_{t ∈ qvecs} max_{v ∈ cvecs} sim(t, v)`` — shared by the exact
    scan (:func:`knn_join_maxsim`) and the ivf_mv rescore tail, so both
    paths score bit-identically (the oracle contract)."""
    metric = resolve_metric(metric)
    if metric not in ("dot", "cosine"):
        raise ValueError(
            "max_sim scoring is defined for similarity metrics "
            "(dot/cosine); euclid has no late-interaction form")
    if metric == "cosine":
        def tok_sim(qt, pv):
            denom = vector.l2_norm(qt) * vector.l2_norm(pv)
            return F.when(denom != 0.0, vector.dot(qt, pv) / denom)
    else:
        def tok_sim(qt, pv):
            return vector.dot(qt, pv)
    return F.aggregate(
        qvecs, F.lit(0.0),
        lambda acc, qt: acc + F.array_max(
            F.transform(cvecs, lambda pv: tok_sim(qt, pv))))


def knn_join_maxsim(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvecs",
    corpus_id: str = "vec_id",
    corpus_vec: str = "vectors",
    metric: str = "dot",
    exclude_self: bool = False,
    round_to: int | None = 6,
) -> DataFrame:
    """Multivector late-interaction top-k (the modern Qdrant MULTIVECTOR
    config with ``MaxSim`` comparator — ColBERT, Khattab & Zaharia,
    SIGIR 2020): each side carries a LIST of vectors per point
    (``array<array<float>>`` — per-token embeddings), and

        score(q, p) = Σ_{t ∈ q.vectors} max_{v ∈ p.vectors} sim(t, v)

    — every query token matches its best point vector, summed.  Compiles
    entirely to nested higher-order array expressions (aggregate /
    transform / the shared dot fold), so scoring stays JVM-side
    whole-stage codegen; the plan shape is exactly :func:`knn_join`
    (broadcast queries × corpus scan, partial top-k window) — the corpus
    never shuffles.  ``metric`` 'dot' (the ColBERT comparator) or
    'cosine' (per-token-pair normalized; a zero-norm token pair scores
    NULL → the pair drops, same policy as :func:`knn_join`).  Euclid has
    no max-sim semantics and is rejected.
    """
    q = queries.select(F.col(query_id).alias("qid"),
                       F.col(query_vec).alias("_qvs"))
    c = corpus.select(F.col(corpus_id).alias("vec_id"),
                      F.col(corpus_vec).alias("_cvs"))
    pairs = c.join(F.broadcast(q), how="cross")
    score = maxsim_score_expr(F.col("_qvs"), F.col("_cvs"), metric)
    if round_to is not None:
        score = F.round(score, round_to)
    scored = (pairs.select("qid", "vec_id", score.alias("sim"))
              .filter(F.col("sim").isNotNull() & ~F.isnan("sim")))
    if exclude_self:
        scored = scored.filter(F.col("qid") != F.col("vec_id"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def knn_join_maxsim_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvecs",
    corpus_id: str = "vec_id",
    corpus_vec: str = "vectors",
    metric: str = "dot",
    exclude_self: bool = False,
    round_to: int | None = 6,
    max_queries: int = 100_000,
) -> DataFrame:
    """Multivector MaxSim — the BLAS scale path (the
    :func:`knn_join_vectorized` twin for vector LISTS).  The nested
    higher-order expressions of :func:`knn_join_maxsim` are interpreted
    by Catalyst (HOFs never enter whole-stage codegen), so per-pair cost
    grows with tokens × vectors × dim in the expression interpreter;
    here each corpus partition flattens its points' vectors into ONE
    matrix, computes a single ``(total_vecs × dim) @ (dim × total_qtok)``
    matmul, segment-maxes over each point's rows and segment-sums over
    each query's token columns (``np.maximum.reduceat`` /
    ``np.add.reduceat``) — then keeps only its LOCAL top-k per query, so
    the global merge window sees ``partitions × m × k`` rows.  No corpus
    shuffle.  Scores are float64 BLAS (±1 ulp of the fold); ranking uses
    the same rounded tie-safe local pruning as the single-vector path.
    Points with an empty vector list score nothing (the expression
    version's NULL-drop policy), and degenerate QUERY shapes follow the
    expression form too: a NULL token list or a NULL token inside one
    emits no rows for that query (the fold nulls there), an EMPTY list
    scores 0.0 against every point.  ids must be integral (the
    long/long output contract of the vectorized paths)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    metric = resolve_metric(metric)
    if metric not in ("dot", "cosine"):
        raise ValueError(
            "max_sim scoring is defined for similarity metrics "
            "(dot/cosine); euclid has no late-interaction form")
    q_pd = (queries.select(F.col(query_id).alias("qid"),
                           F.col(query_vec).alias("qvecs"))
            .limit(max_queries + 1).toPandas())
    if len(q_pd) > max_queries:
        raise ValueError(
            f"knn_join_maxsim_vectorized collects the query side to the "
            f"driver; got >{max_queries} queries")
    qids_all = q_pd["qid"].to_numpy()
    # Query-side degenerate shapes follow the expression form exactly
    # (the oracle contract): a NULL token list OR a NULL token inside
    # the list nulls the whole fold there → that query emits no rows;
    # an EMPTY (non-NULL) list folds to 0.0 → the query scores 0.0
    # against every point that has at least one token vector.
    q_keep, q_lists, q_zero = [], [], []
    for i, v in enumerate(q_pd["qvecs"]):
        if v is None:
            continue
        toks = list(v)
        if any(t is None for t in toks):
            continue
        if not toks:
            q_zero.append(i)
            continue
        q_keep.append(i)
        q_lists.append(np.asarray(toks, dtype=np.float64))
    qids = qids_all[q_keep] if q_keep else np.empty(0, dtype=np.int64)
    zero_qids = (qids_all[q_zero].astype("int64") if q_zero
                 else np.empty(0, dtype=np.int64))
    if q_lists:
        Qtok = np.concatenate(q_lists, axis=0)                  # (T, d)
        if metric == "cosine":
            qn = np.linalg.norm(Qtok, axis=1, keepdims=True)
            qn[qn == 0.0] = np.nan
            Qtok = Qtok / qn
        # column boundaries of each query's token block, for add.reduceat
        q_bounds = np.cumsum([0] + [len(v) for v in q_lists])[:-1]
    n_local = k + 1 if exclude_self else k

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL token lists (delete_vectors nulls the space; mixed
            # multi-space points) and NULL tokens inside a list drop,
            # matching the expression form's NULL-fold / array_max-skip
            vec_lists = []
            for v in pdf[corpus_vec]:
                toks = (None if v is None
                        else [t for t in v if t is not None])
                vec_lists.append(
                    np.asarray(toks, dtype=np.float64) if toks else None)
            if zero_qids.size:
                # empty-token-list queries: the expression fold never
                # touches the corpus side, so the 0.0 score lands on
                # EVERY point (even NULL/empty vector lists); local
                # prune = the kk smallest ids (the global window ranks
                # sim desc, vec_id asc)
                all_ids = np.sort(pdf[corpus_id].to_numpy()
                                  .astype("int64"))
                kk0 = min(n_local, len(all_ids))
                sel = all_ids[:kk0]
                yield pd.DataFrame({
                    "qid": np.repeat(zero_qids, kk0),
                    "vec_id": np.tile(sel, len(zero_qids)),
                    "sim": np.zeros(kk0 * len(zero_qids)),
                })
            keep = [i for i, v in enumerate(vec_lists) if v is not None]
            if not keep or not q_lists:
                continue
            ids = pdf[corpus_id].to_numpy()[keep]
            vec_lists = [vec_lists[i] for i in keep]
            P = np.concatenate(vec_lists, axis=0)               # (V, d)
            if metric == "cosine":
                pn = np.linalg.norm(P, axis=1, keepdims=True)
                pn[pn == 0.0] = np.nan
                P = P / pn
            p_bounds = np.cumsum([0] + [len(v) for v in vec_lists])[:-1]
            S = P @ Qtok.T                                      # (V, T)
            # NaN (zero-norm cosine) must lose every max, not poison it
            np.nan_to_num(S, copy=False, nan=-np.inf)
            best = np.maximum.reduceat(S, p_bounds, axis=0)     # (pts, T)
            scores = np.add.reduceat(best, q_bounds, axis=1)    # (pts, m)
            # -inf (a point whose every vector was zero-norm) drops below
            scores = np.where(np.isfinite(scores), scores, np.nan)
            Sr = (np.round(scores, round_to) if round_to is not None
                  else scores)
            Sr = np.where(np.isnan(Sr), -np.inf, Sr)
            kk = min(n_local, len(ids))
            thresh = -np.partition(-Sr, kk - 1, axis=0)[kk - 1, :]
            i_arr, j_arr = np.nonzero((Sr >= thresh[np.newaxis, :])
                                      & np.isfinite(Sr))
            yield pd.DataFrame({
                "qid": qids[j_arr].astype("int64"),
                "vec_id": ids[i_arr].astype("int64"),
                "sim": scores[i_arr, j_arr],
            })

    cand = corpus.select(corpus_id, corpus_vec).mapInPandas(
        part, "qid long, vec_id long, sim double")
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("vec_id"))
    if round_to is not None:
        cand = cand.withColumn("sim", F.round("sim", round_to))
    cand = cand.filter(F.col("sim").isNotNull() & ~F.isnan("sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def mmr_rerank(candidates: DataFrame, k: int = 10, lambda_: float = 0.5,
               cand_vec: str = "cvec", round_to: int | None = 6) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    1998) — the diversity pass RAG retrieval stacks run on a candidate
    pool: greedily pick the candidate maximizing

        λ·sim(q, c)  −  (1 − λ)·max_{s ∈ selected} cos(c, s)

    so near-duplicate hits don't crowd the top-k.  ``candidates`` carries
    (qid, vec_id, sim, ``cand_vec``) — the top-pool rows of any search in
    this repo plus their vectors; λ=1 degenerates to the plain ranking.

    Physical shape: the greedy loop is inherently sequential IN RANK but
    independent ACROSS queries, so it runs as one ``applyInPandas`` per
    qid group over pool-sized frames (the pool is top-N of a search —
    tens of rows; the corpus never enters).  Deterministic: ties break on
    vec_id at every pick.  Returns (qid, vec_id, sim, mmr_score, rank).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")

    lam = float(lambda_)
    kk = int(k)
    rt = round_to

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sim", "vec_id"],
                              ascending=[False, True]).reset_index(drop=True)
        V = np.array(pdf[cand_vec].tolist(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        U = V / norms[:, None]
        sims = pdf["sim"].to_numpy(dtype=np.float64)
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        max_div = np.zeros(n)
        while remaining and len(selected) < kk:
            best, best_score = None, None
            for i in remaining:
                score = lam * sims[i] - (1.0 - lam) * (
                    max_div[i] if selected else 0.0)
                if best is None or score > best_score or (
                        score == best_score
                        and pdf["vec_id"][i] < pdf["vec_id"][best]):
                    best, best_score = i, score
            selected.append(best)
            remaining.remove(best)
            div = U[remaining] @ U[best] if remaining else np.empty(0)
            for j, i in enumerate(remaining):
                if div[j] > max_div[i]:
                    max_div[i] = div[j]
        out = pdf.iloc[selected][["qid", "vec_id", "sim"]].copy()
        scores = [lam * sims[i] - (1.0 - lam) * max_div[i]
                  if pos else lam * sims[i]
                  for pos, i in enumerate(selected)]
        out["mmr_score"] = [round(s, rt) if rt is not None else s
                            for s in scores]
        out["rank"] = range(1, len(selected) + 1)
        return out

    schema = ("qid " + dict(candidates.dtypes)["qid"]
              + ", vec_id " + dict(candidates.dtypes)["vec_id"]
              + ", sim double, mmr_score double, rank int")
    return (candidates.groupBy("qid")
            .applyInPandas(pick, schema=schema))
