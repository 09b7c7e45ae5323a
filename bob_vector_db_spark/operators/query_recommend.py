"""Example-based queries over a stored collection — Qdrant's
recommend / discover / context family (split out of the former
``operators.query_api`` monolith, round 12; import through
``operators.query_api`` or here, both work).

All three resolve example POINT IDS through the store's static
id-bucket fetch (never a scan), score the (filtered) corpus in ONE
broadcast pass, and rank with the same deterministic tie-breaks as
:func:`operators.query_search.search_points`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filters import as_filter
from .localframe import local_frame
from .upsert import (
    read_collection,
    read_rows_for_ids,
)

from .knn import _resolve_search_space
from .query_search import (
    _group_topk,
    _resolve_lookup,
    search_groups,
)


def _fetch_example_vectors(spark: SparkSession, root: str, collection: str,
                           meta: dict, vector_name: str, ex_ids: list[str],
                           lookup_from_collection: str | None,
                           lookup_from_vector: str | None,
                           caller: str = "recommend_points",
                           metric: str | None = None):
    """Resolve example POINT IDS to their stored dense vectors (Qdrant
    ``lookup_from`` semantics) — the shared head of recommend_points /
    recommend_groups.  The ids fetch through the store's static id-bucket
    filter (``read_rows_for_ids`` — O(|examples|), never a scan); missing
    ids and ids whose vector was removed from the space both raise.
    Returns ``(got: {id → list[float]}, same_coll)``."""
    lk_coll, same_coll, lk_meta, lk_vec = _resolve_lookup(
        root, collection, meta, vector_name,
        lookup_from_collection, lookup_from_vector)
    if lk_meta.get("vectors", {}).get(lk_vec, {}) \
            .get("multivector") is not None:
        raise ValueError(
            f"{caller} examples need a DENSE space; {lk_coll!r}/"
            f"{lk_vec!r} is multivector")
    lk_id_col = lk_meta.get("id_col", "id")
    ids_df = local_frame(spark, [(i,) for i in ex_ids], "`_r_id` string")
    rows = read_rows_for_ids(spark, root, lk_coll, ids_df)
    fetched = {} if rows is None else {
        str(r[lk_id_col]): r[lk_vec]
        for r in rows.select(lk_id_col, lk_vec).collect()}
    missing = [i for i in ex_ids if i not in fetched]
    if missing:
        raise ValueError(
            f"{caller}: example ids {missing} not in {lk_coll!r}")
    nulled = [i for i, v in fetched.items() if v is None or len(v) == 0]
    if nulled:
        raise ValueError(
            f"{caller}: example ids {nulled} have no vector in "
            f"space {lk_vec!r} (deleted via delete_vectors?); pick "
            f"examples that carry the space")
    if metric is not None:
        # a NaN example component poisons its sim/distance to EVERY
        # point (all candidates drop silently); a zero-norm example
        # additionally has no cosine to anything — refuse both up front
        bad_nan = [i for i, v in fetched.items()
                   if any(x != x for x in v)]
        if bad_nan:
            raise ValueError(
                f"{caller}: example ids {bad_nan} have NaN components "
                "— they can't be compared to anything")
        if metric == "cosine":
            bad = [i for i, v in fetched.items()
                   if not any(x != 0.0 for x in v)]
            if bad:
                raise ValueError(
                    f"{caller}: example ids {bad} have zero norm — "
                    "cosine can't compare them to anything")
    return {i: list(v) for i, v in fetched.items()}, same_coll


def _mean_example_query(got: dict, positive: list, negative: list):
    """The average_vector strategy's synthetic query: mean(positives) −
    mean(negatives), folded driver-side in example order (the fold order
    is part of the oracle contract — engines must add the same way)."""
    dim = len(got[str(positive[0])])
    qv = [0.0] * dim
    for i in positive:
        for j, x in enumerate(got[str(i)]):
            qv[j] += x / len(positive)
    for i in negative:
        for j, x in enumerate(got[str(i)]):
            qv[j] -= x / len(negative)
    return qv


def _reco_pair_scores(spark: SparkSession, c: DataFrame, got: dict,
                      positive: list, negative: list, strategy: str,
                      metric: str, round_to: int,
                      keys: tuple = ()) -> DataFrame:
    """The shared example-pairs fold of recommend_points /
    recommend_groups: ``c`` is (vec_id, _cv, *keys); the examples
    broadcast with their signs and every candidate folds its pair sims —
    best_score keeps the RecoQuery max formula (best positive unless the
    best negative wins, then −best-negative²), sum_scores sums the
    per-pair sims (rounded BEFORE the sum so the fold is engine-stable).
    Metric-complete (r11): on a euclid/manhattan collection the per-pair
    "sim" is the NEGATED distance — Qdrant's internal score order for
    distance metrics, where RecoQuery's formula is defined on scores
    that compare larger-is-better — so best_score/sum_scores serve every
    declared ``Distance``; the returned score is that negated-distance
    fold (≤ 0, still ranked descending).  Plain −d, not upstream's
    internal −d² (euclid): through the formula the two are
    RANK-EQUIVALENT (bp>bn is invariant under the monotone square, and
    a bp-branch −d_a vs a bn-branch −d_b² compares like −d_a² vs −d_b⁴
    — squaring both sides), so orderings match upstream while the score
    value stays the interpretable negated distance.  Faithful quirk
    carried over: a near-clone of a NEGATIVE has bn ≈ 0, so its −(bn²)
    ≈ 0 outranks true positives' negative scores — RecoQuery's squaring
    fold assumes scores straddle zero (cosine-like); on distance
    metrics upstream behaves the same way.
    One broadcast row PER ROLE, not per unique id — an id listed both
    positive and negative contributes both roles (sum nets to 0, best
    gets bp == bn), matching the average_vector mean's netting.
    Returns (vec_id, *keys, score); unscorable points (NULL from a
    zero-norm cosine or a missing vector, NaN from a NaN component) are
    dropped — Qdrant skips points it cannot score.

    ZERO-shuffle physical shape (the _context_scan pattern): the
    examples fold into ONE broadcast row with a column per role, every
    score is a per-row projection over the corpus scan (best = greatest
    over the role sims — same NULL-skip / NaN-largest semantics as the
    max aggregate), and nothing shuffles before the caller's top-k /
    group windows.  Norms materialize once: each example's in the 1-row
    ref frame, the candidate's as a single ``_cn`` column."""
    from ..functions import vector  # noqa: PLC0415

    if strategy not in ("best_score", "sum_scores"):
        raise ValueError(
            f"unknown strategy {strategy!r} "
            f"(expected 'average_vector', 'best_score' or 'sum_scores')")
    roles = ([(f"_rp{i}", str(p), 1) for i, p in enumerate(positive)]
             + [(f"_rn{i}", str(n), -1) for i, n in enumerate(negative)])
    ref = local_frame(
        spark, [tuple(got[i] for _, i, _s in roles)],
        ", ".join(f"`{col}` array<double>" for col, _, _ in roles))
    if metric == "cosine":
        for col, _, _ in roles:
            ref = ref.withColumn(col + "_n", vector.l2_norm(F.col(col)))
        c = c.withColumn("_cn", vector.l2_norm(F.col("_cv")))
    joined = c.join(F.broadcast(ref), how="cross")

    def sim(col: str):
        if metric == "cosine":
            denom = F.col(col + "_n") * F.col("_cn")
            return F.when(denom != 0.0,
                          vector.dot(F.col(col), F.col("_cv")) / denom)
        if metric == "euclid":
            return -vector.l2_distance(F.col(col), F.col("_cv"))
        if metric == "manhattan":
            return -vector.l1_distance(F.col(col), F.col("_cv"))
        return vector.dot(F.col(col), F.col("_cv"))

    keys = list(keys)
    if strategy == "sum_scores":
        # per-role sims round BEFORE the sum (the discover convention)
        # so the fixed-order fold is engine-stable
        terms = [F.round(sim(col), round_to) * F.lit(s)
                 for col, _, s in roles]
        score = terms[0]
        for t in terms[1:]:
            score = score + t
    else:
        pos = [sim(col) for col, _, s in roles if s == 1]
        neg = [sim(col) for col, _, s in roles if s == -1]
        bp = pos[0] if len(pos) == 1 else F.greatest(*pos)
        if not neg:
            score = bp
        else:
            bn = neg[0] if len(neg) == 1 else F.greatest(*neg)
            score = F.when(bn.isNull() | (bp > bn),
                           bp).otherwise(-(bn * bn))
    return (joined.select("vec_id", *keys,
                          F.round(score, round_to).alias("score"))
            .filter(F.col("score").isNotNull() & ~F.isnan("score")))


def recommend_points(spark: SparkSession, root: str, collection: str,
                     positive: list, negative: list | None = None,
                     strategy: str = "average_vector", k: int = 10,
                     flt=None, vector_name: str | None = None,
                     round_to: int = 6,
                     tenant: str | None = None,
                     lookup_from_collection: str | None = None,
                     lookup_from_vector: str | None = None,
                     strict=None) -> DataFrame:
    """Qdrant ``recommend``: positive/negative POINT IDS (their stored
    vectors are the examples) with all three strategies:

    - ``average_vector`` (default): query = mean(positives) −
      mean(negatives), then one plain kNN — one query vector, built
      driver-side from ≤ |examples| fetched rows;
    - ``best_score``: each candidate scores ``max sim to any positive``,
      unless its best NEGATIVE beats its best positive — then the score
      is ``−(best negative)²``, pushing look-alikes of the negatives to
      the bottom (Qdrant's RecoQuery formula: squaring keeps a negative-
      dominated point at a non-positive score even when both best sims
      are negative, where a bare sign flip would promote it).  The
      examples broadcast; the corpus scans once — the exact-kNN plan
      shape with a wider broadcast side.
    - ``sum_scores``: each candidate scores ``Σ sim(c, pᵢ) − Σ sim(c,
      nⱼ)`` over ALL examples (Qdrant's third RecoQuery strategy) — the
      same broadcast-pairs scan as best_score with a sum fold instead of
      the max pair.  Per-pair sims round to ``round_to`` BEFORE the sum
      (the discover convention) so the fold is engine-stable, then the
      sum rounds once more.

    Every declared ``Distance`` is served (r11): on euclid/manhattan
    collections ``best_score``/``sum_scores`` fold NEGATED distances
    (Qdrant's internal score order — larger is better), so their
    returned score is ≤ 0 and ranks descending, while
    ``average_vector``'s score stays the metric's native order (a
    distance, ascending) because it IS a plain search.

    Example ids are excluded from the results (Qdrant semantics) — but
    only when they resolve in THIS collection:
    ``lookup_from_collection`` / ``lookup_from_vector`` (Qdrant
    ``RecommendRequest.lookup_from``) fetch the example vectors from
    another collection / named DENSE space instead, and ids from a
    different collection are a different namespace, so nothing is
    excluded.  Points that carry no vector in the searched space score
    NULL and are dropped (Qdrant skips them).  Returns
    (vec_id, score, rank).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    negative = negative or []
    if not positive:
        raise ValueError("recommend_points needs at least one positive id")
    from . import strict as strict_mod  # noqa: PLC0415

    # round 14 (VERDICT r13 #5): recommend drives the same filtered
    # corpus scan strict mode exists to gate — limit + driving-filter
    # checks apply here like every entry point (no probe check: the
    # example-pairs scan IS the operator, there's no probe to widen)
    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=k)
    meta, id_col, vector_name, metric = _resolve_search_space(
        root, collection, vector_name)
    # LookupLocation: example ids resolve in the lookup collection/space
    ex_ids = [str(i) for i in positive] + [str(i) for i in negative]
    got, same_coll = _fetch_example_vectors(
        spark, root, collection, meta, vector_name, ex_ids,
        lookup_from_collection, lookup_from_vector, metric=metric)

    corpus = read_collection(spark, root, collection, tenant=tenant)
    if flt is not None:
        corpus = corpus.filter(as_filter(flt).to_column())
    if same_coll:
        corpus = corpus.filter(
            ~F.col(id_col).cast("string").isin(ex_ids))

    if strategy == "average_vector":
        from .knn import knn_join  # noqa: PLC0415

        qv = _mean_example_query(got, positive, negative)
        q = local_frame(spark, [(0, qv)], "qid long, qvec array<double>")
        out = knn_join(q, corpus.select(id_col, vector_name), k=k,
                       corpus_id=id_col, corpus_vec=vector_name,
                       exclude_self=False, round_to=round_to, metric=metric)
        return out.select("vec_id", F.col("sim").alias("score"), "rank")
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vector_name).alias("_cv"))
    scored = _reco_pair_scores(spark, c, got, positive, negative,
                               strategy, metric, round_to)
    topk = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def recommend_groups(spark: SparkSession, root: str, collection: str,
                     positive: list, group_by: str,
                     negative: list | None = None,
                     strategy: str = "average_vector",
                     k_groups: int = 5, group_size: int = 3,
                     flt=None, vector_name: str | None = None,
                     round_to: int = 6,
                     tenant: str | None = None,
                     lookup_from_collection: str | None = None,
                     lookup_from_vector: str | None = None,
                     strict=None) -> DataFrame:
    """Qdrant ``recommend_groups``: recommend-by-example scoring with the
    grouped result shape — the best ``k_groups`` distinct values of the
    ``group_by`` payload key, each carrying its own top ``group_size``
    recommendations.  All three recommend strategies:

    - ``average_vector``: the synthetic query (mean positives − mean
      negatives) runs through ``search_groups``' scan — the scoring and
      both ranking windows are literally the shared code;
    - ``best_score`` / ``sum_scores``: the broadcast example-pairs scan
      (``recommend_points``' shape) keeps the ``group_by`` column through
      the fold, then the same two-window group ranking cuts it.

    Example ids never appear as hits (when they resolve in THIS
    collection — ``lookup_from`` ids are a different namespace); points
    missing the ``group_by`` key never consume a slot (the
    ``search_groups`` contract).  Returns (group, group_rank, vec_id,
    score, rank_in_group) — group-major, deterministic ties."""

    negative = negative or []
    if not positive:
        raise ValueError("recommend_groups needs at least one positive id")
    from . import strict as strict_mod  # noqa: PLC0415

    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=k_groups * group_size)
    meta, id_col, vector_name, metric = _resolve_search_space(
        root, collection, vector_name)
    ex_ids = [str(i) for i in positive] + [str(i) for i in negative]
    got, same_coll = _fetch_example_vectors(
        spark, root, collection, meta, vector_name, ex_ids,
        lookup_from_collection, lookup_from_vector,
        caller="recommend_groups", metric=metric)

    if strategy == "average_vector":
        qv = _mean_example_query(got, positive, negative)
        q = local_frame(spark, [(0, qv)], "qid long, qvec array<double>")
        out = search_groups(
            spark, root, collection, q, group_by,
            k_groups=k_groups, group_size=group_size, flt=flt,
            vector_name=vector_name, round_to=round_to, tenant=tenant,
            _exclude_ids=ex_ids if same_coll else None,
            strict=False)  # internal: checked above, once
        return out.select("group", "group_rank", "vec_id",
                          F.col("sim").alias("score"), "rank_in_group")
    corpus = read_collection(spark, root, collection, tenant=tenant)
    if flt is not None:
        corpus = corpus.filter(as_filter(flt).to_column())
    if same_coll:
        corpus = corpus.filter(
            ~F.col(id_col).cast("string").isin(ex_ids))
    c = (corpus.filter(F.col(group_by).isNotNull())
         .select(F.col(id_col).alias("vec_id"),
                 F.col(vector_name).alias("_cv"),
                 F.col(group_by).alias("group")))
    scored = (_reco_pair_scores(spark, c, got, positive, negative,
                                strategy, metric, round_to,
                                keys=("group",))
              .select(F.lit(0).alias("qid"), "vec_id", "group",
                      F.col("score").alias("sim")))
    out = _group_topk(scored, ascending=False,
                      k_groups=k_groups, group_size=group_size)
    return out.select("group", "group_rank", "vec_id",
                      F.col("sim").alias("score"), "rank_in_group")


def _example_vec(x, got: dict):
    """An example in discover/context calls is either a RAW VECTOR
    (list/tuple of numbers — used as-is) or a POINT ID (resolved through
    the store fetch in ``got``)."""
    if isinstance(x, (list, tuple)):
        return [float(v) for v in x]
    return got[str(x)]


def _discover_refs(spark: SparkSession, root: str, collection: str,
                   meta: dict, vector_name: str, examples: list,
                   lookup_from_collection: str | None,
                   lookup_from_vector: str | None, caller: str,
                   metric: str | None = None):
    """Resolve the id-shaped examples of a discover/context call to their
    stored vectors.  Returns ``(got, exclude_ids)`` — ``exclude_ids`` is
    the id list to drop from the corpus (empty when every example is a
    raw vector, or when they resolve in another collection).  ``metric``
    makes the fetch refuse NaN / zero-norm examples with an id-specific
    message (``_context_scan`` re-validates every resolved ref anyway —
    this is the earlier, clearer failure)."""
    ids_needed = [x for x in examples if not isinstance(x, (list, tuple))]
    if not ids_needed:
        return {}, []
    ex_ids = [str(i) for i in ids_needed]
    got, same_coll = _fetch_example_vectors(
        spark, root, collection, meta, vector_name, ex_ids,
        lookup_from_collection, lookup_from_vector, caller=caller,
        metric=metric)
    return got, (ex_ids if same_coll else [])


def _pair_sims(metric: str, ref_cols: list[str], round_to: int):
    """Per-ref similarity expressions for the discover/context scan —
    cosine or dot of the corpus vector column ``_cv`` against each
    broadcast ref column, ROUNDED before any comparison so the win/loss
    classification is engine-stable (the discover convention).  Norms
    are NOT re-folded here: the candidate norm is materialized once as
    ``_cn`` and each ref's norm once (in the 1-row ref frame) as
    ``<col>_n`` — with |pairs| refs the scan folds |refs| dots + ONE
    candidate norm per row, not 2·|refs| extra norm folds."""
    from ..functions import vector  # noqa: PLC0415

    def sim(col: str):
        if metric == "cosine":
            denom = F.col(col + "_n") * F.col("_cn")
            s = F.when(denom != 0.0,
                       vector.dot(F.col(col), F.col("_cv")) / denom)
        elif metric == "euclid":
            # negated distance: Qdrant's internal score order for
            # distance metrics — 'closer' compares larger, so the
            # win/loss classification and target ranking hold verbatim
            s = -vector.l2_distance(F.col(col), F.col("_cv"))
        elif metric == "manhattan":
            s = -vector.l1_distance(F.col(col), F.col("_cv"))
        else:  # dot
            s = vector.dot(F.col(col), F.col("_cv"))
        return F.round(s, round_to)
    return {c: sim(c) for c in ref_cols}


def _context_scan(spark: SparkSession, root: str, collection: str,
                  context: list, flt, vector_name: str | None,
                  round_to: int, tenant: str | None,
                  lookup_from_collection: str | None,
                  lookup_from_vector: str | None,
                  target=None, caller: str = "context_points"):
    """Shared scan for :func:`discover_points` / :func:`context_points`:
    one broadcast row carries the target and every (positive, negative)
    context pair; the corpus scans ONCE with per-row JVM expressions —
    |pairs| cosines per point, no shuffle, nothing scales with the pair
    count but the projection width."""

    if not context and target is None:
        raise ValueError(f"{caller} needs at least one (positive, "
                         "negative) context pair")
    meta, id_col, vector_name, metric = _resolve_search_space(
        root, collection, vector_name)
    examples = ([] if target is None else [target]) + \
        [x for pair in context for x in pair]
    got, exclude = _discover_refs(
        spark, root, collection, meta, vector_name, examples,
        lookup_from_collection, lookup_from_vector, caller, metric=metric)

    ref_cols, ref_vals = [], []
    if target is not None:
        ref_cols.append("_t")
        ref_vals.append(_example_vec(target, got))
    for i, (p, n) in enumerate(context):
        ref_cols += [f"_p{i}", f"_n{i}"]
        ref_vals += [_example_vec(p, got), _example_vec(n, got)]
    # a NaN reference component poisons every sim (all candidates drop
    # silently); a zero-norm reference additionally has no cosine to ANY
    # point — refuse both up front (driver-side lists, the check is free)
    for col, v in zip(ref_cols, ref_vals):
        bad_nan = any(x != x for x in v)
        bad_zero = metric == "cosine" and not any(x != 0.0 for x in v)
        if bad_nan or bad_zero:
            role = ("target" if col == "_t" else
                    f"context pair {col[2:]} "
                    f"{'positive' if col[1] == 'p' else 'negative'}")
            what = ("a NaN component" if bad_nan
                    else "zero norm — cosine can't compare it to anything")
            raise ValueError(f"{caller}: the {role} example has {what}")
    ref = local_frame(
        spark, [tuple(ref_vals)],
        ", ".join(f"`{c}` array<double>" for c in ref_cols))

    corpus = read_collection(spark, root, collection, tenant=tenant)
    if flt is not None:
        corpus = corpus.filter(as_filter(flt).to_column())
    if exclude:
        corpus = corpus.filter(
            ~F.col(id_col).cast("string").isin(exclude))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vector_name).alias("_cv"))
    if metric == "cosine":
        # materialize every norm ONCE: each ref's in the 1-row broadcast
        # frame, the candidate's as one _cn column per scanned row
        from ..functions import vector  # noqa: PLC0415

        for col in ref_cols:
            ref = ref.withColumn(col + "_n", vector.l2_norm(F.col(col)))
        c = c.withColumn("_cn", vector.l2_norm(F.col("_cv")))
    joined = c.join(F.broadcast(ref), how="cross")
    sims = _pair_sims(metric, ref_cols, round_to)
    return joined, sims, len(context)


def discover_points(spark: SparkSession, root: str, collection: str,
                    target, context: list, k: int = 10, flt=None,
                    vector_name: str | None = None, round_to: int = 6,
                    tenant: str | None = None,
                    lookup_from_collection: str | None = None,
                    lookup_from_vector: str | None = None,
                    strict=None) -> DataFrame:
    """Qdrant ``discover`` over a STORED collection: a target (point id
    or raw vector) plus (positive, negative) context pairs — points rank
    FIRST by how many pairs they sit on the positive side of (closer to
    the pair's positive than its negative), THEN by similarity to the
    target.  Id-shaped examples fetch through the store's id-bucket
    filter (``lookup_from`` resolves them from another collection /
    space) and are excluded from the results when they live in THIS
    collection (Qdrant's semantics).  Returns (vec_id, ctx_wins, sim,
    rank); sims round to ``round_to`` BEFORE comparison on both engines
    so the classification is stable.  Served on every declared
    ``Distance`` (r11): euclid/manhattan spaces compare NEGATED
    distances (Qdrant's score order), so 'closer to the positive' and
    'similar to the target' both keep their meaning — ``sim`` is then
    ≤ 0, still ranked descending."""
    from pyspark.sql import Window  # noqa: PLC0415

    if target is None:
        raise ValueError(
            "discover_points needs a target (point id or raw vector) — "
            "for target-less context search use context_points")
    from . import strict as strict_mod  # noqa: PLC0415

    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=k)
    joined, sims, n_pairs = _context_scan(
        spark, root, collection, context, flt, vector_name, round_to,
        tenant, lookup_from_collection, lookup_from_vector,
        target=target, caller="discover_points")
    wins = None
    for i in range(n_pairs):
        w = (sims[f"_p{i}"] > sims[f"_n{i}"]).cast("long")
        wins = w if wins is None else wins + w
    scored = (joined.select("vec_id",
                            (wins if wins is not None
                             else F.lit(0)).alias("ctx_wins"),
                            sims["_t"].alias("sim"))
              .filter(F.col("sim").isNotNull() & ~F.isnan("sim")))
    w = Window.orderBy(F.desc("ctx_wins"), F.desc("sim"), F.asc("vec_id"))
    return (scored.orderBy(F.desc("ctx_wins"), F.desc("sim"),
                           F.asc("vec_id"))
            .limit(k).withColumn("rank", F.row_number().over(w)))


def context_points(spark: SparkSession, root: str, collection: str,
                   context: list, k: int = 10, flt=None,
                   vector_name: str | None = None, round_to: int = 6,
                   tenant: str | None = None,
                   lookup_from_collection: str | None = None,
                   lookup_from_vector: str | None = None,
                   strict=None) -> DataFrame:
    """Qdrant CONTEXT search over a STORED collection (discover's
    target-less sibling): each (positive, negative) pair contributes
    ``min(0, sim(c,p) − sim(c,n))``, so a point on the positive side of
    every pair scores 0 (best) and violations subtract — the top-k are
    the points deepest inside the context zone, ties by id.  Same
    broadcast-row single scan as :func:`discover_points`; id-shaped
    examples are excluded when they resolve in this collection.
    Returns (vec_id, ctx_score, rank).  Euclid/manhattan spaces are
    served through negated distances (the discover convention), so the
    pair loss ``min(0, (−d_p) − (−d_n))`` still means 'distance past
    the positive side'."""
    from pyspark.sql import Window  # noqa: PLC0415

    from . import strict as strict_mod  # noqa: PLC0415

    strict_mod.check_entry(spark, root, collection, strict,
                           flt=flt, limit=k)
    joined, sims, n_pairs = _context_scan(
        spark, root, collection, context, flt, vector_name, round_to,
        tenant, lookup_from_collection, lookup_from_vector,
        target=None, caller="context_points")
    loss_parts = []
    for i in range(n_pairs):
        loss_parts.append(
            F.least(F.lit(0.0), sims[f"_p{i}"] - sims[f"_n{i}"]))
    score = loss_parts[0]
    for part in loss_parts[1:]:
        score = score + part
    # least(0.0, NULL) skips the NULL and least(0.0, NaN) returns 0.0
    # (Spark orders NaN largest), so an UNSCORABLE candidate (zero norm,
    # missing vector, NaN component — refs are validated in
    # _context_scan) would otherwise score a perfect 0; require the
    # first pair sim to resolve to a real number
    scored = (joined.filter(sims["_p0"].isNotNull()
                            & ~F.isnan(sims["_p0"]))
              .select("vec_id",
                      F.round(score, round_to).alias("ctx_score"))
              .filter(F.col("ctx_score").isNotNull()
                      & ~F.isnan("ctx_score")))
    w = Window.orderBy(F.desc("ctx_score"), F.asc("vec_id"))
    return (scored.orderBy(F.desc("ctx_score"), F.asc("vec_id"))
            .limit(k).withColumn("rank", F.row_number().over(w)))
