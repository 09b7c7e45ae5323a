"""kNN join correctness vs numpy brute force (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bob_vector_db_spark.operators import centroid, knn
from bob_vector_db_spark.sources import load_table


def _numpy_topk(qv, corpus, k, exclude_id=None):
    sims = []
    for cid, cv in corpus:
        if exclude_id is not None and cid == exclude_id:
            continue
        sim = float(np.dot(qv, cv) / (np.linalg.norm(qv) * np.linalg.norm(cv)))
        sims.append((round(sim, 6), cid))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _, cid in sims[:k]]


def test_knn_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = [(r["vec_id"], np.array(r["embedding"], dtype=np.float64))
              for r in emb.collect()]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    got = knn.knn_join(queries, emb, k=5).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    for qid, qv in corpus[:3]:
        if qid in by_q:
            assert by_q[qid] == _numpy_topk(qv, corpus, 5, exclude_id=qid)


def test_knn_topk_equals_full_sort_when_k_is_n(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    got = knn.knn_join(queries, emb, k=n)
    assert got.count() == n - 1  # self excluded


def test_knn_plan_broadcasts_queries(spark, sf_dir):
    from bob_vector_db_spark.plans.inspect import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    plan = formatted_plan(knn.knn_join(queries, emb, k=5))
    assert "Broadcast" in plan


def test_vectorized_equals_sql_path(spark, sf_dir):
    """The BLAS partial-top-k path must produce the same ranking as the
    bit-exact SQL fold (modulo 1-ulp score noise absorbed by round 6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    a = knn.knn_join(queries, emb, k=7).orderBy("qid", "rank").collect()
    b = knn.knn_join_vectorized(queries, emb, k=7).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["vec_id"], r["rank"]) for r in a] == \
           [(r["qid"], r["vec_id"], r["rank"]) for r in b]
    assert all(abs(x["sim"] - y["sim"]) < 1e-5 for x, y in zip(a, b))


def test_dot_unrolled_bit_identical_to_hof(spark, sf_dir):
    """dot_unrolled adds terms in fold order — bit-identical to the HOF fold
    (projection context only; see its docstring for the join-codegen caveat)."""
    from bob_vector_db_spark.functions import vector

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    pair = emb.select(
        vector.dot(F.col("embedding"), F.col("embedding")).alias("hof"),
        vector.dot_unrolled(F.col("embedding"), F.col("embedding"), 64).alias("unrolled"),
    )
    assert pair.filter(F.col("hof") != F.col("unrolled")).count() == 0


def test_vectorized_zero_norm_query_yields_no_rows(spark):
    """Zero-norm vectors have undefined cosine — both paths drop them."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0])], "vec_id long, embedding array<double>")
    zq = spark.createDataFrame([(9, [0.0, 0.0])], "qid long, qvec array<double>")
    assert knn.knn_join(zq, corpus, k=5).count() == 0
    assert knn.knn_join_vectorized(zq, corpus, k=5).count() == 0


def test_ivf_blocked_knn_probes_subset(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroid.centroids(emb, "label", "embedding")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    approx = knn.knn_join_blocked(queries, emb, cents, k=5, n_probe=2)
    rows = approx.collect()
    assert len(rows) > 0
    # every result's label must be one of the probed (≤2 per query) labels
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    per_q: dict[int, set] = {}
    for r in rows:
        per_q.setdefault(r["qid"], set()).add(labels[r["vec_id"]])
    for q, ls in per_q.items():
        assert len(ls) <= 2


def test_knn_lsh_recall_vs_exact(spark, sf_dir):
    """BRP-LSH ANN: decent recall of the exact top-10 at these settings, and
    every returned sim must equal the exact cosine (rounded) for that pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = {(r["qid"], r["vec_id"]): r["sim"]
             for r in knn.knn_join(q, emb, k=10).collect()}
    approx = {(r["qid"], r["vec_id"]): r["sim"]
              for r in knn.knn_join_lsh(q, emb, k=10).collect()}
    overlap = set(exact) & set(approx)
    assert len(overlap) >= 0.6 * len(exact), (len(overlap), len(exact))
    assert all(abs(exact[p] - approx[p]) <= 2e-6 for p in overlap)


def test_mmr_rerank_matches_reference_and_diversifies(spark, tmp_path):
    """MMR vs a pure-python reference on the same pool; lambda=1 equals the
    plain ranking; lambda=0.5 breaks up a near-duplicate cluster."""
    import numpy as np

    from bob_vector_db_spark.operators import query_api, upsert

    # ids 1-3: near-identical cluster close to the query; 4, 5: distinct
    # directions, slightly less similar
    rows = [(1, [1.0, 0.01, 0.0]), (2, [1.0, 0.02, 0.0]),
            (3, [1.0, 0.03, 0.0]), (4, [0.7, 0.7, 0.0]),
            (5, [0.7, 0.0, 0.7])]
    root = str(tmp_path / "s")
    upsert.create_collection(
        spark, root, "c", id_col="id", n_buckets=2,
        df=spark.createDataFrame(rows, "id long, vec array<double>"),
        vector_config={"vec": {"size": 3, "distance": "cosine"}})
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])],
                              "qid long, qvec array<double>")
    plain = query_api.search_points(spark, root, "c", q, k=3)
    assert [r["vec_id"] for r in plain.orderBy("rank").collect()] == [1, 2, 3]
    # lambda=1: pure relevance — same picks as the plain ranking
    full_rel = query_api.search_points_mmr(spark, root, "c", q, k=3,
                                           pool=5, lambda_=1.0)
    assert [r["vec_id"] for r in full_rel.orderBy("rank").collect()] == \
        [1, 2, 3]
    # lambda=0.5: after picking 1, the diversity penalty promotes the
    # orthogonal-direction candidate 5 over 1's near-twins (plain ranking
    # had 5 at the bottom)
    div = query_api.search_points_mmr(spark, root, "c", q, k=3,
                                      pool=5, lambda_=0.5)
    got = [r["vec_id"] for r in div.orderBy("rank").collect()]
    assert got[0] == 1 and 5 in got[1:]

    # reference implementation over the same candidate pool
    cand = query_api.search_points(spark, root, "c", q, k=5).collect()
    vecs = {r[0]: np.array(r[1]) for r in rows}
    sims = {r["vec_id"]: r["sim"] for r in cand}
    lam = 0.5

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    sel, rem = [], sorted(sims)
    while rem and len(sel) < 3:
        best = max(rem, key=lambda i: (
            lam * sims[i] - (1 - lam) * max(
                (cos(vecs[i], vecs[j]) for j in sel), default=0.0), -i))
        sel.append(best)
        rem.remove(best)
    assert got == sel


def test_mmr_rerank_validates_lambda(spark):
    import pytest

    from bob_vector_db_spark.operators.knn import mmr_rerank

    df = spark.createDataFrame([(0, 1, 0.5, [1.0])],
                               "qid long, vec_id long, sim double, cvec array<double>")
    with pytest.raises(ValueError, match="lambda_"):
        mmr_rerank(df, lambda_=1.5)


def test_maxsim_matches_brute_force(spark):
    """Multivector MaxSim (ColBERT late interaction) vs a pure-Python
    fold: score = sum over query tokens of the best dot against the
    point's vectors; dot and cosine; euclid rejected."""
    import numpy as np

    rng = np.random.default_rng(7)
    corpus_rows = [(i, [[float(x) for x in rng.normal(size=4)]
                        for _ in range(3)]) for i in range(20)]
    q_rows = [(100 + j, [[float(x) for x in rng.normal(size=4)]
                         for _ in range(2)]) for j in range(2)]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, vectors array<array<double>>")
    q = spark.createDataFrame(
        q_rows, "qid long, qvecs array<array<double>>")

    def brute(metric):
        out = {}
        for qid, qvs in q_rows:
            scores = []
            for vid, pvs in corpus_rows:
                s = 0.0
                for qt in qvs:
                    best = None
                    for pv in pvs:
                        d = sum(a * b for a, b in zip(qt, pv))
                        if metric == "cosine":
                            na = sum(a * a for a in qt) ** 0.5
                            nb = sum(b * b for b in pv) ** 0.5
                            d = d / (na * nb)
                        best = d if best is None else max(best, d)
                    s += best
                scores.append((round(s, 6), vid))
            scores.sort(key=lambda t: (-t[0], t[1]))
            out[qid] = [(v, s) for s, v in scores[:5]]
        return out

    import pytest

    for metric in ("dot", "cosine"):
        got = {}
        res = knn.knn_join_maxsim(q, corpus, k=5, metric=metric)
        for r in res.orderBy("qid", "rank").collect():
            got.setdefault(r["qid"], []).append(
                (r["vec_id"], round(r["sim"], 6)))
        assert got == brute(metric), metric

    with pytest.raises(ValueError, match="similarity metrics"):
        knn.knn_join_maxsim(q, corpus, metric="euclid")


def test_maxsim_vectorized_matches_expression_path(spark):
    """The BLAS max-sim path must rank exactly like the expression
    version (same rounded scores, same tie-breaks), for dot and cosine,
    including ragged vector lists and an empty-list point."""
    rng = np.random.default_rng(11)
    corpus_rows = [(i, [[float(x) for x in rng.normal(size=5)]
                        for _ in range(1 + i % 4)]) for i in range(40)]
    corpus_rows.append((99, []))  # empty list: must score nothing
    q_rows = [(200 + j, [[float(x) for x in rng.normal(size=5)]
                         for _ in range(1 + j % 3)]) for j in range(3)]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, vectors array<array<double>>")
    q = spark.createDataFrame(
        q_rows, "qid long, qvecs array<array<double>>")
    for metric in ("dot", "cosine"):
        a = knn.knn_join_maxsim(q, corpus, k=7, metric=metric)
        b = knn.knn_join_maxsim_vectorized(q, corpus, k=7, metric=metric)
        rows = lambda df: sorted(
            (r["qid"], r["vec_id"], round(r["sim"], 6), r["rank"])
            for r in df.collect())
        assert rows(a) == rows(b), metric
        assert all(r[1] != 99 for r in rows(b))


def test_maxsim_vectorized_degenerate_shapes_match_expression(spark):
    """Review r8 regressions: NULL token lists (delete_vectors nulls the
    space), NULL tokens INSIDE a list, a NULL-list query, a NULL-token
    query and an EMPTY-token query must neither crash the BLAS path
    (list(None) raised TypeError; an empty query raised ValueError for
    the whole batch) nor diverge from the expression form — the fold
    nulls poisoned queries to no rows and scores an empty query 0.0
    against EVERY point."""
    corpus_rows = [
        (0, [[1.0, 0.0], [0.0, 1.0]]),
        (1, None),                       # nulled space
        (2, [[2.0, 1.0], None]),         # NULL token inside the list
        (3, []),                         # empty token list
        (4, [[0.5, 0.25]]),
    ]
    q_rows = [
        (100, [[1.0, 2.0], [3.0, 0.5]]),  # well-formed
        (101, []),                        # empty: 0.0 vs every point
        (102, None),                      # NULL list: no rows
        (103, [[1.0, 0.0], None]),        # NULL token: no rows
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, vectors array<array<double>>")
    q = spark.createDataFrame(
        q_rows, "qid long, qvecs array<array<double>>")
    rows = lambda df: sorted(
        (r["qid"], r["vec_id"], round(r["sim"], 6), r["rank"])
        for r in df.collect())
    for metric in ("dot", "cosine"):
        a = rows(knn.knn_join_maxsim(q, corpus, k=3, metric=metric))
        b = rows(knn.knn_join_maxsim_vectorized(q, corpus, k=3,
                                                metric=metric))
        assert a == b, metric
        assert not [r for r in b if r[0] in (102, 103)]
        assert ([r[1] for r in b if r[0] == 101] == [0, 1, 2]
                ), "empty query scores every point 0.0, k smallest ids"
        assert all(r[1] in (0, 2, 4) for r in b if r[0] == 100)


def test_search_collection_maxsim_dispatches_blas_on_integral_ids(
        spark, tmp_path):
    """vectorized='auto' (VERDICT r7 wrong #1): a multivector exact scan
    with integral ids routes to the BLAS twin — same rows as the
    expression form (the oracle contract) — while string ids or
    vectorized=False keep the expression path, and 'always' raises on a
    non-integral id contract."""
    import pytest as _pytest
    from bob_vector_db_spark.operators import upsert
    from bob_vector_db_spark.operators.knn import _maxsim_blas_ok

    root = str(tmp_path / "store")
    rows = [(i, [[float((i + j * 3 + d) % 5) for d in range(4)]
                 for j in range(3)]) for i in range(40)]
    pts = spark.createDataFrame(
        rows, "id long, colbert array<array<double>>")
    upsert.create_collection(
        spark, root, "c", df=pts, id_col="id", n_buckets=4,
        vector_config={"colbert": {"size": 4, "distance": "dot",
                                   "multivector": "max_sim"}})
    q = pts.filter(F.col("id") < 2).select(
        F.col("id").alias("qid"), F.col("colbert").alias("qvecs"))
    blas = knn.search_collection(spark, root, "c", q, k=5, corpus_id="id",
                                 query_vec="qvecs", exclude_self=True,
                                 use_index=False)
    expr = knn.search_collection(spark, root, "c", q, k=5, corpus_id="id",
                                 query_vec="qvecs", exclude_self=True,
                                 use_index=False, vectorized=False)
    key = lambda df: sorted(
        (r["qid"], r["vec_id"], round(r["sim"], 6), r["rank"])
        for r in df.collect())
    assert key(blas) == key(expr)
    # the contract check itself
    assert _maxsim_blas_ok("auto", q, "qid", pts, "id")
    qs = q.select(F.col("qid").cast("string").alias("qid"), "qvecs")
    assert not _maxsim_blas_ok("auto", qs, "qid", pts, "id")
    with _pytest.raises(ValueError, match="integral"):
        _maxsim_blas_ok("always", qs, "qid", pts, "id")


def test_manhattan_declared_space_and_index(spark, tmp_path):
    """Round 10 (VERDICT r9 missing #3): Distance.MANHATTAN is servable —
    a collection declaring it searches by L1 ascending without the caller
    restating; an ivf index over the space at full probe equals the exact
    scan; score_threshold keeps distances <= the cut like euclid."""
    import math

    from bob_vector_db_spark.operators import index, upsert
    from bob_vector_db_spark.operators.query_api import search_points

    root = str(tmp_path / "store")
    rows = [(i, [float((i * 7 + d * 3) % 11) for d in range(6)])
            for i in range(50)]
    pts = spark.createDataFrame(rows, "id long, emb array<double>")
    upsert.create_collection(
        spark, root, "c", df=pts, id_col="id", n_buckets=4,
        vector_config={"emb": {"size": 6, "distance": "manhattan"}})
    q = pts.filter(F.col("id") < 3).select(
        F.col("id").alias("qid"), F.col("emb").alias("qvec"))
    got = knn.search_collection(spark, root, "c", q, k=5, corpus_id="id",
                                exclude_self=True, use_index=False)
    qv = {r["id"]: r["emb"] for r in pts.filter(F.col("id") < 3).collect()}
    all_rows = pts.collect()

    def brute(qid):
        dists = sorted(
            (round(sum(abs(a - b) for a, b in zip(qv[qid], r["emb"])), 6),
             r["id"]) for r in all_rows if r["id"] != qid)
        return dists[:5]

    for qid in qv:
        mine = [(r["sim"], r["vec_id"]) for r in
                got.filter(F.col("qid") == qid).orderBy("rank").collect()]
        assert mine == brute(qid), qid
    # ivf over the manhattan space: full probe == exact scan
    index.build_vector_index(spark, root, "c", "emb", kind="ivf",
                             n_lists=4)
    via_idx = knn.search_collection(spark, root, "c", q, k=5,
                                    corpus_id="id", exclude_self=True,
                                    use_index="always", n_probe=None)
    key = lambda df: sorted((r["qid"], r["vec_id"], r["sim"], r["rank"])
                            for r in df.collect())
    assert key(via_idx) == key(got)
    # threshold semantics: ascending metric keeps sim <= cut
    thr = search_points(spark, root, "c", q, k=50,
                        score_threshold=10.0, with_payload=False,
                        use_index=False)
    vals = [r["sim"] for r in thr.collect()]
    assert vals and all(v <= 10.0 for v in vals)


def test_mmr_negative_cosine_clamps_at_zero(spark):
    """r10 review finding: mmr_rerank's diversity penalty is
    max(0, cos) — max_div zero-initializes and only raises — so a
    candidate NEGATIVELY correlated with the picked set pays NO penalty
    (it is already maximally diverse).  The knn_mmr_k2 closed-form
    oracle clamps identically; this pins the greedy side."""
    import math

    # pick1 = p1 (sim 1.0); c1: sim .9, cos(c1,p1)=+0.1; c2: sim .5,
    # cos(c2,p1)=-0.9.  Clamped: c1 scores .6*.9-.4*.1=0.50 > c2's
    # .6*.5-0=0.30 -> pick c1.  UNclamped would flip (c2 = 0.66).
    a = math.sqrt(1 - 0.1 ** 2)
    b = math.sqrt(1 - 0.9 ** 2)
    cands = spark.createDataFrame(
        [(0, 10, 1.0, [1.0, 0.0]),
         (0, 11, 0.9, [0.1, a]),
         (0, 12, 0.5, [-0.9, b])],
        "qid long, vec_id long, sim double, cvec array<double>")
    out = knn.mmr_rerank(cands, k=2, lambda_=0.6)
    rows = {r["rank"]: (r["vec_id"], r["mmr_score"])
            for r in out.collect()}
    assert rows[1] == (10, 0.6)
    assert rows[2][0] == 11 and abs(rows[2][1] - 0.5) < 1e-9


def test_unknown_use_index_and_vectorized_values_raise(spark, tmp_path):
    """A typo in use_index is refused on the unfiltered AND the filtered
    path (it used to mean the exact scan on one and 'auto' on the
    other), and vectorized takes only 'auto', 'always' or False."""
    import pytest

    from bob_vector_db_spark.operators import upsert
    from bob_vector_db_spark.operators.filters import Filter, MatchValue
    from bob_vector_db_spark.operators.query_api import search_points

    root = str(tmp_path / "store")
    pts = spark.createDataFrame(
        [(i, f"c{i % 3}", [float(i % 4), 1.0, float(i % 5)])
         for i in range(20)],
        "id long, cat string, emb array<double>")
    upsert.create_collection(
        spark, root, "c", df=pts, id_col="id", n_buckets=2,
        vector_config={"emb": {"size": 3, "distance": "cosine"}})
    q = pts.filter(F.col("id") < 2).select(
        F.col("id").alias("qid"), F.col("emb").alias("qvec"))
    flt = Filter(must=[MatchValue("cat", "c1")])
    with pytest.raises(ValueError, match="got 'alwyas'"):
        knn.search_collection(spark, root, "c", q, k=3, use_index="alwyas")
    with pytest.raises(ValueError, match="got 'alwyas'"):
        search_points(spark, root, "c", q, k=3, use_index="alwyas")
    with pytest.raises(ValueError, match="got 'alwyas'"):
        search_points(spark, root, "c", q, flt=flt, k=3,
                      use_index="alwyas")
    with pytest.raises(ValueError, match="vectorized must be"):
        knn.search_collection(spark, root, "c", q, k=3, vectorized="yes")
