"""Quantized ANN search (operators/quantize.py): scalar int8 + binary
sign-bit with exact rerank — recall against exact kNN, pack determinism,
and the no-corpus-shuffle plan shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bob_vector_db_spark.operators import knn, quantize
from bob_vector_db_spark.sources import load_table


def _topk_sets(rows):
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    return by_q


def test_sq_encode_roundtrip_error_bounded(spark, sf_dir):
    """Dequantized value must sit within half a quantization step of the
    original, per dimension."""
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    mins, scales = quantize.sq_train(emb)
    enc = quantize.sq_encode(emb, mins, scales)
    rows = enc.select("embedding",
                      quantize.sq_decode_expr(F.col("codes"), mins, scales)
                      .alias("deq")).collect()
    max_step = max(scales)
    for r in rows:
        err = np.abs(np.array(r["embedding"], dtype=np.float64)
                     - np.array(r["deq"]))
        assert err.max() <= max_step / 2 + 1e-9


def test_sq_codes_in_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mins, scales = quantize.sq_train(emb)
    enc = quantize.sq_encode(emb, mins, scales)
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi")).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 255


def test_sq_knn_high_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = _topk_sets(knn.knn_join(q, emb, k=10).collect())
    approx = _topk_sets(quantize.sq_knn(q, emb, k=10).collect())
    recalls = [len(exact[qid] & approx[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.9  # int8 loses almost nothing


def test_binary_pack_known_bits(spark):
    df = spark.createDataFrame(
        [([1.0] + [0.0] * 31 + [-1.0] * 31 + [2.0],)],
        "v array<double>")
    got = df.select(quantize.binary_pack_expr(F.col("v"), 64).alias("p")
                    ).first()["p"]
    assert got[0] == 1          # only bit 0 of word 0
    assert got[1] == 1 << 31    # only bit 31 of word 1 (pos 63)


def test_binary_rerank_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = _topk_sets(knn.knn_join(q, emb, k=10).collect())
    approx = _topk_sets(
        quantize.binary_knn_rerank(q, emb, k=10, rerank_factor=5).collect())
    recalls = [len(exact[qid] & approx[qid]) / 10 for qid in exact]
    # 1-bit candidates + exact rerank of 5k candidates: most of the true
    # top-10 must survive
    assert sum(recalls) / len(recalls) >= 0.6


def test_binary_phase1_carries_no_float_vectors(spark, sf_dir):
    """The |Q|x|C| candidate stream must not include the float embedding
    column — that 32x reduction IS the operator's reason to exist."""
    from bob_vector_db_spark.plans.inspect import formatted_plan

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    plan = formatted_plan(quantize.binary_knn_rerank(q, emb, k=5))
    # the hamming window (phase 1) must rank on packed words only
    window_sections = [s for s in plan.split("\n\n") if "hamming" in s]
    assert window_sections, plan
    for s in window_sections:
        assert "qvec" not in s and "_cvec" not in s


def test_pq_train_deterministic_and_shapes(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    b1 = quantize.pq_train(emb, m=8, ksub=16, iters=3)
    b2 = quantize.pq_train(emb, m=8, ksub=16, iters=3)
    assert len(b1) == 8 and b1[0].shape == (16, 8)
    for x, y in zip(b1, b2):
        assert np.array_equal(x, y)  # seeded k-means: same sample, same bits


def test_pq_encode_codes_in_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    books = quantize.pq_train(emb, m=8, ksub=16, iters=3)
    enc = quantize.pq_encode(emb, books)
    row = enc.select("pq_codes").first()["pq_codes"]
    assert len(row) == 8 and all(0 <= c < 16 for c in row)


def test_pq_adc_recall_vs_exact_euclidean(spark, sf_dir):
    """ADC is approximate; with 64 centroids per subspace most of the true
    euclidean top-10 must survive on the fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = _topk_sets(
        knn.knn_join(q, emb, k=10, metric="euclid").collect())
    books = quantize.pq_train(emb, m=8, ksub=64, iters=5)
    enc = quantize.pq_encode(emb, books)
    adc = _topk_sets(quantize.pq_search(q, enc, books, k=10).collect())
    recalls = [len(exact[qid] & adc[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.3  # raw ADC on near-random dims
    refined = _topk_sets(
        quantize.pq_search(q, enc, books, k=10, rerank_corpus=emb,
                           rerank_factor=8).collect())
    recalls_r = [len(exact[qid] & refined[qid]) / 10 for qid in exact]
    # the refine stage recovers most of what quantization lost
    assert sum(recalls_r) / len(recalls_r) >= 0.7
    assert sum(recalls_r) >= sum(recalls)


def test_ivf_kmeans_recall_and_probe_fraction(spark, sf_dir):
    """Trained IVF: probing 4/16 lists must still recover most of the true
    top-10, and the probe join must touch only the probed lists' rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    exact = _topk_sets(knn.knn_join(q, emb, k=10).collect())
    cents = quantize.ivf_train(emb, n_lists=16, iters=5)
    assigned = quantize.ivf_assign(emb, cents)
    approx = _topk_sets(
        quantize.ivf_knn(q, assigned, cents, k=10, n_probe=4).collect())
    recalls = [len(exact[qid] & approx[qid]) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.5
    # full probe (n_probe = n_lists) must equal exact (restricted to same sim)
    full = _topk_sets(
        quantize.ivf_knn(q, assigned, cents, k=10, n_probe=16).collect())
    assert full == exact


def test_ivf_assign_covers_all_lists_deterministically(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = quantize.ivf_train(emb, n_lists=8, iters=3)
    a1 = {r["vec_id"]: r["list_id"] for r in
          quantize.ivf_assign(emb, cents).select("vec_id", "list_id").collect()}
    a2 = {r["vec_id"]: r["list_id"] for r in
          quantize.ivf_assign(emb, cents).select("vec_id", "list_id").collect()}
    assert a1 == a2
    assert all(0 <= v < 8 for v in a1.values())


# --- round 5: _kmeans BLAS form, wide-dim packing, dim validation ----------

def _naive_kmeans(X, k, iters, rng):
    """The pre-r5 difference-tensor Lloyd form — the semantic reference the
    BLAS assignment must reproduce exactly."""
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return C


def test_kmeans_blas_form_matches_naive_bitwise():
    """argmin(‖c‖² − 2x·c) must pick the same clusters as argmin ‖x−c‖², so
    the centroids (means of identical assignment sets) are bit-identical."""
    rng = np.random.default_rng(7)
    X = rng.normal(size=(500, 16))
    C_blas = quantize._kmeans(X, 8, 10, np.random.default_rng(3))
    C_ref = _naive_kmeans(X, 8, 10, np.random.default_rng(3))
    assert np.array_equal(C_blas, C_ref)


def _np_pack(v):
    words = []
    for w in range(0, len(v), 32):
        word = 0
        for i, x in enumerate(v[w:w + 32]):
            if x > 0:
                word |= 1 << i
        words.append(word)
    return words


def test_binary_pack_wide_dim_matches_numpy(spark):
    """768-dim packs through the aggregate-fold path (dim > unroll max) and
    must equal the bit-level numpy reference."""
    rng = np.random.default_rng(11)
    vecs = [rng.normal(size=768).tolist() for _ in range(5)]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    rows = df.select(
        quantize.binary_pack_expr(F.col("v"), 768).alias("p")).collect()
    for r, v in zip(rows, vecs):
        assert list(r["p"]) == _np_pack(v)


def test_binary_pack_fold_and_unrolled_forms_agree(spark):
    """Same 64-dim vector through both physical forms → identical words
    (the fold is forced by monkey-free direct use of the wide-dim branch on
    a 160-dim vector whose tail exercises a partial word)."""
    rng = np.random.default_rng(13)
    v = rng.normal(size=160).tolist()
    df = spark.createDataFrame([(v,)], "v array<double>")
    got = df.select(
        quantize.binary_pack_expr(F.col("v"), 160).alias("p")).first()["p"]
    assert list(got) == _np_pack(v)


def test_binary_rerank_rejects_dim_mismatch_both_sides(spark, sf_dir):
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    q_short = spark.createDataFrame(
        [(0, [1.0] * 32)], "qid long, qvec array<double>")
    with pytest.raises(ValueError, match="query vectors"):
        quantize.binary_knn_rerank(q_short, emb, k=3, dim=64)
    q_ok = emb.select(F.col("vec_id").alias("qid"),
                      F.col("embedding").alias("qvec")).limit(1)
    with pytest.raises(ValueError, match="corpus vectors"):
        quantize.binary_knn_rerank(q_ok, emb, k=3, dim=32)


def test_double_array_literal_keeps_non_finite_values(spark):
    """SQ params over a corpus holding NaN/Inf carry non-finite values;
    the one-string literal array must parse them (``repr`` alone gives
    ``nanD``/``infD``, which is not SQL) and keep them exactly."""
    import math

    vals = [0.5, float("nan"), float("inf"), -float("inf"), -0.0, 1e-300]
    got = spark.range(1).select(
        quantize._double_array_expr(vals).alias("a")).first()["a"]
    assert math.isnan(got[1])
    assert got[:1] + got[2:] == vals[:1] + vals[2:]
    assert math.copysign(1.0, got[4]) == -1.0
