"""Persisted vector index (operators/index.py): build/probe/staleness —
the stored-artifact half of the ANN stack (the reference's Qdrant indexes
at upsert time; search probes the stored structure)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bob_vector_db_spark.operators import index, knn, upsert
from bob_vector_db_spark.plans.inspect import (
    assert_partition_filters,
    formatted_plan,
)
from bob_vector_db_spark.sources import load_table


def _mk_store(spark, sf_dir, root, metric="cosine"):
    emb = load_table(spark, sf_dir, "embeddings")
    upsert.create_collection(
        spark, root, "vecs", n_buckets=8, id_col="id",
        df=emb.select(F.col("vec_id").alias("id"), "embedding"),
        vector_config={"embedding": {"size": 64, "distance": metric}})
    return emb


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))


def _rows(df):
    return sorted(map(tuple, df.select("qid", "vec_id", "sim", "rank").collect()))


def test_full_probe_indexed_search_equals_exact(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=4)
    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    full = knn.search_collection(spark, root, "vecs", q, k=10,
                                 corpus_id="id", exclude_self=True,
                                 use_index="always", n_probe=8)
    assert _rows(full) == _rows(exact)


def test_indexed_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The scale contract: the probe must reach the stored lists through a
    STATIC list_id filter — real partition pruning, so a 100 TB index scan
    opens only n_probe/n_lists of its files."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=4)
    out = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                               k=5, n_probe=2, exclude_self=True)
    assert_partition_filters(out, "list_id")
    plan = formatted_plan(out)
    pf = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "list_id" in pf and "IN" in pf.upper(), pf


def test_indexed_probe_recall(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=16, iters=5)
    q = _queries(emb)
    exact: dict = {}
    for r in knn.search_collection(spark, root, "vecs", q, k=10,
                                   corpus_id="id", exclude_self=True,
                                   use_index=False).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])
    got: dict = {}
    for r in index.search_indexed(spark, root, "vecs", q, k=10, n_probe=4,
                                  exclude_self=True).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact[qid] & got.get(qid, set())) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.5


def test_stale_index_is_never_silently_used(spark, sf_dir, tmp_path):
    """After a mutation, auto-dispatch must fall back to the exact scan
    (new point visible, deleted point gone) and 'always' must raise —
    the upsert-then-search staleness gate."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    assert index.index_is_fresh(root, "vecs", "embedding")
    probe_vec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    new = spark.createDataFrame([(99999, list(probe_vec))],
                                "id long, embedding array<double>")
    upsert.upsert(spark, root, "vecs", new)
    assert not index.index_is_fresh(root, "vecs", "embedding")
    q = _queries(emb, 1)
    auto = knn.search_collection(spark, root, "vecs", q, k=3,
                                 corpus_id="id", exclude_self=True,
                                 use_index="auto", n_probe=8)
    # the duplicate of vec 0's embedding must surface → exact scan ran
    assert auto.filter(F.col("vec_id") == 99999).count() == 1
    with pytest.raises(ValueError, match="stale"):
        knn.search_collection(spark, root, "vecs", q, k=3,
                              use_index="always")
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    assert index.index_is_fresh(root, "vecs", "embedding")
    fresh = knn.search_collection(spark, root, "vecs", q, k=3,
                                  corpus_id="id", exclude_self=True,
                                  use_index="always", n_probe=8)
    assert fresh.filter(F.col("vec_id") == 99999).count() == 1


def test_interleaved_mutations_then_rebuild_property(spark, sf_dir, tmp_path):
    """Property (VERDICT r4 #7): N interleaved upserts/deletes followed by
    build_vector_index + full-probe indexed search == exact search on the
    FINAL state."""
    import random

    rnd = random.Random(42)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    base = [(r["id"], list(r["embedding"]))
            for r in upsert.read_collection(spark, root, "vecs")
            .select("id", "embedding").limit(200).collect()]
    for step in range(4):
        if step % 2 == 0:
            picked = rnd.sample(base, 10)
            mutated = spark.createDataFrame(
                [(i + 10_000 * (step + 1), v) for i, v in picked],
                "id long, embedding array<double>")
            upsert.upsert(spark, root, "vecs", mutated)
        else:
            doomed = [i for i, _ in rnd.sample(base, 10)]
            upsert.delete_points(spark, root, "vecs", doomed)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    full = knn.search_collection(spark, root, "vecs", q, k=10,
                                 corpus_id="id", exclude_self=True,
                                 use_index="always", n_probe=8)
    assert _rows(full) == _rows(exact)


def test_ivf_pq_refine_recall_and_contract(spark, sf_dir, tmp_path):
    """The stored IVF-PQ path: ADC candidates from the codes-only artifact,
    exact metric rescore from the collection; full probe + generous rerank
    recovers most of the exact top-k."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_pq",
                             n_lists=8, m=8, ksub=32, iters=3)
    q = _queries(emb)
    exact: dict = {}
    for r in knn.search_collection(spark, root, "vecs", q, k=10,
                                   corpus_id="id", exclude_self=True,
                                   use_index=False).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])
    out = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                               rerank_factor=8, exclude_self=True)
    assert out.columns == ["qid", "vec_id", "sim", "rank"]
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact[qid] & got.get(qid, set())) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.5


def test_index_requires_meta_and_rejects_unknown_kind(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, sf_dir, root)
    with pytest.raises(ValueError, match="kind"):
        index.build_vector_index(spark, root, "vecs", kind="hnsw")
    with pytest.raises(ValueError, match="no persisted index"):
        index.search_indexed(spark, root, "vecs",
                             _queries(load_table(spark, sf_dir, "embeddings")))


# ---------------------------------------------------------------------------
# Incremental maintenance (round 5): mutations feed the delta log; refresh
# appends at generation g and masks superseded rows — no retrain, no rewrite.
# ---------------------------------------------------------------------------

def _mutate(spark, root, rnd, step):
    """One round of mixed mutations against the 'vecs' collection."""
    stored = upsert.read_collection(spark, root, "vecs")
    base = [(r["id"], list(r["embedding"]))
            for r in stored.select("id", "embedding").limit(150).collect()]
    new = spark.createDataFrame(
        [(i + 50_000 * (step + 1), v) for i, v in rnd.sample(base, 8)]
        + [(i, [x * 0.5 for x in v]) for i, v in rnd.sample(base, 4)],
        "id long, embedding array<double>")
    upsert.upsert(spark, root, "vecs", new)
    upsert.delete_points(spark, root, "vecs",
                         [i for i, _ in rnd.sample(base, 6)])


def test_refresh_absorbs_mutations_without_rebuild(spark, sf_dir, tmp_path):
    """upsert+overwrite+delete+delete_by_filter+update_columns, one refresh:
    full-probe indexed search == exact scan on the FINAL state, and the
    index reports fresh again — without retraining a single centroid."""
    rnd = __import__("random").Random(5)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    gen0 = index.vector_index_meta(root, "vecs", "embedding")["generation"]
    _mutate(spark, root, rnd, 0)
    upsert.delete_by_filter(spark, root, "vecs", F.col("id").between(200, 205))
    first = upsert.read_collection(spark, root, "vecs").first()
    upsert.update_columns(
        spark, root, "vecs",
        spark.createDataFrame(
            [(first["id"], [0.25] * len(first["embedding"]))],
            "id long, embedding array<double>"))
    assert not index.index_is_fresh(root, "vecs", "embedding")

    imeta = index.refresh_vector_index(spark, root, "vecs")
    assert index.index_is_fresh(root, "vecs", "embedding")
    assert imeta["generation"] == gen0 + 1

    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    full = knn.search_collection(spark, root, "vecs", q, k=10,
                                 corpus_id="id", exclude_self=True,
                                 use_index="always", n_probe=8)
    assert _rows(full) == _rows(exact)


def test_refresh_keeps_partition_pruning(spark, sf_dir, tmp_path):
    """Appended generations land INSIDE the list_id dirs, so the probe's
    static partition filter survives a refresh untouched."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    _mutate(spark, root, __import__("random").Random(6), 0)
    index.refresh_vector_index(spark, root, "vecs")
    out = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                               k=5, n_probe=2, exclude_self=True)
    assert_partition_filters(out, "list_id")


def test_repeated_refresh_property(spark, sf_dir, tmp_path):
    """N rounds of (mutate → refresh): every round the index answers
    exactly like the exact scan — generations and masks stack correctly."""
    rnd = __import__("random").Random(7)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    q = _queries(emb, 3)
    for step in range(3):
        _mutate(spark, root, rnd, step)
        index.refresh_vector_index(spark, root, "vecs")
        exact = knn.search_collection(spark, root, "vecs", q, k=8,
                                      corpus_id="id", exclude_self=True,
                                      use_index=False)
        full = knn.search_collection(spark, root, "vecs", q, k=8,
                                     corpus_id="id", exclude_self=True,
                                     use_index="always", n_probe=8)
        assert _rows(full) == _rows(exact), f"diverged at step {step}"


def test_refresh_rerun_after_simulated_crash_converges(spark, sf_dir, tmp_path):
    """A refresh that died after its data append (built_version never
    committed) must be safely re-runnable: the rerun's masks hide the dead
    attempt's rows, so no id is ever returned twice."""
    import json
    import os

    rnd = __import__("random").Random(8)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    built0 = index.vector_index_meta(root, "vecs", "embedding")["built_version"]
    _mutate(spark, root, rnd, 0)
    index.refresh_vector_index(spark, root, "vecs")
    # simulate the crash: roll built_version back as if step 4 never ran
    ipath = index.index_path(root, "vecs", "embedding")
    mp = os.path.join(ipath, index.INDEX_META_FILE)
    with open(mp) as fh:
        imeta = json.load(fh)
    imeta["built_version"] = built0
    with open(mp, "w") as fh:
        json.dump(imeta, fh)
    imeta2 = index.refresh_vector_index(spark, root, "vecs")
    assert imeta2["generation"] == 2  # rerun claimed a NEW generation
    q = _queries(emb)
    full = knn.search_collection(spark, root, "vecs", q, k=10,
                                 corpus_id="id", exclude_self=True,
                                 use_index="always", n_probe=8)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    assert _rows(full) == _rows(exact)
    # no duplicate (qid, vec_id) pairs from the double append
    pairs = [(r["qid"], r["vec_id"]) for r in full.collect()]
    assert len(pairs) == len(set(pairs))


def test_refresh_noop_and_delta_coverage_guard(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    # fresh index: refresh is a no-op
    before = index.vector_index_meta(root, "vecs", "embedding")
    assert index.refresh_vector_index(spark, root, "vecs") == before
    # mutate, then prune the delta log PAST the index's built_version —
    # refresh must refuse (it can no longer know what changed)
    upsert.delete_points(spark, root, "vecs", [0])
    upsert.prune_delta_log(spark, root, "vecs",
                           upsert.collection_version(root, "vecs"))
    with pytest.raises(ValueError, match="delta log"):
        index.refresh_vector_index(spark, root, "vecs")


def test_refresh_ivf_pq_recall_after_mutations(spark, sf_dir, tmp_path):
    """PQ kinds refresh too: new ids encode with the STORED codebooks and
    the refine step still rescores exactly."""
    rnd = __import__("random").Random(9)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_pq",
                             n_lists=8, m=8, ksub=32, iters=3)
    _mutate(spark, root, rnd, 0)
    index.refresh_vector_index(spark, root, "vecs")
    q = _queries(emb)
    exact: dict = {}
    for r in knn.search_collection(spark, root, "vecs", q, k=10,
                                   corpus_id="id", exclude_self=True,
                                   use_index=False).collect():
        exact.setdefault(r["qid"], set()).add(r["vec_id"])
    got: dict = {}
    for r in index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                                  rerank_factor=8,
                                  exclude_self=True).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact[qid] & got.get(qid, set())) / 10 for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.5


def test_refresh_all_indexes_multi_kind(spark, tmp_path):
    """One collection carrying a dense IVF index, a BM25 text index AND a
    sparse index; one mutation batch; ONE refresh_all_indexes call brings
    every artifact fresh — each consuming exactly its own delta gap."""
    from bob_vector_db_spark.operators.sparse import (
        build_sparse_index,
        sparse_index_meta,
    )
    from bob_vector_db_spark.operators.text_search import (
        build_text_index,
        text_index_is_fresh,
    )

    root = str(tmp_path / "store")
    rows = [(i, f"tok{i % 7} word{i % 3} shared",
             [float((i * 5 + j) % 11) for j in range(8)],
             [float((i * 3 + j) % 7) for j in range(8)],
             [i % 9, 9 + i % 5], [1.0, 2.0])
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "id int, text string, embedding array<double>, "
              "emb2 array<double>, indices array<int>, values array<double>")
    upsert.create_collection(
        spark, root, "c", df=df, id_col="id", n_buckets=4,
        vector_config={"embedding": {"size": 8, "distance": "cosine"},
                       "emb2": {"size": 8, "distance": "cosine"}})
    index.build_vector_index(spark, root, "c", vector_name="embedding",
                             kind="ivf", n_lists=4, iters=2)
    index.build_vector_index(spark, root, "c", vector_name="emb2",
                             kind="ivf_sq", n_lists=4, iters=2)
    build_text_index(spark, root, "c", text_col="text", n_term_buckets=8)
    build_sparse_index(spark, root, "c", n_dim_buckets=8)
    assert len(index.list_indexes(root, "c")) == 4

    # stagger: BM25 refreshes early, then more mutations land — the three
    # indexes sit at DIFFERENT built_versions before the final refresh_all
    upsert.delete_points(spark, root, "c", [1, 2])
    from bob_vector_db_spark.operators.text_search import refresh_text_index
    refresh_text_index(spark, root, "c", text_col="text")
    upsert.upsert(spark, root, "c", spark.createDataFrame(
        [(100, "fresh tok0 shared", [1.0] * 8, [0.5] * 8, [3, 12],
          [5.0, 1.0])],
        "id int, text string, embedding array<double>, "
        "emb2 array<double>, indices array<int>, values array<double>"))

    metas = index.refresh_all_indexes(spark, root, "c")
    assert len(metas) == 4
    cur = upsert.collection_version(root, "c")
    assert all(int(m["built_version"]) == cur for m in metas)
    assert index.index_is_fresh(root, "c", "embedding")
    assert index.index_is_fresh(root, "c", "emb2")
    assert text_index_is_fresh(root, "c", "text")
    assert int(sparse_index_meta(root, "c")["built_version"]) == cur
    # and the refreshed dense index answers exactly like the exact scan
    q = spark.createDataFrame([(0, [1.0] * 8)], "qid int, qvec array<double>")
    full = knn.search_collection(spark, root, "c", q, k=5, corpus_id="id",
                                 vector_name="embedding",
                                 use_index="always", n_probe=4)
    exact = knn.search_collection(spark, root, "c", q, k=5, corpus_id="id",
                                  vector_name="embedding", use_index=False)
    assert _rows(full) == _rows(exact)


def test_refresh_reclassifies_crash_adopted_delete(spark, sf_dir, tmp_path):
    """A delete whose delta was PUBLISHED but whose data swap never ran
    (crash between publish and swap) leaves its ids live in the store.
    Refresh must verify delete-classified ids against the collection and
    reclassify still-present ones as upserts — indexed and exact search
    then agree instead of the index silently under-returning."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    path = upsert.collection_path(root, "vecs")
    # crash-adopted delete: published delta, data never swapped
    doomed = [int(r["vec_id"]) for r in
              emb.select("vec_id").limit(3).collect()]
    v = upsert.collection_version(root, "vecs") + 1
    upsert._log_delta(path, v, "delete",
                      spark.createDataFrame([(str(i),) for i in doomed],
                                            "id string"))
    assert upsert.collection_version(root, "vecs") == v  # delta = authority
    index.refresh_vector_index(spark, root, "vecs")
    q = _queries(emb)
    idx = knn.search_collection(spark, root, "vecs", q, k=10,
                                corpus_id="id", exclude_self=True,
                                use_index="always", n_probe=8)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    assert _rows(idx) == _rows(exact)
    # the still-live "deleted" ids are searchable through the index
    idx_ids = {r["vec_id"] for r in
               knn.search_collection(spark, root, "vecs", q, k=1000,
                                     corpus_id="id", use_index="always",
                                     n_probe=8).collect()}
    assert set(doomed) <= idx_ids


def test_mask_auto_compaction_bounds_churn(spark, sf_dir, tmp_path):
    """Many refresh cycles with NO rebuild: mask auto-compaction keeps the
    mask table bounded and indexed results stay equal to the exact scan —
    the unbounded-churn scale hazard the forced-broadcast mask join used
    to carry."""
    import os

    rnd = __import__("random").Random(21)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    ipath = index.index_path(root, "vecs", "embedding")
    mdir = os.path.join(ipath, "masks")
    for step in range(5):
        _mutate(spark, root, rnd, step)
        index.refresh_vector_index(spark, root, "vecs",
                                   mask_compact_threshold=4)
        n_masks = index._mask_row_count(spark, ipath)
        assert n_masks <= 4, f"step {step}: {n_masks} mask rows survived"
    q = _queries(emb)
    idx = knn.search_collection(spark, root, "vecs", q, k=10,
                                corpus_id="id", exclude_self=True,
                                use_index="always", n_probe=8)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    assert _rows(idx) == _rows(exact)
    assert not os.path.isdir(mdir) or \
        index._mask_row_count(spark, ipath) <= 4


def test_mask_compaction_unpartitioned_pq(spark, sf_dir, tmp_path):
    """kind=pq has no partition layout — compaction rewrites the single
    data tree through the staged atomic swap and results stay exact."""
    rnd = __import__("random").Random(22)
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="pq",
                             m=8, ksub=16, iters=3)
    _mutate(spark, root, rnd, 0)
    index.refresh_vector_index(spark, root, "vecs",
                               mask_compact_threshold=0)
    ipath = index.index_path(root, "vecs", "embedding")
    assert index._mask_row_count(spark, ipath) == 0
    q = _queries(emb)
    # pq is approximate but the candidate set must contain no masked dupes
    out = index.search_indexed(spark, root, "vecs", q, k=10,
                               rerank_factor=8)
    pairs = [(r["qid"], r["vec_id"]) for r in out.collect()]
    assert len(pairs) == len(set(pairs)) and len(pairs) > 0


def test_update_vectors_reassigns_ivf_list(spark, tmp_path):
    """Qdrant update_vectors twin: a patched vector logs to the delta, and
    refresh re-assigns the id to the IVF list its NEW vector belongs to —
    payloads untouched, O(|patch|), no rebuild."""
    import os

    from bob_vector_db_spark.operators.index import _apply_masks

    root = str(tmp_path / "store")
    # two tight clusters far apart: A along axis 0, B along axis 1
    rows = [(i, [10.0 + i * 0.01, 0.0, 0.0, 0.0], "a") for i in range(10)]
    rows += [(i, [0.0, 10.0 + i * 0.01, 0.0, 0.0], "b") for i in range(10, 20)]
    upsert.create_collection(
        spark, root, "vecs", n_buckets=4, id_col="id",
        df=spark.createDataFrame(rows, "id long, vec array<double>, tag string"),
        vector_config={"vec": {"size": 4, "distance": "cosine"}})
    index.build_vector_index(spark, root, "vecs", vector_name="vec",
                             kind="ivf", n_lists=2, iters=5)
    ipath = index.index_path(root, "vecs", "vec")
    data = os.path.join(ipath, "data")
    before = {r["id"]: r["list_id"]
              for r in spark.read.parquet(data).collect()}
    # sanity: k-means separated the two clusters
    assert before[0] != before[10]
    assert all(before[i] == before[0] for i in range(10))
    assert all(before[i] == before[10] for i in range(10, 20))

    patch = spark.createDataFrame([(0, [0.0, 9.9, 0.0, 0.0])],
                                  "id long, vec array<double>")
    upsert.update_vectors(spark, root, "vecs", patch)
    index.refresh_vector_index(spark, root, "vecs", vector_name="vec")
    live = {r["id"]: r["list_id"] for r in _apply_masks(
        spark, ipath, spark.read.parquet(data), "id").collect()}
    assert len(live) == 20  # masks hide exactly the patched id's old row
    assert live[0] == before[10]  # re-assigned to cluster B's list
    assert all(live[i] == before[i] for i in range(1, 20))
    # payloads survived the vector patch
    tags = {r["id"]: r["tag"]
            for r in upsert.read_collection(spark, root, "vecs").collect()}
    assert tags[0] == "a"
    # and the refreshed index still answers exactly
    q = spark.createDataFrame([(0, [0.0, 1.0, 0.0, 0.0])],
                              "qid long, qvec array<double>")
    idx = knn.search_collection(spark, root, "vecs", q, k=5, corpus_id="id",
                                exclude_self=False, use_index="always",
                                n_probe=2)
    exact = knn.search_collection(spark, root, "vecs", q, k=5, corpus_id="id",
                                  exclude_self=False, use_index=False)
    assert _rows(idx) == _rows(exact)
    assert 0 in {r["vec_id"] for r in idx.collect()}


def test_update_vectors_contract_violations(spark, tmp_path):
    """The vector patch refuses what a raw column patch can't know is
    wrong: undeclared spaces, wrong-dim vectors, null vectors."""
    root = str(tmp_path / "store")
    upsert.create_collection(
        spark, root, "vecs", n_buckets=4, id_col="id",
        df=spark.createDataFrame([(0, [1.0, 0.0], "x")],
                                 "id long, vec array<double>, tag string"),
        vector_config={"vec": {"size": 2, "distance": "cosine"}})
    with pytest.raises(ValueError, match="not declared vector spaces"):
        upsert.update_vectors(spark, root, "vecs", spark.createDataFrame(
            [(0, "y")], "id long, tag string"))
    with pytest.raises(ValueError, match="not length 2"):
        upsert.update_vectors(spark, root, "vecs", spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "id long, vec array<double>"))
    with pytest.raises(ValueError, match="null or not length"):
        upsert.update_vectors(spark, root, "vecs", spark.createDataFrame(
            [(0, None)], "id long, vec array<double>"))
    with pytest.raises(ValueError, match="at least one vector column"):
        upsert.update_vectors(spark, root, "vecs", spark.createDataFrame(
            [(0,)], "id long"))


def test_ivf_sq_exactness_refresh_and_recall(spark, sf_dir, tmp_path):
    """Stored IVF-SQ: with full probe and a rerank pool covering the whole
    corpus the rescored result EQUALS the exact scan (deterministic, no
    recall hedge); the artifact stores int8 codes, not floats; refresh
    encodes deltas with the STORED params; a narrow probe keeps useful
    recall."""
    import os

    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_sq",
                             n_lists=8, iters=4)
    ipath = index.index_path(root, "vecs", "embedding")
    cols = spark.read.parquet(os.path.join(ipath, "data")).columns
    assert "codes" in cols and "embedding" not in cols
    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    # corpus is 500 rows; rerank_factor 100 * k 10 covers it entirely
    full = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    # mutate: re-point 10 vectors at other rows' embeddings, refresh
    patch = (emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 310))
             .select((F.col("vec_id") - 300).alias("id"), "embedding"))
    upsert.update_vectors(spark, root, "vecs", patch)
    out = index.refresh_vector_index(spark, root, "vecs")
    assert out["built_version"] == 1
    exact2 = knn.search_collection(spark, root, "vecs", q, k=10,
                                   corpus_id="id", exclude_self=True,
                                   use_index=False)
    full2 = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                                 rerank_factor=100, exclude_self=True)
    assert _rows(full2) == _rows(exact2)
    # narrow ANN probe: sane recall against exact top-10
    probe = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=3,
                                 exclude_self=True)
    ex = {(r["qid"], r["vec_id"]) for r in exact2.collect()}
    got = {(r["qid"], r["vec_id"]) for r in probe.collect()}
    assert len(got & ex) / len(ex) >= 0.5


def test_ivf_sq_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The scale contract holds for the SQ artifact too: the probe reaches
    the stored lists through a STATIC list_id partition filter."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_sq",
                             n_lists=8, iters=3)
    out = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                               k=5, n_probe=2, exclude_self=True)
    assert_partition_filters(out, "list_id")


def test_rescore_fetch_prunes_id_buckets(spark, sf_dir, tmp_path):
    """VERDICT r6 #1: the quantized-search exact-rescore tail must fetch
    its candidates through the store's static id-bucket filter
    (read_rows_for_ids), never a full-collection scan — the plan shows
    BOTH the probed list_id pruning AND the id_bucket pruning."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_sq",
                             n_lists=8, iters=3)
    out = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                               k=5, n_probe=2, exclude_self=True)
    assert_partition_filters(out, "list_id", "id_bucket")
    # and for the PQ tail too
    index.build_vector_index(spark, root, "vecs", kind="ivf_pq",
                             n_lists=8, m=8, ksub=16, iters=2)
    out_pq = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                                  k=5, n_probe=4, exclude_self=True)
    assert_partition_filters(out_pq, "list_id", "id_bucket")


def test_filtered_indexed_search_composes_both_prunings(spark, sf_dir,
                                                        tmp_path):
    """The filtered-HNSW twin (VERDICT r6 next #2): payload-index
    candidate ids semi-join INSIDE the probed list partitions of the ANN
    artifact.  The composed plan shows the residual fetch's id_bucket
    pruning AND the artifact's list_id pruning; the posting probe's own
    val_bucket pruning ran ONCE up front (the candidate frame
    materializes through the capped driver roundtrip so its subplan
    never re-executes per consumer — VERDICT r7 wrong #2; the probe
    plan itself is asserted in tests/test_payload_index.py).  At full
    probe the composition equals the exact filtered search."""
    from bob_vector_db_spark.operators import query_api
    from bob_vector_db_spark.operators.filters import (
        Filter, MatchAny, Range)
    from bob_vector_db_spark.operators.payload_index import (
        build_payload_index)

    root = str(tmp_path / "store")
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("g"), (F.col("label") % 4).cast("string"))
        .alias("grp"),
        (F.col("vec_id") % 3).alias("parity"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        vector_config={"embedding": {"size": 64, "distance": "cosine"}})
    build_payload_index(spark, root, "vecs", "grp", n_val_buckets=16)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    flt = Filter(must=[MatchAny("grp", ["g0", "g1"]),
                       Range("parity", lte=1)])
    q = _queries(emb, 3)
    comp = query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                   use_index="always", n_probe=None,
                                   use_payload_index="always")
    assert_partition_filters(comp, "list_id", "id_bucket")
    exact = query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                    use_index=False)
    key = lambda df: sorted(
        (r["qid"], r["vec_id"], r["rank"]) for r in df.collect())
    assert key(comp) == key(exact)
    # 'always' raises loudly when the ANN artifact goes stale
    upsert.delete_points(spark, root, "vecs", [499])
    with pytest.raises(ValueError, match="stale|absent"):
        query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                use_index="always")
    # ...but auto falls back to the exact path silently
    out = query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                  use_index="auto")
    assert out.count() > 0


def test_filtered_indexed_auto_prefers_exact_for_small_candidate_sets(
        spark, sf_dir, tmp_path):
    """'auto' composes with the ANN artifact only past the candidate
    threshold — below it the bucket-pruned exact fetch wins (and IS
    exact), so small filtered searches never pay the probe."""
    from bob_vector_db_spark.operators import query_api
    from bob_vector_db_spark.operators.filters import Filter, MatchValue
    from bob_vector_db_spark.operators.payload_index import (
        build_payload_index)

    root = str(tmp_path / "store")
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        F.concat(F.lit("g"), (F.col("label") % 4).cast("string"))
        .alias("grp"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        vector_config={"embedding": {"size": 64, "distance": "cosine"}})
    build_payload_index(spark, root, "vecs", "grp", n_val_buckets=16)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    flt = Filter(must=[MatchValue("grp", "g1")])
    q = _queries(emb, 2)
    # default threshold (100k) >> candidate count: no list_id scan appears
    out = query_api.search_points(spark, root, "vecs", q, flt=flt, k=5,
                                  use_index="auto")
    plan = formatted_plan(out)
    assert "list_id" not in plan
    # threshold 0 + a NARROW probe: auto now composes — the artifact's
    # list pruning appears (with n_probe=None over a float ivf artifact
    # auto still declines: full probe reads as much as the pushed scan)
    comp = query_api.search_points(spark, root, "vecs", q, flt=flt, k=5,
                                   use_index="auto", n_probe=2,
                                   index_candidate_threshold=0)
    assert_partition_filters(comp, "list_id")
    full = query_api.search_points(spark, root, "vecs", q, flt=flt, k=5,
                                   use_index="auto", n_probe=None,
                                   index_candidate_threshold=0)
    assert "list_id" not in formatted_plan(full)


def test_filtered_indexed_search_with_range_driving_leaf(spark, sf_dir,
                                                         tmp_path):
    """VERDICT r7 missing #1 follow-through: a filter whose ONLY must
    leaf is a Range resolves through the RANGE payload index and
    composes with the ANN artifact — no pushed-scan fallback, and at
    full probe the composition equals the exact filtered search."""
    from bob_vector_db_spark.operators import query_api
    from bob_vector_db_spark.operators.filters import (
        Filter, Range, filter_match_ids)
    from bob_vector_db_spark.operators.payload_index import (
        build_payload_index)

    root = str(tmp_path / "store")
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"), "embedding",
        (F.col("vec_id") % 100).cast("double").alias("score"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        vector_config={"embedding": {"size": 64, "distance": "cosine"}})
    build_payload_index(spark, root, "vecs", "score", n_val_buckets=8,
                        index_type="range")
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=3)
    flt = Filter(must=[Range("score", gte=20.0, lt=80.0)])
    ids, residual = filter_match_ids(spark, root, "vecs", flt)
    assert ids is not None and residual == Filter()
    q = _queries(emb, 3)
    comp = query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                   use_index="always", n_probe=None,
                                   use_payload_index="always")
    assert_partition_filters(comp, "list_id")
    exact = query_api.search_points(spark, root, "vecs", q, flt=flt, k=10,
                                    use_index=False,
                                    use_payload_index=False)
    key = lambda df: sorted(
        (r["qid"], r["vec_id"], r["rank"]) for r in df.collect())
    assert key(comp) == key(exact)


# ---------------------------------------------------------------------------
# ivf_mv — the MULTIVECTOR ANN artifact (round 8, VERDICT r7 missing #2):
# coarse IVF over mean-pooled token vectors, exact max-sim rescore.
# ---------------------------------------------------------------------------

def _mk_mv_store(spark, sf_dir, root):
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.array(*[F.slice(F.col("embedding"), 1 + 16 * i, 16)
                  for i in range(4)]).alias("colbert"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        vector_config={"colbert": {"size": 16, "distance": "dot",
                                   "multivector": "max_sim"}})
    return pts


def _mv_queries(pts, n=3):
    return pts.filter(F.col("id") < n).select(
        F.col("id").alias("qid"), F.col("colbert").alias("qvecs"))


def test_ivf_mv_full_probe_covering_rerank_equals_exact(spark, sf_dir,
                                                        tmp_path):
    """Full probe + covering rerank == the exact max-sim scan, and the
    probe reaches the pooled artifact through static list_id pruning
    with the rescore fetch id-bucket pruned (the store_indexed_search
    exactness pattern, multivector edition)."""
    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv",
                             n_lists=8, iters=3)
    q = _mv_queries(pts)
    exact = knn.knn_join_maxsim(q, pts, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=10, exclude_self=True)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    narrow = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=2,
                                  query_vec="qvecs", exclude_self=True)
    assert_partition_filters(narrow, "list_id", "id_bucket")
    ex = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    got = {(r["qid"], r["vec_id"]) for r in narrow.collect()}
    # 2-of-8-list probe on the ~600-doc test corpus: recall is k-means-
    # init-dominated (the r13 md5-ordered training sample shifted it
    # from 0.63 to 0.47 with no systematic change) — pin the floor
    # loosely; the exactness tie above is the real contract
    assert len(got & ex) / len(ex) >= 0.35


def test_ivf_mv_empty_and_null_query_parity(spark, sf_dir, tmp_path):
    """Degenerate QUERY shapes keep the 'full probe + covering rerank ==
    exact scan' contract (r8 advice): an EMPTY token list scores 0.0
    against every point in the exact fold, so the indexed path must
    return the k lowest vec_ids at 0.0 instead of dropping the query
    (mean_pool yields NULL → the pooled probe alone emits nothing); a
    NULL token list emits no rows on both paths."""
    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv",
                             n_lists=8, iters=3)
    q = _mv_queries(pts, 2).unionByName(
        spark.sql("""SELECT * FROM VALUES
            (9001L, CAST(array() AS array<array<float>>)),
            (9002L, CAST(NULL AS array<array<float>>)),
            (9003L, CAST(array(NULL) AS array<array<float>>))
            t(qid, qvecs)"""))
    exact = knn.knn_join_maxsim(q, pts, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=5, exclude_self=True)
    full = index.search_indexed(spark, root, "vecs", q, k=5,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    got = {r["qid"] for r in full.collect()}
    # 9003 ([NULL] token): the fold nulls → no rows; r9 review finding —
    # the driver-side probe crashed on np.asarray over a None pool
    assert 9001 in got and 9002 not in got and 9003 not in got


def test_ivf_mv_sq_full_probe_covering_rerank_equals_exact(spark, sf_dir,
                                                           tmp_path):
    """The QUANTIZED multivector artifact (r9, VERDICT r8 missing #3):
    int8 scalar-quantized POOLED codes — the coarse stage scores the
    dequantized codes, the max-sim rescore stays exact, so full probe +
    covering rerank equals the exact scan even though no float pooled
    vector was ever stored; the probe still prunes list partitions and
    the rescore fetch stays id-bucket pruned."""
    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    imeta = index.build_vector_index(spark, root, "vecs", kind="ivf_mv_sq",
                                     n_lists=8, iters=3)
    assert "sq_mins" in imeta and "sq_scales" in imeta
    # the artifact holds codes, never pooled floats
    import os
    data = spark.read.parquet(os.path.join(
        index.index_path(root, "vecs", "colbert"), "data"))
    assert "codes" in data.columns and "pooled" not in data.columns
    q = _mv_queries(pts)
    exact = knn.knn_join_maxsim(q, pts, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=10, exclude_self=True)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    narrow = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=2,
                                  query_vec="qvecs", exclude_self=True)
    assert_partition_filters(narrow, "list_id", "id_bucket")


def test_ivf_mv_sq_refresh_absorbs_mutations(spark, sf_dir, tmp_path):
    """Refresh encodes delta rows with the STORED sq params and
    centroids; after churn the full-probe answer equals the exact scan
    over the mutated collection."""
    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv_sq",
                             n_lists=8, iters=3)
    patch = pts.filter(F.col("id") == 450).select(
        F.lit(0).cast("long").alias("id"), "colbert")
    upsert.update_vectors(spark, root, "vecs", patch)
    upsert.delete_points(spark, root, "vecs", [7])
    index.refresh_vector_index(spark, root, "vecs")
    q = _mv_queries(pts, 2)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", query_vec="qvecs",
                                  exclude_self=True, use_index=False,
                                  vectorized=False)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=200, exclude_self=True)
    assert _rows(full) == _rows(exact)
    assert full.filter(F.col("vec_id") == 7).count() == 0
    # search_collection dispatches the quantized mv kind too
    via = knn.search_collection(spark, root, "vecs", q, k=10,
                                corpus_id="id", query_vec="qvecs",
                                exclude_self=True, use_index="always",
                                n_probe=None, rerank_factor=200)
    assert _rows(via) == _rows(exact)


def test_ivf_mv_pq_full_probe_covering_rerank_equals_exact(spark, sf_dir,
                                                           tmp_path):
    """The PQ multivector artifact (r9): pooled PQ codes, ADC coarse
    stage (the dense ivf_pq plan with the pooled query's LUT), exact
    max-sim rescore — full probe + covering rerank equals the exact
    scan; refresh encodes deltas with the stored codebooks."""
    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    imeta = index.build_vector_index(spark, root, "vecs", kind="ivf_mv_pq",
                                     n_lists=8, m=8, ksub=16, iters=3)
    assert imeta["m"] == 8 and imeta["ksub"] == 16
    import os
    data = spark.read.parquet(os.path.join(
        index.index_path(root, "vecs", "colbert"), "data"))
    assert "pq_codes" in data.columns and "pooled" not in data.columns
    q = _mv_queries(pts)
    exact = knn.knn_join_maxsim(q, pts, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=10, exclude_self=True)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    # churn → refresh with the STORED codebooks → still exact
    patch = pts.filter(F.col("id") == 450).select(
        F.lit(0).cast("long").alias("id"), "colbert")
    upsert.update_vectors(spark, root, "vecs", patch)
    upsert.delete_points(spark, root, "vecs", [7])
    index.refresh_vector_index(spark, root, "vecs")
    q2 = _mv_queries(pts, 2)
    exact2 = knn.search_collection(spark, root, "vecs", q2, k=10,
                                   corpus_id="id", query_vec="qvecs",
                                   exclude_self=True, use_index=False,
                                   vectorized=False)
    full2 = index.search_indexed(spark, root, "vecs", q2, k=10,
                                 n_probe=None, query_vec="qvecs",
                                 rerank_factor=200, exclude_self=True)
    assert _rows(full2) == _rows(exact2)
    assert full2.filter(F.col("vec_id") == 7).count() == 0


def test_ivf_mv_per_tenant_artifact(spark, sf_dir, tmp_path):
    """Per-tenant MULTIVECTOR artifact: tenant t1's token lists train and
    fill its own pooled-IVF index; the scoped search equals exactly t1's
    late-interaction kNN, and a point of ANOTHER tenant never appears."""
    root = str(tmp_path / "store")
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.array(*[F.slice(F.col("embedding"), 1 + 16 * i, 16)
                  for i in range(4)]).alias("colbert"),
        F.concat(F.lit("t"), (F.col("label") % 3).cast("string"))
        .alias("tenant"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        tenant_col="tenant",
        vector_config={"colbert": {"size": 16, "distance": "dot",
                                   "multivector": "max_sim"}})
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv",
                             n_lists=4, iters=3, tenant="t1")
    q = _mv_queries(pts, 2)
    t1 = pts.filter(F.col("tenant") == "t1")
    exact = knn.knn_join_maxsim(q, t1, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=10, exclude_self=False)
    got = knn.search_collection(spark, root, "vecs", q, k=10,
                                corpus_id="id", query_vec="qvecs",
                                exclude_self=False, tenant="t1",
                                use_index="always", n_probe=None,
                                rerank_factor=500)
    assert _rows(got) == _rows(exact)
    t1_ids = {r["id"] for r in t1.select("id").collect()}
    assert {r["vec_id"] for r in got.collect()} <= t1_ids


def test_ivf_mv_dispatch_and_staleness(spark, sf_dir, tmp_path):
    """search_collection dispatches a multivector space to its ivf_mv
    artifact off the collection meta (round 7 refused use_index
    loudly); a mutation makes 'auto' fall back to the exact scan and
    'always' raise; refresh re-absorbs incrementally."""
    import pytest as _pytest

    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    q = _mv_queries(pts, 2)
    # no artifact yet: 'always' raises with the build hint
    with _pytest.raises(ValueError, match="ivf_mv"):
        knn.search_collection(spark, root, "vecs", q, k=5, corpus_id="id",
                              query_vec="qvecs", use_index="always")
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv",
                             n_lists=8, iters=3)
    out = knn.search_collection(spark, root, "vecs", q, k=5,
                                corpus_id="id", query_vec="qvecs",
                                exclude_self=True, use_index="always",
                                n_probe=8)
    assert out.count() > 0
    # mutate: give id 0 a new token list, delete id 7
    patch = pts.filter(F.col("id") == 450).select(
        F.lit(0).alias("id").cast("long"), "colbert")
    upsert.update_vectors(spark, root, "vecs", patch)
    upsert.delete_points(spark, root, "vecs", [7])
    with _pytest.raises(ValueError, match="stale"):
        knn.search_collection(spark, root, "vecs", q, k=5, corpus_id="id",
                              query_vec="qvecs", use_index="always")
    index.refresh_vector_index(spark, root, "vecs")
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", query_vec="qvecs",
                                  exclude_self=True, use_index=False,
                                  vectorized=False)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=200, exclude_self=True)
    assert _rows(full) == _rows(exact)
    assert full.filter(F.col("vec_id") == 7).count() == 0


def test_ivf_mv_filtered_search_composes_both_prunings(spark, sf_dir,
                                                       tmp_path):
    """Filtered MULTIVECTOR search composes with the ivf_mv artifact the
    same way the dense path does (the composition matrix's last cell):
    the payload candidates semi-join inside the probed pooled lists,
    the max-sim rescore fetch stays id-bucket pruned, and at full probe
    with a covering rerank the answer equals the exact filtered
    max-sim scan."""
    from bob_vector_db_spark.operators import query_api
    from bob_vector_db_spark.operators.filters import Filter, MatchAny
    from bob_vector_db_spark.operators.payload_index import (
        build_payload_index)

    root = str(tmp_path / "store")
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.array(*[F.slice(F.col("embedding"), 1 + 16 * i, 16)
                  for i in range(4)]).alias("colbert"),
        F.concat(F.lit("g"), (F.col("label") % 4).cast("string"))
        .alias("grp"))
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=8,
        vector_config={"colbert": {"size": 16, "distance": "dot",
                                   "multivector": "max_sim"}})
    build_payload_index(spark, root, "vecs", "grp", n_val_buckets=16)
    index.build_vector_index(spark, root, "vecs", kind="ivf_mv",
                             n_lists=8, iters=3)
    flt = Filter(must=[MatchAny("grp", ["g0", "g1"])])
    q = pts.filter(F.col("id") < 3).select(
        F.col("id").alias("qid"), F.col("colbert").alias("qvecs"))
    comp = query_api.search_points(
        spark, root, "vecs", q, flt=flt, k=10, query_vec="qvecs",
        use_index="always", n_probe=None, rerank_factor=100,
        use_payload_index="always")
    assert_partition_filters(comp, "list_id", "id_bucket")
    exact = query_api.search_points(
        spark, root, "vecs", q, flt=flt, k=10, query_vec="qvecs",
        use_index=False, use_payload_index=False)
    key = lambda df: sorted(
        (r["qid"], r["vec_id"], round(r["sim"], 6), r["rank"])
        for r in df.collect())
    assert key(comp) == key(exact)


def test_pq_kinds_drop_null_query_vectors(spark, sf_dir, tmp_path):
    """r9 review finding: a NULL query vector reached make_lut_udf and
    crashed np.asarray in the executor for pq/ivf_pq kinds, while
    ivf/ivf_sq/ivf_mv drop it — every kind now shares the degenerate-
    query policy (NULL vector → no rows for that qid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "store")
    pts = emb.select(F.col("vec_id").alias("id"), "embedding")
    upsert.create_collection(
        spark, root, "vecs", df=pts, id_col="id", n_buckets=4,
        vector_config={"embedding": {"size": 64, "distance": "cosine"}})
    q = (pts.filter(F.col("id") < 2)
         .select(F.col("id").alias("qid"),
                 F.col("embedding").alias("qvec"))
         .unionByName(spark.sql(
             "SELECT 9001L AS qid, CAST(NULL AS array<double>) AS qvec")))
    for kind in ("pq", "ivf_pq", "ivf", "ivf_sq"):
        index.build_vector_index(spark, root, "vecs", kind=kind,
                                 n_lists=4, m=8, ksub=16, iters=2)
        out = index.search_indexed(spark, root, "vecs", q, k=5,
                                   n_probe=None, rerank_factor=100)
        got = {r["qid"] for r in out.collect()}
        assert got == {0, 1}, (kind, got)


def test_ivf_bq_exactness_refresh_and_recall(spark, sf_dir, tmp_path):
    """Stored IVF-BQ (round 10, VERDICT r9 missing #1): packed sign-bit
    words clustered by list — with full probe and a corpus-covering
    rerank the rescored result EQUALS the exact scan (Hamming error can
    only reorder candidates, and a covering rerank keeps them all); the
    artifact stores ceil(dim/32) bigint words, never floats; refresh
    packs deltas with the STORED dim; a narrow probe keeps recall."""
    import os

    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    imeta = index.build_vector_index(spark, root, "vecs", kind="ivf_bq",
                                     n_lists=8, iters=4)
    assert imeta["dim"] == 64
    ipath = index.index_path(root, "vecs", "embedding")
    data = spark.read.parquet(os.path.join(ipath, "data"))
    assert "bq_codes" in data.columns and "embedding" not in data.columns
    # 64 dims pack into exactly 2 words
    assert data.select(F.size("bq_codes").alias("n")).first()["n"] == 2
    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    # corpus is 500 rows; rerank_factor 100 * k 10 covers it entirely
    full = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    # mutate: re-point 10 vectors at other rows' embeddings, refresh
    patch = (emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 310))
             .select((F.col("vec_id") - 300).alias("id"), "embedding"))
    upsert.update_vectors(spark, root, "vecs", patch)
    upsert.delete_points(spark, root, "vecs", [7])
    out = index.refresh_vector_index(spark, root, "vecs")
    assert out["built_version"] == 2
    exact2 = knn.search_collection(spark, root, "vecs", q, k=10,
                                   corpus_id="id", exclude_self=True,
                                   use_index=False)
    full2 = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=8,
                                 rerank_factor=100, exclude_self=True)
    assert _rows(full2) == _rows(exact2)
    assert full2.filter(F.col("vec_id") == 7).count() == 0
    # search_collection dispatches the bq kind like any other
    via = knn.search_collection(spark, root, "vecs", q, k=10,
                                corpus_id="id", exclude_self=True,
                                use_index="always", n_probe=None,
                                rerank_factor=100)
    assert _rows(via) == _rows(exact2)
    # narrow ANN probe: sane recall against exact top-10
    probe = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=3,
                                 rerank_factor=20, exclude_self=True)
    ex = {(r["qid"], r["vec_id"]) for r in exact2.collect()}
    got = {(r["qid"], r["vec_id"]) for r in probe.collect()}
    assert len(got & ex) / len(ex) >= 0.5


def test_ivf_bq_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The scale contract holds for the BQ artifact: the probe reaches
    the stored lists through a STATIC list_id partition filter and the
    rescore fetch stays id-bucket pruned."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_bq",
                             n_lists=8, iters=3)
    out = index.search_indexed(spark, root, "vecs", _queries(emb, 2),
                               k=5, n_probe=2, exclude_self=True)
    assert_partition_filters(out, "list_id", "id_bucket")


def test_ivf_bq_null_vectors_and_null_queries(spark, sf_dir, tmp_path):
    """Degenerate shapes: a NULLed vector (delete_vectors) drops from
    the artifact at build AND refresh — parity with the exact scan,
    which can never score it; a NULL query vector probes no lists and
    returns no rows."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    upsert.delete_vectors(spark, root, "vecs", [3, 4], ["embedding"])
    index.build_vector_index(spark, root, "vecs", kind="ivf_bq",
                             n_lists=4, iters=3)
    q = _queries(emb)
    exact = knn.search_collection(spark, root, "vecs", q, k=10,
                                  corpus_id="id", exclude_self=True,
                                  use_index=False)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, rerank_factor=100,
                                exclude_self=True)
    assert _rows(full) == _rows(exact)
    assert full.filter(F.col("vec_id").isin("3", "4")).count() == 0
    nullq = spark.createDataFrame(
        [(999, None)], "qid long, qvec array<double>")
    assert index.search_indexed(spark, root, "vecs", nullq, k=5,
                                n_probe=None).count() == 0


def test_ivf_mv_bq_full_probe_covering_rerank_equals_exact(spark, sf_dir,
                                                           tmp_path):
    """The BINARY multivector artifact (round 10): packed sign bits of
    the POOLED tokens — Hamming coarse stage on the packed pooled query,
    exact max-sim rescore, so full probe + covering rerank equals the
    exact late-interaction scan; refresh packs deltas with the stored
    dim; the probe still prunes list partitions and the rescore fetch
    stays id-bucket pruned."""
    import os

    root = str(tmp_path / "store")
    pts = _mk_mv_store(spark, sf_dir, root)
    imeta = index.build_vector_index(spark, root, "vecs", kind="ivf_mv_bq",
                                     n_lists=8, iters=3)
    data = spark.read.parquet(os.path.join(
        index.index_path(root, "vecs", "colbert"), "data"))
    assert "bq_codes" in data.columns and "pooled" not in data.columns
    assert imeta["dim"] == 16
    q = _mv_queries(pts)
    exact = knn.knn_join_maxsim(q, pts, corpus_id="id",
                                corpus_vec="colbert", query_vec="qvecs",
                                k=10, exclude_self=True)
    full = index.search_indexed(spark, root, "vecs", q, k=10,
                                n_probe=None, query_vec="qvecs",
                                rerank_factor=100, exclude_self=True)
    assert _rows(full) == _rows(exact)
    narrow = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=2,
                                  query_vec="qvecs", exclude_self=True)
    assert_partition_filters(narrow, "list_id", "id_bucket")
    # churn + refresh, then search_collection dispatch
    patch = pts.filter(F.col("id") == 450).select(
        F.lit(0).cast("long").alias("id"), "colbert")
    upsert.update_vectors(spark, root, "vecs", patch)
    upsert.delete_points(spark, root, "vecs", [7])
    index.refresh_vector_index(spark, root, "vecs")
    q2 = _mv_queries(pts, 2)
    exact2 = knn.search_collection(spark, root, "vecs", q2, k=10,
                                   corpus_id="id", query_vec="qvecs",
                                   exclude_self=True, use_index=False,
                                   vectorized=False)
    via = knn.search_collection(spark, root, "vecs", q2, k=10,
                                corpus_id="id", query_vec="qvecs",
                                exclude_self=True, use_index="always",
                                n_probe=None, rerank_factor=200)
    assert _rows(via) == _rows(exact2)
    assert via.filter(F.col("vec_id") == 7).count() == 0


def test_dense_builds_drop_nulled_vectors(spark, sf_dir, tmp_path):
    """r10 review finding: a NULLed vector (delete_vectors) can never
    score in the exact scan, so every dense build drops it instead of
    crashing the numpy train/assign/encode paths — full probe with a
    covering rerank still equals the exact scan."""
    for kind in ("ivf", "ivf_sq", "ivf_pq", "pq"):
        root = str(tmp_path / f"store_{kind}")
        emb = _mk_store(spark, sf_dir, root)
        upsert.delete_vectors(spark, root, "vecs", [3, 4], ["embedding"])
        index.build_vector_index(spark, root, "vecs", kind=kind,
                                 n_lists=4, m=8, ksub=16, iters=2)
        q = _queries(emb, 2)
        exact = knn.search_collection(spark, root, "vecs", q, k=5,
                                      corpus_id="id", exclude_self=True,
                                      use_index=False)
        full = index.search_indexed(spark, root, "vecs", q, k=5,
                                    n_probe=None, rerank_factor=200,
                                    exclude_self=True)
        assert _rows(full) == _rows(exact), kind
        assert full.filter(F.col("vec_id").isin("3", "4")).count() == 0


def _churn_with_adopted_delete(spark, root, rnd):
    """_mutate plus one crash-adopted delete of id 7: a published delta
    whose data swap never ran, so the refresh must reclassify the
    still-live id as an upsert."""
    import os as _os

    from bob_vector_db_spark.operators.upsert import (
        _log_delta,
        _next_version,
        _set_version,
        collection_path,
    )
    _mutate(spark, root, rnd, 0)
    path = collection_path(root, "vecs")
    v = _next_version(root, "vecs")
    _log_delta(path, v, "delete",
               spark.createDataFrame([("7",)], "id string"))
    _set_version(root, "vecs", v)
    assert _os.path.isdir(_os.path.join(path, "_delta", f"v={v}"))


def test_refresh_chunked_and_single_chunk_agree(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """run_incremental_refresh collects the classified delta as ONE chunk
    when it fits the BVDS_MATERIALIZE_CAP roundtrip and streams it in
    cap-sized chunks past the cap.  Both must produce identical indexed
    results and equivalent mask state after the SAME churn — forced here
    via the env knob (cap=5 ⇒ at least 3 chunks)."""
    rnd = __import__("random").Random(15)
    results, mask_counts, metas = [], [], []
    for cap, sub in (("5", "chunked"), ("1000000", "single")):
        monkeypatch.setenv("BVDS_MATERIALIZE_CAP", cap)
        root = str(tmp_path / f"store_{sub}")
        emb = _mk_store(spark, sf_dir, root)
        index.build_vector_index(spark, root, "vecs", kind="ivf",
                                 n_lists=8, iters=3)
        state = rnd.getstate()
        _churn_with_adopted_delete(spark, root, rnd)
        rnd.setstate(state)  # identical churn for both stores
        if sub == "chunked":
            built = index.vector_index_meta(
                root, "vecs", "embedding")["built_version"]
            assert index._delta_classified(
                spark, root, "vecs", built).count() > 2 * int(cap)
        index.refresh_vector_index(spark, root, "vecs")
        assert index.index_is_fresh(root, "vecs", "embedding")
        q = _queries(emb)
        full = knn.search_collection(spark, root, "vecs", q, k=10,
                                     corpus_id="id", exclude_self=True,
                                     use_index="always", n_probe=8)
        results.append(_rows(full))
        mask_counts.append(index._mask_row_count(
            spark, index.index_path(root, "vecs", "embedding")))
        metas.append(index.vector_index_meta(root, "vecs", "embedding"))
    assert results[0] == results[1]
    # same mask ROWS on both sides (id 7 reclassified upsert on both)
    assert mask_counts[0] == mask_counts[1]
    # and the driver-side counter matches the real count on both sides
    assert [m.get("mask_rows") for m in metas] == mask_counts


def test_refresh_crash_between_chunks_reruns_to_the_same_result(
        spark, sf_dir, tmp_path, monkeypatch):
    """A chunked refresh whose second append raises has already written
    the first chunks' masks and rows at the claimed generation g but
    never committed: the index stays stale, and the rerun (at g+1, its
    masks hiding the dead attempt's rows) answers exactly like a refresh
    that never crashed."""
    import os

    monkeypatch.setenv("BVDS_MATERIALIZE_CAP", "5")
    rnd = __import__("random").Random(16)
    results = []
    for crash in (False, True):
        root = str(tmp_path / f"store_{crash}")
        emb = _mk_store(spark, sf_dir, root)
        index.build_vector_index(spark, root, "vecs", kind="ivf",
                                 n_lists=8, iters=3)
        state = rnd.getstate()
        _churn_with_adopted_delete(spark, root, rnd)
        rnd.setstate(state)
        if crash:
            appends = []
            real_encode = index._encode

            def failing_encode(*args, **kwargs):
                appends.append(1)
                if len(appends) == 2:
                    raise RuntimeError("simulated crash in chunk append")
                return real_encode(*args, **kwargs)

            with monkeypatch.context() as m:
                m.setattr(index, "_encode", failing_encode)
                with pytest.raises(RuntimeError, match="simulated crash"):
                    index.refresh_vector_index(spark, root, "vecs")
            ipath = index.index_path(root, "vecs", "embedding")
            assert os.path.isdir(os.path.join(ipath, "masks"))
            assert not index.index_is_fresh(root, "vecs", "embedding")
            assert index.vector_index_meta(
                root, "vecs", "embedding")["generation"] == 1
        imeta = index.refresh_vector_index(spark, root, "vecs")
        assert imeta["generation"] == (2 if crash else 1)
        assert index.index_is_fresh(root, "vecs", "embedding")
        full = knn.search_collection(spark, root, "vecs", _queries(emb),
                                     k=10, corpus_id="id",
                                     exclude_self=True, use_index="always",
                                     n_probe=8)
        results.append(_rows(full))
    assert results[0] == results[1]
    pairs = [(q, v) for q, v, _, _ in results[1]]
    assert len(pairs) == len(set(pairs))


@pytest.mark.parametrize("kind", index.VALID_KINDS)
def test_every_kind_refresh_equals_exact_and_keeps_columns(
        spark, sf_dir, tmp_path, kind):
    """Each of the vector index kinds through build → churn (new ids,
    overwrites, a delete, one delete_vectors NULL) → refresh: a full
    probe with a covering rerank equals the exact scan over the mutated
    collection, and every data file the refresh appended has the built
    artifact's columns."""
    import glob
    import os

    import pyarrow.parquet as pq

    root = str(tmp_path / "store")
    pooled = index.KINDS[kind].pooled
    if pooled:
        pts, vn = _mk_mv_store(spark, sf_dir, root), "colbert"
    else:
        emb, vn = _mk_store(spark, sf_dir, root), "embedding"
        pts = emb.select(F.col("vec_id").alias("id"), "embedding")
    index.build_vector_index(spark, root, "vecs", kind=kind, n_lists=4,
                             m=8, ksub=16, iters=2)
    ipath = index.index_path(root, "vecs", vn)

    def columns():
        files = glob.glob(os.path.join(ipath, "data", "**", "*.parquet"),
                          recursive=True)
        return {tuple((f.name, str(f.type)) for f in pq.read_schema(p))
                for p in files}

    built = columns()
    src = pts.filter(F.col("id") < 30).orderBy("id").collect()
    rows = ([(int(r["id"]) + 90_000, r[vn]) for r in src[10:18]]
            + [(int(r["id"]), r2[vn]) for r, r2 in zip(src[:4], src[4:8])])
    col_type = "array<array<double>>" if pooled else "array<double>"
    upsert.upsert(spark, root, "vecs", spark.createDataFrame(
        rows, f"id long, {vn} {col_type}"))
    upsert.delete_points(spark, root, "vecs", [20])
    upsert.delete_vectors(spark, root, "vecs", [25], [vn])
    index.refresh_vector_index(spark, root, "vecs")
    assert index.index_is_fresh(root, "vecs", vn)
    assert columns() == built

    q = pts.filter(F.col("id") < 3).select(
        F.col("id").alias("qid"), F.col(vn).alias("qvec"))
    exact = knn.search_collection(
        spark, root, "vecs", q, k=5, corpus_id="id", exclude_self=True,
        use_index=False, **({"vectorized": False} if pooled else {}))
    full = index.search_indexed(spark, root, "vecs", q, k=5, n_probe=None,
                                rerank_factor=200, exclude_self=True)
    assert _rows(full) == _rows(exact)
    assert full.filter(F.col("vec_id").isin("20", "25")).count() == 0


# -- the once-read query side -------------------------------------------

class _Jobs:
    """Spark jobs submitted inside the block, counted through a job group
    and ``statusTracker`` (one-thread tests: nothing else submits)."""

    _n = 0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        _Jobs._n += 1
        self.group = f"test_index_jobs_{_Jobs._n}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.count = len(
            self.sc.statusTracker().getJobIdsForGroup(self.group))


def _row_queries(spark, emb, ids):
    """A rows-form query frame: every execution of it runs a pickled-row
    Python worker, so a second evaluation shows in the plan and the job
    count."""
    rows = (emb.filter(F.col("vec_id").isin(ids))
            .select("vec_id", "embedding").collect())
    return spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in rows],
        "qid long, qvec array<double>")


def test_single_query_ivf_search_reads_queries_once(spark, sf_dir, tmp_path):
    """One ivf search over a rows-form query frame: the plan scores an
    Arrow-literal query side (no Python evaluation node — neither the
    caller's rows nor a probe UDF), and the call plus its collect runs
    at most 6 Spark jobs (the query read, the artifact's schema
    inference and the search action's stages)."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=4)
    q = _row_queries(spark, emb, [3])
    # warm the session's first-use costs outside the counted call
    index.search_indexed(spark, root, "vecs", q, k=5, n_probe=2).collect()
    with _Jobs(spark) as jobs:
        out = index.search_indexed(spark, root, "vecs", q, k=5, n_probe=2)
        rows = out.collect()
    assert len(rows) == 5
    plan = formatted_plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert jobs.count <= 6, jobs.count


def test_sidecar_loads_run_no_spark_jobs(spark, sf_dir, tmp_path):
    """Centroids and codebooks are read with pyarrow on the driver — no
    Spark job — and equal what a Spark read of the same sidecar gives."""
    import numpy as np

    root = str(tmp_path / "store")
    _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_pq",
                             n_lists=4, m=8, ksub=16, iters=2)
    ipath = index.index_path(root, "vecs", "embedding")
    with _Jobs(spark) as jobs:
        cents = index._load_centroids(ipath)
        books = index._load_codebooks(ipath)
    assert jobs.count == 0
    want = [r["centroid"] for r in spark.read.parquet(
        f"{ipath}/centroids").orderBy("list_id").collect()]
    np.testing.assert_array_equal(cents, np.array(want))
    rows = spark.read.parquet(f"{ipath}/codebooks").collect()
    assert len(books) == 8 and all(b.shape == (16, 8) for b in books)
    for r in rows:
        np.testing.assert_array_equal(books[r["subspace"]][r["code"]],
                                      r["centroid"])


def test_empty_query_frame_returns_no_rows(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    _mk_store(spark, sf_dir, root)
    none = spark.createDataFrame([], "qid long, qvec array<double>")
    for kind in ("ivf", "ivf_bq", "pq"):
        index.build_vector_index(spark, root, "vecs", kind=kind,
                                 n_lists=4, m=8, ksub=16, iters=2)
        out = index.search_indexed(spark, root, "vecs", none, k=5, n_probe=2)
        assert out.collect() == [], kind


def test_duplicate_and_null_qids_match_the_exact_scan(spark, sf_dir,
                                                      tmp_path):
    """Two query rows sharing a qid: each row scores on its own, both
    land in the same top-k window — the exact scan's behaviour, kept at
    full probe.  A NULL qid is a key like any other on both paths."""
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=4)
    two = _row_queries(spark, emb, [1, 2])
    q = (two.withColumn("qid", F.lit(7).cast("long"))
         .unionByName(_row_queries(spark, emb, [4]))
         .unionByName(_row_queries(spark, emb, [5])
                      .withColumn("qid", F.lit(None).cast("long"))))

    def rows(df):
        return sorted((-1 if r[0] is None else r[0], *r[1:])
                      for r in df.select("qid", "vec_id", "sim", "rank")
                      .collect())

    exact = knn.search_collection(spark, root, "vecs", q, k=6,
                                  corpus_id="id", use_index=False)
    full = knn.search_collection(spark, root, "vecs", q, k=6,
                                 corpus_id="id", use_index="always",
                                 n_probe=8)
    assert rows(full) == rows(exact)
    assert {r[0] for r in rows(full)} == {7, 4, -1}


def test_max_queries_raises_before_the_artifact_is_read(spark, sf_dir,
                                                        tmp_path):
    """The query-side cap fails loudly before the search touches the
    artifact: with the data layout moved away, the error is still the
    cap's, not a missing path."""
    import os

    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=4, iters=2)
    ipath = index.index_path(root, "vecs", "embedding")
    os.rename(f"{ipath}/data", f"{ipath}/data_moved")
    with pytest.raises(ValueError, match="max_queries"):
        index.search_indexed(spark, root, "vecs", _queries(emb, 3), k=5,
                             n_probe=2, max_queries=2)


def test_parquet_and_rows_query_frames_agree(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf_sq",
                             n_lists=4, iters=2)
    rows_q = _row_queries(spark, emb, [0, 2, 5])
    rows_q.write.parquet(str(tmp_path / "q.parquet"))
    pq_q = spark.read.parquet(str(tmp_path / "q.parquet"))
    a = index.search_indexed(spark, root, "vecs", rows_q, k=5, n_probe=2)
    b = index.search_indexed(spark, root, "vecs", pq_q, k=5, n_probe=2)
    assert _rows(a) == _rows(b) and len(_rows(a)) == 15


def test_driver_probes_equal_the_probe_udf(spark, sf_dir, tmp_path):
    """At a partial probe, the driver-computed probe lists select exactly
    the rows the public ``ivf_knn``'s probe UDF selects over the same
    artifact data."""
    from bob_vector_db_spark.operators import quantize

    root = str(tmp_path / "store")
    emb = _mk_store(spark, sf_dir, root)
    index.build_vector_index(spark, root, "vecs", kind="ivf",
                             n_lists=8, iters=4)
    ipath = index.index_path(root, "vecs", "embedding")
    q = _queries(emb, 6)
    got = index.search_indexed(spark, root, "vecs", q, k=10, n_probe=2,
                               exclude_self=True)
    data = spark.read.parquet(f"{ipath}/data").drop("gen")
    want = quantize.ivf_knn(q, data, index._load_centroids(ipath), k=10,
                            n_probe=2, corpus_id="id",
                            corpus_vec="embedding", exclude_self=True)
    assert _rows(got) == _rows(want) and len(_rows(got)) == 60
