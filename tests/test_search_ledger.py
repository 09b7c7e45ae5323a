"""Search-layer job ledger: the Spark jobs each vector-search route submits.

Each route runs on one tiny fixture under its own job group; the jobs are
counted through ``statusTracker`` (the way ``perfbench/pbench/layers.py``
counts them) and compared with the committed table below.  Job counts are
exact per plan shape, so a refactor that keeps the plans keeps the table,
and a rise fails here before it shows up as benchmark noise.  A change that
lowers a count updates the table in the same commit.
"""

from __future__ import annotations

import builtins
import os

import pytest
from bob_vector_db_spark.operators import index, knn, strict, upsert
from bob_vector_db_spark.operators.filters import (
    Filter,
    MatchAny,
    filter_match_ids,
)
from bob_vector_db_spark.operators.payload_index import build_payload_index
from bob_vector_db_spark.operators.query_api import (
    count_points,
    query_points,
    search_points,
)

# route -> Spark jobs for the call plus one collect of its result (when
# the call returns a frame)
LEDGER = {
    "ann_ivf": 6,
    "exact_dense": 4,
    "exact_multivector": 4,
    "filtered_payload_exact": 4,
    "filtered_payload_masked": 4,
    "filtered_payload_strict": 4,
    "filtered_composed": 8,
    "count_keyword": 0,
    "check_filter": 0,
    "filter_match_ids_fetch": 5,
    "query_points_by_id": 11,
}

FLT = Filter(must=[MatchAny("category", ["cat1", "cat3"])])


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ledger") / "store")
    dense = spark.createDataFrame(
        [(i, f"cat{i % 5}", [float((i * 3 + j) % 7) + 0.5 for j in range(6)])
         for i in range(80)],
        "id long, category string, embedding array<double>")
    upsert.create_collection(
        spark, root, "d", df=dense, id_col="id", n_buckets=4,
        vector_config={"embedding": {"size": 6, "distance": "cosine"}})
    build_payload_index(spark, root, "d", "category", n_val_buckets=4)
    index.build_vector_index(spark, root, "d", kind="ivf", n_lists=4,
                             iters=3)
    # "dm": the same points with a payload index that has masks — one
    # upsert moves ids between categories, and the refresh masks their
    # old postings
    upsert.create_collection(
        spark, root, "dm", df=dense, id_col="id", n_buckets=4,
        vector_config={"embedding": {"size": 6, "distance": "cosine"}})
    build_payload_index(spark, root, "dm", "category", n_val_buckets=4)
    upsert.upsert(spark, root, "dm", spark.createDataFrame(
        [(1, "cat3", [1.0] * 6), (3, "cat0", [0.5] * 6),
         (200, "cat1", [2.0] * 6)],
        "id long, category string, embedding array<double>"))
    index.refresh_all_indexes(spark, root, "dm")
    mv = spark.createDataFrame(
        [(i, [[float((i + j * 3 + d) % 5) for d in range(4)]
              for j in range(3)]) for i in range(40)],
        "id long, colbert array<array<double>>")
    upsert.create_collection(
        spark, root, "m", df=mv, id_col="id", n_buckets=4,
        vector_config={"colbert": {"size": 4, "distance": "dot",
                                   "multivector": "max_sim"}})
    return root


def _jobs(spark, group: str, call) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
        if out is not None and hasattr(out, "collect"):
            out.collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_routes_job_ledger(spark, store):
    root = store
    q = spark.createDataFrame([(0, [1.0, 2.0, 3.0, 1.0, 0.5, 2.0])],
                              "qid long, qvec array<double>")
    mq = spark.createDataFrame(
        [(0, [[1.0, 0.0, 2.0, 1.0], [0.0, 1.0, 1.0, 3.0]])],
        "qid long, qvecs array<array<double>>")
    flt = FLT
    routes = {
        "ann_ivf": lambda: knn.search_collection(
            spark, root, "d", q, k=5, use_index="always", n_probe=2),
        "exact_dense": lambda: knn.search_collection(
            spark, root, "d", q, k=5, use_index=False),
        "exact_multivector": lambda: knn.search_collection(
            spark, root, "m", mq, k=5, query_vec="qvecs"),
        "filtered_payload_exact": lambda: search_points(
            spark, root, "d", q, flt=flt, k=5),
        "filtered_payload_masked": lambda: search_points(
            spark, root, "dm", q, flt=flt, k=5),
        "filtered_payload_strict": lambda: search_points(
            spark, root, "d", q, flt=flt, k=5, strict=True),
        "filtered_composed": lambda: search_points(
            spark, root, "d", q, flt=flt, k=5, use_index="always",
            n_probe=2),
        "count_keyword": lambda: count_points(spark, root, "d", flt=flt),
        "check_filter": lambda: strict.check_filter(
            spark, root, "d", flt, strict.StrictMode()),
        "filter_match_ids_fetch": lambda: upsert.read_rows_for_ids(
            spark, root, "d", filter_match_ids(spark, root, "d", flt)[0]),
        "query_points_by_id": lambda: query_points(
            spark, root, "d", query=3, k=5),
    }
    got = {name: _jobs(spark, f"ledger:{name}", call)
           for name, call in routes.items()}
    assert got == LEDGER


def _sidecar_opens(call) -> dict:
    """{collection name/sidecar file: opens} while ``call()`` plans."""
    opened: dict = {}
    real = builtins.open

    def counting(path, *args, **kwargs):
        name = os.path.basename(str(path))
        if name in (upsert.META_FILE, index.INDEX_META_FILE):
            key = (os.path.basename(os.path.dirname(str(path))) + "/"
                   + name)
            opened[key] = opened.get(key, 0) + 1
        return real(path, *args, **kwargs)

    builtins.open = counting
    try:
        call()
    finally:
        builtins.open = real
    return opened


def test_search_routes_open_each_sidecar_once(spark, store):
    """A search reads each JSON sidecar it needs once: the collection
    meta, the vector index meta (read by the route) and the payload
    index meta (read by the filter resolution)."""
    root = store
    q = spark.createDataFrame([(0, [1.0, 2.0, 3.0, 1.0, 0.5, 2.0])],
                              "qid long, qvec array<double>")
    ann = _sidecar_opens(lambda: knn.search_collection(
        spark, root, "d", q, k=5, use_index="always", n_probe=2))
    assert ann == {"collection=d/_collection_meta.json": 1,
                   "embedding/meta.json": 1}
    masked = _sidecar_opens(lambda: search_points(
        spark, root, "dm", q, flt=FLT, k=5))
    assert masked == {"collection=dm/_collection_meta.json": 1,
                      "category__payload/meta.json": 1}
    composed = _sidecar_opens(lambda: search_points(
        spark, root, "d", q, flt=FLT, k=5, use_index="always", n_probe=2))
    assert composed == {"collection=d/_collection_meta.json": 1,
                        "embedding/meta.json": 1,
                        "category__payload/meta.json": 1}
