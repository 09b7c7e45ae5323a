"""The index-or-scan decision of every vector search (``knn.resolve_route``)
as a table, with no Spark session: the collection meta and index meta
sidecars are written by hand, so each row checks which index a search
picks (or the exact scan, None) or the error it raises."""

from __future__ import annotations

import json
import os
import re

import pytest

from bob_vector_db_spark.operators import index, upsert
from bob_vector_db_spark.operators.knn import resolve_route

VERSION = 3
SPACES = {
    "dense": {"size": 4, "distance": "cosine"},
    "mv": {"size": 4, "distance": "dot", "multivector": "max_sim"},
}
# index state -> the sidecar written for it, per space (None = no index)
INDEXES = {
    "absent": {"dense": None, "mv": None},
    "fresh": {"dense": ("ivf_pq", "cosine", VERSION),
              "mv": ("ivf_mv", "dot", VERSION)},
    "stale": {"dense": ("ivf_pq", "cosine", VERSION - 1),
              "mv": ("ivf_mv", "dot", VERSION - 1)},
    "wrong_kind": {"dense": None, "mv": ("ivf", "dot", VERSION)},
    "wrong_metric": {"dense": ("ivf_pq", "dot", VERSION),
                     "mv": ("ivf_mv", "cosine", VERSION)},
}


def _store(tmp_path, space: str, state: str, tenant: str | None = None):
    root = str(tmp_path / "store")
    path = upsert.collection_path(root, "c")
    os.makedirs(path)
    with open(os.path.join(path, upsert.META_FILE), "w") as fh:
        json.dump({"id_col": "id", "version": VERSION,
                   "vectors": {"v": SPACES[space]}}, fh)
    spec = INDEXES[state][space]
    if spec is not None:
        kind, metric, built = spec
        ipath = index.index_path(root, "c", "v", tenant)
        os.makedirs(ipath)
        with open(os.path.join(ipath, index.INDEX_META_FILE), "w") as fh:
            json.dump({"kind": kind, "metric": metric, "id_col": "id",
                       "built_version": built}, fh)
    return root


# (space, index state, use_index, extra kwargs) -> picked kind | None, or
# the substring of the ValueError the route raises
CASES = [
    ("dense", "absent", "auto", {}, None),
    ("dense", "absent", "always", {}, "is absent; build_vector_index or"),
    ("dense", "absent", True, {}, "is absent"),
    ("dense", "absent", False, {}, None),
    ("dense", "fresh", "auto", {}, "ivf_pq"),
    ("dense", "fresh", "always", {}, "ivf_pq"),
    ("dense", "fresh", True, {}, "ivf_pq"),
    ("dense", "fresh", False, {}, None),
    ("dense", "stale", "auto", {}, None),
    ("dense", "stale", "always", {}, "is stale"),
    ("dense", "stale", False, {}, None),
    ("dense", "wrong_metric", "auto", {}, None),
    ("dense", "wrong_metric", "always", {}, "built for metric 'dot'"),
    ("dense", "fresh", "auto", {"metric": "dot"}, None),
    ("dense", "fresh", "always", {"metric": "dot"},
     "built for metric 'cosine'"),
    ("dense", "wrong_metric", "auto", {"metric": "ip"}, "ivf_pq"),
    ("mv", "absent", "auto", {}, None),
    ("mv", "absent", "always", {},
     "multivector index for 'c'/'v' is absent; "
     "build_vector_index(kind='ivf_mv')"),
    ("mv", "absent", False, {}, None),
    ("mv", "fresh", "auto", {}, "ivf_mv"),
    ("mv", "fresh", True, {}, "ivf_mv"),
    ("mv", "fresh", False, {}, None),
    ("mv", "stale", "auto", {}, None),
    ("mv", "stale", "always", {}, "is stale; build_vector_index(kind="),
    ("mv", "wrong_kind", "auto", {}, None),
    ("mv", "wrong_kind", "always", {}, "kind 'ivf' (need one of"),
    ("mv", "wrong_metric", "auto", {}, None),
    ("mv", "wrong_metric", "always", {}, "built for metric 'cosine'"),
    # the quantization params describe the artifact: they force 'always'
    ("dense", "fresh", "auto", {"rescore": False}, "ivf_pq"),
    ("dense", "absent", "auto", {"rescore": False}, "is absent"),
    ("dense", "stale", "auto", {"oversampling": 2.0}, "is stale"),
    ("dense", "fresh", "auto", {"oversampling": 2.0}, "ivf_pq"),
    ("dense", "fresh", False, {"rescore": False},
     "can't combine with use_index=False"),
    ("dense", "fresh", False, {"oversampling": 2.0},
     "can't combine with use_index=False"),
    # an unknown use_index never silently means 'auto' or the scan
    ("dense", "fresh", "alwyas", {}, "got 'alwyas'"),
    ("dense", "absent", None, {}, "got None"),
]


@pytest.mark.parametrize("space,state,use_index,kw,want", CASES)
def test_resolve_route_table(tmp_path, space, state, use_index, kw, want):
    root = _store(tmp_path, space, state)
    if want not in (None, "ivf_pq", "ivf_mv"):  # an error substring
        with pytest.raises(ValueError, match=re.escape(want)):
            resolve_route(root, "c", None, use_index=use_index, **kw)
        return
    route = resolve_route(root, "c", None, use_index=use_index, **kw)
    assert route.vector_name == "v"
    assert route.cfg == SPACES[space]
    assert (None if route.imeta is None else route.imeta["kind"]) == want
    assert route.always == (
        use_index in (True, "always") or "rescore" in kw
        or "oversampling" in kw)


def test_resolve_route_tenant_scopes_the_index(tmp_path):
    """Only the tenant's own artifact answers a scoped search, and the
    'always' refusal names the tenant and the per-tenant build."""
    root = _store(tmp_path, "dense", "fresh")
    assert resolve_route(root, "c", "v", tenant="t1").imeta is None
    with pytest.raises(ValueError, match=re.escape(
            "(tenant 't1') is absent; build_vector_index(tenant=...)")):
        resolve_route(root, "c", "v", tenant="t1", use_index="always")
    scoped = _store(tmp_path / "scoped", "dense", "fresh", tenant="t1")
    assert resolve_route(scoped, "c", "v", tenant="t1").imeta["kind"] \
        == "ivf_pq"
    assert resolve_route(scoped, "c", "v").imeta is None


def test_resolve_route_names_the_space(tmp_path):
    root = _store(tmp_path, "dense", "fresh")
    with open(os.path.join(upsert.collection_path(root, "c"),
                           upsert.META_FILE), "w") as fh:
        json.dump({"version": VERSION, "vectors": {
            "a": SPACES["dense"], "b": SPACES["dense"],
            "s": {"kind": "sparse"}}}, fh)
    with pytest.raises(ValueError, match="pass vector_name"):
        resolve_route(root, "c", None)
    with pytest.raises(ValueError, match="SPARSE"):
        resolve_route(root, "c", "s")
    assert resolve_route(root, "c", "a").metric == "cosine"
