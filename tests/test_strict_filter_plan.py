"""The strict-mode filter check (``strict.check_filter``) as a table, with
no Spark session: the collection meta and payload index meta sidecars are
written by hand, so each row checks that the plan step alone accepts a
filter or names why it refuses it."""

from __future__ import annotations

import json
import os

import pytest

from bob_vector_db_spark.operators import index, upsert
from bob_vector_db_spark.operators.filters import (
    Filter,
    GeoBoundingBox,
    MatchContains,
    MatchValue,
    Range,
)
from bob_vector_db_spark.operators.strict import StrictMode, check_filter

VERSION = 3
KEYWORD = {"index_type": "keyword", "built_version": VERSION,
           "n_val_buckets": 4, "column_type": "string"}
MISSING = "Missing payload index on ['k']"
UNUSABLE = "Index present but unusable for ['k']"

# name -> (payload index meta of column "k" | None, filter, error | None)
CASES = {
    "missing": (None, Filter(must=[MatchValue("k", "a")]), MISSING),
    "stale": ({**KEYWORD, "built_version": VERSION - 1},
              Filter(must=[MatchValue("k", "a")]), UNUSABLE),
    "wrong_index_type": ({**KEYWORD, "index_type": "nested"},
                         Filter(must=[MatchValue("k", "a")]), UNUSABLE),
    "array_index_scalar_leaf": ({**KEYWORD, "array": True},
                                Filter(must=[MatchValue("k", "a")]),
                                UNUSABLE),
    "scalar_index_contains_leaf": (KEYWORD,
                                   Filter(must=[MatchContains("k", "a")]),
                                   UNUSABLE),
    "range_leaf_keyword_index": (KEYWORD, Filter(must=[Range("k", gte=1)]),
                                 UNUSABLE),
    "near_global_geo_box": (
        {"index_type": "geo", "built_version": VERSION, "cell_deg": 1.0,
         "lon_column": "lon", "n_val_buckets": 4},
        Filter(must=[GeoBoundingBox("k", "lon", 80.0, -170.0, -80.0,
                                    170.0)]),
        UNUSABLE),
    "usable": (KEYWORD, Filter(must=[MatchValue("k", "a")]), None),
    "usable_geo_box": (
        {"index_type": "geo", "built_version": VERSION, "cell_deg": 1.0,
         "lon_column": "lon", "n_val_buckets": 4},
        Filter(must=[GeoBoundingBox("k", "lon", 10.0, 0.0, 0.0, 10.0)]),
        None),
}


def _store(tmp_path, imeta: dict | None) -> str:
    root = str(tmp_path / "store")
    path = upsert.collection_path(root, "c")
    os.makedirs(path)
    with open(os.path.join(path, upsert.META_FILE), "w") as fh:
        json.dump({"id_col": "id", "version": VERSION}, fh)
    if imeta is not None:
        ipath = index.index_path(root, "c", "k__payload")
        os.makedirs(ipath)
        with open(os.path.join(ipath, index.INDEX_META_FILE), "w") as fh:
            json.dump({"kind": "payload", "column": "k", **imeta}, fh)
    return root


@pytest.mark.parametrize("name", sorted(CASES))
def test_check_filter_reads_sidecars_only(tmp_path, name):
    imeta, flt, error = CASES[name]
    root = _store(tmp_path, imeta)
    # no Spark session: the check must not need one
    if error is None:
        check_filter(None, root, "c", flt, StrictMode())
    else:
        with pytest.raises(ValueError, match="strict mode") as e:
            check_filter(None, root, "c", flt, StrictMode())
        assert error in str(e.value)
