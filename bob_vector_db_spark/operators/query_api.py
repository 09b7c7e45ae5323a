"""The Query API facade — one import surface for the whole stored-
collection query stack (the name every test, query, and caller has
always used).  Round 12 split the former monolith along its seams:

- :mod:`operators.query_search` — filtered search / count / facet /
  scroll / groups core + the space resolvers;
- :mod:`operators.query_recommend` — recommend / discover / context;
- :mod:`operators.query_tree` — ``query_points``, typed prefetch
  nodes, fusion, two-stage rescore.

Everything re-exports here (including the underscore helpers the
submodules share), so ``from operators.query_api import X`` and
``query_api.X`` keep working for every name that ever lived here.
"""

from __future__ import annotations

from .query_recommend import (  # noqa: F401
    _context_scan,
    _discover_refs,
    _example_vec,
    _fetch_example_vectors,
    _mean_example_query,
    _pair_sims,
    _reco_pair_scores,
    context_points,
    discover_points,
    recommend_groups,
    recommend_points,
)
from .query_search import (  # noqa: F401
    _check_spec_keys,
    _filter_candidate_ids,
    _filtered_indexed_search,
    _final_filter_ids,
    _group_topk,
    _native_cut,
    _filtered_rows,
    _resolve_filter,
    _resolve_lookup,
    _resolve_search_space,
    _resolve_sparse_space,
    _scope_tenant,
    _shape_columns,
    _sparse_query_postings,
    _vec_query_df,
    attach_payload,
    attach_vectors,
    count_points,
    facet_values,
    retrieve_points,
    sample_points,
    scroll_points,
    search_groups,
    search_points,
    search_points_mmr,
    search_sparse_points,
    search_text_points,
    with_group_lookup,
)
from .query_tree import (  # noqa: F401
    _NODE_KINDS,
    _mv_rescore_query,
    _nearest_mmr,
    _resolve_typed_node,
    fuse_prefetch,
    query_batch_points,
    query_points,
    query_points_groups,
    rescore_by_nearest,
)
