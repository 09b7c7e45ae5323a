"""Strict mode (round 13, VERDICT r12 #3) — Qdrant ``StrictModeConfig``.

Qdrant's strict mode lets an operator cap what a single request may cost
the cluster: refuse filters that would scan instead of probing an index,
cap page/batch sizes, refuse exact (full) search over spaces that were
deliberately quantized for cheap IO.  At 100 TB these refusals are the
difference between a mistyped request and a cluster-wide full scan — the
whole point of declaring indexes and quantized artifacts is that queries
USE them.

``strict=True`` on the search entry points (``search_points`` /
``query_points`` / ``scroll_points`` / ``query_batch_points``) applies
the default :class:`StrictMode`; pass an instance to tune the caps.
Checks are DRIVER-SIDE metadata reads only (collection / index sidecars)
— a refusal costs no Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass

from .index import KINDS

# index kinds whose artifact exists to make search IO cheap (the ones
# with a quantizer); strict mode refuses to bypass them with a
# full-probe / exact scan
QUANTIZED_KINDS = tuple(k for k, s in KINDS.items() if s.quant)


@dataclass(frozen=True)
class StrictMode:
    """The enforced caps (Qdrant ``StrictModeConfig`` shape).

    unindexed_filtering   False (default) refuses a filter whose driving
                          leaves can't ALL resolve through fresh payload
                          indexes — the error names every missing index.
    max_query_limit       cap on k (+offset overfetch) per request.
    max_offset            cap on offset paging depth (deep OFFSET pages
                          re-rank everything before them; use scroll).
    max_batch             cap on query_batch_points request count.
    search_allow_exact    False (default) refuses a FULL probe
                          (n_probe=None) or an exact scan
                          (use_index=False) over a space whose fresh
                          artifact is quantized — the declared trade was
                          cheap IO, a full read defeats it.
    """
    unindexed_filtering: bool = False
    max_query_limit: int | None = 1_000
    max_offset: int | None = 10_000
    max_batch: int | None = 64
    search_allow_exact: bool = False


def resolve_strict(strict) -> StrictMode | None:
    """None/False → no checks; True → defaults; an instance → itself."""
    if strict is None or strict is False:
        return None
    if strict is True:
        return StrictMode()
    if isinstance(strict, StrictMode):
        return strict
    raise ValueError(
        f"strict= takes True/False or a StrictMode instance, "
        f"got {type(strict).__name__}")


def validate_strict_config(cfg: dict) -> dict:
    """Validate a JSON-able strict-mode config dict against the
    :class:`StrictMode` fields (the shape persisted in the collection
    meta sidecar — Qdrant's ``strict_mode_config``)."""
    bad = sorted(set(cfg) - set(StrictMode.__dataclass_fields__))
    if bad:
        raise ValueError(
            f"unknown strict_mode keys {bad}; valid: "
            f"{sorted(StrictMode.__dataclass_fields__)}")
    StrictMode(**cfg)  # type-check through the constructor
    return dict(cfg)


def resolve_strict_for(root: str, collection: str,
                       strict) -> StrictMode | None:
    """Per-request ``strict`` composed with the COLLECTION-DECLARED
    config (Qdrant persists ``strict_mode_config`` on the collection;
    ``set_strict_mode`` / ``create_collection(strict_mode=...)`` write
    it here).  Explicit False disables even a declared config; explicit
    True / an instance overrides it; None (the default) applies the
    declared config when one exists."""
    meta = None
    if strict is None:
        from .upsert import collection_meta  # noqa: PLC0415

        meta = collection_meta(root, collection)
    return _strict_of(meta, strict)


def _strict_of(meta: dict | None, strict) -> StrictMode | None:
    """:func:`resolve_strict_for` over a collection meta already read."""
    if strict is False:
        return None
    if strict is None:
        cfg = (meta or {}).get("strict_mode")
        return StrictMode(**cfg) if cfg else None
    return resolve_strict(strict)


def check_entry(spark, root: str, collection: str, strict, *,
                flt=None, limit: int | None = None, offset: int = 0,
                batch: int | None = None) -> StrictMode | None:
    """The one-call entry-point gate (round 14, VERDICT r13 #5): resolve
    the per-request ``strict`` against the collection-declared config,
    then run the applicable caps — ``limit`` against max_query_limit /
    max_offset, ``batch`` against max_batch, and the driving-filter
    index check.  Returns the resolved :class:`StrictMode` (or None) so
    callers with extra checks (``check_probe``) can chain.  All checks
    stay driver-side metadata reads — a refusal costs no job."""
    sm = resolve_strict_for(root, collection, strict)
    if sm is None:
        return None
    if limit is not None:
        check_limits(sm, limit, offset)
    if batch is not None:
        check_batch(sm, batch)
    check_filter(spark, root, collection, flt, sm)
    return sm


def check_limits(sm: StrictMode, k: int, offset: int = 0) -> None:
    if sm.max_query_limit is not None and int(k) > sm.max_query_limit:
        raise ValueError(
            f"strict mode: limit {k} exceeds max_query_limit "
            f"{sm.max_query_limit} — page with scroll_points, or raise "
            f"StrictMode(max_query_limit=...)")
    if sm.max_offset is not None and int(offset) > sm.max_offset:
        raise ValueError(
            f"strict mode: offset {offset} exceeds max_offset "
            f"{sm.max_offset} — deep OFFSET pages re-rank everything "
            f"before them; use scroll_points' keyset cursor")


def check_batch(sm: StrictMode, n_requests: int) -> None:
    if sm.max_batch is not None and int(n_requests) > sm.max_batch:
        raise ValueError(
            f"strict mode: batch of {n_requests} requests exceeds "
            f"max_batch {sm.max_batch} — split the batch, or raise "
            f"StrictMode(max_batch=...)")


def check_filter(spark, root: str, collection: str, flt,
                 sm: StrictMode) -> None:
    """Refuse a filter whose driving (top-level must) leaves can't all
    resolve through fresh payload indexes — naming each missing index so
    the fix is one build_payload_index call away.  Mirrors Qdrant's
    ``unindexed_filtering_retrieve=false``: without an index the filter
    is a full collection scan."""
    if flt is None or sm.unindexed_filtering:
        return
    from .filters import _plan, as_filter  # noqa: PLC0415
    from .payload_index import payload_index_meta  # noqa: PLC0415

    f = as_filter(flt)
    leaves = list(f.indexable_must_leaves())
    if not leaves:
        raise ValueError(
            "strict mode: the filter has no indexable top-level must "
            "leaf (should/must_not/negation shapes scan) — add an "
            "indexed must condition, or relax "
            "StrictMode(unindexed_filtering=True)")
    # the plan step of the search's own resolution decides usability,
    # from the sidecars alone; when it declines, name each leaf whose
    # index is absent vs unusable
    if _plan(root, collection, f).probes:
        return
    missing, unusable = [], []
    for key, _payload, kind in leaves:
        if kind == "hasid":
            continue
        if payload_index_meta(root, collection, key) is None:
            missing.append(key)
        else:
            unusable.append(key)
    raise ValueError(
        "strict mode: no driving leaf of the filter resolves through a "
        "fresh payload index — the search would scan the collection. "
        + (f"Missing payload index on {sorted(set(missing))!r} "
           f"(build_payload_index each). " if missing else "")
        + (f"Index present but unusable for {sorted(set(unusable))!r} "
           f"(stale, or the wrong index_type for the leaf — rebuild). "
           if unusable else "")
        + "Or relax StrictMode(unindexed_filtering=True).")


def check_probe(root: str, collection: str, vector_name: str | None,
                tenant: str | None, sm: StrictMode,
                n_probe: int | None, use_index) -> None:
    """Refuse a full-probe / exact-scan request over a space whose fresh
    artifact is QUANTIZED: the collection declared the cheap-IO trade,
    and reading every list (or bypassing the artifact entirely) defeats
    it at exactly the scale where it matters.  Override per-config with
    ``search_allow_exact=True`` (Qdrant's knob of the same name)."""
    if sm.search_allow_exact:
        return
    from .index import vector_index_meta  # noqa: PLC0415
    from .upsert import collection_meta, collection_version  # noqa: PLC0415

    meta = collection_meta(root, collection) or {}
    vectors = meta.get("vectors", {})
    if vector_name is None:
        if len(vectors) != 1:
            return  # the search itself raises the ambiguity error
        vector_name = next(iter(vectors))
    imeta = vector_index_meta(root, collection, vector_name, tenant)
    if imeta is None or imeta.get("kind") not in QUANTIZED_KINDS \
            or int(imeta["built_version"]) \
            != collection_version(root, collection):
        return
    if use_index is False:
        raise ValueError(
            f"strict mode: {collection!r}/{vector_name!r} declares a "
            f"quantized artifact (kind {imeta['kind']!r}) but "
            f"use_index=False requests the exact full scan — search "
            f"through the artifact, or allow it with "
            f"StrictMode(search_allow_exact=True)")
    if n_probe is None and KINDS[imeta["kind"]].lists:
        # kind='pq' has no list layout — its codes scan IS the cheap
        # path, so only the IVF-list kinds carry the full-probe refusal
        raise ValueError(
            f"strict mode: full probe (n_probe=None) over the quantized "
            f"artifact {collection!r}/{vector_name!r} (kind "
            f"{imeta['kind']!r}) reads every inverted list — pass "
            f"n_probe < n_lists ({imeta.get('n_lists')}), or allow it "
            f"with StrictMode(search_allow_exact=True)")
