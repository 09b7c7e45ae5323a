"""Collection store: idempotent create + upsert-by-id + delete + compaction
(SURVEY.md §2.1 S5/S6).

The reference's sink is Qdrant ``upload_points`` — re-sending an id replaces
the point (qdrant_embedder.py:58-62,130-143), and collections are created
lazily iff absent (qdrant_embedder.py:92-103).  The delete/compact/catalog
half of the lifecycle mirrors the client API those upserts imply (Qdrant
point-delete / Chroma ``get_or_create_collection`` at chroma_embedder.py:30-32
implies enumerate/drop).  On plain parquet (no Delta dependency) the
semantics are:

    create  — write iff path absent (idempotent DDL)
    upsert  — union(new, touched-buckets-of-existing) → last-write-wins by
              (id) on a version ordering → rewrite ONLY the touched buckets
    delete  — anti-join rewrite of ONLY the buckets holding doomed ids
              (by-id: ids hash straight to their buckets; by-filter: one
              pruned scan finds the buckets with matching rows)
    compact — rewrite each bucket's accumulated micro-batch files down to
              ~1 file per bucket, same staged swap, readback-identical

Scale design: each collection is hash-partitioned into ``id_bucket=N``
directories (``pmod(xxhash64(id), n_buckets)``).  An upsert of a micro-batch
touches only the buckets its ids hash into, so the read side prunes to those
partitions (Catalyst partition pruning on the hive-style layout) and the
write side rewrites only those directories — a one-row upsert into a 100 TB
collection moves one bucket, not the table.  Bucket swap-in is a pair of
directory renames (old→trash, staged→live), each atomic on POSIX but not
atomic as a pair: a reader racing the swap can observe a bucket briefly
absent, and a crash between the renames leaves the bucket in its ``__old``
trash — :func:`recover_collection` restores it, and re-running the same
batch converges (the merge is idempotent).  Every mutation publishes a
delta (its touched ids), swaps its data, then advances the ``version``
counter — in that order, so persisted index artifacts can detect
staleness (see :mod:`.index`) across ANY crash point (the delta-log
contract above ``DELTA_DIR``).
Half-written files are never visible in a live bucket.  With Delta available
this whole module becomes ``MERGE INTO``.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import spark_bucket
from .filters import _lit

BUCKET_COL = "id_bucket"
DEFAULT_N_BUCKETS = 16  # local-mode default; size to ~#cores*4 fleet-wide

# Underscore prefix: Spark/Hadoop readers skip files starting with "_", so
# the sidecar never pollutes spark.read.parquet(path).
META_FILE = "_collection_meta.json"

# Mutation delta log: every mutation publishes its touched ids under
# _delta/v=<version>/ as (version, op, id) parquet — the incremental-index
# feed (operators.index.refresh_vector_index reads "what changed since
# built_version" from here instead of diffing the whole corpus).  One
# directory per version, written to a __pending sibling and PUBLISHED with
# a single atomic rename BEFORE the data swap and the meta version bump,
# so the log can never silently lose a committed mutation: a version
# counter that moved without its delta dir is detectable (read_delta
# returns None → callers rebuild), and a crash that published the delta
# but never swapped just makes refresh re-absorb the ids' CURRENT rows —
# convergent, not corrupting.  collection_version() treats the highest
# published delta as authoritative when it exceeds the meta counter
# (adopting a crash-interrupted mutation's version), so an index can never
# report fresh across an unabsorbed delta.  The underscore prefix keeps
# the log out of collection scans; compaction prunes version dirs every
# live index has absorbed (one rmtree per version — no rewrite).
DELTA_DIR = "_delta"


ALIASES_FILE = "_aliases.json"  # store-root sidecar: alias -> collection

# Directory-name suffixes the store uses for swap trash and staging
# scratch; collection (and alias) names may not end with them — 'c__old'
# is literally where collection 'c' parks its trash mid-swap.
RESERVED_SUFFIXES = ("__old", "__staging", "__restore_staging", "__pending")


def _read_aliases(root: str) -> dict[str, str]:
    p = os.path.join(root, ALIASES_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _write_aliases(root: str, aliases: dict[str, str]) -> None:
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, ALIASES_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(aliases, fh, indent=2, sort_keys=True)
    os.replace(tmp, p)  # atomic repoint — readers see old map or new map


def resolve_collection(root: str, name: str) -> str:
    """Alias → target collection (one hop, no chains); a non-alias name
    resolves to itself."""
    return _read_aliases(root).get(name, name)


def create_alias(root: str, alias: str, collection: str) -> None:
    """Point ``alias`` at ``collection`` (Qdrant update_collection_aliases).
    Re-pointing an existing alias is the zero-downtime reindex switch:
    build the new collection under a fresh name, then atomically swing the
    alias — readers never see a half-reindexed state."""
    if not os.path.isdir(os.path.join(root, f"collection={collection}")):
        raise ValueError(f"collection {collection!r} does not exist")
    if os.path.isdir(os.path.join(root, f"collection={alias}")):
        raise ValueError(
            f"{alias!r} is an existing collection name; aliases and "
            f"collections share a namespace")
    if alias.endswith(RESERVED_SUFFIXES):
        raise ValueError(
            f"alias {alias!r} ends with a reserved suffix "
            f"{RESERVED_SUFFIXES}; pick another name")
    aliases = _read_aliases(root)
    aliases[alias] = collection
    _write_aliases(root, aliases)


def delete_alias(root: str, alias: str) -> bool:
    aliases = _read_aliases(root)
    if alias not in aliases:
        return False
    del aliases[alias]
    _write_aliases(root, aliases)
    return True


def list_aliases(root: str) -> dict[str, str]:
    return dict(_read_aliases(root))


def collection_path(root: str, collection: str) -> str:
    # alias resolution happens HERE, the single choke point every store
    # operation goes through — reads, mutations, indexing and snapshots all
    # transparently follow the alias to its target collection.  The
    # reserved-suffix guard lives here too, so no entry point (including
    # upsert()'s implicit create) can ever address a name that collides
    # with swap trash / staging scratch — internal code reaches those dirs
    # by string concatenation, never through this function.
    name = resolve_collection(root, collection)
    if name.endswith(RESERVED_SUFFIXES):
        raise ValueError(
            f"collection name {name!r} ends with a reserved suffix "
            f"{RESERVED_SUFFIXES} (swap trash / staging scratch); "
            f"pick another name")
    return os.path.join(root, f"collection={name}")


def _with_bucket(df: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)).cast("int"),
    )


# Multitenancy (the Qdrant shard-key / group_id pattern): a collection
# created with ``tenant_col`` partitions ``tenant=<v>/id_bucket=<n>`` — one
# directory level ABOVE the id bucket, so a tenant-scoped search/scroll/
# count prunes to that tenant's subtree and never lists another tenant's
# data.  Tenant values are restricted to a hive-safe, inference-proof
# charset: they must start with a letter or underscore (a leading digit
# would make Spark's partition-value inference read the column back as
# int/double/date and silently change its type) and may contain only
# [A-Za-z0-9_.-]; 'nan'/'infinity' are refused for the same reason.
_TENANT_VALUE_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


def _tenant_col(root: str, collection: str) -> str | None:
    meta = collection_meta(root, collection)
    return meta.get("tenant_col") if meta else None


def _part_cols(tenant_col: str | None) -> list[str]:
    """The store's physical partition columns, outermost first."""
    return ([tenant_col] if tenant_col else []) + [BUCKET_COL]


def _validate_tenant_values(df: DataFrame, tenant_col: str) -> None:
    """Refuse tenant values the hive layout can't round-trip (one pruned
    aggregate over the batch's distinct tenants — bounded by tenant count,
    not rows)."""
    if tenant_col not in df.columns:
        raise ValueError(
            f"rows are missing the tenant column {tenant_col!r} this "
            f"collection partitions by")
    bad = (df.select(F.col(tenant_col).cast("string").alias("_t")).distinct()
           .filter(F.col("_t").isNull()
                   | ~F.col("_t").rlike(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")
                   | F.lower(F.col("_t")).isin("nan", "infinity"))
           .limit(3).collect())
    if bad:
        raise ValueError(
            f"tenant values {[r[0] for r in bad]} are not storable: a "
            f"tenant key must match {_TENANT_VALUE_RE.pattern!r} (and not "
            f"be 'nan'/'infinity') so the hive partition layout round-trips "
            f"it as a string")


# A mutation batch spanning more partitions than this should load through
# create_collection / a rebuild, not the per-partition swap: the touched
# set is collected to the driver and every touched directory is renamed
# individually — fine for any incremental batch, wrong for a full-corpus
# load into a 100k-tenant collection.
MAX_TOUCHED_PARTS = 100_000

# Past this many (tenant, bucket) pairs the exact per-pair OR disjunction
# stops being a reasonable Catalyst predicate; a superset
# ``tenant IN (...) AND id_bucket IN (...)`` filter prunes almost as well
# (it may read a few extra partitions whose rows are staged and then
# discarded — the swap still renames only the exact touched set).
_EXACT_PARTS_FILTER_MAX = 64


def _touched_parts(df: DataFrame, part_cols: list[str]) -> list[tuple]:
    """Distinct partition-value tuples present in ``df`` — the touched set.
    Driver-bounded by (batch tenants × n_buckets), never by row count; a
    batch past ``MAX_TOUCHED_PARTS`` fails loudly with guidance instead of
    grinding through sub-linear driver work."""
    parts = sorted(
        tuple(r) for r in
        df.select(*[F.col(c).cast("string") if c != BUCKET_COL else F.col(c)
                    for c in part_cols]).distinct()
        .limit(MAX_TOUCHED_PARTS + 1).collect())
    if len(parts) > MAX_TOUCHED_PARTS:
        raise ValueError(
            f"mutation touches more than {MAX_TOUCHED_PARTS} partitions — "
            f"this is a bulk load, not an incremental batch; write it with "
            f"create_collection(df=...) (a direct partitioned write) or "
            f"split the batch by tenant")
    return parts


def _parts_filter(part_cols: list[str], parts: list[tuple]):
    """A pruning predicate selecting ``parts``: plain ``IN`` for the
    bucket-only layout; for the tenant layout an exact per-tenant
    ``(tenant = t AND id_bucket IN (...))`` disjunction up to
    ``_EXACT_PARTS_FILTER_MAX`` pairs, else the superset
    ``tenant IN (...) AND id_bucket IN (...)`` (still partition-pruned;
    callers tolerate extra rows because the swap renames only the exact
    touched set)."""
    if not parts:
        return F.lit(False)
    if len(part_cols) == 1:
        return F.col(part_cols[0]).isin([p[0] for p in parts])
    if len(parts) > _EXACT_PARTS_FILTER_MAX:
        tenants = sorted({t for t, _ in parts})
        buckets = sorted({b for _, b in parts})
        return (F.col(part_cols[0]).cast("string").isin(tenants)
                & F.col(part_cols[1]).isin(buckets))
    by_tenant: dict = {}
    for t, b in parts:
        by_tenant.setdefault(t, []).append(b)
    cond = None
    for t, bs in sorted(by_tenant.items()):
        c = ((F.col(part_cols[0]).cast("string") == t)
             & F.col(part_cols[1]).isin(sorted(bs)))
        cond = c if cond is None else cond | c
    return cond


def _rel_part_dir(part_cols: list[str], part: tuple) -> str:
    """``tenant=acme/id_bucket=3`` — exact because tenant values are
    charset-validated (no hive escaping) and buckets are ints."""
    return os.path.join(*[f"{c}={v}" for c, v in zip(part_cols, part)])


def _store_exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for entry in os.listdir(path):
        if entry.endswith(RESERVED_SUFFIXES):
            continue
        p = os.path.join(path, entry)
        if entry.startswith(f"{BUCKET_COL}=") or entry.endswith(".parquet"):
            return True
        # tenant level: a tenant dir counts only if it holds a bucket dir
        # (a delete can empty a tenant's subtree without removing it)
        if "=" in entry and not entry.startswith("_") and os.path.isdir(p):
            if any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(p)):
                return True
    return False


def create_collection(spark: SparkSession, root: str, collection: str,
                      df: DataFrame | None = None, id_col: str = "id",
                      n_buckets: int = DEFAULT_N_BUCKETS,
                      vector_config: dict[str, dict] | None = None,
                      tenant_col: str | None = None,
                      strict_mode: dict | None = None) -> bool:
    """Idempotent create (S5): returns True if newly created.

    Mirrors the exists-check at qdrant_embedder.py:92 — existing collections
    are left untouched.  ``vector_config`` records the collection's named
    vector spaces like the reference's vectors_config
    (qdrant_embedder.py:95-102), e.g. ``{"text": {"size": 512, "distance":
    "cosine"}}``; it persists in a ``_``-prefixed sidecar Spark readers skip.

    ``tenant_col`` opts the collection into the multitenant layout (the
    Qdrant shard-key / group_id pattern): data partitions
    ``tenant=<v>/id_bucket=<n>``, so tenant-scoped reads prune to one
    tenant's subtree.  The tenant column is a payload column like any
    other — it just ALSO drives the physical layout, which is why its
    values are charset-validated (see ``_TENANT_VALUE_RE``).

    ``strict_mode`` (round 13 — Qdrant ``strict_mode_config``): a dict
    of :class:`operators.strict.StrictMode` fields persisted in the meta
    sidecar; the search entry points apply it as the collection's
    DEFAULT when the caller passes no explicit ``strict=`` (False still
    opts a single request out).  Toggle later with
    :func:`set_strict_mode`.
    """
    if collection in _read_aliases(root):
        raise ValueError(
            f"{collection!r} is an alias (→ "
            f"{resolve_collection(root, collection)!r}); collections and "
            f"aliases share a namespace — create under a fresh name")
    if collection.endswith(RESERVED_SUFFIXES):
        # these suffixes name swap trash / staging scratch: a collection
        # called 'c__old' would collide with collection 'c's trash dir and
        # recovery could destroy or resurrect the wrong tree
        raise ValueError(
            f"collection name {collection!r} ends with a reserved suffix "
            f"{RESERVED_SUFFIXES}; pick another name")
    if tenant_col is not None and tenant_col == id_col:
        raise ValueError("tenant_col and id_col must be different columns")
    path = collection_path(root, collection)
    if os.path.exists(path):
        return False
    if df is not None:
        if tenant_col is not None:
            _validate_tenant_values(df, tenant_col)
            df = df.withColumn(tenant_col, F.col(tenant_col).cast("string"))
        (_with_bucket(df, id_col, n_buckets)
         .write.mode("overwrite")
         .partitionBy(*_part_cols(tenant_col)).parquet(path))
    else:
        os.makedirs(path, exist_ok=True)
    meta = {
        "collection": collection,
        "id_col": id_col,
        "n_buckets": n_buckets,
        "vectors": vector_config or {},
        "version": 0,
    }
    if tenant_col is not None:
        meta["tenant_col"] = tenant_col
    if strict_mode is not None:
        from .strict import validate_strict_config  # noqa: PLC0415

        meta["strict_mode"] = validate_strict_config(strict_mode)
    _write_meta(path, meta)
    return True


def set_strict_mode(root: str, collection: str,
                    strict_mode: dict | None) -> dict:
    """Qdrant ``update_collection(strict_mode_config=...)``: persist (or
    clear, with None) the collection's declared strict-mode config —
    the search entry points pick it up as their default on the next
    request (the sidecar is re-read per call, so no restart).  Returns
    the updated meta."""
    path = collection_path(root, collection)
    meta = collection_meta(root, collection)
    if meta is None:
        raise ValueError(f"collection {collection!r} has no meta sidecar")
    if strict_mode is None:
        meta.pop("strict_mode", None)
    else:
        from .strict import validate_strict_config  # noqa: PLC0415

        meta["strict_mode"] = validate_strict_config(strict_mode)
    _write_meta(path, meta)
    return meta


def collection_meta(root: str, collection: str) -> dict | None:
    """Read the collection's persisted config; None when absent."""
    p = os.path.join(collection_path(root, collection), META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, META_FILE), "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)


def _published_delta_versions(path: str) -> list[int]:
    """Version numbers with a PUBLISHED delta dir (``_delta/v=<n>``);
    ``__pending`` staging dirs from a crashed mutation are not published."""
    p = os.path.join(path, DELTA_DIR)
    if not os.path.isdir(p):
        return []
    out = []
    for entry in os.listdir(p):
        if entry.startswith("v=") and not entry.endswith("__pending"):
            try:
                out.append(int(entry[2:]))
            except ValueError:
                continue
    return sorted(out)


def collection_version(root: str, collection: str) -> int:
    """Monotonic data version: advanced by every mutation (upsert / delete /
    update_columns), NOT by compaction (content-identical rewrite).  Index
    artifacts record the version they were built at, so a search can tell a
    fresh index from a stale one (see :mod:`.index`).

    The version is max(meta counter, highest published delta): a mutation
    publishes its delta BEFORE it bumps the meta, so a crash in between
    leaves the published delta as the version authority — the index can
    never look fresh across a mutation the log already announced."""
    return _version_of(root, collection, collection_meta(root, collection))


def _version_of(root: str, collection: str, meta: dict | None) -> int:
    """:func:`collection_version` from an already-read collection meta —
    for callers that hold the meta and should not open the sidecar
    again."""
    if meta is None:
        return 0
    published = _published_delta_versions(collection_path(root, collection))
    return max(int(meta.get("version", 0)), published[-1] if published else 0)


def _next_version(root: str, collection: str) -> int:
    """The version the in-flight mutation will commit: current + 1, or 0
    for a metaless external store (no counter, no deltas).  Shared by every
    mutation site so the publish→swap→commit contract lives in one spot."""
    if collection_meta(root, collection) is None:
        return 0
    return collection_version(root, collection) + 1


def _set_version(root: str, collection: str, version: int) -> None:
    """Advance the meta counter to ``version`` (idempotent; never moves
    backwards).  Metaless external stores have no counter to advance."""
    path = collection_path(root, collection)
    meta = collection_meta(root, collection)
    if meta is None:
        return
    meta["version"] = max(int(meta.get("version", 0)), int(version))
    _write_meta(path, meta)


def _has_live_index(path: str) -> bool:
    """Does ANY persisted index artifact (vector/BM25/sparse/payload) exist
    under the collection's ``_index/``?  One listdir — the delta log's only
    consumer is index refresh, so a collection with no index has no log
    reader."""
    idx_root = os.path.join(path, "_index")
    if not os.path.isdir(idx_root):
        return False
    return any(os.path.exists(os.path.join(idx_root, name, "meta.json"))
               for name in os.listdir(idx_root))


def _log_delta(path: str, version: int, op: str, ids_df: DataFrame) -> None:
    """PUBLISH this mutation's touched ids as the delta for ``version``:
    write ``_delta/v=<n>__pending`` then one atomic rename to
    ``_delta/v=<n>``.  ``op`` is ``upsert`` (id now carries fresh content —
    also used for partial updates, which MAY have changed indexed columns)
    or ``delete`` (id is gone).  ``version <= 0`` means a metaless external
    store — no version counter, so no deltas either.  Ids stringify for one
    uniform log schema across collections.

    Called BEFORE the data swap and the meta bump (see the module-level
    delta-log contract): a crash after the publish leaves the published
    delta as the version authority, and the refresh that absorbs it
    re-reads the ids' CURRENT rows — convergent whether or not the swap
    happened.  (A crashed delete — published but never swapped — is handled
    at refresh time: run_incremental_refresh verifies delete-classified ids
    are actually absent and reclassifies still-live ids as upserts, so the
    index never masks a row the store still serves.)

    Fast path: with NO index artifact on the collection there is no log
    consumer, so the publish (a Spark write job per mutation) is skipped
    and the version is recorded in ``delta_pruned_to`` instead — byte-for-
    byte the state ``prune_delta_log`` leaves after every index absorbed a
    version.  An index built LATER starts its window at the then-current
    version, never crossing the gap; a refresh whose window somehow does
    cross it sees the pruned marker and rebuilds loudly.  (The crash-
    window version-authority role of the published dir is moot here: that
    authority exists to keep an INDEX from reporting fresh across an
    unabsorbed mutation, and this path runs only when no index exists.)
    """
    if version <= 0:
        return
    if not _has_live_index(path):
        meta_p = os.path.join(path, META_FILE)
        if os.path.exists(meta_p):
            with open(meta_p) as fh:
                meta = json.load(fh)
            meta["delta_pruned_to"] = max(
                int(meta.get("delta_pruned_to", 0)), int(version))
            _write_meta(path, meta)
        return
    final = os.path.join(path, DELTA_DIR, f"v={int(version)}")
    pending = final + "__pending"
    shutil.rmtree(pending, ignore_errors=True)
    (ids_df.select(F.col(ids_df.columns[0]).cast("string").alias("id"))
     .withColumn("version", F.lit(int(version)))
     .withColumn("op", F.lit(op))
     .coalesce(8)
     .write.mode("overwrite").parquet(pending))
    os.rename(pending, final)


def read_delta(spark: SparkSession, root: str, collection: str,
               since_version: int) -> DataFrame | None:
    """Delta rows with ``since_version < version <= collection_version`` —
    exactly the mutations an index built at ``since_version`` has not seen.
    None when the log can't answer: pruned past ``since_version``
    (``delta_pruned_to``), or a version in the window has NO published
    delta dir (a log hole — nothing modern should produce one, but an
    externally-damaged log must force a rebuild, never a silent
    nothing-changed)."""
    meta = collection_meta(root, collection) or {}
    if int(meta.get("delta_pruned_to", 0)) > since_version:
        return None
    path = collection_path(root, collection)
    cur = collection_version(root, collection)
    wanted = list(range(since_version + 1, cur + 1))
    if not wanted:
        # empty window: a well-formed no-op — return an empty frame
        return spark.createDataFrame([], "id string, version int, op string")
    published = set(_published_delta_versions(path))
    missing = [v for v in wanted if v not in published]
    if missing:
        return None  # log hole — the caller must rebuild, loudly
    dirs = [os.path.join(path, DELTA_DIR, f"v={v}") for v in wanted]
    return spark.read.parquet(*dirs)


def prune_delta_log(spark: SparkSession, root: str, collection: str,
                    upto: int) -> None:
    """Drop delta version dirs ``<= upto`` (every live index has absorbed
    them) and record the high-water mark in the meta so a later refresh can
    tell "no deltas" from "deltas discarded".  One rmtree per retired
    version — no rewrite; also sweeps ``__pending`` orphans from crashed
    mutations (never published, never readable)."""
    path = collection_path(root, collection)
    p = os.path.join(path, DELTA_DIR)
    meta = collection_meta(root, collection)
    if meta is None or not os.path.isdir(p):
        return
    for entry in os.listdir(p):
        if entry.endswith("__pending"):
            shutil.rmtree(os.path.join(p, entry), ignore_errors=True)
    if upto <= 0:
        return
    published = _published_delta_versions(path)
    if published:
        # fold any crash-adopted version into the meta counter BEFORE
        # removing the dirs that back it — otherwise collection_version
        # would regress and the next mutation could REUSE a version number,
        # re-opening the silent-stale-index window
        _set_version(root, collection, published[-1])
        meta = collection_meta(root, collection)
    for v in published:
        if v <= upto:
            shutil.rmtree(os.path.join(p, f"v={v}"), ignore_errors=True)
    meta["delta_pruned_to"] = max(int(meta.get("delta_pruned_to", 0)), upto)
    _write_meta(path, meta)


def atomic_replace_dir(staging: str, path: str) -> None:
    """Swap a fully-built staging tree in over ``path``: old→trash rename,
    staging→live rename, trash cleanup — a reader sees the old artifact or
    the new one, never a half-written tree.  Shared by the vector index,
    the BM25 text index, and the delta log."""
    old = path + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def read_collection(spark: SparkSession, root: str, collection: str,
                    tenant: str | None = None) -> DataFrame:
    """The collection as a DataFrame (bucket column dropped; the tenant
    column, when the collection has one, reads back as a payload column).
    ``tenant`` scopes the read to one tenant's partition subtree — a
    STATIC equality on the outermost partition column, so the scan lists
    and opens only that tenant's directories (the multitenant pruning
    contract, plan-asserted in tests/test_tenant.py)."""
    df = spark.read.parquet(collection_path(root, collection)).drop(BUCKET_COL)
    if tenant is not None:
        tcol = _tenant_col(root, collection)
        if tcol is None:
            raise ValueError(
                f"collection {collection!r} was not created with a "
                f"tenant_col; tenant-scoped reads need the multitenant "
                f"layout (create_collection(..., tenant_col=...))")
        df = df.filter(F.col(tcol) == str(tenant))
    return df


def read_rows_for_ids(spark: SparkSession, root: str, collection: str,
                      ids_df: DataFrame,
                      tenant: str | None = None,
                      id_filter: bool = True) -> DataFrame | None:
    """Collection rows whose id appears in ``ids_df`` (first column), read
    through a STATIC ``id_bucket IN (...)`` partition filter computed from
    the ids' hashes — the incremental-refresh fetch path: O(|ids| + their
    buckets), never a full-collection scan.  The bucket set comes from a
    Spark job over ``ids_df`` (a distinct collect of at most n_buckets
    rows) before the caller's own action runs; ids already on the driver
    fetch through :func:`read_rows_for_id_list` instead, which needs no
    job (:meth:`Candidates.fetch` picks between the two).  None when
    nothing can match (empty id set or empty store) —
    callers skip their append step.

    ``tenant`` adds the outer-level static tenant filter on a multitenant
    layout, so the fetch prunes BOTH partition levels (tenant subtree ∩
    id buckets) — the scoped fetch for per-tenant index refresh/rescore.

    ``id_filter=False`` skips the trailing id semi-join and returns the
    bucket-pruned frame as-is, for callers that immediately re-join the
    SAME id frame anyway (the quantized-rescore tails): when ``ids_df``
    is an expensive lazy subplan (an ADC/Hamming candidate stage), the
    semi-join would execute that whole subplan a second time at action
    time just to pre-filter rows the caller's own inner join already
    restricts — guide §1.2/§2.4, don't run a subtree twice for nothing.
    The bucket probe (ONE execution of the subplan, driver-bounded by
    n_buckets) still happens either way."""
    meta = collection_meta(root, collection) or {}
    id_col = meta.get("id_col", "id")
    n_buckets = int(meta.get("n_buckets", DEFAULT_N_BUCKETS))
    wanted = ids_df.select(
        F.col(ids_df.columns[0]).cast("string").alias("_m_id"))
    b = _with_bucket(wanted, "_m_id", n_buckets)
    # O(n_buckets) driver-side list, same bound as every other touched set
    touched = sorted(r[0] for r in b.select(BUCKET_COL).distinct().collect())
    pruned = _bucket_pruned(spark, root, collection, meta, touched, tenant)
    if pruned is None or not id_filter:
        return pruned
    return pruned.join(
        wanted, F.col(id_col).cast("string") == F.col("_m_id"), "left_semi")


def read_rows_for_id_list(spark: SparkSession, root: str, collection: str,
                          ids: list[str], tenant: str | None = None,
                          meta: dict | None = None) -> DataFrame | None:
    """Collection rows whose id is in ``ids``, a driver-side list of
    string ids (repeats allowed): the ids hash to their ``id_bucket``
    set on the driver (:func:`functions.hashing.spark_bucket`, the same
    bucket the store wrote), which becomes a static partition filter,
    and the distinct ids become one SQL ``IN`` list on the stringified
    id column (one expression to parse, not one py4j call per id).
    Unlike :func:`read_rows_for_ids` this submits no job before the
    caller's action.  ``meta`` is the collection meta when the caller
    already holds it.  None when nothing can match (no ids, or an empty
    store)."""
    if meta is None:
        meta = collection_meta(root, collection) or {}
    id_col = meta.get("id_col", "id")
    n_buckets = int(meta.get("n_buckets", DEFAULT_N_BUCKETS))
    distinct = sorted(set(ids))
    touched = sorted({spark_bucket(i, n_buckets) for i in distinct})
    pruned = _bucket_pruned(spark, root, collection, meta, touched, tenant)
    if pruned is None:
        return None
    listed = ", ".join(_lit(i) for i in distinct)
    return pruned.filter(F.expr(f"CAST(`{id_col}` AS STRING) IN ({listed})"))


def _bucket_pruned(spark: SparkSession, root: str, collection: str,
                   meta: dict, touched: list[int],
                   tenant: str | None) -> DataFrame | None:
    """The store read through the static ``id_bucket IN touched``
    partition filter, scoped to ``tenant`` on a multitenant layout (both
    partition levels prune), without the bucket column — the shared
    read of the two id fetches.  None when nothing can match (no bucket,
    or an empty store)."""
    path = collection_path(root, collection)
    if not touched or not _store_exists(path):
        return None
    pruned = spark.read.parquet(path).filter(F.col(BUCKET_COL).isin(touched))
    if tenant is not None:
        tcol = meta.get("tenant_col")
        if tcol is None:
            raise ValueError(
                f"collection {collection!r} has no tenant_col; tenant-"
                f"scoped fetches need the multitenant layout")
        pruned = pruned.filter(F.col(tcol) == str(tenant))
    return pruned.drop(BUCKET_COL)


def materialize_small(spark: SparkSession, df: DataFrame,
                      cap: int | None = None) -> DataFrame:
    """Execute a small-by-contract subplan ONCE and hand its rows back as
    a literal local frame — for plans whose consumer needs the data
    twice (a driver-side bucket probe AND a join): without this the
    subplan re-executes per consumer, while ``persist()`` would leak one
    cached frame per query in a long-lived serving session.  Falls back
    to the original (lazily re-executed) frame past ``cap`` rows — by
    then two pruned passes beat a multi-GB driver roundtrip.

    ``cap`` defaults to ``$BVDS_MATERIALIZE_CAP`` (1,000,000) — a
    deployment knob: smaller driver heaps lower it, and the 100×
    rehearsal lowers it to force the lazy-fallback branch and tie its
    results against the materialized path (round 13, VERDICT r12 #6)."""
    if cap is None:
        cap = int(os.environ.get("BVDS_MATERIALIZE_CAP", "1000000"))
    # Arrow roundtrip first (round 13): a rows-form local relation
    # evaluates through pickled-row Python workers and costs seconds PER
    # downstream ACTION; toArrow → createDataFrame keeps the literal
    # frame JVM-side AND is value-exact (Arrow distinguishes NULL from
    # NaN, unlike a pandas hop).  Types Arrow can't carry fall back to
    # the rows form — same values either way.
    try:
        tbl = df.limit(cap + 1).toArrow()
    except Exception:  # noqa: BLE001 — unsupported type: rows-form path
        tbl = None
    if tbl is not None:
        if tbl.num_rows > cap:
            return df
        if tbl.num_rows == 0:
            return df.limit(0)
        try:
            return spark.createDataFrame(tbl, schema=df.schema)
        except Exception:  # noqa: BLE001
            pass
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        return df
    if not rows:
        return df.limit(0)
    return spark.createDataFrame(rows, df.schema)


class Candidates:
    """The candidate point ids one filter resolution found
    (``filters._match_ids``), in either of two forms: a sorted
    driver-side list of string ids, or a Spark frame whose first column
    holds them.  Both hold one entry per probe row (an id repeats when a
    probe of an array column hits it twice, or a HasId literal repeats),
    so :meth:`count` reads the same whichever form answered.  The
    consumers ask the value, never the form."""

    def __init__(self, spark: SparkSession, root: str, collection: str,
                 ids, meta: dict | None = None):
        self.spark, self.root, self.collection = spark, root, collection
        self.ids, self.meta = ids, meta
        self._n = len(ids) if isinstance(ids, list) else None
        self._floor = 0  # a frame holds at least this many rows
        # True: rows held (a list, or a materialized frame); False: the
        # frame stayed lazy past the materialize cap; None: not tried
        self._held = True if isinstance(ids, list) else None

    def count(self, limit: int | None = None) -> int:
        """The candidate count, or ``min(count, limit)``: free for a
        list, one job for a frame (an exact count is kept).  A guard
        ``count(limit=m + 1) > m`` reads at most ``m + 1`` frame rows."""
        if self._n is not None:
            return self._n if limit is None else min(self._n, limit)
        if limit is None:
            self._n = self.ids.count()
            return self._n
        if self._floor < limit:
            n = self.ids.limit(limit).count()
            if n < limit:
                self._n = n
                return n
            self._floor = n
        return limit

    def materialize(self) -> bool:
        """Hold the ids before several consumers read them: a Spark
        probe frame runs once through :func:`materialize_small` (lazy
        past its cap).  True when the ids are held."""
        if self._held is None:
            mat = materialize_small(self.spark, self.ids)
            self._held = mat is not self.ids
            self.ids = mat
        return self._held

    def frame(self) -> DataFrame:
        """The ids as a frame: a literal ``id string`` frame of the
        distinct ids for a list, the frame itself otherwise."""
        if not isinstance(self.ids, list):
            return self.ids
        from .localframe import local_frame  # noqa: PLC0415

        return local_frame(self.spark, [(i,) for i in sorted(set(self.ids))],
                           "id string")

    def fetch(self, tenant: str | None = None) -> DataFrame | None:
        """The candidates' rows through the store's static id-bucket
        filter (:func:`read_rows_for_id_list` for a list, no job;
        :func:`read_rows_for_ids` for a frame, one bucket job).  None
        when nothing can match."""
        if isinstance(self.ids, list):
            return read_rows_for_id_list(self.spark, self.root,
                                         self.collection, self.ids,
                                         tenant=tenant, meta=self.meta)
        return read_rows_for_ids(self.spark, self.root, self.collection,
                                 self.ids, tenant=tenant)


def last_write_wins(df: DataFrame, id_col: str = "id",
                    version_col: str = "_version",
                    tiebreak=None) -> DataFrame:
    """Dedup-last-wins: keep the highest-version row per id (W1 pattern).

    ``tiebreak`` (list of Columns) makes equal-version picks deterministic.
    """
    order = [F.desc_nulls_last(version_col), *(tiebreak or [])]
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _resolve_layout(root: str, collection: str, id_col: str | None,
                    n_buckets: int | None) -> tuple[str, int]:
    """The persisted ``_collection_meta.json`` is the source of truth for the
    store layout: a collection created with non-default ``n_buckets``/
    ``id_col`` must be upserted/deleted with the SAME layout or ids hash to
    the wrong buckets and last-write-wins silently breaks.  Explicit
    parameters apply only when no meta exists (fresh store)."""
    meta = collection_meta(root, collection)
    if meta:
        return meta.get("id_col", id_col or "id"), \
            int(meta.get("n_buckets", n_buckets or DEFAULT_N_BUCKETS))
    return id_col or "id", n_buckets or DEFAULT_N_BUCKETS


def _require_layout(root: str, collection: str,
                    id_col: str | None) -> tuple[str, int]:
    """Layout resolution for id-hashing mutations (delete/update): the meta
    sidecar MUST exist — guessing a bucket count on a store of unknown
    layout would hash ids to the wrong buckets and silently miss rows.
    Every store created through this module (create_collection or a fresh
    upsert) has one; only externally-assembled directories don't."""
    path = collection_path(root, collection)
    if _store_exists(path) and collection_meta(root, collection) is None:
        raise ValueError(
            f"collection {collection!r} has no {META_FILE} sidecar; its "
            f"bucket layout is unknown, so id-targeted delete/update would "
            f"silently miss rows. Re-create it via create_collection/upsert.")
    return _resolve_layout(root, collection, id_col, None)


def upsert(spark: SparkSession, root: str, collection: str,
           new_rows: DataFrame, id_col: str = "id",
           version_col: str | None = None,
           n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """S6: merge ``new_rows`` into the collection, the newest version winning
    on id collision; returns the merged DataFrame after persisting it.

    Without ``version_col`` the merge tags existing=0 / new=1, so any
    re-delivered id replaces the stored point — exactly Qdrant's
    ``upload_points`` upsert.  With ``version_col`` (e.g. an ingest timestamp
    from file metadata) the column is PERSISTED in the table, so versions
    survive restarts and ordering is correct even when one micro-batch
    re-reads several generations of the same id.

    Only the buckets touched by ``new_rows`` are read (partition pruning) and
    rewritten (per-bucket directory swap); untouched buckets are never
    opened.  The persisted collection meta's ``n_buckets``/``id_col`` win
    over the parameters so an upsert can never use a different hash layout
    than the stored one.
    """
    path = collection_path(root, collection)
    id_col, n_buckets = _resolve_layout(root, collection, id_col, n_buckets)
    tenant_col = _tenant_col(root, collection)
    part_cols = _part_cols(tenant_col)
    if tenant_col is not None:
        _validate_tenant_values(new_rows, tenant_col)
        new_rows = new_rows.withColumn(
            tenant_col, F.col(tenant_col).cast("string"))
    new_b = _with_bucket(new_rows, id_col, n_buckets)

    if not _store_exists(path):
        merged = (
            last_write_wins(new_b.withColumn("_version", F.lit(1)), id_col)
            .drop("_version")
            if version_col is None else last_write_wins(new_b, id_col, version_col)
        )
        # the empty-store branch must NOT overwrite the collection root: a
        # delete-all-points → upsert cycle arrives here with _delta/,
        # _index/ and the meta sidecar still in place, and a root-level
        # mode("overwrite") would destroy all three.  Instead: write the
        # layout meta FIRST if the store was born directly from upsert()
        # (so a crash can never leave data without its n_buckets/id_col
        # record), then follow the same publish-delta → swap-buckets →
        # commit-version order as every other mutation.
        if collection_meta(root, collection) is None:
            os.makedirs(path, exist_ok=True)
            _write_meta(path, {
                "collection": collection,
                "id_col": id_col,
                "n_buckets": n_buckets,
                "vectors": {},
                "version": 0,
            })
        next_v = _next_version(root, collection)
        _log_delta(path, next_v, "upsert", new_b.select(id_col).distinct())
        touched = _touched_parts(new_b, part_cols)
        _stage_and_swap(merged, path, touched, part_cols=part_cols)
        _set_version(root, collection, next_v)
        return read_collection(spark, root, collection)

    # Bucket ids are bounded by n_buckets, so this collect is O(n_buckets)
    # regardless of data size.
    touched_buckets = sorted(
        r[0] for r in new_b.select(BUCKET_COL).distinct().collect()
    )
    existing = spark.read.parquet(path).filter(
        F.col(BUCKET_COL).isin(touched_buckets))
    if tenant_col is None:
        touched = touched_buckets
    else:
        # an id's tenant value may have CHANGED in this batch, and ids hash
        # to buckets independently of tenant — so the replaced row can live
        # under ANY tenant's copy of its bucket.  The merge therefore reads
        # the touched buckets ACROSS tenants (still bucket-pruned), and the
        # rewrite set is the partitions holding a replaced row plus the
        # partitions the new rows land in — a tenant-move rewrites exactly
        # its source and destination directories, nothing else.
        new_ids = (new_b.select(F.col(id_col).cast("string").alias("_new_id"))
                   .distinct())
        replaced = existing.join(
            new_ids, F.col(id_col).cast("string") == F.col("_new_id"),
            "left_semi")
        touched = sorted(set(_touched_parts(replaced, part_cols))
                         | set(_touched_parts(new_b, part_cols)))
        existing = existing.filter(_parts_filter(part_cols, touched))
    if version_col is None:
        merged = last_write_wins(
            existing.withColumn("_version", F.lit(0)).unionByName(
                new_b.withColumn("_version", F.lit(1)), allowMissingColumns=True
            ),
            id_col,
        ).drop("_version")
    else:
        merged = last_write_wins(
            existing.unionByName(new_b, allowMissingColumns=True),
            id_col, version_col,
        )

    # pin columns the store already has to their STORED types: the union
    # widens (float ∪ double → double), and writing widened buckets next to
    # untouched ones leaves mixed parquet physical types that break the
    # vectorized reader on the next scan
    stored_types = {f.name: f.dataType for f in existing.schema.fields}
    merged = merged.select(*[
        F.col(c).cast(stored_types[c]).alias(c) if c in stored_types
        else F.col(c)
        for c in merged.columns
    ])

    # delta-log contract: publish the delta, swap the data, then commit the
    # version — in that order (see the module docstring's crash matrix)
    next_v = _next_version(root, collection)
    _log_delta(path, next_v, "upsert", new_b.select(id_col).distinct())
    # a tenant-move can empty its source partition — drop the husk
    _stage_and_swap(merged, path, touched, part_cols=part_cols,
                    drop_empty=tenant_col is not None)
    _set_version(root, collection, next_v)
    return read_collection(spark, root, collection)


def _stage_and_swap(df: DataFrame, path: str, touched: list,
                    drop_empty: bool = False,
                    part_cols: list[str] | None = None) -> None:
    """Write ``df``'s touched partitions to a staging dir, then swap each
    partition directory in with an atomic rename.  A crash mid-swap leaves
    every partition either fully old (still in place or in its __old trash,
    which a rerun of the same batch re-merges idempotently) or fully new —
    never half-written files in a live partition.

    ``touched`` is a list of bucket ints (bucket-only layout) or partition
    tuples matching ``part_cols`` (tenant layout: ``("acme", 3)`` swaps
    ``tenant=acme/id_bucket=3``).  ``drop_empty=True`` (the delete path): a
    touched partition with NO staged rows means every row in it was
    deleted — remove the live directory instead of skipping it.
    """
    part_cols = part_cols or [BUCKET_COL]
    staging = path + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").partitionBy(*part_cols).parquet(staging)
    for p in touched:
        part = p if isinstance(p, tuple) else (p,)
        rel = _rel_part_dir(part_cols, part)
        src = os.path.join(staging, rel)
        dst = os.path.join(path, rel)
        if not os.path.isdir(src):
            if drop_empty:
                shutil.rmtree(dst, ignore_errors=True)
            continue
        trash = dst + "__old"
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(dst):
            os.rename(dst, trash)
        os.makedirs(os.path.dirname(dst), exist_ok=True)  # new tenant dir
        os.rename(src, dst)
        shutil.rmtree(trash, ignore_errors=True)
    if drop_empty and len(part_cols) > 1:
        # a delete can empty a tenant's whole subtree — drop the husk so
        # the reader's partition discovery never lists a dead tenant
        for p in touched:
            part = p if isinstance(p, tuple) else (p,)
            tdir = os.path.join(path, f"{part_cols[0]}={part[0]}")
            if os.path.isdir(tdir) and not os.listdir(tdir):
                os.rmdir(tdir)
    shutil.rmtree(staging, ignore_errors=True)


# ---------------------------------------------------------------------------
# Delete — the missing half of the upsert lifecycle (Qdrant's point-delete
# twin of upload_points, qdrant_embedder.py:58-62)
# ---------------------------------------------------------------------------

def delete_points(spark: SparkSession, root: str, collection: str,
                  ids: list | DataFrame, id_col: str | None = None,
                  count_removed: bool = True,
                  tenant: str | None = None) -> int:
    """Delete points by id; returns the number of rows removed
    (``count_removed=False`` skips the two counting jobs and returns -1 —
    the Qdrant-style fire-and-forget delete).

    Ids hash straight to their buckets, so only those bucket directories are
    read (partition pruning on the hive layout) and rewritten (staged swap) —
    deleting 100 ids from a 100 TB collection moves a handful of buckets,
    never the table.  ``ids`` may be a Python list or a single-column
    DataFrame (for a large doomed set the DataFrame form keeps the id set
    distributed until the per-bucket anti-join).

    On a multitenant collection the doomed rows may live under any tenant
    (ids hash to buckets tenant-independently), so the scan prunes by
    bucket across tenants and the rewrite set narrows to the partitions
    that actually hold a doomed row.  ``tenant`` scopes the delete to one
    tenant's subtree (the Qdrant shard-key selector): pruning then covers
    both levels, and ids living under other tenants survive.
    """
    path = collection_path(root, collection)
    id_col, n_buckets = _require_layout(root, collection, id_col)
    tenant_col = _tenant_col(root, collection)
    part_cols = _part_cols(tenant_col)
    if tenant is not None and tenant_col is None:
        raise ValueError(
            f"collection {collection!r} has no tenant_col; tenant-scoped "
            f"delete needs the multitenant layout")
    if isinstance(ids, DataFrame):
        doomed = ids.select(F.col(ids.columns[0]).cast("string").alias("_del_id"))
    else:
        from .localframe import local_frame  # noqa: PLC0415

        doomed = local_frame(
            spark, [(str(i),) for i in ids], "`_del_id` string")
    doomed = _with_bucket(doomed, "_del_id", n_buckets)
    # O(n_buckets) driver-side list, same bound as upsert's touched set
    touched_buckets = sorted(
        r[0] for r in doomed.select(BUCKET_COL).distinct().collect())
    if not touched_buckets or not _store_exists(path):
        return 0
    existing = spark.read.parquet(path).filter(
        F.col(BUCKET_COL).isin(touched_buckets))
    if tenant is not None:
        existing = existing.filter(
            F.col(tenant_col).cast("string") == str(tenant))
    if tenant_col is None:
        touched = touched_buckets
    else:
        # narrow the rewrite to partitions that actually hold a doomed row.
        # No broadcast hint: AQE picks the strategy, so a small doomed set
        # still broadcasts while a 100M-id DataFrame delete degrades to a
        # shuffle join instead of OOMing a forced broadcast (the same fix
        # _apply_masks got — VERDICT r6 "What's wrong" #3).
        victims = existing.join(
            doomed.select("_del_id"),
            F.col(id_col).cast("string") == F.col("_del_id"), "left_semi")
        touched = _touched_parts(victims, part_cols)
        if not touched:
            return 0
        existing = existing.filter(_parts_filter(part_cols, touched))
    keep = existing.join(
        doomed.select("_del_id"),
        F.col(id_col).cast("string") == F.col("_del_id"),
        "left_anti",
    )
    removed = (existing.count() - keep.count()) if count_removed else -1
    next_v = _next_version(root, collection)
    # a tenant-scoped delete must log only the ids it actually removed —
    # the same id under another tenant survives and must stay indexed
    # (the delta reads pre-swap data; it publishes before the swap anyway)
    log_ids = (victims.select(id_col) if tenant is not None
               else doomed.select("_del_id").distinct())
    _log_delta(path, next_v, "delete", log_ids)
    _stage_and_swap(keep, path, touched, drop_empty=True, part_cols=part_cols)
    _set_version(root, collection, next_v)
    return removed


def delete_by_filter(spark: SparkSession, root: str, collection: str,
                     predicate, count_removed: bool = True) -> int:
    """Delete every point matching ``predicate`` (a Column or SQL string) —
    the payload-filter delete of the delegated store API (README.md:13's
    filterable surface applied to deletion).  Returns rows removed
    (-1 with ``count_removed=False``, which skips the counting jobs).

    One pruned scan finds the buckets holding matching rows (Catalyst pushes
    the predicate into the parquet scan); only those buckets are rewritten
    with the survivors.  Buckets with no match are never opened twice.
    """
    path = collection_path(root, collection)
    if not _store_exists(path):
        return 0
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    tenant_col = _tenant_col(root, collection)
    part_cols = _part_cols(tenant_col)
    table = spark.read.parquet(path)
    # one pruned scan finds the partitions holding matching rows — with the
    # tenant layout that's (tenant, bucket) pairs, so a filter that names a
    # tenant (directly or via the DSL) rewrites only that tenant's subtree
    touched = _touched_parts(table.filter(pred), part_cols)
    if not touched:
        return 0
    existing = table.filter(_parts_filter(part_cols, touched))
    # three-valued logic: a NULL predicate row did NOT match — keep it
    # (bare ~pred would drop it: NULL is not true, but not false either)
    keep = existing.filter(~F.coalesce(pred, F.lit(False)))
    removed = (existing.count() - keep.count()) if count_removed else -1
    # the victim ids only exist in the PRE-swap data, so the delta publishes
    # first — which is the required order anyway (publish → swap → commit)
    id_col, _ = _resolve_layout(root, collection, None, None)
    next_v = _next_version(root, collection)
    if id_col in table.columns:
        _log_delta(path, next_v, "delete",
                   existing.filter(F.coalesce(pred, F.lit(False)))
                   .select(id_col))
    # id column unknown in the stored schema: the version STILL advances —
    # its published-delta hole makes read_delta return None, so indexes
    # rebuild loudly instead of silently serving the deleted rows
    _stage_and_swap(keep, path, touched, drop_empty=True, part_cols=part_cols)
    _set_version(root, collection, next_v)
    return removed


def update_columns(spark: SparkSession, root: str, collection: str,
                   updates: DataFrame, id_col: str | None = None) -> None:
    """Partial update (Qdrant ``set_payload`` twin): for every id present in
    ``updates``, overwrite ONLY the non-id columns ``updates`` carries;
    every other column of the stored point is preserved.

    ``updates``' first column is the id (or pass ``id_col``).  Like delete,
    ids hash straight to their buckets — only those are read, patched with
    an AQE-chosen left join + coalesce, and atomically swapped back.  Unlike
    a full upsert, untouched COLUMNS never round-trip through the caller.

    On a multitenant collection the rewrite narrows to the partitions that
    hold a patched row; patching the TENANT column itself moves the row
    between tenant subtrees — the source and destination partitions both
    rewrite (the Qdrant "re-shard on group-key change" semantic), nothing
    else does.
    """
    path = collection_path(root, collection)
    id_col, n_buckets = _require_layout(root, collection, id_col)
    tenant_col = _tenant_col(root, collection)
    part_cols = _part_cols(tenant_col)
    upd_id = updates.columns[0]
    patch_cols = [c for c in updates.columns if c != upd_id]
    if _store_exists(path):
        stored_cols = set(spark.read.parquet(path).columns)
        unknown = [c for c in patch_cols if c not in stored_cols]
        if unknown:
            raise ValueError(
                f"update_columns: {unknown} not in stored schema "
                f"{sorted(stored_cols - {BUCKET_COL})}; adding new columns "
                f"needs a full upsert (schema evolution touches every bucket)")
    if tenant_col is not None and tenant_col in patch_cols:
        _validate_tenant_values(updates, tenant_col)
        updates = updates.withColumn(
            tenant_col, F.col(tenant_col).cast("string"))
    patch = updates.select(
        F.col(upd_id).cast("string").alias("_upd_id"),
        *[F.col(c).alias(f"_upd_{c}") for c in patch_cols])
    # a duplicated patch id would fan out the left join and write the
    # stored point twice, breaking id uniqueness — refuse loudly
    dup = (patch.groupBy("_upd_id").count()
           .filter(F.col("count") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            f"update_columns: duplicate id {dup[0][0]!r} in updates; "
            f"dedupe the patch first (which value should win is yours to "
            f"decide, not a join artifact)")
    patch = _with_bucket(patch, "_upd_id", n_buckets)
    touched_buckets = sorted(
        r[0] for r in patch.select(BUCKET_COL).distinct().collect())
    if not touched_buckets or not _store_exists(path):
        return
    existing = spark.read.parquet(path).filter(
        F.col(BUCKET_COL).isin(touched_buckets))
    # no broadcast hint — AQE chooses (a typical patch is tiny and
    # broadcasts on its own; a bulk re-payload of millions of ids shuffles
    # instead of OOMing a forced broadcast)
    joined = existing.join(
        patch.drop(BUCKET_COL),
        F.col(id_col).cast("string") == F.col("_upd_id"), "left")
    out_cols = []
    stored_types = {f.name: f.dataType for f in existing.schema.fields}
    for c in existing.columns:
        if c in patch_cols:
            # pin to the STORED type: when() widens (float ∪ double →
            # double) and a widened bucket next to untouched ones breaks
            # the vectorized reader — same guard as upsert's merge
            out_cols.append(
                F.when(F.col("_upd_id").isNotNull(), F.col(f"_upd_{c}"))
                .otherwise(F.col(c)).cast(stored_types[c]).alias(c))
        else:
            out_cols.append(F.col(c))
    patched = joined.select(*out_cols, F.col("_upd_id").alias("_hit"))
    if tenant_col is None:
        touched = touched_buckets
        to_write = patched.drop("_hit")
    else:
        # source partitions: pre-patch parts of the hit rows; destination
        # partitions: their post-patch parts (differ only on a tenant move)
        pre = _touched_parts(
            joined.filter(F.col("_upd_id").isNotNull()), part_cols)
        post = _touched_parts(
            patched.filter(F.col("_hit").isNotNull()), part_cols)
        touched = sorted(set(pre) | set(post))
        if not touched:
            return
        to_write = (patched.drop("_hit")
                    .filter(_parts_filter(part_cols, touched)))
    # partial updates MAY touch indexed columns (vector / text payload), so
    # they feed the delta log as upserts; refresh re-reads the ids' current
    # rows, which is correct whether or not the indexed column changed
    next_v = _next_version(root, collection)
    _log_delta(path, next_v, "upsert", patch.select("_upd_id"))
    _stage_and_swap(to_write, path, touched, part_cols=part_cols,
                    drop_empty=tenant_col is not None)
    _set_version(root, collection, next_v)


def update_vectors(spark: SparkSession, root: str, collection: str,
                   updates: DataFrame, id_col: str | None = None) -> None:
    """Per-space vector patch (Qdrant ``update_vectors``, the vector twin of
    ``set_payload``): for every id in ``updates`` (first column), replace
    ONLY the named vector column(s) it carries; every payload column and
    any other vector space of the stored point is preserved.

    A thin contract layer over :func:`update_columns` that enforces what a
    raw column patch can't know: each patched column must be a DECLARED
    vector space of the collection (``create_collection``'s
    ``vector_config`` — the reference's vectors_config at
    qdrant_embedder.py:95-102), and every patch vector must be non-null
    with the space's declared size — a wrong-dim or null vector would
    poison kNN scoring and the stored index's IVF assignment silently.
    The validation is one aggregate over the (patch-sized) updates frame.

    Like every mutation, the patch logs its ids to the delta as upserts,
    so the next ``refresh_all_indexes`` re-fetches the ids' current rows —
    re-assigning them to their new IVF lists / re-encoding their PQ codes
    / re-bucketing their sparse postings, O(|patch|), no rebuild.
    """
    meta = collection_meta(root, collection)
    if meta is None:
        raise ValueError(
            f"collection {collection!r} has no meta sidecar; update_vectors "
            f"needs the declared vector_config (create via create_collection)")
    vectors = meta.get("vectors", {})
    patch_cols = [c for c in updates.columns[1:]]
    if not patch_cols:
        raise ValueError("update_vectors needs at least one vector column "
                         "after the id column")
    undeclared = [c for c in patch_cols if c not in vectors]
    if undeclared:
        raise ValueError(
            f"update_vectors: {undeclared} are not declared vector spaces "
            f"of {collection!r} (declared: {sorted(vectors)}); payload "
            f"columns go through update_columns, new spaces through a full "
            f"upsert")
    checks = []
    for c in patch_cols:
        declared = int(vectors[c].get("size", 0) or 0)
        bad = F.col(c).isNull()
        if declared and vectors[c].get("multivector"):
            # multivector space: declared size is the PER-TOKEN dim; a
            # patch value is a non-empty list of vectors, each that long
            bad = bad | (F.size(F.col(c)) == 0) | ~F.forall(
                F.col(c),
                lambda v: v.isNotNull() & (F.size(v) == declared))
        elif declared:
            bad = bad | (F.size(F.col(c)) != declared)
        checks.append(F.sum(bad.cast("int")).alias(c))
    bad_counts = updates.agg(*checks).first()
    for c in patch_cols:
        if bad_counts[c]:
            declared = vectors[c].get("size")
            raise ValueError(
                f"update_vectors: {bad_counts[c]} patch row(s) for space "
                f"{c!r} are null or not length {declared}; a malformed "
                f"vector would silently poison similarity scores")
    update_columns(spark, root, collection, updates, id_col=id_col)


def _null_patch(spark: SparkSession, root: str, collection: str,
                ids, columns: list[str]) -> None:
    """Shared tail of the payload/vector removal APIs: patch ``columns``
    to a typed NULL for the given ids through :func:`update_columns` —
    the same bucket-pruned read → patch → atomic-swap path, with the
    same delta-log feed (the next index refresh masks the ids' old
    entries and, finding the column NULL, appends no replacement)."""
    path = collection_path(root, collection)
    id_col, _ = _require_layout(root, collection, None)
    if not _store_exists(path):
        return
    stored = {f.name: f.dataType for f in spark.read.parquet(path).schema}
    missing = [c for c in columns if c not in stored]
    if missing:
        raise ValueError(
            f"{missing} not in the stored schema of {collection!r}")
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).cast("string")
                            .alias("_z_id")).distinct()
    else:
        from .localframe import local_frame  # noqa: PLC0415

        ids_df = local_frame(
            spark, [(str(i),) for i in dict.fromkeys(ids)],
            "`_z_id` string")
    patch = ids_df.select(
        "_z_id", *[F.lit(None).cast(stored[c]).alias(c) for c in columns])
    update_columns(spark, root, collection, patch, id_col=id_col)


def _space_columns(meta: dict, name: str) -> list[str]:
    """The PHYSICAL columns a declared vector space occupies: its own
    name for a dense space, the (indices, values) array pair for a
    sparse one (the Qdrant sparse wire format stored by the sparse
    fixtures; overridable via ``indices_col``/``values_col`` in the
    space config)."""
    cfg = (meta.get("vectors") or {}).get(name, {})
    if str(cfg.get("kind", "")).lower() == "sparse":
        return [cfg.get("indices_col", "indices"),
                cfg.get("values_col", "values")]
    return [name]


def _all_vector_columns(meta: dict) -> set[str]:
    cols: set = set()
    for name in meta.get("vectors") or {}:
        cols.update(_space_columns(meta, name))
    return cols


def delete_vectors(spark: SparkSession, root: str, collection: str,
                   ids, vector_names: list[str]) -> None:
    """Qdrant ``delete_vectors``: remove the NAMED vector space(s) from
    the given points — the space's physical column(s) null out (a sparse
    space nulls its indices+values pair) while payloads, other spaces
    and the point id survive.  A nulled vector drops out of kNN scoring
    on its own (null sims are filtered), and the next index refresh
    masks the ids' old index entries without appending replacements, so
    the space leaves the stored index too.  ``ids`` is a list or a
    one-column DataFrame; every name must be a DECLARED vector space."""
    meta = collection_meta(root, collection) or {}
    vectors = meta.get("vectors", {})
    undeclared = [v for v in vector_names if v not in vectors]
    if undeclared:
        raise ValueError(
            f"delete_vectors: {undeclared} are not declared vector spaces "
            f"of {collection!r} (declared: {sorted(vectors)}); payload "
            f"columns go through delete_payload")
    cols: list = []
    for v in vector_names:
        cols.extend(c for c in _space_columns(meta, v) if c not in cols)
    _null_patch(spark, root, collection, ids, cols)


def delete_payload(spark: SparkSession, root: str, collection: str,
                   ids, keys: list[str]) -> None:
    """Qdrant ``delete_payload``: remove payload KEY(s) from the given
    points (the columns null out; vectors and other payload survive).
    Vector spaces — by NAME or by their physical columns (a sparse
    space's indices/values pair) — are refused (that's
    :func:`delete_vectors`), and so is the tenant column — nulling the
    partition key would orphan the rows from their subtree (Qdrant's
    shard key is equally immutable)."""
    meta = collection_meta(root, collection) or {}
    vectors = meta.get("vectors", {})
    protected = set(vectors) | _all_vector_columns(meta)
    bad = [k for k in keys if k in protected]
    if bad:
        raise ValueError(
            f"delete_payload: {bad} are declared vector spaces (or their "
            f"physical columns); use delete_vectors for those")
    tcol = meta.get("tenant_col")
    id_col = meta.get("id_col", "id")
    if tcol in keys or id_col in keys:
        raise ValueError(
            f"delete_payload cannot remove the id or tenant column "
            f"({id_col!r}/{tcol!r}); they define the point's identity "
            f"and partition")
    _null_patch(spark, root, collection, ids, list(keys))


def clear_payload(spark: SparkSession, root: str, collection: str,
                  ids) -> None:
    """Qdrant ``clear_payload``: remove EVERY payload key from the given
    points — all columns null out except the id, the tenant partition
    column, and the declared vector spaces' physical columns (a sparse
    space keeps its indices/values pair)."""
    path = collection_path(root, collection)
    if not _store_exists(path):
        return
    meta = collection_meta(root, collection) or {}
    keep = ({meta.get("id_col", "id"), BUCKET_COL, meta.get("tenant_col")}
            | _all_vector_columns(meta))
    cols = [c for c in spark.read.parquet(path).columns if c not in keep]
    if cols:
        _null_patch(spark, root, collection, ids, cols)


def batch_update_points(spark: SparkSession, root: str, collection: str,
                        ops: list[tuple]) -> list[int]:
    """Qdrant ``batch_update_points``: a SEQUENCE of mutations applied in
    order, each with its own delta entry and version bump — later ops see
    earlier ops' effects (an upsert then a delete of the same id leaves
    the id deleted).  Each op is a tuple:

    - ``("upsert", df)`` — full-point upsert (:func:`upsert`)
    - ``("delete_vectors", (ids, names))`` — (:func:`delete_vectors`)
    - ``("delete_payload", (ids, keys))`` — (:func:`delete_payload`)
    - ``("clear_payload", ids)`` — (:func:`clear_payload`)
    - ``("delete", ids_or_df)`` — delete by id (:func:`delete_points`)
    - ``("delete_by_filter", predicate)`` — (:func:`delete_by_filter`)
    - ``("set_payload", df)`` — column patch (:func:`update_columns`)
    - ``("update_vectors", df)`` — vector patch (:func:`update_vectors`)

    Returns the data version after each op.  This is deliberately a thin
    sequencer over the store's mutations — the crash contract is
    per-mutation (each op publishes → swaps → commits on its own), so a
    crash mid-batch leaves a prefix of the batch applied, exactly like
    Qdrant's non-transactional batch semantics.
    """
    dispatch = {
        "upsert": lambda a: upsert(spark, root, collection, a),
        "delete": lambda a: delete_points(spark, root, collection, a,
                                          count_removed=False),
        "delete_by_filter": lambda a: delete_by_filter(
            spark, root, collection, a, count_removed=False),
        "set_payload": lambda a: update_columns(spark, root, collection, a),
        "update_vectors": lambda a: update_vectors(spark, root, collection, a),
        # removal ops take (ids, names) / ids — the Qdrant batch op kinds
        "delete_vectors": lambda a: delete_vectors(
            spark, root, collection, a[0], a[1]),
        "delete_payload": lambda a: delete_payload(
            spark, root, collection, a[0], a[1]),
        "clear_payload": lambda a: clear_payload(spark, root, collection, a),
    }
    versions = []
    for i, op in enumerate(ops):
        if not (isinstance(op, tuple) and len(op) == 2):
            raise ValueError(
                f"batch op #{i} must be a (kind, arg) tuple, got {op!r}")
        kind, arg = op
        if kind not in dispatch:
            raise ValueError(
                f"batch op #{i} has unknown kind {kind!r} "
                f"(expected one of {sorted(dispatch)})")
        dispatch[kind](arg)
        versions.append(collection_version(root, collection))
    return versions


def collection_info(spark: SparkSession, root: str, collection: str) -> dict:
    """Qdrant ``get_collection``: live status of a collection — point
    count, data version, layout, declared vector spaces, and every
    persisted index artifact with its freshness (``built_version ==
    version``).  One pruned count job plus sidecar reads.

    On a MULTITENANT collection (the Qdrant shard-key layout) the info is
    tenant-aware: ``tenants`` maps each tenant to its point count (one
    partial-aggregated groupBy over the outer partition column — the
    count per subtree, no extra scan beyond the single count pass), and
    each index entry carries its ``tenant`` scope (None = the global
    artifact), so "which tenants have their own index, and is it fresh"
    is one info call."""
    from .index import list_indexes  # noqa: PLC0415

    path = collection_path(root, collection)
    meta = collection_meta(root, collection)
    if meta is None and not _store_exists(path):
        raise ValueError(f"collection {collection!r} does not exist")
    meta = meta or {}
    version = collection_version(root, collection)
    tenant_col = meta.get("tenant_col")
    points = 0
    tenants: dict | None = None
    if _store_exists(path):
        rows = read_collection(spark, root, collection)
        if tenant_col is not None:
            # one aggregate job yields the global count AND the per-tenant
            # split (sum of partial counts per partition subtree)
            per = {r[0]: r[1] for r in
                   rows.groupBy(tenant_col).count().collect()}
            tenants = {str(t): int(n) for t, n in sorted(per.items())}
            points = sum(per.values())
        else:
            points = rows.count()
    indexes = []
    for im in list_indexes(root, collection):
        indexes.append({
            "name": im.get("_name"),
            "kind": im.get("kind"),
            "tenant": im.get("tenant"),
            "built_version": int(im.get("built_version", 0)),
            "fresh": int(im.get("built_version", 0)) == version,
        })
    return {
        "collection": resolve_collection(root, collection),
        "points_count": points,
        "version": version,
        "id_col": meta.get("id_col", "id"),
        "n_buckets": int(meta.get("n_buckets", DEFAULT_N_BUCKETS)),
        "tenant_col": tenant_col,
        **({"tenants": tenants} if tenants is not None else {}),
        "vectors": meta.get("vectors", {}),
        "indexes": indexes,
    }


# ---------------------------------------------------------------------------
# Compaction — micro-batch upserts (streaming/ingest.py foreachBatch) leave
# one file per batch per touched bucket; compaction rewrites each bucket to
# ~files_per_bucket files with identical readback.
# ---------------------------------------------------------------------------

def compact_collection(spark: SparkSession, root: str, collection: str,
                       files_per_bucket: int = 1) -> dict:
    """Rewrite every bucket down to ``files_per_bucket`` parquet files.

    Returns ``{"files_before": n, "files_after": m, "n_rows": r}``.  The
    rewrite reuses the staged swap, so readers never observe a half-compacted
    bucket.  At scale this is an embarrassingly parallel per-bucket rewrite:
    the repartition key is (id_bucket, salt) where salt spreads each
    bucket's rows over ``files_per_bucket`` tasks, and the partitioned write
    emits one file per (task, bucket) pair.  The salt hash is seeded with a
    literal so it is NOT the bucket hash mod files_per_bucket — the raw
    ``xxhash64(id)`` already determines id_bucket, and reusing it would
    collapse every bucket back to one salt value.
    """
    path = collection_path(root, collection)
    if not _store_exists(path):
        return {"files_before": 0, "files_after": 0, "n_rows": 0}
    id_col, _ = _resolve_layout(root, collection, None, None)
    tenant_col = _tenant_col(root, collection)
    part_cols = _part_cols(tenant_col)
    table = spark.read.parquet(path)
    n_rows = table.count()
    touched = _touched_parts(table, part_cols)
    files_before = _count_data_files(path)
    shuffle_cols = [F.col(c) for c in part_cols]
    if files_per_bucket > 1 and id_col in table.columns:
        shuffle_cols.append(F.pmod(
            F.xxhash64(F.col(id_col).cast("string"), F.lit("compact_salt")),
            F.lit(files_per_bucket)))
    compacted = table.repartition(
        max(len(touched), 1) * files_per_bucket, *shuffle_cols)
    _stage_and_swap(compacted, path, touched, part_cols=part_cols)
    # housekeeping ride-along: delta entries every live index has absorbed
    # (version <= min built_version) feed nothing anymore — drop them.  With
    # no indexes at all the whole log is prunable.
    prune_delta_log(spark, root, collection,
                    _min_index_built_version(root, collection))
    return {"files_before": files_before,
            "files_after": _count_data_files(path),
            "n_rows": n_rows}


def _min_index_built_version(root: str, collection: str) -> int:
    """The oldest ``built_version`` across the collection's persisted index
    artifacts (vector + text live under ``_index/<name>/meta.json``); the
    current data version when no index exists.  Deltas at or below this are
    dead weight."""
    path = collection_path(root, collection)
    idx_root = os.path.join(path, "_index")
    versions = []
    if os.path.isdir(idx_root):
        for name in os.listdir(idx_root):
            p = os.path.join(idx_root, name, "meta.json")
            if os.path.exists(p):
                with open(p) as fh:
                    versions.append(int(json.load(fh).get("built_version", 0)))
    return min(versions) if versions else collection_version(root, collection)


def _count_data_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files
                 if f.endswith(".parquet") and not f.startswith("_"))
    return n


# ---------------------------------------------------------------------------
# Catalog — enumerate/drop collections (the get_or_create_collection model at
# chroma_embedder.py:30-32 implies the list/drop twins)
# ---------------------------------------------------------------------------

def list_collections(root: str) -> list[dict]:
    """All collections under ``root``, each with its persisted meta (layout +
    vector config).  Collections without a sidecar (externally created) get
    a minimal synthesized entry so the catalog never hides data."""
    out = []
    if not os.path.isdir(root):
        return out
    for entry in sorted(os.listdir(root)):
        # a crashed swap can leave a collection's __staging sibling behind;
        # it is scratch space, not a collection (recover_collection removes it)
        if (not entry.startswith("collection=")
                or entry.endswith(RESERVED_SUFFIXES)):  # swap trash/scratch
            continue
        name = entry.split("=", 1)[1]
        meta = collection_meta(root, name)
        out.append(meta if meta is not None else {
            "collection": name, "id_col": "id",
            "n_buckets": DEFAULT_N_BUCKETS, "vectors": {},
        })
    return out


def drop_collection(root: str, collection: str) -> bool:
    """Remove a collection's directory (data + meta); True if it existed.
    Refuses an alias — deleting THROUGH an alias would silently destroy the
    target while other aliases may still point at it; drop the real name
    (delete_alias removes the pointer itself)."""
    if collection in _read_aliases(root):
        raise ValueError(
            f"{collection!r} is an alias; drop_collection wants the real "
            f"collection name (or delete_alias to remove the pointer)")
    path = os.path.join(root, f"collection={collection}")
    if not os.path.isdir(path):
        return False
    shutil.rmtree(path)
    return True


# ---------------------------------------------------------------------------
# Snapshots — the Qdrant snapshot API twin (create_snapshot / recover): a
# point-in-time copy of the collection (data + meta + indexes + delta log)
# that later mutations cannot touch, and an atomic restore from it.
# ---------------------------------------------------------------------------

SNAPSHOT_DIR = "_snapshots"


def _snapshot_copy(src: str, dst: str) -> None:
    """Copy a collection tree, HARDLINKING the parquet data files: the store
    never modifies a parquet file in place (every mutation stages new files
    and swaps directories; the delta log and index refreshes only APPEND new
    files), so a link-based snapshot is safe and O(metadata), not O(data) —
    the local twin of an object store's server-side copy.  Sidecar JSON is
    byte-copied because meta files ARE rewritten in place."""
    import shutil as _sh  # noqa: PLC0415

    def _copy(s: str, d: str):
        if s.endswith(".parquet"):
            os.link(s, d)
        else:
            _sh.copy2(s, d)

    _sh.copytree(src, dst, copy_function=_copy)


def snapshot_collection(root: str, collection: str,
                        name: str | None = None) -> str:
    """Point-in-time snapshot under ``<root>/_snapshots/``; returns its
    path.  Default name embeds the data version.  Staged + atomic rename,
    so a listed snapshot is always complete; refuses to overwrite."""
    path = collection_path(root, collection)
    if not os.path.isdir(path):
        raise ValueError(f"collection {collection!r} does not exist")
    name = name or f"{collection}__v{collection_version(root, collection)}"
    if name.endswith(RESERVED_SUFFIXES):
        # same namespace rule as collections: 'x__staging' is literally
        # where snapshot 'x' stages its copy, and would be rmtree'd by it
        raise ValueError(
            f"snapshot name {name!r} ends with a reserved suffix "
            f"{RESERVED_SUFFIXES}; pick another name")
    sdir = os.path.join(root, SNAPSHOT_DIR)
    os.makedirs(sdir, exist_ok=True)
    dst = os.path.join(sdir, name)
    if os.path.exists(dst):
        raise ValueError(f"snapshot {name!r} already exists")
    staging = dst + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    _snapshot_copy(path, staging)
    os.rename(staging, dst)
    return dst


def list_snapshots(root: str) -> list[str]:
    sdir = os.path.join(root, SNAPSHOT_DIR)
    if not os.path.isdir(sdir):
        return []
    return sorted(n for n in os.listdir(sdir) if not n.endswith("__staging"))


def restore_collection(root: str, collection: str, name: str) -> None:
    """Atomically replace the live collection with a snapshot's state (data,
    meta, indexes, delta log — the full point-in-time tree).  The snapshot
    itself survives the restore and can be restored again."""
    src = os.path.join(root, SNAPSHOT_DIR, name)
    if not os.path.isdir(src):
        raise ValueError(f"no snapshot {name!r} under {root!r}")
    path = collection_path(root, collection)
    staging = path + "__restore_staging"
    shutil.rmtree(staging, ignore_errors=True)
    _snapshot_copy(src, staging)
    atomic_replace_dir(staging, path)


def drop_snapshot(root: str, name: str) -> bool:
    p = os.path.join(root, SNAPSHOT_DIR, name)
    if not os.path.isdir(p):
        return False
    shutil.rmtree(p)
    return True


def recover_collection(root: str, collection: str) -> list[int]:
    """Repair a store left mid-swap by a crash (or a hard stream stop):
    a bucket whose live directory is MISSING but whose ``__old`` trash
    survives is restored from the trash (its pre-batch content — re-running
    the interrupted batch then converges, the merge being idempotent); a
    trash dir shadowing a LIVE bucket is a completed swap's leftover and is
    deleted, as is any orphaned ``__staging`` tree.  Returns the bucket ids
    restored from trash.  Safe to run any time; a clean store is a no-op.
    Also repairs a crashed restore_collection: a missing live dir with a
    collection-level ``__old`` trash sibling renames back to the
    pre-restore state (re-run the restore to finish it).
    """
    path = collection_path(root, collection)
    # crashed whole-collection swap (restore_collection): live dir missing,
    # collection-level __old trash survives -> rename it back; orphaned
    # restore staging is scratch either way
    coll_old = path + "__old"
    if not os.path.isdir(path) and os.path.isdir(coll_old):
        os.rename(coll_old, path)
    shutil.rmtree(path + "__restore_staging", ignore_errors=True)
    if not os.path.isdir(path):
        return []
    shutil.rmtree(coll_old, ignore_errors=True)  # completed-swap leftover
    restored: list[int] = []
    # walk the data tree only: bucket trash sits at the top level for the
    # bucket-only layout and INSIDE each tenant dir for the tenant layout.
    # Underscore-prefixed sidecars (_delta/_index/_snapshots) are managed
    # by their own staged-swap machinery — an `_index/<name>__old` from a
    # crashed index build is NOT bucket trash and must not be touched here.
    for dirpath, dirnames, _files in os.walk(path):
        for entry in sorted(dirnames):
            if entry.startswith("_"):
                dirnames.remove(entry)  # sidecar subtree: don't descend
                continue
            if not (entry.startswith(f"{BUCKET_COL}=")
                    and entry.endswith("__old")):
                continue
            live = os.path.join(dirpath, entry[: -len("__old")])
            trash = os.path.join(dirpath, entry)
            if os.path.isdir(live):
                shutil.rmtree(trash, ignore_errors=True)
            else:
                os.rename(trash, live)
                restored.append(int(entry[: -len("__old")].split("=", 1)[1]))
            dirnames.remove(entry)  # never descend into trash
    shutil.rmtree(path + "__staging", ignore_errors=True)
    return restored
