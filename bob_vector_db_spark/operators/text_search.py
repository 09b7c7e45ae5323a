"""BM25 keyword retrieval over a document table (SURVEY.md §2 north-star
text analysis; the lexical twin of the delegated vector search surface —
reference README.md:13 "Query the DB and return the results").

Okapi BM25 with the Lucene idf form:

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avgdl))

Everything is JVM-side expressions over one token explode:

  1. corpus stats (N, avgdl) — one tiny aggregate, folded in as literals;
  2. per-(doc, term) tf — explode + filter to the query terms (the filter
     prunes the posting stream BEFORE the shuffle: only matching terms move);
  3. per-term df — aggregate of the pruned stream, |terms| rows, broadcast;
  4. score + per-query top-k window.

Scale: the only full-corpus pass is the token explode, and the term filter
cuts it to the query's posting lists immediately — the shape of an inverted
index probe without materializing the index.  :func:`build_text_index`
MATERIALIZES that index into the collection store (postings bucketed by
term hash + corpus stats), so :func:`bm25_topk_indexed` probes a
partition-pruned stored table with zero corpus passes at query time — the
round-5 "index once at ingest" model shared with operators.index.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import spark_bucket
from ..functions.text import ws_tokens


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75,
              round_to: int = 6) -> DataFrame:
    """Top-k (id, score, rank) for a bag-of-terms query, ties broken by id.

    Tokenization is lowercased whitespace split — the exact twin of the
    DuckDB oracle's ``DUCK_WS_TOKENS`` on ``lower(text)``.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        ws_tokens(F.lower(F.col(text_col))).alias("toks"))
    lens = toks.select("id", F.size("toks").alias("len"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("len").alias("avgdl")).first()
    if not stats["n"]:  # empty corpus: empty result, id keeps its true type
        return lens.select("id", F.lit(0.0).alias("score"),
                           F.lit(0).alias("rank")).limit(0)
    n_docs, avgdl = stats["n"], float(stats["avgdl"])

    # doc length rides the explode, so the pruned posting stream already
    # carries it — the corpus-sized `lens` table is never joined back in
    # (the only shuffle over corpus-scale data is this one groupBy, and its
    # input is already pruned to the query's terms)
    posting = (
        toks.select("id", F.size("toks").alias("len"),
                    F.explode("toks").alias("term"))
        .filter(F.col("term").isin([t.lower() for t in terms]))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("len").alias("len"))
    )
    return _score_posting(posting, n_docs, avgdl, k, k1, b, round_to)


def _score_posting(posting: DataFrame, n_docs: int, avgdl: float,
                   k: int | None,
                   k1: float, b: float, round_to: int,
                   df_t: DataFrame | None = None) -> DataFrame:
    """Shared BM25 scoring tail over a (id, term, tf, len) posting stream
    already pruned to the query's terms — per-term df is exact on the
    pruned stream (pruning cuts TERMS, never a term's documents).  A
    caller that ALSO narrows documents (the filtered search) passes the
    pre-narrowing ``df_t`` so IDF stays corpus-global.  The final top-k
    is TakeOrderedAndProject (per-partition heaps + one k-row merge),
    not a global row_number window that would shuffle every scored doc
    into one partition.  ``k=None`` skips the cut AND the rank column —
    the full (id, score) set of term-matching docs, the input the
    grouped search's two-window cut consumes (it ranks per GROUP, so a
    global rank here would be a corpus-wide sort for nothing)."""
    if df_t is None:
        df_t = posting.groupBy("term").agg(
            F.countDistinct("id").alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    scored = (
        posting.join(F.broadcast(df_t), "term")
        .withColumn(
            "contrib",
            idf * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("len") / avgdl)))
        .groupBy("id")
        .agg(F.round(F.sum("contrib"), round_to).alias("score"))
    )
    if k is None:
        return scored
    topk = scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Persisted inverted index (round 5): the posting table is built ONCE into
# the collection store — term-hash-bucketed so a query's terms partition-
# prune the scan — and bm25_topk_indexed probes it with zero corpus passes.
# Shares the staleness model (collection data version) and atomic artifact
# swap with operators.index.
# ---------------------------------------------------------------------------

def _text_index_name(text_col: str) -> str:
    return f"{text_col}__bm25"


def text_index_meta(root: str, collection: str,
                    text_col: str = "document") -> dict | None:
    from .index import vector_index_meta  # noqa: PLC0415

    return vector_index_meta(root, collection, _text_index_name(text_col))


def text_index_is_fresh(root: str, collection: str,
                        text_col: str = "document") -> bool:
    from .upsert import collection_version  # noqa: PLC0415

    imeta = text_index_meta(root, collection, text_col)
    if imeta is None:
        return False
    return int(imeta["built_version"]) == collection_version(root, collection)


def build_text_index(spark: SparkSession, root: str, collection: str,
                     text_col: str = "document", n_term_buckets: int = 32,
                     files_per_bucket: int = 1) -> dict:
    """Materialize the BM25 inverted index for a stored collection.

    One pass: tokenize → (term, id, tf, len) posting rows → ONE shuffle on
    (term, id) for the tf aggregate → clustered write partitioned by
    ``term_bucket = pmod(xxhash64(term), n_term_buckets)``.  Corpus stats
    (N, avgdl) land in the index meta; per-term df is NOT stored — the
    pruned posting stream reproduces it exactly at query time, since bucket
    pruning cuts terms, never a surviving term's documents.  Same staged
    atomic swap and built_version staleness gate as the vector index.
    """
    from .index import INDEX_META_FILE, atomic_replace_dir, index_path  # noqa: PLC0415
    from .upsert import collection_meta, collection_version, read_collection  # noqa: PLC0415

    meta = collection_meta(root, collection)
    if meta is None:
        raise ValueError(
            f"collection {collection!r} has no meta sidecar; create it via "
            f"create_collection/upsert before indexing")
    id_col = meta.get("id_col", "id")
    built_version = collection_version(root, collection)
    from .upsert import _store_exists, collection_path  # noqa: PLC0415

    if not _store_exists(collection_path(root, collection)):
        # a collection with zero rows has no parquet files at all (the
        # partitioned write emits nothing) — index it as an empty corpus
        n_docs, avgdl, id_type, toks = 0, 0.0, "string", None
    else:
        docs = read_collection(spark, root, collection)
        toks = docs.select(
            F.col(id_col).alias("id"),
            ws_tokens(F.lower(F.col(text_col))).alias("toks"))
        stats = toks.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size("toks")).alias("avgdl")).first()
        n_docs = int(stats["n"])
        avgdl = float(stats["avgdl"] or 0.0)
        id_type = dict(docs.dtypes)[id_col]

    ipath = index_path(root, collection, _text_index_name(text_col))
    staging = ipath + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    if n_docs:
        posting = (
            toks.select("id", F.size("toks").alias("len"),
                        F.explode("toks").alias("term"))
            .groupBy("term", "id")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("len").alias("len"))
            .withColumn("gen", F.lit(0))
            .withColumn("term_bucket",
                        F.pmod(F.xxhash64("term"),
                               F.lit(n_term_buckets)).cast("int"))
        )
        (posting
         .repartition(n_term_buckets * files_per_bucket, F.col("term_bucket"))
         .write.partitionBy("term_bucket")
         .parquet(os.path.join(staging, "postings")))
        # per-doc lengths as their own tiny table: incremental refresh
        # recomputes (n_docs, avgdl) from the masked doclens instead of
        # scanning the postings (one row per doc, two numeric columns)
        (toks.select(F.col("id").cast("string").alias("id"),
                     F.size("toks").alias("len"), F.lit(0).alias("gen"))
         .coalesce(8).write.parquet(os.path.join(staging, "doclens")))
    imeta = {
        "kind": "bm25",
        "text_col": text_col,
        "id_col": id_col,
        "id_type": id_type,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "n_term_buckets": n_term_buckets,
        "built_version": built_version,
        # same LSM maintenance scheme as the vector index (see
        # operators.index): refresh appends postings at generation g and
        # masks the changed ids' older rows
        "generation": 0,
    }
    with open(os.path.join(staging, INDEX_META_FILE), "w") as fh:
        json.dump(imeta, fh, indent=2, sort_keys=True)
    atomic_replace_dir(staging, ipath)
    return imeta


def refresh_text_index(spark: SparkSession, root: str, collection: str,
                       text_col: str = "document",
                       mask_compact_threshold: int | None = None) -> dict:
    """Absorb mutations since ``built_version`` into the stored BM25 index
    without rebuilding it — the text twin of
    :func:`operators.index.refresh_vector_index`, same delta-log feed, same
    generation/mask LSM scheme, same crash-safe write order (claim g →
    masks → appends → commit built_version).  Changed docs re-tokenize and
    APPEND their postings at generation g into the existing term-bucket
    layout; (n_docs, avgdl) recompute from the masked per-doc length table
    — one tiny scan, never the postings.  Rebuild with
    :func:`build_text_index` to compact masks away."""
    from .index import _apply_masks, index_path, run_incremental_refresh  # noqa: PLC0415
    from .upsert import collection_meta  # noqa: PLC0415

    meta = collection_meta(root, collection)
    if meta is None:
        raise ValueError(f"collection {collection!r} has no meta sidecar")
    imeta = text_index_meta(root, collection, text_col)
    if imeta is None:
        raise ValueError(
            f"no persisted text index for {collection!r}/{text_col!r}; "
            f"run build_text_index first")
    id_col = imeta["id_col"]
    ipath = index_path(root, collection, _text_index_name(text_col))

    def append_fn(fresh, g: int) -> None:
        toks = fresh.select(
            F.col(id_col).alias("id"),
            ws_tokens(F.lower(F.col(text_col))).alias("toks"))
        posting = (
            toks.select("id", F.size("toks").alias("len"),
                        F.explode("toks").alias("term"))
            .groupBy("term", "id")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("len").alias("len"))
            .withColumn("gen", F.lit(g))
            .withColumn("term_bucket",
                        F.pmod(F.xxhash64("term"),
                               F.lit(imeta["n_term_buckets"])).cast("int"))
        )
        (posting.write.mode("append").partitionBy("term_bucket")
         .parquet(os.path.join(ipath, "postings")))
        (toks.select(F.col("id").cast("string").alias("id"),
                     F.size("toks").alias("len"), F.lit(g).alias("gen"))
         .coalesce(8).write.mode("append")
         .parquet(os.path.join(ipath, "doclens")))

    def finalize_fn(im: dict) -> None:
        # corpus stats over the masked doclens — the surviving docs only
        dl_dir = os.path.join(ipath, "doclens")
        if os.path.isdir(dl_dir):
            stats = (_apply_masks(spark, ipath,
                                  spark.read.parquet(dl_dir), "id")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.avg("len").alias("avgdl"))
                     .first())
            im["n_docs"] = int(stats["n"])
            im["avgdl"] = float(stats["avgdl"] or 0.0)

    return run_incremental_refresh(
        spark, root, collection, ipath, imeta, append_fn, finalize_fn,
        data_layouts=[("postings", "id", "term_bucket"),
                      ("doclens", "id", None)],
        mask_compact_threshold=mask_compact_threshold)


def bm25_topk_indexed(spark: SparkSession, root: str, collection: str,
                      terms: list[str], k: int | None = 10,
                      text_col: str = "document",
                      k1: float = 1.2, b: float = 0.75,
                      round_to: int = 6,
                      allow_stale: bool = False,
                      candidate_ids: DataFrame | None = None) -> DataFrame:
    """Top-k BM25 over the PERSISTED posting table — identical results to
    :func:`bm25_topk` on the same corpus (pytest-pinned), but the query
    reads only the query terms' hash buckets of the stored index (static
    ``term_bucket IN (...)`` filter → partition pruning; the residual
    ``term IN (...)`` predicate pushes into the parquet scan).  Zero
    corpus-table passes at query time.  Raises on a stale index unless
    ``allow_stale`` — rebuild after mutations with :func:`build_text_index`.

    ``candidate_ids`` (one id column) narrows the ranking to those
    points — the FILTERED full-text search: the id set semi-joins the
    probed posting lists while the BM25 statistics (IDF, avgdl) stay
    CORPUS-GLOBAL, the standard filtered-BM25 semantics (a filter
    narrows candidates, not term rarity);
    ``query_api.search_text_points`` wires the filter DSL to it."""
    from .index import index_path  # noqa: PLC0415
    from .upsert import collection_version  # noqa: PLC0415

    imeta = text_index_meta(root, collection, text_col)
    if imeta is None:
        raise ValueError(
            f"no persisted text index for {collection!r}/{text_col!r}; "
            f"run build_text_index first")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"text index for {collection!r}/{text_col!r} was built at data "
            f"version {imeta['built_version']} but the collection is at "
            f"{collection_version(root, collection)}; refresh_text_index "
            f"absorbs the mutations incrementally (or rebuild)")
    if not imeta["n_docs"]:
        # mirror _score_posting's k=None shape (no rank column)
        cols = (f"id {imeta['id_type']}, score double" if k is None
                else f"id {imeta['id_type']}, score double, rank int")
        return spark.createDataFrame([], cols)
    terms_l = sorted({t.lower() for t in terms})
    # the probed buckets come from the SAME hash Spark wrote with,
    # computed on the driver
    buckets = sorted({spark_bucket(t, imeta["n_term_buckets"])
                      for t in terms_l})
    ipath = index_path(root, collection, _text_index_name(text_col))
    from .index import _apply_masks  # noqa: PLC0415

    posting = _apply_masks(
        spark, ipath,
        spark.read.parquet(os.path.join(ipath, "postings"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms_l)),
        "id",
    ).select("id", "term", "tf", "len")
    df_t = None
    if candidate_ids is not None:
        # df BEFORE the candidate narrowing: the filter cuts candidates,
        # never a term's rarity (standard filtered-BM25 semantics).  This
        # is one extra pass over the probed (term-pruned) posting stream
        # — deliberately uncached, same no-leak policy as every other
        # two-pass candidate path in this repo
        df_t = posting.groupBy("term").agg(
            F.countDistinct("id").alias("df"))
        cands = candidate_ids.select(
            F.col(candidate_ids.columns[0]).cast("string")
            .alias("_flt_id")).distinct()
        posting = posting.join(
            cands, F.col("id").cast("string") == F.col("_flt_id"),
            "left_semi")
    return _score_posting(posting, imeta["n_docs"], float(imeta["avgdl"]),
                          k, k1, b, round_to, df_t=df_t)


def match_text_ids(spark: SparkSession, root: str, collection: str,
                   phrase: str, text_col: str = "document",
                   allow_stale: bool = False) -> DataFrame:
    """Full-text filter (Qdrant ``MatchText``): ids whose ``text_col``
    contains EVERY token of ``phrase``, resolved from the stored BM25
    posting table — probe only the tokens' hash buckets (static partition
    filter), then one ``groupBy(id) having count(distinct term) == n``
    over the pruned stream.  No corpus pass; the id set feeds filtered
    search or delete_points the same way a payload-index probe does."""
    from .index import _apply_masks, index_path  # noqa: PLC0415
    from .upsert import collection_version  # noqa: PLC0415

    imeta = text_index_meta(root, collection, text_col)
    if imeta is None:
        raise ValueError(
            f"no persisted text index for {collection!r}/{text_col!r}; "
            f"run build_text_index first")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"text index for {collection!r}/{text_col!r} is stale; "
            f"refresh_text_index first")
    terms = sorted({t for t in phrase.lower().split() if t})
    if not terms:
        raise ValueError("match_text_ids needs at least one token")
    if not imeta["n_docs"]:
        return spark.createDataFrame([], f"id {imeta['id_type']}")
    buckets = sorted({spark_bucket(t, imeta["n_term_buckets"])
                      for t in terms})
    ipath = index_path(root, collection, _text_index_name(text_col))
    post = _apply_masks(
        spark, ipath,
        spark.read.parquet(os.path.join(ipath, "postings"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms)),
        "id")
    return (post.groupBy("id")
            .agg(F.countDistinct("term").alias("_n"))
            .filter(F.col("_n") == len(terms))
            .select("id"))


def rrf_fuse(ranked: list[DataFrame], k: int = 10, k0: int = 60,
             id_col: str = "id", rank_col: str = "rank",
             round_to: int = 6) -> DataFrame:
    """Reciprocal Rank Fusion of N ranked lists (the hybrid-search combiner:
    lexical BM25 ∪ vector kNN ∪ …): ``score(d) = Σ_lists 1/(k0 + rank_d)``,
    summing only the lists where ``d`` appears.

    Rank lists are top-k-sized (tiny), so the fusion is a chain of
    broadcast-able full-outer joins followed by one TakeOrderedAndProject —
    nothing here scales with the corpus, only with k·n_lists.  Integer
    ranks in, so the fused score is bit-deterministic across engines.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = None
    for i, df in enumerate(ranked):
        part = df.select(
            F.col(id_col).alias("id"),
            (F.lit(1.0) / (F.lit(k0) + F.col(rank_col))).alias(f"_c{i}"))
        fused = part if fused is None else fused.join(part, "id", "full_outer")
    contribs = [F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
                for i in range(len(ranked))]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    scored = fused.select("id", F.round(score, round_to).alias("rrf_score"))
    topk = scored.orderBy(F.desc("rrf_score"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w))


def dbsf_fuse(ranked: list[DataFrame], k: int = 10, id_col: str = "id",
              score_col: str = "score", round_to: int = 6) -> DataFrame:
    """Distribution-Based Score Fusion — the Query API's second fusion mode
    next to :func:`rrf_fuse` (the reference's store exposes both through
    the delegated query surface, README.md:13).

    Each list's scores are min-max normalized over the interval
    ``[mean − 3σ, mean + 3σ]`` (σ = population stddev of the list's own
    scores); the fused score is the sum of normalized scores over the
    lists where the id appears (absent → contributes 0).  A degenerate
    list (σ = 0: every score equal) normalizes to 0.5 — every member is
    exactly mid-interval.

    Unlike RRF this uses the score DISTRIBUTION, so a branch whose top
    hits are far above its own noise floor outvotes a branch with a flat
    score profile.  Like RRF, nothing here scales with the corpus: each
    per-list stat is an aggregate of a top-k-sized list, the fusion is a
    chain of broadcast-able full-outer joins over k·n_lists rows, and the
    final top-k is one TakeOrderedAndProject.  Feed it scores already
    rounded (every branch in this repo rounds to 6), so the stats see the
    same decimals on any engine and the fused score is reproducible.
    """
    if not ranked:
        raise ValueError("dbsf_fuse needs at least one ranked list")
    fused = None
    for i, df in enumerate(ranked):
        part = df.select(F.col(id_col).alias("id"),
                         F.col(score_col).cast("double").alias("_s"))
        stats = part.agg(F.avg("_s").alias("_mu"),
                         F.stddev_pop("_s").alias("_sd"))
        norm = (part.crossJoin(F.broadcast(stats))
                .select("id",
                        F.when(F.col("_sd") > 0,
                               (F.col("_s") - (F.col("_mu")
                                               - 3 * F.col("_sd")))
                               / (6 * F.col("_sd")))
                        .otherwise(F.lit(0.5)).alias(f"_c{i}")))
        fused = norm if fused is None else fused.join(norm, "id", "full_outer")
    contribs = [F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
                for i in range(len(ranked))]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    scored = fused.select("id", F.round(score, round_to).alias("dbsf_score"))
    topk = scored.orderBy(F.desc("dbsf_score"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("dbsf_score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w))
