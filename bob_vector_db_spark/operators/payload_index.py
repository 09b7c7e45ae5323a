"""Persisted payload (secondary) index — the Qdrant ``create_payload_index``
twin.  The reference's delegated store indexes payload fields so filtered
searches resolve the filter FIRST and score only matching points
(README.md:13's filterable query surface); on the bucketed parquet store the
equivalent is an inverted value index:

    _index/<column>__payload/
        meta.json                       kind=payload, column, built_version
        postings/                       (val, id, gen) partitioned by
                                        val_bucket = pmod(xxhash64(val), N)

A filter probe reads ONLY its values' hash buckets (static ``val_bucket IN``
partition filter + pushed ``val IN`` predicate) and returns the matching
ids; a filtered search then fetches exactly those points from the
collection — whose candidate id set prunes the id-hash buckets the same way
— and scores them.  Two pruned probes, zero full scans: the selective-filter
fast path a 100 TB filtered search needs (the main store's pushed-predicate
scan remains the non-selective fallback).  A keyword probe small enough
(:data:`DRIVER_PROBE_CAP`) runs on the driver: the literals render and hash
in Python (``functions.hashing.xxhash64`` is Spark's hash) and the probed
bucket files and masks are read with pyarrow (:func:`_keyword_id_list`).

Maintenance: the same delta-log / generation / mask LSM scheme as every
other index artifact (operators.index) — mutations append, refresh is
O(|delta|), rebuild compacts.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import spark_bucket
from ..functions.text import tokenize_text_py

from .index import (
    INDEX_META_FILE,
    _apply_masks,
    atomic_replace_dir,
    index_path,
    vector_index_meta,
)
from .localframe import local_frame
from .upsert import (
    _store_exists,
    collection_meta,
    collection_path,
    collection_version,
    read_collection,
)


def _payload_index_name(column: str) -> str:
    return f"{column}__payload"


def payload_index_meta(root: str, collection: str, column: str) -> dict | None:
    return vector_index_meta(root, collection, _payload_index_name(column))


def _column_type(df: DataFrame, column: str):
    """The resolved Spark type of ``column`` — which may be a DOTTED PATH
    into a struct payload (``meta.lang``, the nested-key form the filter
    DSL accepts): ``df.schema[...]`` only knows top-level names, so
    resolve through a projection instead."""
    return df.select(F.col(column).alias("_c")).schema[0].dataType


def _is_array_column(df: DataFrame, column: str) -> bool:
    from pyspark.sql.types import ArrayType  # noqa: PLC0415

    return isinstance(_column_type(df, column), ArrayType)


def _is_range_indexable(dtype) -> bool:
    from pyspark.sql.types import NumericType, TimestampType  # noqa: PLC0415

    return isinstance(dtype, (NumericType, TimestampType))


def _range_bucket_expr(num, boundaries: list[float]):
    """Bucket id of a numeric value under the stored quantile boundaries:
    the COUNT of boundaries <= value (0 .. len(boundaries)), computed as a
    fold over the literal boundary array — pure JVM expression, and the
    exact integer the probe's driver-side ``bisect_right`` reproduces (both
    compare the same float64 values)."""
    bounds = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        bounds, F.lit(0),
        lambda acc, b: acc + F.when(num >= b, F.lit(1)).otherwise(F.lit(0)),
    ).cast("int")


def _range_postings(df: DataFrame, id_col: str, column: str,
                    boundaries: list[float], gen: int) -> DataFrame:
    """Value-ordered postings for a RANGE index: ``(id, val, num, gen,
    val_bucket)`` where ``val`` keeps the column's ORIGINAL type (the probe
    predicate compares typed values — exact even for int64 beyond double
    precision) and ``num`` is the double image used ONLY for bucketing
    (build and probe round identically, so bucket membership stays
    consistent even where the double rounds).  NaN rows stay IN the
    postings: Spark orders NaN above every number (``NaN >= b`` is TRUE)
    so the bucket fold lands them in the TOP bucket — exactly where the
    probe's ``bisect_right`` sends a NaN literal (every comparison
    False → returns len(boundaries)) — and the typed probe predicate
    then agrees with the pushed scan, which matches NaN on ``gt``/
    ``gte``; dropping them at build would make indexed and scan paths
    disagree on NaN-bearing data."""
    num = F.col(column).cast("double")
    return (df.select(F.col(id_col).cast("string").alias("id"),
                      F.col(column).alias("val"),
                      num.alias("num"))
            .filter(F.col("val").isNotNull())
            .withColumn("gen", F.lit(gen))
            .withColumn("val_bucket",
                        _range_bucket_expr(F.col("num"), boundaries)))


def _nested_postings(df: DataFrame, id_col: str, column: str,
                     fields: list[str],
                     n_val_buckets: int, gen: int) -> DataFrame:
    """Element-level postings for an ARRAY-OF-STRUCT column: one row per
    (point, element, field) — ``(id, elem_idx, field, val)`` bucketed by
    ``xxhash64(field || NUL || val)``.  NestedCondition resolves by
    intersecting per-leaf (id, elem_idx) sets on the SAME elem_idx, which
    a flat per-field index cannot express (cross-element conjunctions
    would leak through)."""
    ex = df.select(F.col(id_col).cast("string").alias("id"),
                   F.posexplode(F.col(column)).alias("elem_idx", "_e"))
    parts = []
    for f in fields:
        parts.append(ex.select(
            "id", "elem_idx", F.lit(f).alias("field"),
            F.col("_e").getField(f).cast("string").alias("val")))
    post = parts[0]
    for p in parts[1:]:
        post = post.unionByName(p)
    return (post.filter(F.col("val").isNotNull())
            .withColumn("gen", F.lit(gen))
            .withColumn("val_bucket",
                        F.pmod(F.xxhash64(F.concat_ws("\x00", "field",
                                                      "val")),
                               F.lit(n_val_buckets)).cast("int")))


# the accepted QUERY-token length cap when a prefix index sets no
# max_token_len — the search-as-you-type band; longer query tokens fall
# back to the scan (r10: the layout stores FULL tokens, so the cap is a
# router contract, not a storage bound)
PREFIX_DEFAULT_MAX = 20

# Text-index FORMAT epoch, bumped whenever the tokenization itself
# changes (built_version only tracks DATA freshness): 2 = the round-10
# format (chr(2) joins chr(1) in the delimiter class; stopword/stemmer
# params exist).  The router and every probe refuse older formats —
# their postings were tokenized differently, so routed answers could
# silently diverge from the current scan forms.
TEXT_FORMAT = 2


def _tokenize_expr(column: str, tokenizer: str, lowercase: bool,
                   stopwords: tuple = (), stemmer: str | None = None):
    """The token array of one text value under the index params — the
    build/refresh-shared tokenization (driver-side probe mirror:
    :func:`functions.text.tokenize_text_py`).  ``stopwords``/``stemmer``
    apply as the SAME :func:`functions.text.token_pipeline` replace
    chain the compiled scan SQL uses (``F.replace`` Columns here, SQL
    strings there) — build == scan by construction."""
    from ..functions.text import (  # noqa: PLC0415
        S_STEM_MARKER,
        WORD_DELIMS,
        token_pipeline,
        ws_tokens,
    )

    txt = F.col(column)
    if lowercase:
        txt = F.lower(txt)
    # the FULL delimiter class becomes plain spaces, exactly like the
    # scan's _delim_norm_sql: the Java \s members the split would
    # handle anyway, PLUS chr(1) (phrase collapse marker) and chr(2)
    # (stem marker) — and the stopword/stemmer pipeline below operates
    # at STRING level with space-anchored patterns, so a tab before a
    # stopword must already be a space here or build and scan diverge
    txt = F.translate(txt, "\t\n\x0b\x0c\r\x01\x02", " " * 7)
    if tokenizer == "word":
        txt = F.translate(txt, WORD_DELIMS, " " * len(WORD_DELIMS))
    if stopwords or stemmer:
        def rep(src, a, b):
            a = F.lit(S_STEM_MARKER) if a is S_STEM_MARKER else a
            return F.replace(src, a, b)

        def cat(*parts):
            return F.concat(*[F.lit(S_STEM_MARKER)
                              if p is S_STEM_MARKER else p
                              for p in parts])

        txt = token_pipeline(
            F.concat(F.lit(" "), txt, F.lit(" ")), stopwords, stemmer,
            lit=F.lit, replace=rep, concat=cat)
    return ws_tokens(txt)


def prefix_band(imeta: dict) -> dict:
    """The QUERY-token length band a prefix-tokenized index accepts
    (build defaults: 1..PREFIX_DEFAULT_MAX; the min is also the
    bucket-key prefix length of the r10 full-token layout) — the ONE
    definition the router and the probe both check against (r9 review
    finding: two drifting copies would silently break routed-answer
    exactness)."""
    lo = imeta.get("min_token_len")
    hi = imeta.get("max_token_len")
    return {"min_token_len": 1 if lo is None else int(lo),
            "max_token_len": PREFIX_DEFAULT_MAX if hi is None else int(hi)}


def _band_ok(toks: list[str], imeta: dict) -> bool:
    """True when every probe token is inside the index's stored length
    band — the postings are complete for it (token equality implies
    equal length, so an in-band token's posting list can't miss)."""
    lo = imeta.get("min_token_len")
    hi = imeta.get("max_token_len")
    return all((lo is None or len(t) >= lo)
               and (hi is None or len(t) <= hi) for t in toks)


def _text_postings(df: DataFrame, id_col: str, column: str,
                   n_val_buckets: int, gen: int,
                   tokenizer: str = "whitespace",
                   lowercase: bool = True,
                   min_token_len: int | None = None,
                   max_token_len: int | None = None,
                   phrase_matching: bool = False,
                   stopwords: tuple = (),
                   stemmer: str | None = None) -> DataFrame:
    """Token postings for a FULL-TEXT payload index (Qdrant
    ``TextIndexParams``: tokenizer word|whitespace|prefix, lowercase,
    min/max token length, phrase_matching).

    - ``whitespace`` (default): ``\\s+`` split — matches
      :class:`filters.MatchText`'s scan normalization exactly.
    - ``word``: ASCII punctuation also delimits (:data:`WORD_DELIMS`) —
      matches ``MatchText(tokenizer='word')``.
    - ``prefix``: FULL whitespace tokens post, bucketed by their first
      ``min_token_len`` characters (r10 layout — one row per distinct
      (id, token), ~6x fewer rows than exploding every prefix); a probe
      reads the query token's first-chars bucket and pushes
      ``startswith`` — the search-as-you-type index answering
      :class:`filters.MatchTextPrefix`, accepting query tokens in the
      ``min_token_len``..``max_token_len`` band (default 1..20).
    - ``phrase_matching=True`` stores the token ORDINAL (``pos``) so
      :class:`filters.MatchPhrase` resolves via shifted-position
      intersection (Qdrant's positional postings); without it the
      postings stay distinct (id, token) — smaller, MatchText-only.

    ``stopwords`` drop whole tokens BEFORE position assignment (the
    phrase ordinals compress over the survivors — Qdrant's stopworded
    phrase semantics) and before prefix expansion; ``stemmer`` maps the
    survivors through the S-stemmer chain.  One row per (point,
    token[, pos]), hash-bucketed by token — the keyword layout over the
    exploded token stream, so probes share the keyword pruning shape."""
    base = df.select(F.col(id_col).cast("string").alias("id"),
                     F.posexplode(_tokenize_expr(
                         column, "whitespace" if tokenizer == "prefix"
                         else tokenizer, lowercase,
                         stopwords=stopwords, stemmer=stemmer))
                     .alias("pos", "_tok"))
    lo = min_token_len
    hi = max_token_len
    bucket_of = F.col("val")
    if tokenizer == "prefix":
        # r10 growth control (VERDICT r9 next #6): FULL tokens post —
        # one row per distinct (id, token), the same cardinality as a
        # word index — bucketed by the token's first ``lo`` characters.
        # A probe for query token t reads bucket(t[:lo]) and pushes
        # ``startswith(val, t)`` inside it: identical pruning shape,
        # ~6x fewer posting rows than the r9 every-prefix explosion.
        # ``max_token_len`` caps only the ROUTER's accepted query
        # length (prefix_band) — in r9 too, a doc token longer than the
        # band still matched shorter queries, so nothing doc-side
        # filters on it.
        lo = 1 if lo is None else int(lo)
        toks = (base.filter(F.length("_tok") >= lo)
                .select("id", "pos", F.col("_tok").alias("val")))
        bucket_of = F.substring("val", 1, lo)
    else:
        toks = base.select("id", "pos", F.col("_tok").alias("val"))
        if lo is not None:
            toks = toks.filter(F.length("val") >= int(lo))
        if hi is not None:
            toks = toks.filter(F.length("val") <= int(hi))
    if phrase_matching:
        toks = toks.select("id", "val", "pos")
    else:
        toks = toks.select("id", "val").distinct()
    return (toks.filter(F.col("val").isNotNull())
            .withColumn("gen", F.lit(gen))
            .withColumn("val_bucket",
                        F.pmod(F.xxhash64(bucket_of),
                               F.lit(n_val_buckets)).cast("int")))


def _geo_cell_expr(lat, lon, cell_deg: float):
    """The quantized grid cell of a (lat, lon) pair as 'i:j' — floor
    division of the shifted coordinates by ``cell_deg``.  Build and probe
    compute the SAME floors, so a conservative cell cover of a bounding
    box always contains every point the box contains."""
    ci = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    cj = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    return F.concat_ws(":", ci, cj)


def _geo_postings(df: DataFrame, id_col: str, lat_col: str, lon_col: str,
                  cell_deg: float, n_val_buckets: int,
                  gen: int) -> DataFrame:
    """Cell postings for a GEO payload index (Qdrant's geo index type):
    one row per point, ``val`` = its quantized lat/lon grid cell,
    hash-bucketed by cell.  NULL/NaN coordinates drop — the scan's
    bbox test (``lat >= b AND lat <= t``) can never pass for them
    either, so index and scan agree."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    return (df.select(F.col(id_col).cast("string").alias("id"),
                      _geo_cell_expr(lat, lon, cell_deg).alias("val"))
            .filter(lat.isNotNull() & lon.isNotNull()
                    & ~F.isnan(lat.cast("double"))
                    & ~F.isnan(lon.cast("double")))
            .withColumn("gen", F.lit(gen))
            .withColumn("val_bucket",
                        F.pmod(F.xxhash64("val"),
                               F.lit(n_val_buckets)).cast("int")))


_GEO_MAX_CELLS = 4096


def _geo_cells(imeta: dict, bbox: tuple,
               max_cells: int = _GEO_MAX_CELLS) -> list[str] | None:
    """The ``"i:j"`` grid cells of a geo index (``imeta``) covering the
    (top, left, bottom, right) box — left > right wraps the
    antimeridian — or None past ``max_cells`` cells."""
    import math  # noqa: PLC0415

    top, left, bottom, right = (float(v) for v in bbox)
    step = float(imeta["cell_deg"])
    i_lo = math.floor((max(bottom, -90.0) + 90.0) / step)
    i_hi = math.floor((min(top, 90.0) + 90.0) / step)
    lon_windows = ([(left, right)] if left <= right
                   else [(left, 180.0), (-180.0, right)])
    j_ranges = []
    for lo, hi in lon_windows:
        j_ranges.append((math.floor((max(lo, -180.0) + 180.0) / step),
                         math.floor((min(hi, 180.0) + 180.0) / step)))
    n_j = sum(j1 - j0 + 1 for j0, j1 in j_ranges)
    if i_hi < i_lo or n_j <= 0:
        return []
    if (i_hi - i_lo + 1) * n_j > max_cells:
        return None
    return [f"{i}:{j}" for i in range(i_lo, i_hi + 1)
            for j0, j1 in j_ranges for j in range(j0, j1 + 1)]


def geo_match_ids(spark: SparkSession, root: str, collection: str,
                  lat_col: str, bbox: tuple,
                  allow_stale: bool = False,
                  max_cells: int = _GEO_MAX_CELLS) -> DataFrame | None:
    """CANDIDATE ids (a conservative SUPERSET) for a lat/lon bounding
    box, resolved from a GEO payload index: the box's covering grid
    cells enumerate driver-side, their hash buckets become a static
    ``val_bucket IN (...)`` partition filter with the pushed
    ``val IN (cells)`` predicate inside — only the covered cells' rows
    are ever read.  The caller MUST still apply the geo leaf itself on
    the fetched candidates (cells overhang the box edge); the filter
    router keeps geo leaves in the residual for exactly that reason.
    ``bbox`` is (top, left, bottom, right) — left > right wraps the
    antimeridian.  Returns None when the box covers more than
    ``max_cells`` cells (a near-global box prunes nothing; the pushed
    scan is the better plan)."""
    imeta = payload_index_meta(root, collection, lat_col)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{lat_col!r}; "
            f"run build_payload_index(index_type='geo') first")
    if imeta.get("index_type", "keyword") != "geo":
        raise ValueError(
            f"payload index for {collection!r}/{lat_col!r} is "
            f"{imeta.get('index_type', 'keyword')!r}, not 'geo'")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"payload index for {collection!r}/{lat_col!r} was built at "
            f"data version {imeta['built_version']} but the collection is "
            f"at {collection_version(root, collection)}; "
            f"refresh_payload_index absorbs the mutations (or rebuild)")
    cells = _geo_cells(imeta, bbox, max_cells)
    if cells is None:
        return None
    if not cells:
        return spark.createDataFrame([], "id string")
    ipath = index_path(root, collection, _payload_index_name(lat_col))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):
        return spark.createDataFrame([], "id string")
    n = imeta["n_val_buckets"]
    buckets = sorted({spark_bucket(c, n) for c in cells})
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(buckets))
            .filter(F.col("val").isin(cells)))
    return _apply_masks(spark, ipath, post, "id").select("id")


def _postings(df: DataFrame, id_col: str, column: str,
              n_val_buckets: int, gen: int) -> DataFrame:
    # ids stringify for one uniform posting schema (matches the delta log
    # and mask tables; the fetch joins on cast-to-string anyway).  An
    # ARRAY column indexes per ELEMENT (the Qdrant keyword-index-on-array
    # model: MatchContains probes membership) — one explode, deduped per
    # (id, element) so repeated elements don't double-post.
    if _is_array_column(df, column):
        vals = (df.select(F.col(id_col).cast("string").alias("id"),
                          F.explode(F.col(column)).alias("_e"))
                .select("id", F.col("_e").cast("string").alias("val"))
                .distinct())
    else:
        vals = df.select(F.col(id_col).cast("string").alias("id"),
                         F.col(column).cast("string").alias("val"))
    return (vals.filter(F.col("val").isNotNull())
            .withColumn("gen", F.lit(gen))
            .withColumn("val_bucket",
                        F.pmod(F.xxhash64("val"),
                               F.lit(n_val_buckets)).cast("int")))


def build_payload_index(spark: SparkSession, root: str, collection: str,
                        column: str, n_val_buckets: int = 32,
                        files_per_bucket: int = 1,
                        index_type: str = "keyword",
                        fields: list[str] | None = None,
                        lon_column: str | None = None,
                        cell_deg: float = 1.0,
                        tokenizer: str = "whitespace",
                        lowercase: bool = True,
                        min_token_len: int | None = None,
                        max_token_len: int | None = None,
                        phrase_matching: bool = False,
                        stopwords=None,
                        stemmer: str | None = None) -> dict:
    """Materialize the inverted index for one payload column.

    ``index_type='keyword'`` (default): (val, id) postings hash-bucketed by
    value — answers MatchValue/MatchAny (and MatchContains on an ARRAY
    column) with a pruned ``val_bucket IN`` probe.  Values index as strings
    (exact-match semantics across types — the probe casts its literals the
    same way).  ``column`` may be a DOTTED PATH into a struct payload
    (``meta.lang`` — the filter DSL's nested-key form), indexing the
    subfield's values; the filter router matches leaves by the same
    literal key.

    ``index_type='range'``: the Qdrant integer/float/datetime payload
    index twin — postings are VALUE-ORDERED (bucketed by quantile
    boundaries computed at build, stored in the meta), so ``Range`` /
    ``DatetimeRange`` must-leaves resolve to candidate ids like equality
    leaves do: the probe turns the bounds into a contiguous ``val_bucket
    IN`` partition filter plus an exact typed comparison on the pushed
    ``val`` column.  Numeric and timestamp columns only; equality leaves
    route through it too.  Quantile (not fixed-width) boundaries keep the
    buckets balanced under skewed value distributions — the property that
    matters at 100 TB, where one hot bucket would re-create the scan.

    ``index_type='nested'`` (with ``fields=[...]``): an ELEMENT-LEVEL
    index over an array-of-struct column — postings keyed ``(id,
    elem_idx, field, val)`` so a ``NestedCondition`` resolves by
    intersecting its leaves' (id, elem_idx) sets on the SAME element
    (Qdrant's nested index; a per-field index can't express the
    same-element conjunction).

    ``index_type='text'`` with ``stemmer='english'`` applies **Harman's
    S-stemmer** (plural-suffix rules only: -ies/-es/-s with protected
    exception classes) — NOT Snowball/Porter English, which upstream
    Qdrant's ``TextIndexParams`` uses.  Inflections beyond plurals
    ('running' → 'run') do NOT conflate here though they would upstream;
    the choice is deliberate (the S-stemmer is expressible as a pure
    replace chain both engines evaluate identically on build, scan and
    probe — see ``functions.text.S_STEM_RULES``).  The divergence is
    internally consistent: every path stems the same way.

    Either way: one pass over the collection, one shuffle to cluster by
    value bucket, staged atomic swap."""
    if index_type not in ("keyword", "range", "nested", "text", "geo"):
        raise ValueError(
            f"index_type {index_type!r} not one of "
            f"('keyword', 'range', 'nested', 'text', 'geo')")
    if index_type == "geo" and not lon_column:
        raise ValueError(
            "index_type='geo' needs lon_column= (the store keeps "
            "coordinates as two plain double columns; ``column`` is the "
            "latitude one, keying the index)")
    if index_type == "nested" and not fields:
        raise ValueError(
            "index_type='nested' needs fields=[...] — the element struct "
            "subfields to post")
    if tokenizer not in ("whitespace", "word", "prefix"):
        raise ValueError(
            f"tokenizer {tokenizer!r} not one of "
            f"('whitespace', 'word', 'prefix')")
    if index_type == "text":
        if phrase_matching and tokenizer == "prefix":
            raise ValueError(
                "phrase_matching needs token-aligned postings; the prefix "
                "tokenizer posts every prefix of a token and cannot carry "
                "phrase adjacency — use tokenizer='whitespace' or 'word'")
        for nm, v in (("min_token_len", min_token_len),
                      ("max_token_len", max_token_len)):
            if v is not None and int(v) < 1:
                raise ValueError(
                    f"{nm} must be >= 1, got {v} (a zero-length token "
                    f"never posts; the prefix build would emit junk '' "
                    f"postings no probe can read)")
        if min_token_len is not None and max_token_len is not None \
                and int(min_token_len) > int(max_token_len):
            raise ValueError(
                f"min_token_len {min_token_len} > max_token_len "
                f"{max_token_len}")
        from ..functions.text import (  # noqa: PLC0415
            STEMMERS,
            check_stopwords,
            resolve_stopwords,
        )

        stopwords = resolve_stopwords(stopwords)
        check_stopwords(stopwords,
                        "whitespace" if tokenizer == "prefix"
                        else tokenizer, lowercase)
        if stemmer is not None and stemmer not in STEMMERS:
            raise ValueError(
                f"unknown stemmer {stemmer!r}; one of {STEMMERS}")
        if stemmer is not None and tokenizer == "prefix":
            raise ValueError(
                "stemmer + tokenizer='prefix' is incoherent (prefixes "
                "of stems answer neither prefix-of-token nor "
                "stemmed-match semantics); stem through a word/"
                "whitespace index")
    elif (tokenizer != "whitespace" or not lowercase
          or min_token_len is not None or max_token_len is not None
          or phrase_matching or stopwords or stemmer is not None):
        raise ValueError(
            "tokenizer/lowercase/token-length/phrase_matching/"
            "stopwords/stemmer params apply to index_type='text' only")
    meta = collection_meta(root, collection)
    if meta is None:
        raise ValueError(
            f"collection {collection!r} has no meta sidecar; create it via "
            f"create_collection/upsert before indexing")
    id_col = meta.get("id_col", "id")
    built_version = collection_version(root, collection)
    ipath = index_path(root, collection, _payload_index_name(column))
    staging = ipath + "__staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    column_type = None
    is_array = False
    boundaries: list[float] = []
    field_types: dict = {}
    if _store_exists(collection_path(root, collection)):
        data = read_collection(spark, root, collection)
        # persist the indexed column's Spark type: probe literals must cast
        # through it before stringifying, or values=[2] against a double
        # column renders '2' while the index stored '2.0' (silent miss).
        # For an ARRAY column the postings hold ELEMENTS, so the persisted
        # type is the element type (probe literals are elements).
        is_array = _is_array_column(data, column)
        dtype = _column_type(data, column)
        column_type = (dtype.elementType if is_array
                       else dtype).simpleString()
        if index_type == "nested":
            from pyspark.sql.types import StructType  # noqa: PLC0415

            if not is_array or not isinstance(dtype.elementType,
                                              StructType):
                raise ValueError(
                    f"index_type='nested' needs an array-of-struct "
                    f"column; {column!r} is {dtype.simpleString()}")
            elem = dtype.elementType
            missing = [f for f in fields if f not in elem.fieldNames()]
            if missing:
                raise ValueError(
                    f"nested index fields {missing} not in the element "
                    f"struct of {column!r} (has {elem.fieldNames()})")
            field_types = {f: elem[f].dataType.simpleString()
                           for f in fields}
            post = _nested_postings(data, id_col, column, list(fields),
                                    n_val_buckets, gen=0)
        elif index_type == "range":
            if is_array or not _is_range_indexable(dtype):
                raise ValueError(
                    f"index_type='range' needs a numeric or timestamp "
                    f"column; {column!r} is {dtype.simpleString()}")
            # quantile boundaries (approx is fine: they only PLACE bucket
            # edges — correctness comes from the typed probe predicate);
            # duplicates collapse on heavy skew, shrinking the bucket count
            probs = [i / n_val_buckets for i in range(1, n_val_buckets)]
            raw = (data.select(F.col(column).cast("double").alias("_n"))
                   .na.drop()
                   .approxQuantile("_n", probs, 0.001)) if probs else []
            boundaries = sorted(set(float(b) for b in raw))
            post = _range_postings(data, id_col, column, boundaries, gen=0)
        elif index_type == "text":
            if is_array or dtype.simpleString() != "string":
                raise ValueError(
                    f"index_type='text' needs a string column; "
                    f"{column!r} is {dtype.simpleString()}")
            post = _text_postings(
                data, id_col, column, n_val_buckets, gen=0,
                tokenizer=tokenizer, lowercase=lowercase,
                min_token_len=min_token_len, max_token_len=max_token_len,
                phrase_matching=phrase_matching,
                stopwords=stopwords, stemmer=stemmer)
        elif index_type == "geo":
            if is_array or not _is_range_indexable(dtype) \
                    or lon_column not in data.columns:
                raise ValueError(
                    f"index_type='geo' needs numeric lat ({column!r} is "
                    f"{dtype.simpleString()}) and lon ({lon_column!r}) "
                    f"columns")
            post = _geo_postings(data, id_col, column, lon_column,
                                 float(cell_deg), n_val_buckets, gen=0)
        else:
            post = _postings(data, id_col, column, n_val_buckets, gen=0)
        (post.repartition(n_val_buckets * files_per_bucket,
                          F.col("val_bucket"))
         .write.partitionBy("val_bucket")
         .parquet(os.path.join(staging, "postings")))
    imeta = {
        "kind": "payload",
        "index_type": index_type,
        "column": column,
        "column_type": column_type,
        "array": is_array,
        "id_col": id_col,
        "n_val_buckets": n_val_buckets,
        **({"boundaries": boundaries} if index_type == "range" else {}),
        **({"fields": list(fields), "field_types": field_types}
           if index_type == "nested" else {}),
        **({"lon_column": lon_column, "cell_deg": float(cell_deg)}
           if index_type == "geo" else {}),
        **({"tokenizer": tokenizer, "lowercase": bool(lowercase),
            "min_token_len": (None if min_token_len is None
                              else int(min_token_len)),
            "max_token_len": (None if max_token_len is None
                              else int(max_token_len)),
            "phrase_matching": bool(phrase_matching),
            "stopwords": list(stopwords or ()),
            "stemmer": stemmer,
            "text_format": TEXT_FORMAT}
           if index_type == "text" else {}),
        "built_version": built_version,
        "generation": 0,
    }
    with open(os.path.join(staging, INDEX_META_FILE), "w") as fh:
        json.dump(imeta, fh, indent=2, sort_keys=True)
    atomic_replace_dir(staging, ipath)
    return imeta


def refresh_payload_index(spark: SparkSession, root: str, collection: str,
                          column: str,
                          mask_compact_threshold: int | None = None) -> dict:
    """Absorb mutations incrementally — same crash-safe claim-g → masks →
    append → commit order as refresh_vector_index."""
    from .index import run_incremental_refresh  # noqa: PLC0415

    imeta = payload_index_meta(root, collection, column)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{column!r}; "
            f"run build_payload_index first")
    if imeta.get("index_type", "keyword") == "text" \
            and imeta.get("text_format") != TEXT_FORMAT:
        # r10 review finding: refreshing an older-format text index
        # would append CURRENT-format postings (different delimiter
        # class; for prefix, a different layout and bucket hash) into
        # the old artifact and mark it fresh — while every probe and
        # the router refuse it.  Fail here with the same contract the
        # probes enforce.
        raise ValueError(
            f"text payload index for {collection!r}/{column!r} was built "
            f"by an older text format "
            f"({imeta.get('text_format', 1)} != {TEXT_FORMAT}); a refresh "
            f"would mix tokenization formats — rebuild with "
            f"build_payload_index(index_type='text', ...)")
    ipath = index_path(root, collection, _payload_index_name(column))
    id_col = imeta["id_col"]

    def append_fn(fresh: DataFrame, g: int) -> None:
        if imeta.get("index_type", "keyword") == "nested":
            post = _nested_postings(fresh, id_col, imeta["column"],
                                    imeta.get("fields", []),
                                    imeta["n_val_buckets"], gen=g)
        elif imeta.get("index_type", "keyword") == "range":
            # encode with the STORED boundaries — re-deriving quantiles on
            # a delta would move every existing row's bucket meaning; new
            # out-of-range values clamp into the edge buckets, which the
            # probe's conservative bucket window always includes
            post = _range_postings(fresh, id_col, imeta["column"],
                                   imeta.get("boundaries", []), gen=g)
        elif imeta.get("index_type", "keyword") == "text":
            # the persisted params drive the delta tokenization — a
            # refresh must post new rows EXACTLY the way the build did
            post = _text_postings(
                fresh, id_col, imeta["column"], imeta["n_val_buckets"],
                gen=g,
                tokenizer=imeta.get("tokenizer", "whitespace"),
                lowercase=bool(imeta.get("lowercase", True)),
                min_token_len=imeta.get("min_token_len"),
                max_token_len=imeta.get("max_token_len"),
                phrase_matching=bool(imeta.get("phrase_matching", False)),
                stopwords=tuple(imeta.get("stopwords") or ()),
                stemmer=imeta.get("stemmer"))
        elif imeta.get("index_type", "keyword") == "geo":
            post = _geo_postings(fresh, id_col, imeta["column"],
                                 imeta["lon_column"],
                                 float(imeta["cell_deg"]),
                                 imeta["n_val_buckets"], gen=g)
        else:
            post = _postings(fresh, id_col, imeta["column"],
                             imeta["n_val_buckets"], gen=g)
        (post.write.mode("append").partitionBy("val_bucket")
         .parquet(os.path.join(ipath, "postings")))

    return run_incremental_refresh(
        spark, root, collection, ipath, imeta, append_fn,
        data_layouts=[("postings", "id", "val_bucket")],
        mask_compact_threshold=mask_compact_threshold)


def payload_match_ids(spark: SparkSession, root: str, collection: str,
                      column: str, values: list,
                      allow_stale: bool = False) -> DataFrame:
    """Ids whose ``column`` equals any of ``values``, resolved from the
    stored index: static ``val_bucket IN (...)`` partition filter + pushed
    ``val IN (...)`` predicate — only the probed value buckets are read."""
    return _payload_probe(spark, root, collection, column, values,
                          _probe_meta(root, collection, column, allow_stale))


def _probe_meta(root: str, collection: str, column: str,
                allow_stale: bool, cur: int | None = None) -> dict:
    """The meta of the keyword or range index a value probe of
    ``column`` reads, after the refusals: no index, a stale one (unless
    ``allow_stale``; ``cur`` is the data version when the caller holds
    it), or an index kind whole-value equality can't probe."""
    imeta = payload_index_meta(root, collection, column)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{column!r}; "
            f"run build_payload_index first")
    if not allow_stale:
        if cur is None:
            cur = collection_version(root, collection)
        if int(imeta["built_version"]) != cur:
            raise ValueError(
                f"payload index for {collection!r}/{column!r} was built at "
                f"data version {imeta['built_version']} but the collection "
                f"is at {cur}; refresh_payload_index absorbs the mutations "
                f"(or rebuild)")
    if imeta.get("index_type", "keyword") == "nested":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} is element-level "
            f"(nested); probe it through NestedCondition / nested_match_ids")
    if imeta.get("index_type", "keyword") == "text":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} holds TOKEN "
            f"postings (text); probe it through MatchText / text_match_ids "
            f"— whole-value equality needs a keyword index")
    if imeta.get("index_type", "keyword") == "geo":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} holds grid-CELL "
            f"postings (geo); probe it through a geo filter leaf / "
            f"geo_match_ids — whole-value equality needs a keyword index")
    return imeta


def _payload_probe(spark: SparkSession, root: str, collection: str,
                   column: str, values: list, imeta: dict) -> DataFrame:
    """The ``(id, val)`` Spark probe frame of a keyword or range index
    whose meta (``imeta``) passed the refusals."""
    if imeta.get("index_type", "keyword") == "range":
        # a RANGE index answers equality too (the Qdrant typed-index
        # model): each literal maps to its boundary bucket via the num
        # image, the predicate compares TYPED values
        return _range_probe(spark, root, collection, column, imeta,
                            [("eq", v) for v in values], eq_values=values)
    ipath = index_path(root, collection, _payload_index_name(column))
    vals, buckets = _probe_keys(spark, values, imeta.get("column_type"),
                                imeta["n_val_buckets"])
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):  # index built over an empty collection
        return spark.createDataFrame([], "id string, val string")
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(buckets))
            .filter(F.col("val").isin(vals)))
    return _apply_masks(spark, ipath, post, "id").select("id", "val")


# A driver-side keyword probe reads at most this many posting rows (and
# this many mask rows), counted from the parquet footers before any row
# is read; past it the probe stays a Spark plan.  Measured on a
# 200 000-point store at 4 cores (PERF_NOTES round 20): the driver path
# wins up to ~5 000 candidates, ties at 10 000 and loses past it (1.7x
# at 28 572, 4.5x at 100 000), because its literal id IN list grows with
# the candidates while the Spark path stays ~flat.  The footers bound
# the candidates from above, so no probe past the tie runs here.
DRIVER_PROBE_CAP = 10_000

# integral column types -> bit width: an int literal inside the range
# casts to itself, so Spark renders it as str(int)
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_SPARK_RENDER = object()


def _driver_render(v, ctype: str | None):
    """``cast(cast(v AS ctype) AS string)`` — the string the build
    posted for ``v`` — computed in Python where it provably equals
    Spark's: ``str`` on a string column, an in-range non-bool int on an
    integral column, a bool on a boolean column, and NULL for None.
    Every other case (doubles, floats, decimals, dates, timestamps,
    out-of-range ints, which ANSI mode rejects, mixed types) returns
    ``_SPARK_RENDER``: only Spark's own cast renders those exactly."""
    if v is None:
        return None
    if ctype == "string" and isinstance(v, str):
        try:
            v.encode("utf-8")
        except UnicodeEncodeError:  # lone surrogate: not a Spark string
            return _SPARK_RENDER
        return str(v)
    if ctype == "boolean" and isinstance(v, bool):
        return "true" if v else "false"
    bits = _INT_BITS.get(ctype)
    if bits and isinstance(v, int) and not isinstance(v, bool) \
            and -(1 << (bits - 1)) <= v < (1 << (bits - 1)):
        return str(int(v))
    return _SPARK_RENDER


def _driver_keys(values: list, ctype: str | None,
                 n: int) -> tuple[list, list] | None:
    """(sorted distinct rendered literals, their sorted value buckets)
    computed on the driver, or None when a literal needs Spark's
    render."""
    rendered = [_driver_render(v, ctype) for v in values]
    if any(r is _SPARK_RENDER for r in rendered):
        return None
    vals = sorted({r for r in rendered if r is not None})
    return vals, sorted({spark_bucket(v, n) for v in vals})


def _probe_keys(spark: SparkSession, values: list, ctype: str | None,
                n: int) -> tuple[list, list]:
    """The probe literals rendered the way the build rendered them, and
    their value buckets.  Stringify through SPARK's cast, not Python
    str(): the index stored cast-to-string values ('true', not 'True';
    '2.0', not '2' for a double column), and literals first cast to the
    column's STORED type (persisted in the index meta) so a Python int
    probes a double column as '2.0'.  The driver renders the cases where
    Python provably agrees (:func:`_driver_render`); otherwise ONE 1-row
    job renders and hashes every literal."""
    keys = _driver_keys(values, ctype, n)
    if keys is not None:
        return keys
    cols = []
    for i, v in enumerate(values):
        lit = F.lit(v).cast(ctype) if ctype else F.lit(v)
        s = lit.cast("string")
        cols.append(s.alias(f"v{i}"))
        cols.append(F.pmod(F.xxhash64(s), F.lit(n)).cast("int")
                    .alias(f"b{i}"))
    row = spark.range(1).select(*cols).first()
    vals = sorted({row[f"v{i}"] for i in range(len(values))
                   if row[f"v{i}"] is not None})
    buckets = sorted({row[f"b{i}"] for i in range(len(values))
                      if row[f"v{i}"] is not None})
    return vals, buckets


def _data_files(d: str) -> list[str]:
    """The data files of one directory as Spark lists them: names that
    start with ``_`` or ``.`` (``_SUCCESS``, checksums) are skipped."""
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in sorted(os.listdir(d))
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(d, f))]


def _footer_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq  # noqa: PLC0415

    return sum(pq.read_metadata(f).num_rows for f in files)


def _keyword_id_list(ipath: str, imeta: dict,
                     values: list) -> list[str] | None:
    """The ids a keyword-index probe matches, read with pyarrow on the
    driver: the rendered literals' ``val_bucket=b`` posting files, the
    pushed ``val IN`` predicate, then the masks under
    :func:`index._apply_masks`'s rule (a row survives unless its id has
    a mask with ``gen <= max(upto_gen)``; the two copies of that rule
    must agree, which
    ``test_masked_index_answers_alike_on_driver_and_spark_paths`` pins).
    Sorted string ids, one per surviving posting row — an id repeats
    when a MatchAny over an array column hits several of its elements —
    so its length is the row count of the Spark probe frame.  None when
    the probe must stay a Spark plan: a literal only Spark renders
    exactly, or more than :data:`DRIVER_PROBE_CAP` posting or mask
    rows."""
    import pyarrow.dataset as ds  # noqa: PLC0415

    keys = _driver_keys(values, imeta.get("column_type"),
                        imeta["n_val_buckets"])
    if keys is None:
        return None
    vals, buckets = keys
    pdir = os.path.join(ipath, "postings")
    files = [f for b in buckets
             for f in _data_files(os.path.join(pdir, f"val_bucket={b}"))]
    mfiles = _data_files(os.path.join(ipath, "masks"))
    if _footer_rows(files) > DRIVER_PROBE_CAP \
            or _footer_rows(mfiles) > DRIVER_PROBE_CAP:
        return None
    if not vals or not files:
        return []
    post = ds.dataset(files, format="parquet").to_table(
        columns=["id", "gen"], filter=ds.field("val").isin(vals))
    rows = [(i, g) for i, g in zip(post.column("id").to_pylist(),
                                   post.column("gen").to_pylist())
            if i is not None]
    masked: dict = {}
    if mfiles and rows:
        m = ds.dataset(mfiles, format="parquet").to_table(
            columns=["id", "upto_gen"],
            filter=ds.field("id").isin(sorted({i for i, _ in rows})))
        for i, g in zip(m.column("id").to_pylist(),
                        m.column("upto_gen").to_pylist()):
            if g is not None:
                masked[i] = max(g, masked.get(i, g))
    return sorted(i for i, g in rows if i not in masked or g > masked[i])


def _text_index_meta_checked(root: str, collection: str, column: str,
                             allow_stale: bool) -> dict:
    imeta = payload_index_meta(root, collection, column)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{column!r}; "
            f"run build_payload_index first")
    if imeta.get("index_type", "keyword") != "text":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} is "
            f"{imeta.get('index_type', 'keyword')!r}, not 'text'; rebuild "
            f"with build_payload_index(index_type='text')")
    if imeta.get("text_format") != TEXT_FORMAT:
        # an older-format meta tokenized differently (pre-r9: no chr(1)
        # delimiter / tokenizer params; pre-r10: no chr(2) delimiter or
        # stopword/stemmer surface): its postings may disagree with the
        # current scan forms — built_version only tracks DATA freshness,
        # so gate on the FORMAT explicitly
        raise ValueError(
            f"text payload index for {collection!r}/{column!r} was built "
            f"by an older text format "
            f"({imeta.get('text_format', 1)} != {TEXT_FORMAT}); rebuild "
            f"with build_payload_index(index_type='text', ...)")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"payload index for {collection!r}/{column!r} was built at data "
            f"version {imeta['built_version']} but the collection is at "
            f"{collection_version(root, collection)}; refresh_payload_index "
            f"absorbs the mutations (or rebuild)")
    return imeta


def _pruned_token_postings(spark: SparkSession, root: str, collection: str,
                           column: str, imeta: dict,
                           toks: list[str]) -> DataFrame | None:
    """The masked posting rows for ``toks``: the tokens' hash buckets
    become a static ``val_bucket IN (...)`` partition filter with the
    pushed ``val IN (tokens)`` predicate inside — only the probed token
    buckets are ever read.  None when the index is empty."""
    ipath = index_path(root, collection, _payload_index_name(column))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):
        return None
    n = imeta["n_val_buckets"]
    uniq = sorted(set(toks))
    buckets = sorted({spark_bucket(t, n) for t in uniq})
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(buckets))
            .filter(F.col("val").isin(uniq)))
    return _apply_masks(spark, ipath, post, "id")


def _prefix_match_ids(spark: SparkSession, root: str, collection: str,
                      column: str, imeta: dict,
                      toks: list[str]) -> DataFrame:
    """Prefix probe over the r10 FULL-TOKEN layout: each query token's
    first-``min_token_len``-chars hash bucket becomes the static
    ``val_bucket IN (...)`` partition filter, ``startswith(val, t)``
    pushes inside it (parquet StringStartsWith), and a per-id coverage
    aggregate keeps exactly the ids matching EVERY query token — same
    pruning shape as the exploded-prefix r9 layout at ~1/6 the stored
    rows."""
    ipath = index_path(root, collection, _payload_index_name(column))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):
        return spark.createDataFrame([], "id string")
    n = imeta["n_val_buckets"]
    lo = prefix_band(imeta)["min_token_len"]
    uniq = sorted(set(toks))
    buckets = sorted({spark_bucket(t[:lo], n) for t in uniq})
    anymatch = None
    for t in uniq:
        c = F.col("val").startswith(t)
        anymatch = c if anymatch is None else (anymatch | c)
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(buckets))
            .filter(anymatch))
    post = _apply_masks(spark, ipath, post, "id")
    covers = [F.max(F.when(F.col("val").startswith(t), F.lit(1)))
              .alias(f"_m{i}") for i, t in enumerate(uniq)]
    agg = post.groupBy("id").agg(*covers)
    cond = None
    for i in range(len(uniq)):
        c = F.col(f"_m{i}").isNotNull()
        cond = c if cond is None else (cond & c)
    return agg.filter(cond).select("id")


def text_match_ids(spark: SparkSession, root: str, collection: str,
                   column: str, text: str,
                   allow_stale: bool = False,
                   prefix: bool = False) -> DataFrame:
    """Ids whose ``column`` contains EVERY token of ``text`` under the
    INDEX's tokenizer params (the :class:`filters.MatchText` semantics —
    or, with ``prefix=True`` over a prefix-tokenized index, ids where
    every query token is a PREFIX of some value token:
    :class:`filters.MatchTextPrefix`).  The query tokens' hash buckets
    become a static ``val_bucket IN (...)`` partition filter, the pushed
    ``val IN (tokens)`` predicate narrows inside them, and a per-id
    distinct-token count == |tokens| keeps exactly the ids carrying all
    of them — over only the probed token buckets.

    INDEX semantics throughout: a query token outside the index's
    stored length band matches nothing here (it was never posted); the
    filter ROUTER refuses to route such leaves, keeping routed answers
    == scan answers."""
    imeta = _text_index_meta_checked(root, collection, column, allow_stale)
    itok = imeta.get("tokenizer", "whitespace")
    if prefix != (itok == "prefix"):
        what = ("a PREFIX probe needs prefix-tokenized postings"
                if prefix else
                "a full-token probe cannot use prefix-tokenized postings")
        raise ValueError(
            f"payload index for {collection!r}/{column!r} uses the "
            f"{itok!r} tokenizer — {what} (every prefix posts, which "
            f"would silently change MatchText's whole-token meaning)")
    # the index's pipeline params drive the probe tokens; query PREFIX
    # tokens are never stop-checked or stemmed (a prefix is not a token
    # — the pipeline applied to the posted doc tokens only)
    toks = tokenize_text_py(
        text, "whitespace" if prefix else itok,
        bool(imeta.get("lowercase", True)),
        stopwords=() if prefix else tuple(imeta.get("stopwords") or ()),
        stemmer=None if prefix else imeta.get("stemmer"))
    band = prefix_band(imeta) if prefix else imeta
    if not toks or not _band_ok(toks, band):
        return spark.createDataFrame([], "id string")
    if prefix:
        return _prefix_match_ids(spark, root, collection, column, imeta,
                                 toks)
    post = _pruned_token_postings(spark, root, collection, column, imeta,
                                  toks)
    if post is None:
        return spark.createDataFrame([], "id string")
    return (post.groupBy("id")
            .agg(F.count_distinct("val").alias("_nt"))
            .filter(F.col("_nt") == len(set(toks)))
            .select("id"))


def phrase_match_ids(spark: SparkSession, root: str, collection: str,
                     column: str, text: str,
                     allow_stale: bool = False) -> DataFrame:
    """Ids whose ``column`` contains the tokens of ``text`` IN ORDER AND
    ADJACENT (the :class:`filters.MatchPhrase` semantics), resolved from
    a text index built with ``phrase_matching=True`` — positional
    postings, Qdrant's phrase-matching text index.

    The plan is the shifted-position intersection: token *i*'s postings
    project ``(id, pos - i)``; a phrase occurrence is one ``(id, base)``
    pair present in ALL of them, so the per-token frames (already pruned
    to the probed token buckets) chain through ``(id, base)`` semi-joins
    — positions make the answer EXACT (the router drops the leaf), and
    nothing but the phrase tokens' buckets is ever read."""
    imeta = _text_index_meta_checked(root, collection, column, allow_stale)
    if not bool(imeta.get("phrase_matching", False)):
        raise ValueError(
            f"payload index for {collection!r}/{column!r} has no "
            f"positional postings; rebuild with build_payload_index("
            f"index_type='text', phrase_matching=True) to resolve "
            f"MatchPhrase through it")
    toks = tokenize_text_py(text, imeta.get("tokenizer", "whitespace"),
                            bool(imeta.get("lowercase", True)),
                            stopwords=tuple(imeta.get("stopwords") or ()),
                            stemmer=imeta.get("stemmer"))
    if not toks or not _band_ok(toks, imeta):
        return spark.createDataFrame([], "id string")
    post = _pruned_token_postings(spark, root, collection, column, imeta,
                                  toks)
    if post is None:
        return spark.createDataFrame([], "id string")
    inter = None
    for i, t in enumerate(toks):
        frame = (post.filter(F.col("val") == t)
                 .select("id", (F.col("pos") - F.lit(i)).alias("_base")))
        inter = frame if inter is None else \
            inter.join(frame, ["id", "_base"], "left_semi")
    return inter.select("id").distinct()


def _probe_literals(spark: SparkSession, values: list, ctype: str
                    ) -> list[tuple]:
    """For each probe literal: ``(double_image, compare_column)`` —
    the bisect image over the stored boundaries and the literal Column
    the pushed comparison uses.  ONE 1-row Spark job renders every
    literal through the column's STORED type (the same cast the build
    used) AND through a raw ``try_cast`` to double.  When the two
    double images agree (the common case) the typed cast is EXACT and
    the comparison keeps it (pushdown-friendly on the typed posting
    columns).  When they differ — a fractional bound on an integer
    column (``CAST(200.5 AS BIGINT) = 200``), a 17-digit double on a
    float column — the typed cast is LOSSY: the comparison then uses
    the UN-CAST literal so Spark promotes the posting column exactly
    like the scan path does (``col >= 200.5`` in double), and the
    bisect uses the RAW image so the bucket window still covers every
    qualifying value (ADVICE r9: the truncated image could exclude the
    bucket holding values in ``(200, 200.5]`` on a descending page).
    A malformed literal (``'abc'`` on an int column) still RAISES in
    the typed render under ANSI mode — scan parity, pinned in
    test_range_probe_uncastable_literal_parity."""
    cols = []
    for i, v in enumerate(values):
        cols.append(F.lit(v).cast(ctype).cast("double").alias(f"t{i}"))
        cols.append(F.lit(v).try_cast("double").alias(f"r{i}"))
    row = spark.range(1).select(*cols).first()
    out = []
    for i, v in enumerate(values):
        typed, raw = row[f"t{i}"], row[f"r{i}"]
        if raw is not None and typed is not None and raw != typed:
            out.append((raw, F.lit(v)))  # lossy cast: promote like the scan
        else:
            out.append((typed, F.lit(v).cast(ctype)))
    return out


def _range_window_frame(spark: SparkSession, ipath: str, pdir: str,
                        window: list[int], pred) -> DataFrame:
    """One ordered-page bucket window: static ``val_bucket IN (...)``
    partition filter + the pushed keyset predicate, masked — the pruning
    unit :func:`range_ordered_page` grows geometrically (plan-asserted
    in tests/test_payload_index.py)."""
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(window))
            .filter(pred))
    return _apply_masks(spark, ipath, post, "id")


def range_ordered_page(spark: SparkSession, root: str, collection: str,
                       column: str, limit: int,
                       descending: bool = False,
                       cursor: tuple | None = None,
                       start_from=None,
                       id_type: str = "string",
                       candidate_ids: DataFrame | None = None
                       ) -> DataFrame | None:
    """One ORDER-BY page's ids straight off a RANGE index — the
    keyset-over-index pattern (VERDICT r8 next #6): the postings are
    VALUE-ORDERED by quantile bucket, so an ``order_by`` scroll opens
    its page from the smallest bucket window containing ``limit``
    qualifying rows instead of sorting the collection.  The window
    grows geometrically from the cursor's bucket (bisect over the
    stored boundaries); each widening is one pruned count — a page
    usually needs a single bucket.

    EXACT by construction: bucket id is monotone in value, so every row
    outside the window sorts after (asc) every row inside it, and the
    cursor/start_from predicates evaluate on the postings' TYPED ``val``
    with the id tiebreak on the id cast to the collection's id type
    (``id_type``).  NULL order_by values never enter the postings —
    the CALLER must only route here when its predicates provably
    exclude NULL rows, and this function returns None (fall back to the
    scan) when the window exhausts with fewer than ``limit`` rows: the
    true page could then continue into rows the index cannot see
    (the descending NULL tail).

    ``candidate_ids`` (one string-id column) narrows the page to those
    points — the FILTERED ordered scroll: the caller resolves its filter
    to an EXACT id set first (``filter_match_ids`` with an empty
    residual) and the set semi-joins INSIDE each pruned bucket window,
    so filter and order compose without sorting the filtered set.

    Returns a ≤ ``limit``-row frame of ids (unordered — re-order the
    fetched rows), or None to decline."""
    from bisect import bisect_right  # noqa: PLC0415

    imeta = payload_index_meta(root, collection, column)
    if imeta is None or imeta.get("index_type") != "range" \
            or int(imeta["built_version"]) != \
            collection_version(root, collection):
        return None
    ctype = imeta.get("column_type") or "double"
    boundaries = [float(b) for b in imeta.get("boundaries", [])]
    n_buckets = len(boundaries) + 1
    ipath = index_path(root, collection, _payload_index_name(column))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):
        return None  # empty index: the scan settles it (also empty)
    # render every probe literal ONCE: bisect image + comparison column
    # (typed when the stored-type cast is exact, UN-CAST when it would
    # truncate — ADVICE r9: matching scroll_points' scan comparisons, and
    # keeping the descending window from excluding the bucket that holds
    # values between the truncated and the true bound)
    c_val = c_id = None
    if cursor is not None:
        c_val, c_id = cursor
        if c_val is None:
            return None  # a NULL cursor leg pages rows the index lacks
    lits = [v for v in (start_from, c_val) if v is not None]
    rendered = _probe_literals(spark, lits, ctype) if lits else []
    sf_r = rendered.pop(0) if start_from is not None else None
    cv_r = rendered.pop(0) if c_val is not None else None
    # locate the cursor-side edge bucket (the page can't start before it)
    edge = None
    pivot_img = cv_r[0] if cv_r is not None else (
        sf_r[0] if sf_r is not None else None)
    if pivot_img is not None:
        edge = bisect_right(boundaries, pivot_img)
    if descending:
        hi = n_buckets - 1 if edge is None else edge
        seq = list(range(hi, -1, -1))
    else:
        lo = 0 if edge is None else edge
        seq = list(range(lo, n_buckets))
    if not seq:
        return None
    # the exact keyset predicates, on the TYPED posting columns — the
    # same comparisons the scan pushes (scroll_points' cursor shape)
    val = F.col("val")
    tid = F.col("id").cast(id_type)
    pred = F.lit(True)
    if sf_r is not None:
        s = sf_r[1]
        pred = pred & (val <= s if descending else val >= s)
    if cv_r is not None:
        cv = cv_r[1]
        beyond = val < cv if descending else val > cv
        pred = pred & (beyond | ((val == cv)
                                 & (tid > F.lit(c_id).cast(id_type))))
    cands = None
    if candidate_ids is not None:
        cands = (candidate_ids
                 .select(F.col(candidate_ids.columns[0]).cast("string")
                         .alias("_flt_id")).distinct())
    width = 1
    post = None
    while True:
        post = _range_window_frame(spark, ipath, pdir, seq[:width], pred)
        if cands is not None:
            post = post.join(cands,
                             F.col("id") == F.col("_flt_id"), "left_semi")
        if width >= len(seq):
            break
        if post.count() >= limit:
            break
        width *= 2
    ranked = post.orderBy(val.desc() if descending else val.asc(),
                          tid.asc()).limit(limit)
    rows = ranked.select("id").collect()
    if len(rows) < limit and width >= len(seq):
        # exhausted short: rows invisible to the index (NULL order
        # values) may belong on this page — let the scan decide
        return None
    return local_frame(spark, rows, "id string")


def _range_probe(spark: SparkSession, root: str, collection: str,
                 column: str, imeta: dict, bounds: list[tuple],
                 eq_values: list | None = None) -> DataFrame:
    """Shared range-layout probe.  ``bounds`` is [(op, value), ...] with op
    in gt/gte/lt/lte; ``eq_values`` switches to IN-list equality (the
    bounds then only locate buckets).  ONE 1-row Spark job casts every
    literal through the column's STORED type and down to the double image
    — the same casts the build used — then the bucket window comes from a
    driver-side bisect over the persisted boundaries and the typed
    comparison pushes into the pruned posting scan."""
    from bisect import bisect_right  # noqa: PLC0415

    ctype = imeta.get("column_type") or "double"
    boundaries = [float(b) for b in imeta.get("boundaries", [])]
    n_buckets = len(boundaries) + 1
    ipath = index_path(root, collection, _payload_index_name(column))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):  # index built over an empty collection
        return spark.createDataFrame([], f"id string, val {ctype}")
    items = list(bounds)
    if not items:
        if eq_values is not None:  # IN () — empty set, matches nothing
            return spark.createDataFrame([], f"id string, val {ctype}")
        raise ValueError("range probe needs at least one bound")
    # NOTE on malformed literals: under Spark 4's default ANSI mode the
    # 1-row render job inside _probe_literals raises CAST_INVALID_INPUT
    # for a literal the column type can't parse — the SAME error the
    # pushed scan raises for ``col = 'abc'`` on an int column, so probe
    # and scan stay in parity (asserted in
    # test_range_probe_uncastable_literal_parity).  A None image
    # therefore only means a NULL literal slipped through; NULL compares
    # to nothing on both paths → empty match.  Lossy literals (a
    # fractional bound on an integer column) come back with the UN-CAST
    # comparison column so the pushed predicate promotes exactly like
    # the scan's ``200.5e0`` rendering (ADVICE r9).
    rendered = _probe_literals(spark, [v for _op, v in items], ctype)
    nums = [r[0] for r in rendered]
    lits = [r[1] for r in rendered]
    if eq_values is not None:
        pairs = [(n, c) for n, c in zip(nums, lits) if n is not None]
        if not pairs:
            return spark.createDataFrame([], f"id string, val {ctype}")
        nums = [n for n, _ in pairs]
        lits = [c for _, c in pairs]
        # equality probe: exactly each literal's own bucket
        window = sorted({bisect_right(boundaries, n) for n in nums})
    else:
        if any(n is None for n in nums):
            return spark.createDataFrame([], f"id string, val {ctype}")
        lo_bucket, hi_bucket = 0, n_buckets - 1
        for (op, _v), n in zip(items, nums):
            b = bisect_right(boundaries, n)
            if op in ("gt", "gte"):
                lo_bucket = max(lo_bucket, b)
            else:
                hi_bucket = min(hi_bucket, b)
        window = list(range(lo_bucket, hi_bucket + 1))
    post = (spark.read.parquet(pdir)
            .filter(F.col("val_bucket").isin(window)))
    if eq_values is not None:
        pred = F.col("val").isin(*lits) if lits else F.lit(False)
        post = post.filter(pred)
    else:
        for (op, _v), lit in zip(items, lits):
            post = post.filter(
                F.col("val") > lit if op == "gt"
                else F.col("val") >= lit if op == "gte"
                else F.col("val") < lit if op == "lt"
                else F.col("val") <= lit)
    return _apply_masks(spark, ipath, post, "id").select("id", "val")


def payload_range_match_ids(spark: SparkSession, root: str, collection: str,
                            column: str, gt=None, gte=None, lt=None,
                            lte=None, allow_stale: bool = False) -> DataFrame:
    """Ids whose ``column`` falls in the (open/closed) range, resolved
    from a RANGE payload index: the bounds' boundary buckets become a
    contiguous static ``val_bucket IN (...)`` partition filter and the
    exact typed comparisons push into that pruned scan — a Range-only
    filter over a 100 TB collection reads only the value buckets its
    bounds span, the same candidate path equality leaves get."""
    imeta = payload_index_meta(root, collection, column)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{column!r}; "
            f"run build_payload_index first")
    if imeta.get("index_type", "keyword") != "range":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} is "
            f"{imeta.get('index_type', 'keyword')!r}, not 'range'; rebuild "
            f"with build_payload_index(index_type='range')")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"payload index for {collection!r}/{column!r} was built at data "
            f"version {imeta['built_version']} but the collection is at "
            f"{collection_version(root, collection)}; refresh_payload_index "
            f"absorbs the mutations (or rebuild)")
    bounds = [(op, v) for op, v in
              (("gt", gt), ("gte", gte), ("lt", lt), ("lte", lte))
              if v is not None]
    if not bounds:
        raise ValueError("payload_range_match_ids needs at least one bound")
    return _range_probe(spark, root, collection, column, imeta, bounds)


def nested_match_ids(spark: SparkSession, root: str, collection: str,
                     column: str, leaves: list[tuple],
                     allow_stale: bool = False) -> DataFrame:
    """Ids with at least ONE array element satisfying every leaf —
    resolved from the element-level nested index: each ``(field,
    values)`` leaf probes its (field, value) hash buckets to an
    (id, elem_idx) set, the sets intersect ON THE SAME elem_idx
    (same-element semantics — the whole point of NestedCondition), and
    the surviving ids dedupe.  Every probe is a pruned ``val_bucket IN``
    scan; no collection data file opens."""
    imeta = payload_index_meta(root, collection, column)
    if imeta is None:
        raise ValueError(
            f"no persisted payload index for {collection!r}/{column!r}; "
            f"run build_payload_index first")
    if imeta.get("index_type", "keyword") != "nested":
        raise ValueError(
            f"payload index for {collection!r}/{column!r} is "
            f"{imeta.get('index_type', 'keyword')!r}, not 'nested'; "
            f"rebuild with build_payload_index(index_type='nested', "
            f"fields=[...])")
    if not allow_stale and int(imeta["built_version"]) != \
            collection_version(root, collection):
        raise ValueError(
            f"payload index for {collection!r}/{column!r} was built at "
            f"data version {imeta['built_version']} but the collection is "
            f"at {collection_version(root, collection)}; "
            f"refresh_payload_index absorbs the mutations (or rebuild)")
    if not leaves:
        raise ValueError("nested_match_ids needs at least one leaf")
    known = imeta.get("fields", [])
    bad = [f for f, _ in leaves if f not in known]
    if bad:
        raise ValueError(
            f"nested index on {column!r} has no postings for fields "
            f"{bad} (indexed: {known})")
    n = imeta["n_val_buckets"]
    ftypes = imeta.get("field_types", {})
    ipath = index_path(root, collection, _payload_index_name(column))
    pdir = os.path.join(ipath, "postings")
    if not os.path.isdir(pdir):  # index built over an empty collection
        return spark.createDataFrame([], "id string")
    # ONE 1-row job renders every leaf's literals the way the build did
    # (cast through the persisted field type → string) and hashes them
    # into their (field, value) buckets
    cols = []
    for i, (field, values) in enumerate(leaves):
        for j, v in enumerate(values):
            ftype = ftypes.get(field)
            lit = F.lit(v).cast(ftype) if ftype else F.lit(v)
            s = lit.cast("string")
            cols.append(s.alias(f"v{i}_{j}"))
            cols.append(
                F.pmod(F.xxhash64(F.concat_ws("\x00", F.lit(field), s)),
                       F.lit(n)).cast("int").alias(f"b{i}_{j}"))
    row = spark.range(1).select(*cols).first()
    inter = None
    post = spark.read.parquet(pdir)
    for i, (field, values) in enumerate(leaves):
        vals = sorted({row[f"v{i}_{j}"] for j in range(len(values))
                       if row[f"v{i}_{j}"] is not None})
        buckets = sorted({row[f"b{i}_{j}"] for j in range(len(values))
                          if row[f"v{i}_{j}"] is not None})
        got = (post.filter(F.col("val_bucket").isin(buckets))
               .filter(F.col("field") == field)
               .filter(F.col("val").isin(vals)))
        got = _apply_masks(spark, ipath, got, "id") \
            .select("id", "elem_idx")
        inter = got if inter is None else \
            inter.join(got, ["id", "elem_idx"], "left_semi")
    return inter.select("id").distinct()


def facet_from_index(spark: SparkSession, root: str, collection: str,
                     key: str, limit: int = 10) -> DataFrame | None:
    """Facet counts straight off the stored postings — an INDEX-ONLY
    aggregate: (value, count) descending computed from the posting table
    alone, the collection's data files never open.  The 100 TB facet
    plan: |postings| rows aggregate map-side partial, only |distinct
    values| move.  Values cast back through the persisted column type so
    the output matches the scan path's types.  Returns None when no
    FRESH index exists for ``key`` (caller falls back to the scan);
    array-indexed columns count points per ELEMENT (the postings are
    distinct (id, element) — Qdrant's facet-on-array semantics)."""
    imeta = payload_index_meta(root, collection, key)
    if imeta is None or int(imeta["built_version"]) != \
            collection_version(root, collection):
        return None
    if imeta.get("index_type", "keyword") in ("nested", "text", "geo"):
        # not facet sources: nested element postings mix several fields'
        # values, a text index stores TOKEN postings (not whole values),
        # and a geo index stores grid-cell strings — aggregating any of
        # them would return wrong (value, count) pairs; the caller falls
        # back to the collection scan
        return None
    ipath = index_path(root, collection, _payload_index_name(key))
    pdir = os.path.join(ipath, "postings")
    ctype = imeta.get("column_type") or "string"
    if not os.path.isdir(pdir):  # index built over an empty collection
        return spark.createDataFrame([], f"value {ctype}, count long")
    post = _apply_masks(spark, ipath, spark.read.parquet(pdir), "id")
    return (post.groupBy(F.col("val").cast(ctype).alias("value"))
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(limit))


def filtered_search_indexed(spark: SparkSession, root: str, collection: str,
                            queries: DataFrame, column: str, values: list,
                            k: int = 10, vector_name: str | None = None,
                            query_id: str = "qid", query_vec: str = "qvec",
                            round_to: int | None = 6,
                            max_candidates: int = 1_000_000) -> DataFrame:
    """Filtered kNN through the payload index: resolve the filter to its id
    set FIRST (pruned value-bucket probe), fetch exactly those points from
    the collection via a static id-bucket filter, and score only them with
    the collection's declared metric.  This is the Qdrant selective-filter
    plan; for non-selective filters prefer ``knn.search_collection`` with a
    pushed predicate (scanning beats fetching when most points match).

    The probe resolves as a filter leaf does (``filters._resolve``): on
    the driver when it can, so ``max_candidates`` checks a list's length
    and no job runs before the scoring action, else as a Spark plan
    whose count is one job.  Either way the candidates fetch their rows
    through :meth:`upsert.Candidates.fetch`."""
    from .filters import Filter, _Plan, _resolve  # noqa: PLC0415
    from .knn import _resolve_search_space, knn_join  # noqa: PLC0415
    from .upsert import _version_of  # noqa: PLC0415

    meta, id_col, vector_name, metric = _resolve_search_space(
        root, collection, vector_name)
    imeta = _probe_meta(root, collection, column, False,
                        cur=_version_of(root, collection, meta))
    cands = _resolve(spark, root, collection,
                     _Plan([(column, values, "scalar")], Filter(), meta,
                           {column: imeta}, {}), allow_stale=False)
    n_cand = cands.count()
    if n_cand > max_candidates:
        raise ValueError(
            f"filter matches {n_cand} > {max_candidates} points — not a "
            f"selective filter; use search_collection with a pushed "
            f"predicate instead")
    fetched = cands.fetch()
    if fetched is None:
        fetched = read_collection(spark, root, collection).limit(0)
    fetched = fetched.select(id_col, vector_name)
    return knn_join(queries, fetched, k=k, query_id=query_id,
                    query_vec=query_vec, corpus_id=id_col,
                    corpus_vec=vector_name, exclude_self=False,
                    round_to=round_to, metric=metric)
