"""Composable filter DSL — the Qdrant ``Filter`` model (must / should /
must_not nesting over MatchValue / MatchAny / MatchExcept / Range / IsNull
/ MatchText / Geo leaves) re-expressed for a Spark parquet store.

The reference's delegated store accepts this filter object on every search,
count, facet and scroll call (the payload-filterable query surface of
README.md:13 over the open payloads built at qdrant_embedder.py:119-128).
Here the filter compiles ONCE to a SQL boolean expression in the dialect
subset Spark SQL and DuckDB share, and that single string is consumed by
both engines:

- Spark: ``F.expr(flt.to_sql())`` — Catalyst folds the comparisons into
  the parquet scan (PushedFilters; plan-asserted in tests/test_filters.py),
  so a DSL filter prunes exactly like a hand-written ``Column`` predicate;
- the correctness oracle: the SAME string drops into a DuckDB ``WHERE``
  clause, making Spark/oracle symmetry structural rather than maintained.

Embedding caveat (Spark statement parser): interpolating ``to_sql()``
into a raw ``spark.sql("... FROM t WHERE {sql}")`` string needs a table
ALIAS (``FROM t x WHERE ...``) — the compiled filter starts with ``(``,
and Spark's parser prefers reading ``WHERE (...)`` as a table alias named
``WHERE`` with a column-alias list (WHERE is non-reserved), which either
errors on arity or, for a one-column table, silently drops the filter.
``to_column()`` / ``DataFrame.filter`` (the DSL's real surface) use the
expression parser and are immune; the DuckDB oracle side parses the
statement correctly.  Pinned in tests/test_filter_properties.py.

Scale notes: leaves compile to sargable comparisons wherever the semantics
allow — ``GeoRadius`` emits a bounding-box pre-filter (pushed to the scan)
ahead of the exact haversine test, ``MatchText`` normalizes whitespace once
and tests anchored ``LIKE`` containment per token.  Selective filters can
additionally route through the persisted payload index
(:func:`filter_match_ids`): every top-level ``must`` MatchValue/MatchAny
leaf over an indexed column resolves to a pruned posting probe, the id
sets intersect, and only the residual conditions evaluate on the fetched
rows.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")
_EARTH_RADIUS_M = 6371000.0


def _ident(name: str) -> str:
    """Validate a column name — or a DOTTED PATH into a struct payload
    (``meta.lang``, the Qdrant nested-key form over the reference's
    nested-JSON payloads, qdrant_embedder.py:119-128) — for bare
    embedding: every segment must be a plain identifier, the one form
    Spark SQL and DuckDB both parse unquoted, and struct field access
    via ``.`` is the dialect subset they share."""
    if not _IDENT.match(name):
        raise ValueError(
            f"filter key {name!r} is not a plain identifier or dotted "
            f"path; the filter DSL compiles to engine-shared SQL and "
            f"cannot quote it portably")
    return name


def _lit(v) -> str:
    """Render a Python literal in the shared SQL dialect."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        if isinstance(v, float):
            if not math.isfinite(v):
                raise ValueError(f"non-finite literal {v!r} in filter")
            # Exponent notation forces DOUBLE typing in BOTH engines: a
            # bare 17-digit decimal like 2.0000000000000004 is parsed by
            # DuckDB as DECIMAL(18,17), which then poisons surrounding
            # arithmetic with narrow-scale casts, while Spark reads the
            # same text as DOUBLE — the shared-dialect contract breaks.
            # `2.0000000000000004e0` is DOUBLE in both.
            r = repr(v)
            return r if ("e" in r or "E" in r) else r + "e0"
        return repr(v)
    if isinstance(v, str):
        # both dialects read a doubled quote as one quote, but only Spark
        # reads a backslash as an escape: a backslash becomes chr(92),
        # which both fold back into one literal
        parts = ["'" + p.replace("'", "''") + "'" for p in v.split("\\")]
        return (parts[0] if len(parts) == 1
                else "(" + " || chr(92) || ".join(parts) + ")")
    raise ValueError(f"unsupported filter literal type {type(v).__name__}")


@dataclass(frozen=True)
class MatchValue:
    """``key == value`` (Qdrant MatchValue)."""
    key: str
    value: object

    def to_sql(self) -> str:
        return f"{_ident(self.key)} = {_lit(self.value)}"


@dataclass(frozen=True)
class MatchAny:
    """``key IN values`` (Qdrant MatchAny)."""
    key: str
    values: tuple

    def __init__(self, key: str, values):
        object.__setattr__(self, "key", key)
        object.__setattr__(self, "values", tuple(values))

    def to_sql(self) -> str:
        if not self.values:
            return "FALSE"  # IN () is empty-set: matches nothing
        return (f"{_ident(self.key)} IN "
                f"({', '.join(_lit(v) for v in self.values)})")


@dataclass(frozen=True)
class MatchExcept:
    """``key NOT IN values`` — NULL-safe like Qdrant's MatchExcept: a NULL
    payload value is 'not any of these', so it matches."""
    key: str
    values: tuple

    def __init__(self, key: str, values):
        object.__setattr__(self, "key", key)
        object.__setattr__(self, "values", tuple(values))

    def to_sql(self) -> str:
        if not self.values:
            return "TRUE"
        k = _ident(self.key)
        vals = ", ".join(_lit(v) for v in self.values)
        return f"({k} IS NULL OR {k} NOT IN ({vals}))"


@dataclass(frozen=True)
class Range:
    """Open/closed numeric-or-string range (Qdrant Range): any subset of
    gt / gte / lt / lte."""
    key: str
    gt: object = None
    gte: object = None
    lt: object = None
    lte: object = None

    def to_sql(self) -> str:
        k = _ident(self.key)
        parts = []
        if self.gt is not None:
            parts.append(f"{k} > {_lit(self.gt)}")
        if self.gte is not None:
            parts.append(f"{k} >= {_lit(self.gte)}")
        if self.lt is not None:
            parts.append(f"{k} < {_lit(self.lt)}")
        if self.lte is not None:
            parts.append(f"{k} <= {_lit(self.lte)}")
        if not parts:
            raise ValueError(f"Range({self.key!r}) has no bounds")
        return "(" + " AND ".join(parts) + ")"


@dataclass(frozen=True)
class IsNull:
    """``key IS NULL`` (Qdrant IsNullCondition)."""
    key: str

    def to_sql(self) -> str:
        return f"{_ident(self.key)} IS NULL"


@dataclass(frozen=True)
class HasId:
    """``id IN (...)`` (Qdrant HasIdCondition) — the implicit target is
    the POINT ID; the DSL compiles context-free, so a collection with a
    non-default id column passes it as ``id_col``.  Pass ids in the
    STORED id type: the SQL path compiles typed literals (pushdown-
    friendly), while the candidate-route probe compares each id's
    ``str()`` against the store's string-cast ids — for matching types
    the two agree; an id whose str() differs from its SQL rendering
    (int 7 against a string column storing '07') would not."""
    ids: tuple
    id_col: str

    def __init__(self, ids, id_col: str = "id"):
        object.__setattr__(self, "ids", tuple(ids))
        object.__setattr__(self, "id_col", id_col)

    def to_sql(self) -> str:
        if not self.ids:
            return "FALSE"
        return (f"{_ident(self.id_col)} IN "
                f"({', '.join(_lit(v) for v in self.ids)})")


@dataclass(frozen=True)
class HasVector:
    """Point CARRIES the named vector space (Qdrant HasVectorCondition):
    the space's physical column is non-NULL — ``delete_vectors`` nulls
    it, so this matches exactly the points still scoring in that space.
    ``column`` is the space's PHYSICAL column (the space name for dense,
    the ``indices_col`` for sparse — ``upsert._space_columns`` is the
    mapping)."""
    column: str

    def to_sql(self) -> str:
        return f"{_ident(self.column)} IS NOT NULL"


_TS_LITERAL = re.compile(
    r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?$")


@dataclass(frozen=True)
class DatetimeRange:
    """Timestamp bounds (Qdrant DatetimeRange): any subset of gt / gte /
    lt / lte over a timestamp column.  Bounds are
    ``YYYY-MM-DD HH:MM:SS[.ffffff]`` strings rendered as ``TIMESTAMP``
    literals — the one temporal literal form Spark SQL and DuckDB parse
    identically (both resolve it in the session zone; this repo pins
    UTC).  The format is regex-validated so a malformed bound fails at
    compile time, not as a silent engine-specific parse."""
    key: str
    gt: str | None = None
    gte: str | None = None
    lt: str | None = None
    lte: str | None = None

    @staticmethod
    def _ts(v: str) -> str:
        v = str(v).replace("T", " ")
        if not _TS_LITERAL.match(v):
            raise ValueError(
                f"DatetimeRange bound {v!r} is not "
                f"'YYYY-MM-DD HH:MM:SS[.ffffff]'")
        return f"TIMESTAMP '{v}'"

    def to_sql(self) -> str:
        k = _ident(self.key)
        parts = []
        if self.gt is not None:
            parts.append(f"{k} > {self._ts(self.gt)}")
        if self.gte is not None:
            parts.append(f"{k} >= {self._ts(self.gte)}")
        if self.lt is not None:
            parts.append(f"{k} < {self._ts(self.lt)}")
        if self.lte is not None:
            parts.append(f"{k} <= {self._ts(self.lte)}")
        if not parts:
            raise ValueError(f"DatetimeRange({self.key!r}) has no bounds")
        return "(" + " AND ".join(parts) + ")"


@dataclass(frozen=True)
class MatchContains:
    """Array-membership match (Qdrant's MatchValue applied to an ARRAY
    payload: the condition holds when ANY element equals the value).
    ``array_contains`` exists in both engines with identical NULL
    semantics (NULL array → NULL → not matched).  Compose several in
    ``should`` for any-overlap, in ``must`` for contains-all."""
    key: str
    value: object

    def to_sql(self) -> str:
        return (f"array_contains({_ident(self.key)}, "
                f"{_lit(self.value)})")


@dataclass(frozen=True)
class IsEmpty:
    """Missing-or-empty array payload (Qdrant IsEmptyCondition): matches
    when ``key`` is NULL or an empty list.  The one array-cardinality
    expression Spark SQL and DuckDB share is ``json_array_length(
    to_json(k))`` (``size``/``len``/``array_length`` all exist in exactly
    one of the two engines), verified to agree on NULL (→ NULL) and empty
    (→ 0).  Array leaves are residual-evaluated, never index-routed —
    same as Qdrant, where array emptiness is not an indexable predicate."""
    key: str

    def to_sql(self) -> str:
        k = _ident(self.key)
        return (f"({k} IS NULL OR "
                f"json_array_length(to_json({k})) = 0)")


@dataclass(frozen=True)
class ValuesCount:
    """Bounds on the NUMBER of values in an array payload (Qdrant
    ValuesCount): any subset of gt / gte / lt / lte over the element
    count; a NULL array counts 0 (Qdrant: a missing field has no
    values).  Shares the ``json_array_length(to_json(k))`` cardinality
    form with :class:`IsEmpty`."""
    key: str
    gt: int | None = None
    gte: int | None = None
    lt: int | None = None
    lte: int | None = None

    def to_sql(self) -> str:
        n = (f"COALESCE(json_array_length(to_json({_ident(self.key)})), 0)")
        parts = []
        if self.gt is not None:
            parts.append(f"{n} > {int(self.gt)}")
        if self.gte is not None:
            parts.append(f"{n} >= {int(self.gte)}")
        if self.lt is not None:
            parts.append(f"{n} < {int(self.lt)}")
        if self.lte is not None:
            parts.append(f"{n} <= {int(self.lte)}")
        if not parts:
            raise ValueError(f"ValuesCount({self.key!r}) has no bounds")
        return "(" + " AND ".join(parts) + ")"


def _delim_norm_sql(k: str, tokenizer: str = "whitespace") -> str:
    """``k`` lowercased with every token delimiter become a space (NOT
    space-wrapped) — the scan-side image of the text tokenization.
    Whitespace-normalize via replace/chr (NOT regexp or LIKE: Spark
    parses backslash escapes inside SQL string literals and DuckDB does
    not, and the two disagree on LIKE's default escape char — instr over
    a space-delimited copy needs neither).  The delimiter class is the
    full Java \\s (the text index tokenizes with \\s+; vertical-tab (11)
    and form-feed (12) included or indexed answers diverge from scan
    answers) PLUS chr(1): MatchPhrase's run-collapse needs a marker
    character that provably cannot appear in the text, so chr(1) is a
    token delimiter EVERYWHERE — scan forms, index build and probe —
    keeping all four paths on one tokenization (r9 review finding: the
    phrase scan alone normalizing chr(1) silently diverged from the
    positional postings).  ``tokenizer='word'`` additionally maps ASCII
    punctuation to spaces via ``translate``
    (:func:`functions.text.word_translate_sql` — the one global
    character mapping the shared dialect offers)."""
    from ..functions.text import word_translate_sql  # noqa: PLC0415

    base = f"lower({k})"
    if tokenizer == "word":
        base = word_translate_sql(base)
    return (f"replace(replace(replace(replace(replace(replace(replace("
            f"{base}, "
            f"chr(9), ' '), chr(10), ' '), chr(11), ' '), "
            f"chr(12), ' '), chr(13), ' '), chr(1), ' '), chr(2), ' ')")


def _ws_norm_sql(k: str, tokenizer: str = "whitespace") -> str:
    """:func:`_delim_norm_sql`, space-wrapped for anchored instr tests."""
    return f"(' ' || {_delim_norm_sql(k, tokenizer)} || ' ')"


def _pipeline_sql(inner: str, stopwords: tuple, stemmer: str | None) -> str:
    """The stopword-removal + stemming chain over a SPACE-WRAPPED
    normalized doc expression, rendered in the shared SQL dialect —
    the same :func:`functions.text.token_pipeline` the index build
    applies as Spark Columns, so scan answers == routed answers by
    construction.  The chr(2) stem marker renders as ``chr(2)`` (never
    a raw control char in a SQL literal).

    A multi-token leaf inlines this chain once per token test; both
    engines' common-subexpression elimination evaluates the repeated
    normalization once per row (Catalyst's EquivalentExpressions in
    codegen, DuckDB's CSE pass), so the repetition costs compiled-SQL
    bytes, not per-row work — and the param'd leaves' hot path is the
    routed index anyway."""
    from ..functions.text import S_STEM_MARKER, token_pipeline  # noqa: PLC0415

    def rep(src, a, b):
        a = "chr(2)" if a is S_STEM_MARKER else a
        return f"replace({src}, {a}, {b})"

    def cat(*parts):
        return "(" + " || ".join(
            "chr(2)" if p is S_STEM_MARKER else p for p in parts) + ")"

    return token_pipeline(inner, stopwords, stemmer,
                          lit=_lit, replace=rep, concat=cat)


def _text_toks(text: str, tokenizer: str, stopwords: tuple = (),
               stemmer: str | None = None) -> list[str]:
    from ..functions.text import tokenize_text_py  # noqa: PLC0415

    return tokenize_text_py(text, tokenizer, lowercase=True,
                            stopwords=stopwords, stemmer=stemmer)


def _canon_text_params(obj, tokenizer: str, with_stemmer: bool) -> None:
    """Shared __post_init__ canonicalization for the text leaves:
    resolve/sort the stopword set (``'english'`` → the Lucene list),
    refuse dead stopwords (not a single token of themselves under the
    leaf's tokenizer) and unknown stemmers."""
    from ..functions.text import (  # noqa: PLC0415
        STEMMERS,
        check_stopwords,
        resolve_stopwords,
    )

    words = resolve_stopwords(obj.stopwords)
    check_stopwords(words, tokenizer, lowercase=True)
    object.__setattr__(obj, "stopwords", words)
    if with_stemmer and obj.stemmer is not None \
            and obj.stemmer not in STEMMERS:
        raise ValueError(
            f"unknown stemmer {obj.stemmer!r}; one of {STEMMERS}")


@dataclass(frozen=True)
class MatchText:
    """Full-token containment (Qdrant MatchText's filter form): every
    token of ``text`` must appear as a whole token of ``key`` under
    ``tokenizer`` — 'whitespace' (default) delimits on \\s+ only, 'word'
    also on ASCII punctuation (the Qdrant word-tokenizer twin; see
    ``functions.text.WORD_DELIMS`` for the documented Unicode
    divergence).  Compiles to anchored instr tests over a
    delimiter-normalized copy both engines evaluate identically.

    ``stopwords`` / ``stemmer`` are the Qdrant ``TextIndexParams``
    surface (round 10): stopword tokens drop from the QUERY (checked
    before stemming) and from the DOC side (whole-token removal in the
    compiled SQL — a stemmed non-stopword query token must not match a
    doc token the index never posted); ``stemmer='english'`` maps every
    surviving token through the Harman S-stemmer on BOTH sides.  A leaf
    routes through a text index only when these params match the
    index's exactly.

    NOTE ``stemmer='english'`` is the **S-stemmer** (plural suffixes
    only), not Snowball English as in upstream Qdrant — 'movies'
    matches 'movie' but 'running' does NOT match 'run' here.  See
    :func:`payload_index.build_payload_index` for the rationale."""
    key: str
    text: str
    tokenizer: str = "whitespace"
    stopwords: tuple = ()
    stemmer: str | None = None

    def __post_init__(self):
        if self.tokenizer not in ("whitespace", "word"):
            raise ValueError(
                f"MatchText tokenizer {self.tokenizer!r} not one of "
                f"('whitespace', 'word'); prefix semantics are the "
                f"MatchTextPrefix leaf")
        _canon_text_params(self, self.tokenizer, with_stemmer=True)

    def to_sql(self) -> str:
        toks = _text_toks(self.text, self.tokenizer, self.stopwords,
                          self.stemmer)
        if not toks:
            # zero surviving tokens (empty text, or every token
            # stopworded) matches NOTHING — Qdrant's semantics for an
            # empty-token text match, and the answer a text index's
            # posting probe gives (no tokens → no posting ids)
            return "FALSE"
        norm = _ws_norm_sql(_ident(self.key), self.tokenizer)
        if self.stopwords or self.stemmer:
            norm = _pipeline_sql(norm, self.stopwords, self.stemmer)
        tests = [f"instr({norm}, {_lit(' ' + t + ' ')}) > 0"
                 for t in toks]
        return "(" + " AND ".join(tests) + ")"


@dataclass(frozen=True)
class MatchTextPrefix:
    """Prefix-token containment — the search-as-you-type filter a
    PREFIX-tokenized text index answers (Qdrant ``TextIndexParams``
    tokenizer=prefix): every whitespace token of ``text`` must be a
    PREFIX of some whitespace token of ``key``.  Compiles to instr tests
    anchored at a LEADING space only (token start, any continuation).

    ``stopwords`` removes whole DOC tokens before the prefix test (a
    prefix index never posted them); the query's prefix tokens are NOT
    stop-checked — a prefix is not a token.  No stemmer: prefixes of
    stems are semantically incoherent (the build rejects the combo
    too)."""
    key: str
    text: str
    stopwords: tuple = ()

    def __post_init__(self):
        _canon_text_params(self, "whitespace", with_stemmer=False)

    def to_sql(self) -> str:
        toks = _text_toks(self.text, "whitespace")
        if not toks:
            return "FALSE"  # empty query matches nothing (Qdrant)
        norm = _ws_norm_sql(_ident(self.key))
        if self.stopwords:
            norm = _pipeline_sql(norm, self.stopwords, None)
        tests = [f"instr({norm}, {_lit(' ' + t)}) > 0" for t in toks]
        return "(" + " AND ".join(tests) + ")"


@dataclass(frozen=True)
class MatchPhrase:
    """Exact adjacent-token phrase (Qdrant MatchPhrase): the phrase's
    tokens must appear IN ORDER AND ADJACENT, token-aligned on whitespace
    — unlike :class:`MatchText`, which accepts the tokens anywhere in any
    order.  Compiles to one ``instr`` over a whitespace-normalized,
    RUN-COLLAPSED lowercase copy: tab/newline/CR become spaces and runs
    of spaces collapse to one, so ``'hello  world'`` (double space after
    punctuation stripping or justified text) still matches the phrase
    ``'hello world'`` — adjacency is token-based, matching Qdrant's
    tokenizer semantics.  The collapse is the marker trick (``' '`` →
    ``' \\x01'``, drop ``'\\x01 '``, drop leftover markers) in
    replace/chr/|| — the engines' regexp dialects disagree on escapes and
    global replacement, but replace IS global in both; a pre-existing
    chr(1) in the document normalizes to a space first, so the marker
    can't collide.

    ``stopwords`` / ``stemmer`` apply position-compressed: stopword
    tokens vanish from BOTH the phrase and the document before
    adjacency (``'united states of america'`` with 'of' stopworded
    phrase-matches as ``united states america``), and the stemmer maps
    the surviving tokens on both sides — exactly how the positional
    index posts them."""
    key: str
    text: str
    tokenizer: str = "whitespace"
    stopwords: tuple = ()
    stemmer: str | None = None

    def __post_init__(self):
        if self.tokenizer not in ("whitespace", "word"):
            raise ValueError(
                f"MatchPhrase tokenizer {self.tokenizer!r} not one of "
                f"('whitespace', 'word')")
        _canon_text_params(self, self.tokenizer, with_stemmer=True)

    def to_sql(self) -> str:
        toks = _text_toks(self.text, self.tokenizer, self.stopwords,
                          self.stemmer)
        if not toks:
            # an all-stopword (or empty) phrase matches NOTHING —
            # mirrors Qdrant and the positional index's empty probe
            return "FALSE"
        # one delimiter pass shared with MatchText (chr(1) is a
        # delimiter there too, so it is free as the collapse marker),
        # then the stopword/stem pipeline, then runs of spaces collapse
        # to one — adjacency is token-based over the SURVIVING tokens,
        # matching the positional index's post-pipeline ordinals
        base = _delim_norm_sql(_ident(self.key), self.tokenizer)
        if self.stopwords or self.stemmer:
            base = _pipeline_sql(f"(' ' || {base} || ' ')",
                                 self.stopwords, self.stemmer)
        collapsed = (f"replace(replace(replace({base}, ' ', ' ' || chr(1)), "
                     f"chr(1) || ' ', ''), chr(1), '')")
        norm = f"(' ' || {collapsed} || ' ')"
        return f"instr({norm}, {_lit(' ' + ' '.join(toks) + ' ')}) > 0"


@dataclass(frozen=True)
class GeoBoundingBox:
    """Points inside a lat/lon box (Qdrant GeoBoundingBox).  The store
    keeps coordinates as two plain double columns, so the test is four
    pushed comparisons; a box crossing the antimeridian (left > right)
    splits the longitude test into an OR."""
    lat_key: str
    lon_key: str
    top: float      # max latitude
    left: float     # min longitude (west edge)
    bottom: float   # min latitude
    right: float    # max longitude (east edge)

    def to_sql(self) -> str:
        la, lo = _ident(self.lat_key), _ident(self.lon_key)
        lat_sql = (f"{la} >= {_lit(float(self.bottom))} AND "
                   f"{la} <= {_lit(float(self.top))}")
        if self.left <= self.right:
            lon_sql = (f"{lo} >= {_lit(float(self.left))} AND "
                       f"{lo} <= {_lit(float(self.right))}")
        else:  # antimeridian wrap
            lon_sql = (f"({lo} >= {_lit(float(self.left))} OR "
                       f"{lo} <= {_lit(float(self.right))})")
        return f"({lat_sql} AND {lon_sql})"


@dataclass(frozen=True)
class GeoRadius:
    """Points within ``radius_m`` meters of (lat, lon) by haversine
    distance (Qdrant GeoRadius).  Compiles to a PUSHED bounding-box
    pre-filter (computed driver-side from the radius — the cheap sargable
    cut) AND the exact haversine test; near the poles the longitude bound
    degenerates to unbounded (correct, just less pruning)."""
    lat_key: str
    lon_key: str
    lat: float
    lon: float
    radius_m: float

    def _bbox_sql(self) -> str:
        la, lo = _ident(self.lat_key), _ident(self.lon_key)
        dlat = math.degrees(self.radius_m / _EARTH_RADIUS_M)
        lat_lo, lat_hi = self.lat - dlat, self.lat + dlat
        parts = [f"{la} >= {_lit(max(lat_lo, -90.0))}",
                 f"{la} <= {_lit(min(lat_hi, 90.0))}"]
        # longitude shrinks by cos(lat) at the widest |lat| inside the box;
        # past a pole the box wraps every meridian — skip the lon bound
        max_abs_lat = min(max(abs(lat_lo), abs(lat_hi)), 90.0)
        cos_lat = math.cos(math.radians(max_abs_lat))
        if lat_lo > -90.0 and lat_hi < 90.0 and cos_lat > 1e-9:
            dlon = math.degrees(
                self.radius_m / (_EARTH_RADIUS_M * cos_lat))
            if dlon < 180.0:
                lon_lo, lon_hi = self.lon - dlon, self.lon + dlon
                if lon_lo >= -180.0 and lon_hi <= 180.0:
                    parts.append(f"{lo} >= {_lit(lon_lo)}")
                    parts.append(f"{lo} <= {_lit(lon_hi)}")
                # a wrap-around lon window would need an OR that blocks
                # pushdown — the lat bound still prunes
        return " AND ".join(parts)

    def haversine_sql(self) -> str:
        la, lo = _ident(self.lat_key), _ident(self.lon_key)
        qla, qlo = _lit(float(self.lat)), _lit(float(self.lon))
        return (
            f"2.0 * {_EARTH_RADIUS_M!r} * ASIN(SQRT("
            f"POWER(SIN(RADIANS({la} - {qla}) / 2), 2) + "
            f"COS(RADIANS({qla})) * COS(RADIANS({la})) * "
            f"POWER(SIN(RADIANS({lo} - {qlo}) / 2), 2)))"
        )

    def to_sql(self) -> str:
        return (f"({self._bbox_sql()} AND "
                f"{self.haversine_sql()} <= {_lit(float(self.radius_m))})")


@dataclass(frozen=True)
class GeoPolygon:
    """Points inside a lat/lon polygon (Qdrant GeoPolygon): an
    ``exterior`` ring of (lat, lon) vertices, minus optional
    ``interiors`` hole rings.  Compiles to a PUSHED bounding-box
    pre-filter (the exterior's min/max — the sargable cut Catalyst folds
    into the scan) AND an exact ray-cast parity test: per non-horizontal
    edge, one crossing term with the edge slope folded to a Python-side
    constant — so the shared SQL is pure comparisons/arithmetic, no
    division by a column expression (a horizontal edge never crosses the
    test ray and is skipped at compile time).  Planar semantics on
    plain-degree coordinates, the store's geo model (GeoBoundingBox);
    rings crossing the antimeridian are rejected loudly."""
    lat_key: str
    lon_key: str
    exterior: tuple          # ((lat, lon), ...) — ≥ 3 vertices, open ring
    interiors: tuple = ()    # optional hole rings, same shape

    def __init__(self, lat_key: str, lon_key: str, exterior,
                 interiors=()):
        object.__setattr__(self, "lat_key", lat_key)
        object.__setattr__(self, "lon_key", lon_key)
        object.__setattr__(
            self, "exterior",
            tuple((float(a), float(b)) for a, b in exterior))
        object.__setattr__(
            self, "interiors",
            tuple(tuple((float(a), float(b)) for a, b in ring)
                  for ring in interiors))

    def _ring_sql(self, ring: tuple) -> str:
        """Odd-crossings parity for one ring (pnpoly, Franklin 1994 —
        public-domain algorithm, re-derived here with constant-folded
        slopes)."""
        if len(ring) < 3:
            raise ValueError("a polygon ring needs at least 3 vertices")
        la, lo = _ident(self.lat_key), _ident(self.lon_key)
        terms = []
        for i in range(len(ring)):
            (y1, x1), (y2, x2) = ring[i], ring[(i + 1) % len(ring)]
            if y1 == y2:
                continue  # horizontal edge: the lat-ray never crosses it
            slope = (x2 - x1) / (y2 - y1)
            cross = (f"({la} >= {_lit(min(y1, y2))} AND "
                     f"{la} < {_lit(max(y1, y2))} AND "
                     f"{lo} < {_lit(x1)} + {_lit(slope)} * "
                     f"({la} - {_lit(y1)}))")
            terms.append(f"(CASE WHEN {cross} THEN 1 ELSE 0 END)")
        if not terms:
            return "FALSE"  # degenerate (all-horizontal) ring
        return f"(({' + '.join(terms)}) % 2 = 1)"

    def _bbox_sql(self) -> str:
        la, lo = _ident(self.lat_key), _ident(self.lon_key)
        lats = [v[0] for v in self.exterior]
        lons = [v[1] for v in self.exterior]
        if max(lons) - min(lons) > 180.0:
            raise ValueError(
                "GeoPolygon rings crossing the antimeridian are not "
                "supported; split the polygon at ±180°")
        return (f"{la} >= {_lit(min(lats))} AND {la} <= {_lit(max(lats))} "
                f"AND {lo} >= {_lit(min(lons))} AND "
                f"{lo} <= {_lit(max(lons))}")

    def to_sql(self) -> str:
        parts = [self._bbox_sql(), self._ring_sql(self.exterior)]
        for ring in self.interiors:
            parts.append(f"(NOT {self._ring_sql(ring)})")
        return "(" + " AND ".join(parts) + ")"


def _prefixed(cond, var: str):
    """Rewrite a condition tree so every key reads off lambda variable
    ``var`` — the NestedCondition compile step (``food`` → ``_e.food``)."""
    from dataclasses import replace  # noqa: PLC0415

    if isinstance(cond, Filter):
        return Filter(must=tuple(_prefixed(c, var) for c in cond.must),
                      should=tuple(_prefixed(c, var) for c in cond.should),
                      must_not=tuple(_prefixed(c, var)
                                     for c in cond.must_not),
                      min_should=cond.min_should)
    if isinstance(cond, NestedCondition):
        raise ValueError(
            "NestedCondition cannot nest inside another NestedCondition: "
            "the shared SQL dialect has no nested-lambda scoping both "
            "engines agree on")
    if isinstance(cond, (GeoBoundingBox, GeoRadius, GeoPolygon)):
        return replace(cond, lat_key=f"{var}.{cond.lat_key}",
                       lon_key=f"{var}.{cond.lon_key}")
    return replace(cond, key=f"{var}.{cond.key}")


@dataclass(frozen=True)
class NestedCondition:
    """Qdrant NestedCondition: a filter over the ELEMENTS of an
    array-of-struct payload — matches when at least ONE element
    satisfies the whole inner filter (all its conditions on the SAME
    element, which a flat ``array_contains`` conjunction cannot
    express).  Compiles to ``filter(key, _e -> inner) `` — the
    higher-order array filter BOTH engines run with identical ``->``
    lambda syntax — wrapped in the shared ``json_array_length(to_json(
    ...))`` cardinality form (non-empty survivor list = match); a NULL
    array coalesces to no-match.  The inner filter's keys rewrite to
    ``_e.<key>`` struct access at compile time."""
    key: str
    filter: object  # a Filter or a single leaf condition

    def to_sql(self) -> str:
        inner = _prefixed(as_filter(self.filter), "_e")
        return (f"COALESCE(json_array_length(to_json(filter("
                f"{_ident(self.key)}, _e -> {inner.to_sql()}))) > 0, "
                f"FALSE)")


@dataclass(frozen=True)
class Filter:
    """Boolean composition (Qdrant Filter): ALL of ``must``, NONE of
    ``must_not``, and — when ``should`` is non-empty — at least
    ``min_should`` of ``should``.  Conditions are leaves or nested
    Filters; an empty Filter matches everything."""
    must: tuple = field(default_factory=tuple)
    should: tuple = field(default_factory=tuple)
    must_not: tuple = field(default_factory=tuple)
    min_should: int = 1

    def __init__(self, must=(), should=(), must_not=(), min_should=1):
        as_tuple = (lambda x: tuple(x) if isinstance(x, (list, tuple))
                    else (x,))
        object.__setattr__(self, "must", as_tuple(must))
        object.__setattr__(self, "should", as_tuple(should))
        object.__setattr__(self, "must_not", as_tuple(must_not))
        object.__setattr__(self, "min_should", int(min_should))

    def to_sql(self) -> str:
        parts = [c.to_sql() for c in self.must]
        if self.should:
            shoulds = [c.to_sql() for c in self.should]
            if self.min_should <= 1:
                parts.append("(" + " OR ".join(shoulds) + ")")
            else:
                # "at least N of M": sum the boolean tests as ints — both
                # engines cast TRUE to 1 under an explicit CAST
                total = " + ".join(
                    f"(CASE WHEN {s} THEN 1 ELSE 0 END)" for s in shoulds)
                parts.append(f"({total}) >= {int(self.min_should)}")
        for c in self.must_not:
            # NULL-safe negation: NOT(x = 1) is NULL (→ dropped) for NULL
            # x, but Qdrant's must_not means "does not positively match"
            parts.append(f"(NOT COALESCE({c.to_sql()}, FALSE))")
        if not parts:
            return "TRUE"
        return "(" + " AND ".join(parts) + ")"

    def to_column(self) -> Column:
        """The Spark predicate — same compiled SQL, so scan paths push the
        leaf comparisons into the parquet scan for free."""
        return F.expr(self.to_sql())

    # -- payload-index routing --------------------------------------------

    def indexable_must_leaves(self) -> list[tuple[str, object, str]]:
        """Top-level must leaves the payload index can resolve: (column,
        probe payload, kind) — kind 'scalar' for MatchValue/MatchAny
        (payload = value tuple) over a scalar-indexed column, 'contains'
        for MatchContains over an ARRAY-indexed column (element postings),
        'range' for Range/DatetimeRange (payload = the leaf itself) over a
        RANGE-indexed numeric/datetime column, 'hasid' for HasId (its
        LITERAL ids ARE the candidate set — no index needed at all).
        Nested filters and every other leaf kind stay in the
        residual."""
        out = []
        for c in self.must:
            if isinstance(c, MatchValue):
                out.append((c.key, (c.value,), "scalar"))
            elif isinstance(c, MatchAny):
                out.append((c.key, c.values, "scalar"))
            elif isinstance(c, MatchContains):
                out.append((c.key, (c.value,), "contains"))
            elif isinstance(c, (Range, DatetimeRange)):
                out.append((c.key, c, "range"))
            elif isinstance(c, NestedCondition):
                out.append((c.key, c, "nested"))
            elif isinstance(c, HasId):
                out.append((c.id_col, c, "hasid"))
            elif isinstance(c, MatchText) and c.text.split():
                out.append((c.key, c, "text"))
            elif isinstance(c, MatchTextPrefix) and c.text.split():
                out.append((c.key, c, "text_prefix"))
            elif isinstance(c, MatchPhrase) and c.text.split():
                out.append((c.key, c, "phrase"))
            elif isinstance(c, (GeoBoundingBox, GeoRadius, GeoPolygon)):
                # geo candidates are a conservative SUPERSET (cell cover
                # overhangs the box) — the leaf stays in the residual
                out.append((c.lat_key, c, "geo"))
        return out

    def residual_without(self, scalar_keys: set[str],
                         contains_keys: set[str] = frozenset(),
                         range_keys: set[str] = frozenset(),
                         nested_leaves: tuple = (),
                         hasid_leaves: tuple = (),
                         text_leaves: tuple = ()) -> "Filter":
        """This filter minus the top-level must leaves the index answered:
        MatchValue/MatchAny on ``scalar_keys``, MatchContains on
        ``contains_keys``, Range/DatetimeRange on ``range_keys``, the
        SPECIFIC NestedCondition leaves in ``nested_leaves`` (by
        structural equality — two nested conditions on the same key may
        differ in index-resolvability, so nested drops are per-leaf, not
        per-key); the leaf kind must match the index kind — a
        scalar-equality leaf over an array-indexed column stays residual,
        and vice versa.  Everything else — other musts, the whole
        should/must_not structure — remains."""
        kept = tuple(
            c for c in self.must
            if not ((isinstance(c, (MatchValue, MatchAny))
                     and c.key in scalar_keys)
                    or (isinstance(c, MatchContains)
                        and c.key in contains_keys)
                    or (isinstance(c, (Range, DatetimeRange))
                        and c.key in range_keys)
                    or (isinstance(c, NestedCondition)
                        and c in nested_leaves)
                    or (isinstance(c, HasId) and c in hasid_leaves)
                    or (isinstance(c, (MatchText, MatchPhrase,
                                       MatchTextPrefix))
                        and c in text_leaves)))
        return Filter(must=kept, should=self.should,
                      must_not=self.must_not, min_should=self.min_should)


def as_filter(flt) -> Filter:
    """Coerce a bare condition (or a Filter) to a Filter."""
    return flt if isinstance(flt, Filter) else Filter(must=(flt,))


def _geo_leaf_bbox(leaf) -> tuple | None:
    """Driver-side (top, left, bottom, right) bounding box of a geo leaf
    — the conservative cover the GEO payload index probes; left > right
    wraps the antimeridian (GeoBoundingBox only; the radius and polygon
    forms fall back to the full longitude span when their box would
    wrap, still a valid superset)."""
    if isinstance(leaf, GeoBoundingBox):
        return (float(leaf.top), float(leaf.left),
                float(leaf.bottom), float(leaf.right))
    if isinstance(leaf, GeoRadius):
        dlat = math.degrees(leaf.radius_m / _EARTH_RADIUS_M)
        lat_lo, lat_hi = leaf.lat - dlat, leaf.lat + dlat
        top = min(lat_hi, 90.0)
        bottom = max(lat_lo, -90.0)
        max_abs_lat = min(max(abs(lat_lo), abs(lat_hi)), 90.0)
        cos_lat = math.cos(math.radians(max_abs_lat))
        if lat_lo > -90.0 and lat_hi < 90.0 and cos_lat > 1e-9:
            dlon = math.degrees(leaf.radius_m
                                / (_EARTH_RADIUS_M * cos_lat))
            if dlon < 180.0:
                lon_lo, lon_hi = leaf.lon - dlon, leaf.lon + dlon
                if lon_lo >= -180.0 and lon_hi <= 180.0:
                    return (top, lon_lo, bottom, lon_hi)
        return (top, -180.0, bottom, 180.0)
    if isinstance(leaf, GeoPolygon):
        lats = [a for a, _ in leaf.exterior]
        lons = [b for _, b in leaf.exterior]
        return (max(lats), min(lons), min(lats), max(lons))
    return None


def has_literal_id_leaves(flt) -> bool:
    """True when a top-level must leaf is a :class:`HasId` — then the
    candidates the resolution returns carry caller LITERALS that may not
    exist in the store (posting-derived ids always do), so a consumer
    that treats them as an authoritative point set (e.g. counting them
    without a fetch) must fetch their rows first
    (``upsert.Candidates.fetch``), where ghosts drop."""
    return any(isinstance(c, HasId) for c in as_filter(flt).must)


def _nested_indexable_leaves(leaf: NestedCondition,
                             fields: list[str]) -> list[tuple] | None:
    """The (field, values) probe list for a NestedCondition the
    element-level index can answer EXACTLY, or None when it can't (then
    the condition stays residual): must-only inner filter, every leaf an
    equality (MatchValue/MatchAny) on a flat indexed field."""
    inner = as_filter(leaf.filter)
    if inner.should or inner.must_not or not inner.must:
        return None
    out: list[tuple] = []
    for c in inner.must:
        if isinstance(c, MatchValue):
            out.append((c.key, (c.value,)))
        elif isinstance(c, MatchAny):
            if not c.values:
                return None  # IN () matches nothing; leave to the scan
            out.append((c.key, c.values))
        else:
            return None
    if any(k not in fields or "." in k for k, _ in out):
        return None
    return out


def filter_match_ids(spark, root: str, collection: str, flt,
                     allow_stale: bool = False):
    """Resolve a filter's indexable must-leaves through the persisted
    payload indexes (:func:`_match_ids`): each leaf over a usable index
    becomes a pruned probe, the per-leaf id sets INTERSECT, and the
    caller applies the residual filter to the fetched rows.

    Returns ``(ids_df | None, residual: Filter)``: a literal frame of the
    distinct ids when the driver answered every probe, else the Spark
    probe frame; None when no top-level must leaf has a FRESH payload
    index (caller falls back to the pushed-predicate scan — the right
    plan for non-selective filters anyway; a stale index is usable only
    under ``allow_stale``).
    """
    cands, residual = _match_ids(spark, root, collection, flt, allow_stale)
    return (None if cands is None else cands.frame()), residual


class _Plan(NamedTuple):
    """Which must-leaves of a filter the payload indexes answer, read
    from the sidecars alone: ``probes`` are the ``(key, payload, kind)``
    leaves to probe, ``residual`` the filter left to evaluate on the
    fetched rows."""
    probes: list
    residual: Filter
    meta: dict | None
    imetas: dict
    nested: dict


def _match_ids(spark, root: str, collection: str, flt,
               allow_stale: bool = False, meta: dict | None = None):
    """The one filter resolution: ``(upsert.Candidates | None,
    residual)``.  Plans from the sidecars (:func:`_plan`), then
    resolves the probes (:func:`_resolve`); None when no leaf has a
    usable index.  ``meta`` is the collection meta when the caller
    holds it."""
    plan = _plan(root, collection, flt, allow_stale, meta)
    if not plan.probes:
        return None, plan.residual
    return _resolve(spark, root, collection, plan, allow_stale), \
        plan.residual


def _plan(root: str, collection: str, flt, allow_stale: bool = False,
          meta: dict | None = None) -> _Plan:
    """The probes a filter's top-level must-leaves resolve through: each
    leaf whose payload index exists, is fresh (or ``allow_stale``), has
    the index kind the leaf needs and can narrow (a geo box covering
    at most ``payload_index._GEO_MAX_CELLS`` cells), plus every HasId
    leaf.  Reads the JSON sidecars only — no probe, no Spark job."""
    from ..functions.text import tokenize_text_py  # noqa: PLC0415
    from .payload_index import (  # noqa: PLC0415
        TEXT_FORMAT,
        _band_ok,
        _geo_cells,
        payload_index_meta,
        prefix_band,
    )
    from .upsert import _version_of, collection_meta  # noqa: PLC0415

    flt = as_filter(flt)
    if meta is None:
        meta = collection_meta(root, collection)
    cur = _version_of(root, collection, meta)

    meta_cache: dict = {}
    leaf_cache: dict = {}

    def usable(key: str, kind: str, payload=None) -> bool:
        if kind == "hasid":
            return True  # literal ids need no index at all
        if key not in meta_cache:
            meta_cache[key] = payload_index_meta(root, collection, key)
        imeta = meta_cache[key]
        if imeta is None:
            return False
        itype = imeta.get("index_type", "keyword")
        if kind == "nested":
            # the element-level index answers a NestedCondition exactly
            # iff EVERY inner condition is an equality leaf on an
            # indexed field (must-only: should/must_not inside would
            # need per-element negation the postings can't express)
            if itype != "nested":
                return False
            leaves = _nested_indexable_leaves(payload,
                                              imeta.get("fields", []))
            if leaves is None:
                return False
            leaf_cache[(key, id(payload))] = leaves
        elif kind in ("text", "phrase", "text_prefix"):
            if itype != "text":
                return False  # these need the TOKEN posting layout
            if imeta.get("text_format") != TEXT_FORMAT:
                # an older-format meta (pre-r9: no tokenizer params /
                # chr(1) delimiter; pre-r10: no chr(2) delimiter or
                # stopword/stemmer surface) tokenized differently —
                # routed answers could diverge from today's scan forms;
                # built_version only tracks DATA freshness, so gate the
                # FORMAT explicitly and stay residual until rebuilt
                return False
            if not bool(imeta.get("lowercase", True)):
                # the scan forms lowercase unconditionally; a case-
                # sensitive index answers a different predicate
                return False
            # stopwords/stemmer are part of the predicate's MEANING: a
            # leaf resolves through an index only when both match its
            # own params exactly (leaf stopwords are canonical sorted
            # tuples; the meta stores the same canonical list)
            if tuple(imeta.get("stopwords") or ()) \
                    != tuple(getattr(payload, "stopwords", ()) or ()):
                return False
            if (imeta.get("stemmer") or None) \
                    != (getattr(payload, "stemmer", None) or None):
                return False
            itok = imeta.get("tokenizer", "whitespace")
            if kind == "text_prefix":
                if itok != "prefix":
                    return False  # needs prefix postings
                # query PREFIX tokens are never stop-checked or stemmed
                # (a prefix is not a token; the pipeline applies to the
                # posted DOC tokens only)
                toks = tokenize_text_py(payload.text, "whitespace")
                band = prefix_band(imeta)
            else:
                if itok != payload.tokenizer:
                    # whole-token leaves never resolve through prefix
                    # postings (every prefix posts — different meaning),
                    # and a word leaf never through a whitespace index
                    return False
                if kind == "phrase" and not bool(
                        imeta.get("phrase_matching", False)):
                    return False  # adjacency needs positional postings
                toks = tokenize_text_py(
                    payload.text, itok,
                    stopwords=tuple(payload.stopwords or ()),
                    stemmer=payload.stemmer)
                band = imeta
            if toks and not _band_ok(toks, band):
                # a token outside the index's stored length band was
                # never posted — the scan could still match it, so the
                # leaf stays residual (exactness over pruning).  ZERO
                # tokens (empty text / all stopwords) routes fine: the
                # probe's empty id set IS the scan answer (FALSE —
                # matches nothing, Qdrant's empty-token semantics)
                return False
        elif kind == "geo":
            bbox = _geo_leaf_bbox(payload)
            if itype != "geo" \
                    or imeta.get("lon_column") != payload.lon_key \
                    or bbox is None or _geo_cells(imeta, bbox) is None:
                # a near-global box prunes nothing: it stays residual
                # and the scan answers it
                return False
        else:
            if itype in ("nested", "text", "geo"):
                # element postings answer nested only; token postings
                # answer MatchText only (a whole-value equality probed
                # against tokens would silently change meaning)
                return False
            if bool(imeta.get("array", False)) != (kind == "contains"):
                # semantics mismatch: an array index holds ELEMENT
                # postings (answers MatchContains, not scalar equality);
                # a scalar index can't answer membership — such leaves
                # stay residual
                return False
            if kind == "range" and itype != "range":
                # a hash-bucketed keyword index scatters a value interval
                # across every bucket — only the value-ordered range
                # layout answers Range/DatetimeRange leaves
                return False
        return allow_stale or int(imeta["built_version"]) == cur

    probes = [(key, payload, kind)
              for key, payload, kind in flt.indexable_must_leaves()
              if usable(key, kind, payload)]
    if not probes:
        return _Plan([], flt, meta, meta_cache, leaf_cache)
    residual = flt.residual_without(
        {k for k, _, kind in probes if kind == "scalar"},
        {k for k, _, kind in probes if kind == "contains"},
        {k for k, _, kind in probes if kind == "range"},
        tuple(p for _, p, kind in probes if kind == "nested"),
        tuple(p for _, p, kind in probes if kind == "hasid"),
        # per-LEAF drops (structural equality): two text leaves on the
        # same key may differ in index-resolvability (tokenizer
        # mismatch, out-of-band tokens) — a key-level drop would
        # silently erase the unanswered one
        tuple(p for _, p, kind in probes
              if kind in ("text", "phrase", "text_prefix")))
    return _Plan(probes, residual, meta, meta_cache, leaf_cache)


def _resolve(spark, root: str, collection: str, plan: _Plan,
             allow_stale: bool):
    """The candidates of a plan's probes, intersected.  On the driver
    when every probe allows it — HasId leaves by their literal ids,
    keyword-index leaves through ``payload_index._keyword_id_list``
    (a literal Python renders exactly, at most
    ``payload_index.DRIVER_PROBE_CAP`` posting rows) — as a sorted id
    list; otherwise every probe runs as a Spark frame and the frames
    semi-join."""
    from . import payload_index as pi  # noqa: PLC0415
    from .localframe import local_frame  # noqa: PLC0415
    from .upsert import Candidates  # noqa: PLC0415

    # the Spark path semi-joins every later leaf onto the first, so its
    # rows are the first leaf's rows (repeats included) whose id every
    # other leaf holds; the list keeps that multiplicity
    first: list | None = None
    others: set | None = None
    for key, payload, kind in plan.probes:
        if kind == "hasid":
            leaf = [str(v) for v in payload.ids]
        elif kind in ("scalar", "contains") and plan.imetas[key].get(
                "index_type", "keyword") == "keyword":
            leaf = pi._keyword_id_list(
                pi.index_path(root, collection, pi._payload_index_name(key)),
                plan.imetas[key], list(payload))
            if leaf is None:
                break
        else:
            break
        if first is None:
            first = leaf
        else:
            others = set(leaf) if others is None else others & set(leaf)
    else:
        return Candidates(spark, root, collection,
                          sorted(i for i in first
                                 if others is None or i in others),
                          plan.meta)
    ids = None
    for key, payload, kind in plan.probes:
        if kind == "range":
            got = pi.payload_range_match_ids(
                spark, root, collection, key, gt=payload.gt,
                gte=payload.gte, lt=payload.lt, lte=payload.lte,
                allow_stale=allow_stale).select("id")
        elif kind == "nested":
            got = pi.nested_match_ids(
                spark, root, collection, key,
                plan.nested[(key, id(payload))], allow_stale=allow_stale)
        elif kind == "hasid":
            # the leaf's literal ids ARE the candidate frame (Qdrant
            # resolves HasIdCondition from its native id index); the
            # downstream fetch stays bucket-pruned on them
            got = local_frame(
                spark, [(str(v),) for v in payload.ids], "id string")
        elif kind == "text":
            got = pi.text_match_ids(spark, root, collection, key,
                                    payload.text, allow_stale=allow_stale)
        elif kind == "text_prefix":
            got = pi.text_match_ids(spark, root, collection, key,
                                    payload.text, allow_stale=allow_stale,
                                    prefix=True)
        elif kind == "phrase":
            got = pi.phrase_match_ids(spark, root, collection, key,
                                      payload.text, allow_stale=allow_stale)
        elif kind == "geo":
            got = pi.geo_match_ids(spark, root, collection, key,
                                   _geo_leaf_bbox(payload),
                                   allow_stale=allow_stale)
        else:
            got = pi._payload_probe(spark, root, collection, key,
                                    list(payload),
                                    plan.imetas[key]).select("id")
        ids = got if ids is None else ids.join(got, "id", "left_semi")
    return Candidates(spark, root, collection, ids, plan.meta)
