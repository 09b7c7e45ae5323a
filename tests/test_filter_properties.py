"""Property-based cross-engine check for the filter DSL (the structural
claim behind every oracle that embeds ``Filter.to_sql()``): a RANDOM
filter tree — any leaf kind, any must/should/must_not nesting — must
mean exactly the same thing to Spark (``F.expr``) and DuckDB over the
same rows.  The fixtures only ever exercise hand-picked filters; this
sweeps the combinatorial space the dialect subset has to cover,
including the NULL-propagation corners (must_not over NULL leaves,
min_should counting, empty IN lists)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bob_vector_db_spark.operators.filters import (
    Filter,
    GeoBoundingBox,
    GeoPolygon,
    GeoRadius,
    IsEmpty,
    IsNull,
    MatchAny,
    MatchContains,
    MatchExcept,
    MatchPhrase,
    MatchText,
    MatchTextPrefix,
    MatchValue,
    NestedCondition,
    Range,
    ValuesCount,
)

# One fixed table, edge-heavy: NULLs in every column, empty and
# duplicate-element lists, tab/double-space/mixed-case text.
ROWS = [
    (0, "en", 5, 1.5, ["a", "b"], "alpha beta gamma", 10.0, 20.0,
     [("s", 3), ("l", 0)]),
    (1, "de", None, -0.5, [], "Alpha  beta", -35.5, 170.0, []),
    (2, None, 12, 2.0, ["b", "b", "c"], "beta\talpha", 0.0, 0.0,
     [("s", 1)]),
    (3, "fr", 0, None, None, None, None, None, None),
    (4, "en", -3, 0.0, ["c"], "gamma  delta epsilon", 89.5, -120.0,
     [("l", 4), ("s", 4)]),
    (5, "de", 7, 3.25, ["a"], "alpha", 45.0, 44.9, [("x", 2)]),
    (6, "en", 5, 1.5, ["a", "d", "e"], "delta alpha beta", 12.0, 18.0,
     [("s", 0), ("s", 5)]),
    (7, None, None, None, [], "", None, 30.0, []),
    (8, "xx", 9, -1.25, ["e", "a"], "Beta Gamma", -12.5, 25.0,
     [("l", 1)]),
    (9, "fr", 2, 1.5, ["d"], "epsilon  zeta", 33.0, -20.0,
     [("s", 2), ("l", 2)]),
    # punctuation / control-char text for the word-tokenizer and
    # chr(1)-delimiter forms (r9)
    (10, "en", 1, 0.5, ["a"], "alpha-beta, Gamma! (delta)", 5.0, 5.0, []),
    (11, "de", 4, 2.5, ["b"], "alpha\x01beta gamma\x0bdelta", -5.0, -5.0,
     [("s", 9)]),
]
_SCHEMA = ("id long, lang string, n int, score double, "
           "tags array<string>, txt string, plat double, plon double, "
           "props array<struct<kind:string,num:int>>")
_DUCK_ROWS = ", ".join(
    "({}, {}, {}, {}, {}, {}, {}, {}, {})".format(
        i,
        "NULL" if lang is None else f"'{lang}'",
        "NULL" if n is None else n,
        "NULL" if s is None else repr(s),
        "NULL" if tags is None else
        "[" + ", ".join(f"'{t}'" for t in tags) + "]",
        "NULL" if txt is None else "'" + txt.replace("'", "''") + "'",
        "NULL" if plat is None else repr(plat),
        "NULL" if plon is None else repr(plon),
        "CAST(NULL AS STRUCT(kind VARCHAR, num INT)[])" if props is None
        else "[" + ", ".join(
            "{{'kind': '{}', 'num': {}}}".format(k, v)
            for k, v in props) + "]",
    ) for i, lang, n, s, tags, txt, plat, plon, props in ROWS)
_DUCK_TABLE = (f"(SELECT * FROM (VALUES {_DUCK_ROWS}) "
               f"t(id, lang, n, score, tags, txt, plat, plon, props))")

_LANGS = ["en", "de", "fr", "xx", "zz"]
_TAGS = ["a", "b", "c", "d", "e", "q"]
_WORDS = ["alpha", "beta", "gamma", "delta", "zeta", "omega"]

_num_key = st.sampled_from(["n", "score"])
_num_val = st.one_of(st.integers(-5, 13),
                     st.sampled_from([0.0, 1.5, -0.5, 2.0, 3.25]))
_bound = st.one_of(st.none(), _num_val)


def _mk_range(key, gt, gte, lt, lte):
    if gt is None and gte is None and lt is None and lte is None:
        gte = 0  # Range requires at least one bound
    return Range(key, gt=gt, gte=gte, lt=lt, lte=lte)


_leaf = st.one_of(
    st.builds(MatchValue, st.just("lang"), st.sampled_from(_LANGS)),
    st.builds(MatchValue, st.just("n"), st.integers(-5, 13)),
    st.builds(MatchAny, st.just("lang"),
              st.lists(st.sampled_from(_LANGS), max_size=3)),
    st.builds(MatchExcept, st.just("lang"),
              st.lists(st.sampled_from(_LANGS), max_size=3)),
    st.builds(_mk_range, _num_key, _bound, _bound, _bound, _bound),
    st.builds(IsNull, st.sampled_from(["lang", "n", "score", "txt"])),
    st.builds(IsEmpty, st.just("tags")),
    st.builds(_mk_range, st.just("n"), _bound, _bound, _bound, _bound),
    st.builds(lambda g, l: ValuesCount("tags", gte=g, lte=l),
              st.integers(0, 4), st.integers(0, 4)),
    st.builds(MatchContains, st.just("tags"), st.sampled_from(_TAGS)),
    st.builds(MatchText, st.just("txt"),
              st.lists(st.sampled_from(_WORDS), min_size=1, max_size=2)
              .map(" ".join)),
    st.builds(MatchPhrase, st.just("txt"),
              st.lists(st.sampled_from(_WORDS), min_size=1, max_size=2)
              .map(" ".join)),
    st.builds(MatchText, st.just("txt"),
              st.lists(st.sampled_from(_WORDS), min_size=1, max_size=2)
              .map(" ".join), st.just("word")),
    st.builds(MatchPhrase, st.just("txt"),
              st.lists(st.sampled_from(_WORDS), min_size=1, max_size=2)
              .map(" ".join), st.just("word")),
    st.builds(MatchTextPrefix, st.just("txt"),
              st.lists(st.sampled_from(
                  ["al", "bet", "gam", "delt", "eps", "z"]),
                  min_size=1, max_size=2).map(" ".join)),
    st.builds(lambda top, bot, left, right: GeoBoundingBox(
        "plat", "plon", top=max(top, bot), left=left,
        bottom=min(top, bot), right=right),
        st.floats(-60, 60), st.floats(-60, 60),
        st.floats(-150, 150), st.floats(-150, 150)),
    st.builds(lambda la, lo, r: GeoRadius("plat", "plon", la, lo, r),
              st.floats(-50, 50), st.floats(-150, 150),
              st.floats(100_000, 8_000_000)),
    st.builds(lambda c_lat, c_lon, w: GeoPolygon(
        "plat", "plon",
        exterior=[(c_lat - w, c_lon - w), (c_lat + w, c_lon),
                  (c_lat, c_lon + w)]),
        st.floats(-40, 40), st.floats(-100, 100), st.floats(5, 40)),
    st.builds(lambda kind, num: NestedCondition("props", Filter(
        must=[MatchValue("kind", kind), Range("num", gte=num)])),
        st.sampled_from(["s", "l", "x"]), st.integers(0, 5)),
)

_filter = st.recursive(
    _leaf,
    lambda children: st.builds(
        Filter,
        st.lists(children, max_size=2),          # must
        st.lists(children, max_size=2),          # should
        st.lists(children, max_size=2),          # must_not
        st.integers(1, 2),                       # min_should
    ),
    max_leaves=6,
)


@pytest.fixture(scope="module")
def engines(spark):
    sdf = spark.createDataFrame(ROWS, _SCHEMA)
    sdf.createOrReplaceTempView("_flt_prop")
    con = duckdb.connect()
    return spark, con


def test_geo_polygon_high_precision_slope_literal(engines):
    """Pinned r8 falsifier: the constant-folded pnpoly slope of this
    polygon is 2.0000000000000004 — 17 significant digits.  Rendered as
    a bare decimal, DuckDB typed it DECIMAL(18,17) and the surrounding
    arithmetic raised ``Conversion Error: Casting value "65.0" to type
    DECIMAL(18,17)`` while Spark read the same text as DOUBLE.  ``_lit``
    now renders floats in exponent notation so both engines type the
    literal DOUBLE."""
    spark, con = engines
    flt = Filter(must=(GeoPolygon(
        "plat", "plon",
        exterior=((-25.999999999999993, 13.000000000000007),
                  (25.999999999999993, 39.0), (0.0, 65.0))),))
    sql = flt.to_sql()
    got_spark = sorted(r["id"] for r in spark.sql(
        f"SELECT id FROM _flt_prop t WHERE {sql}").collect())
    got_duck = sorted(r[0] for r in con.execute(
        f"SELECT id FROM {_DUCK_TABLE} WHERE {sql}").fetchall())
    assert got_spark == got_duck, sql


def test_float_literals_render_as_double():
    """Every float leaving ``_lit`` must carry an exponent marker so the
    shared dialect types it DOUBLE, and DuckDB must agree."""
    from bob_vector_db_spark.operators.filters import _lit
    con = duckdb.connect()
    for v in (2.0000000000000004, 0.30000000000000004, 1.5, -0.5, 0.0,
              1e300, 5e-324, -2.225073858507e-308):
        r = _lit(v)
        assert "e" in r.lower(), r
        typ, back = con.execute(
            f"SELECT typeof({r}), CAST({r} AS DOUBLE)").fetchone()
        assert typ == "DOUBLE", (v, r, typ)
        assert back == v, (v, r, back)
    assert _lit(7) == "7"  # ints stay integral (IN lists over int cols)


def test_string_literals_read_back_alike(engines):
    """A string leaving ``_lit`` reads back as itself in both engines —
    quotes, backslashes (an escape to Spark, plain text to DuckDB) and
    non-ASCII included — in one query per engine."""
    from bob_vector_db_spark.operators.filters import _lit
    spark, con = engines
    vals = ["", "plain", "a'b", "''", "c\\d", "\\", "\\\\n", "x\\'y",
            "tab\\t", "ü😀", "end\\"]
    sel = ", ".join(f"{_lit(v)} AS c{i}" for i, v in enumerate(vals))
    assert list(spark.sql(f"SELECT {sel}").first()) == vals
    assert list(con.execute(f"SELECT {sel}").fetchone()) == vals


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(flt=_filter)
def test_random_filters_agree_across_engines(engines, flt):
    spark, con = engines
    cond = flt if isinstance(flt, Filter) else Filter(must=(flt,))
    sql = cond.to_sql()
    # note the table alias: Spark's statement parser treats a bare
    # "FROM t WHERE (expr)" as table alias WHERE + column-alias list
    # (WHERE is a non-reserved keyword), so a filter compiling to a
    # leading parenthesis needs the alias (or F.expr, the DSL's real
    # surface — documented in operators/filters.py)
    got_spark = sorted(r["id"] for r in spark.sql(
        f"SELECT id FROM _flt_prop t WHERE {sql}").collect())
    got_duck = sorted(r[0] for r in con.execute(
        f"SELECT id FROM {_DUCK_TABLE} WHERE {sql}").fetchall())
    assert got_spark == got_duck, sql
