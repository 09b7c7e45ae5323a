"""Property-based checks for the portable hash family (SURVEY.md §5.2
item 4): the Spark expressions must agree with an independent pure-Python
model on arbitrary inputs — the property that makes every oracle-checked
dedup/embed query trustworthy on data the fixtures never cover."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bob_vector_db_spark.functions.hashing import (
    MINHASH_PRIME,
    POLY_BASE,
    POLY_MOD,
    minhash_params,
    poly_hash,
)

# Printable ASCII without whitespace: the token alphabet every shingle/token
# path feeds the hash (tokenizers split whitespace away first).
TOKEN = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=24,
)


def py_poly_hash(token: str, mod: int = POLY_MOD) -> int:
    h = 0
    for ch in token:
        h = (h * POLY_BASE + ord(ch)) % mod
    return h


_spark = None  # initialized once; hypothesis re-enters the test many times


def _get_spark():
    global _spark
    if _spark is None:
        from bob_vector_db_spark.session import get_spark

        # no shuffle_partitions/cpus overrides: getOrCreate would apply them
        # as runtime confs to the suite's SHARED session and poison later
        # tests (the AQE skew test needs the suite's partition count)
        _spark = get_spark("hash_props")
    return _spark


@settings(max_examples=20, deadline=None)
@given(st.lists(TOKEN, min_size=1, max_size=8, unique=True))
def test_poly_hash_matches_python_model(tokens):
    spark = _get_spark()
    df = spark.createDataFrame([(t,) for t in tokens], "tok string")
    got = {r["tok"]: r["h"]
           for r in df.select("tok", poly_hash(F.col("tok")).alias("h")).collect()}
    for t in tokens:
        assert got[t] == py_poly_hash(t), t


@settings(max_examples=8, deadline=None)
@given(st.lists(TOKEN, min_size=1, max_size=6))
def test_simhash_fingerprint_matches_python_model(tokens):
    """64-bit SimHash incl. the sign-bit encoding: the Spark fingerprint must
    equal a pure-Python fold interpreted as a two's-complement int64."""
    from bob_vector_db_spark.operators.dedup import simhash_table

    spark = _get_spark()
    text = " ".join(tokens)
    got = {r["id"]: r["fp"] for r in simhash_table(
        spark.createDataFrame([(0, text)], "doc_id long, text string"),
        bits=64).collect()}

    votes = [0] * 64
    for t in tokens:
        h = py_poly_hash(t)
        for j in range(64):
            bit = ((h * (2 * j + 3)) % POLY_MOD) & 1
            votes[j] += 1 if bit else -1
    fp = sum((1 << j) for j in range(64) if votes[j] > 0)
    if fp >= 1 << 63:  # two's-complement int64
        fp -= 1 << 64
    assert got[0] == fp


@settings(max_examples=10, deadline=None)
@given(st.lists(TOKEN, min_size=2, max_size=6, unique=True))
def test_minhash_signature_matches_python_model(tokens):
    """Signature = per-permutation min over token hashes; one doc, checked
    against the pure-Python fold."""
    spark = _get_spark()
    params = minhash_params(4)
    df = spark.createDataFrame([(t,) for t in tokens], "tok string")
    hs = [r["h"] for r in df.select(poly_hash(F.col("tok")).alias("h")).collect()]
    expect = [min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in params]
    got = (
        df.select(poly_hash(F.col("tok")).alias("h"))
        .agg(*[F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
               for i, (a, b) in enumerate(params)])
        .first()
    )
    assert [got[f"m{i}"] for i in range(4)] == expect


def _of_byte_length(n: int, alphabet: str) -> str:
    """A string of exactly ``n`` UTF-8 bytes cycling through
    ``alphabet`` (1- to 4-byte characters), topped up with ASCII."""
    out, size = [], 0
    for i in range(n):
        ch = alphabet[i % len(alphabet)]
        w = len(ch.encode("utf-8"))
        if size + w > n:
            break
        out.append(ch)
        size += w
    return "".join(out) + "z" * (n - size)


def test_xxhash64_port_matches_spark():
    """The driver XXH64 (seed 42) equals ``F.xxhash64`` and
    ``pmod(·, n)`` equals ``F.pmod`` — over UTF-8 byte lengths 0-100
    (which cross the 4/8/32-byte stripe boundaries), non-BMP
    characters and decimal id strings, in one batched query."""
    from bob_vector_db_spark.functions.hashing import spark_bucket, xxhash64

    strings = []
    for n in range(101):
        strings += [_of_byte_length(n, "a"), _of_byte_length(n, "aé€😀"),
                    _of_byte_length(n, "😀\U0010fffd")]
    strings += ["\U0001f600" * k for k in (1, 7, 8, 9, 16)]
    strings += [str(i) for i in (0, 1, -1, 42, 9999, 10 ** 18,
                                 -(2 ** 63), 2 ** 63 - 1)]
    strings += [str(i * 7919) for i in range(60)]
    strings = sorted(set(strings))
    assert {len(s.encode("utf-8")) for s in strings} >= set(range(101))
    buckets = (1, 4, 7, 16, 32, 1000)
    spark = _get_spark()
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select("s", F.xxhash64("s").alias("h"), *[
        F.pmod(F.xxhash64("s"), F.lit(n)).alias(f"b{n}")
        for n in buckets]).collect()
    assert len(rows) == len(strings)
    for r in rows:
        assert xxhash64(r["s"]) == r["h"], r["s"]
        for n in buckets:
            assert spark_bucket(r["s"], n) == r[f"b{n}"], (r["s"], n)
