"""Deterministic, engine-portable hashing (SURVEY.md §2.8 F3/F4, §2.10 X3).

The reference generates uuid4 ids when the caller omits them
(qdrant_embedder.py:115-117).  uuid4 is untestable against an oracle, so the
tested id path is content hashing (FIXTURES.md §3): ``sha2``/``md5`` for exact
dedup ids, and a polynomial rolling hash for token-level hashing (MinHash,
SimHash, the deterministic hash embedder).

The polynomial hash is defined over the character codes of a token:

    h_0 = 0;  h_i = (h_{i-1} * 31 + ascii(c_i)) mod 1_000_003

It is pure integer arithmetic, so Spark and DuckDB produce bit-identical
values — that is what makes the whole dedup/embedding family oracle-checkable.
All arithmetic stays in JVM codegen (``transform``/``aggregate`` over
``sequence``), never in Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

POLY_MOD = 1_000_003  # prime; keeps (h*31 + 127) far from int64 overflow
POLY_BASE = 31

# (a, b) pairs for the MinHash permutation family h_i(x) = (a_i*x + b_i) mod P.
# P > POLY_MOD and prime; a_i < P so a_i * x < 2^62 — no int64 overflow.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def char_codes(token: Column) -> Column:
    """ARRAY<STRING> of the characters of ``token`` (split on '')."""
    return F.split(token, "")


def poly_hash(token: Column, mod: int = POLY_MOD) -> Column:
    """Polynomial rolling hash of a string column → BIGINT in [0, mod).

    Single-level fold over ``split(token, '')`` — Spark's higher-order
    functions are interpreted (not codegen'd), so one flat lambda beats the
    nested sequence/substr form ~4×.  Callers hashing MANY strings per row
    should explode to rows first and hash there, keeping the per-row lambda
    count constant (see operators.dedup / operators.embed).
    """
    return F.aggregate(
        char_codes(token),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * POLY_BASE + F.ascii(c)) % F.lit(mod),
    )


def minhash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameter list shared with the oracle SQL.

    A small LCG (public-domain constants from Numerical Recipes) — NOT
    Python's ``random`` — so the exact ints can be inlined into both the
    Spark plan and the DuckDB oracle text.
    """
    params, state = [], seed
    for _ in range(n):
        state = (state * 1664525 + 1013904223) % (2**32)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 1664525 + 1013904223) % (2**32)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def content_id(*cols: Column) -> Column:
    """Deterministic record id: sha2 over the concatenated content columns.

    Replaces the reference's uuid4 default (qdrant_embedder.py:115-117) on
    the oracle-tested path; F.uuid() stays available for production ingest.
    """
    return F.sha2(F.concat_ws("\x1f", *cols), 256)


# XXH64 (the algorithm behind Spark's ``xxhash64``), ported so the driver
# can compute the same hash buckets the store and the payload index were
# partitioned by without submitting a Spark job.  Spark hashes a string as
# its UTF-8 bytes with seed 42 and returns the 64-bit result as a signed
# long; :func:`spark_bucket` adds the ``pmod(·, n)`` every layout uses.
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(s: str, seed: int = 42) -> int:
    """``F.xxhash64(F.lit(s))`` computed on the driver (signed 64-bit)."""
    b = s.encode("utf-8")
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(b[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(b[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(b[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= b[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def spark_bucket(s: str, n: int) -> int:
    """``pmod(xxhash64(s), n)`` — the bucket of ``s`` in an ``n``-bucket
    hash layout (store id buckets, payload value buckets)."""
    return xxhash64(s) % n
