"""Seeded inputs and the numpy mirror every engine result is checked against.

Corpora are clustered Gaussian vectors, so an IVF index has real structure
to find and its recall means something.  The cluster geometry is fixed and
a point's cluster follows from its id, so inverted-list sizes (and with
them the cost of a probe) do not swing from seed to seed; the seed draws
the points' offsets, the tags, the queries and the write batches.  The mirror holds every
live point and answers exact cosine top-k by brute force.
"""

from __future__ import annotations

import numpy as np

DIM = 64
N_CLUSTERS = 32
CLUSTER_SPREAD = 1.5
GEOMETRY_SEED = 0
N_TAGS = 50          # tag is the filtered payload column: ~2 % per value
K = 10
# raw bytes of one point: int64 id, DIM float32 components, int32 tag
POINT_BYTES = 8 + 4 * DIM + 4
ID_BYTES = 8
# sims come back rounded to 6 decimals; allow that plus float error
SIM_TOL = 2e-6


class Gen:
    """Draws every input of a run from one seed."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centers = np.random.default_rng(GEOMETRY_SEED).normal(
            size=(N_CLUSTERS, DIM))

    def _around(self, lab) -> np.ndarray:
        x = self.centers[lab] + CLUSTER_SPREAD * self.rng.normal(
            size=(len(lab), DIM))
        return x.astype(np.float32)

    def points(self, ids) -> np.ndarray:
        """Stored points: a point's cluster is ``id % N_CLUSTERS``, so every
        cluster holds the same share of a corpus and the rows an index
        trains on fall in the same clusters whatever the seed."""
        return self._around(np.asarray(ids) % N_CLUSTERS)

    def vectors(self, n: int) -> np.ndarray:
        """Query vectors, each around a random cluster."""
        return self._around(self.rng.integers(0, N_CLUSTERS, n))

    def tags(self, n: int) -> np.ndarray:
        return self.rng.integers(0, N_TAGS, n).astype(np.int32)


def write_parquet(path: str, ids, vecs, tags) -> None:
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    flat = pa.array(np.ascontiguousarray(vecs).ravel())
    vec = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32)), flat)
    pq.write_table(pa.table({"id": pa.array(np.asarray(ids, np.int64)),
                             "vec": vec,
                             "tag": pa.array(np.asarray(tags, np.int32))}),
                   path)


def rows(ids, vecs, tags) -> list[tuple]:
    return [(int(i), v.tolist(), int(t)) for i, v, t in zip(ids, vecs, tags)]


class Mirror:
    """Live points by id, with exact cosine top-k."""

    def __init__(self, capacity: int):
        self.unit = np.zeros((capacity, DIM), np.float64)
        self.tags = np.full(capacity, -1, np.int32)
        self.live = np.zeros(capacity, bool)

    def _grow(self, capacity: int) -> None:
        old = len(self.live)
        for name, fill in (("unit", 0.0), ("tags", -1), ("live", False)):
            a = getattr(self, name)
            b = np.full((capacity,) + a.shape[1:], fill, a.dtype)
            b[:old] = a
            setattr(self, name, b)

    def upsert(self, ids, vecs, tags) -> None:
        ids = np.asarray(ids)
        if ids.max() >= len(self.live):
            self._grow(max(2 * len(self.live), int(ids.max()) + 1))
        v = np.asarray(vecs, np.float64)
        self.unit[ids] = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.tags[ids] = tags
        self.live[ids] = True

    def delete(self, ids) -> None:
        self.live[np.asarray(ids)] = False

    @property
    def count(self) -> int:
        return int(self.live.sum())

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.live)

    def sims(self, q) -> np.ndarray:
        q = np.asarray(q, np.float64)
        return self.unit @ (q / np.linalg.norm(q))

    def candidates(self, tag: int | None = None) -> np.ndarray:
        mask = self.live if tag is None else self.live & (self.tags == tag)
        return np.flatnonzero(mask)

    def topk(self, q, k: int = K, tag: int | None = None):
        """Exact top-k ``(ids, sims)``: sim descending, id ascending."""
        cand = self.candidates(tag)
        s = self.sims(q)[cand]
        order = np.lexsort((cand, -s))[:k]
        return cand[order], s[order]


def check_topk(got, mirror: Mirror, q, k: int = K, tag: int | None = None,
               exact: bool = True) -> tuple[str | None, int]:
    """Check engine rows ``[(vec_id, sim), ...]`` in rank order against the
    mirror.  Every hit must be a live (and filter-matching) point scored
    right, in non-increasing order; ``exact`` also requires the sims to be
    the true top-k, so ids match up to exact ties.  Returns
    ``(error or None, hits shared with the exact top-k)``."""
    ref_ids, ref_sims = mirror.topk(q, k, tag)
    cand = set(mirror.candidates(tag).tolist())
    sims = mirror.sims(q)
    ids = [int(r[0]) for r in got]
    hits = len(set(ids) & set(ref_ids.tolist()))
    if len(ids) != len(ref_ids):
        return f"{len(ids)} hits, expected {len(ref_ids)}", hits
    if len(set(ids)) != len(ids):
        return f"duplicate ids {ids}", hits
    prev = None
    for i, (vid, sim) in enumerate(got):
        if int(vid) not in cand:
            return f"id {vid} is not a live matching point", hits
        if abs(float(sim) - sims[int(vid)]) > SIM_TOL:
            return f"id {vid} scored {sim}, exact {sims[int(vid)]:.7f}", hits
        if prev is not None and float(sim) > prev + SIM_TOL:
            return f"rank {i + 1} out of order", hits
        if exact and abs(float(sim) - ref_sims[i]) > SIM_TOL:
            return (f"rank {i + 1}: id {vid} sim {sim}, exact top-k has "
                    f"id {ref_ids[i]} sim {ref_sims[i]:.7f}"), hits
        prev = float(sim)
    return None, hits
