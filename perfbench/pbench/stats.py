"""Pure aggregation rules: percentiles, sample-count rules, throughput, space
amplification and the on-disk accounting behind the write metrics."""

from __future__ import annotations

import math
import os

# a tail percentile is reported only with at least this many samples beyond it
MIN_SAMPLES_BEYOND = 10
TAIL_CANDIDATES = (99, 95, 90, 75)


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (numpy's default rule)."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the ``q``-th percentile rank of ``n`` samples."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(n: int, candidates=TAIL_CANDIDATES) -> int | None:
    """The highest candidate percentile with at least
    ``MIN_SAMPLES_BEYOND`` samples beyond it, or None when none has."""
    for q in sorted(candidates, reverse=True):
        if samples_beyond(n, q) >= MIN_SAMPLES_BEYOND:
            return q
    return None


def latency_summary(prefix: str, samples) -> dict[str, float]:
    """``<prefix>_p50_s`` plus the highest tail percentile the sample count
    supports, named after it (``<prefix>_p75_s``, ``<prefix>_p90_s``...)."""
    samples = list(samples)
    out = {f"{prefix}_p50_s": median(samples)}
    q = tail_percentile(len(samples))
    if q is not None:
        out[f"{prefix}_p{q}_s"] = percentile(samples, q)
    return out


def throughput(items: int, seconds) -> float:
    """Items per second over the summed busy time of a timed phase: the
    aggregate, not a mean of per-call rates, so long calls weigh more."""
    total = float(sum(seconds))
    if total <= 0:
        raise ValueError("throughput over no elapsed time")
    return items / total


def space_amp(store_bytes: int, live_points: int, point_bytes: int) -> float:
    """Bytes under the collection root over the raw bytes of live points."""
    raw = live_points * point_bytes
    if raw <= 0:
        raise ValueError("space amplification of an empty collection")
    return store_bytes / raw


def _walk_files(path: str):
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            yield os.path.join(root, f)


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (data, delta log, indexes,
    metadata sidecars)."""
    return sum(os.path.getsize(p) for p in _walk_files(path))


def data_file_count(path: str) -> int:
    """Parquet data files of the collection itself, i.e. outside the
    ``_``-prefixed delta-log and index directories."""
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files
                 if f.endswith(".parquet") and not f.startswith(("_", ".")))
    return n


def snapshot(path: str) -> dict[str, tuple[int, int, int]]:
    """``relpath -> (inode, size, mtime_ns)`` of every file under ``path``."""
    out = {}
    for p in _walk_files(path):
        st = os.stat(p)
        out[os.path.relpath(p, path)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two snapshots.  A file
    renamed into place counts at its new path; files created and removed
    between the snapshots (task scratch) are not seen."""
    return sum(st[1] for rel, st in after.items() if before.get(rel) != st)
