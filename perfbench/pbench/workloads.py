"""The two workloads and the set-up they share.

Both run a fixed, seeded sequence of public store calls from one client in
a closed loop.  Operation counts follow from ``--seconds`` by a fixed rule
(never from a clock), so a seed and a run length always give the same store
states.  Warm-up calls of every timed operation type run before timing
starts.  Every result is checked against the numpy mirror; a wrong result
counts as a failed operation.
"""

from __future__ import annotations

import shutil
import sys

from . import stats
from .inputs import (
    ID_BYTES,
    K,
    POINT_BYTES,
    Gen,
    Mirror,
    check_topk,
    rows,
    write_parquet,
)
from .layers import CHECK, SETUP, TIMED, WARMUP, Recorder

COLL = "bench"
VEC = "vec"
SETUP_REPS = 2
BATCH_SCHEMA = "id long, vec array<float>, tag int"
QUERY_SCHEMA = "qid long, qvec array<float>"
# corpus (search) or seed collection (ingest)
POINTS = {"search": 10_000, "ingest": 3_000}
N_BUCKETS = 8
N_LISTS = 16
IVF_ITERS = 4
N_PROBE = 4              # < N_LISTS: a real ANN probe
BATCH_QUERIES = 16       # one multi-query call takes a few seconds
RECALL_QUERIES = 16      # ingest's warm-up probe, for recall
WARMUP_QUERIES = 4       # a multi-query warm-up call
# one ingest batch
NEW_POINTS, OVERWRITES, DELETES = 200, 50, 10

# timed operation counts per run, from the run length: one "round" of each
# workload takes about this long on a 4-core host
ROUND_S = {"search": 3.0, "ingest": 5.0}
MIN_ROUNDS = {"search": 3, "ingest": 2}


def rounds_for(workload: str, seconds: int) -> int:
    return max(MIN_ROUNDS[workload], round(seconds / ROUND_S[workload]))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, recorder, store, mirror.  The
    engine is imported inside the methods: ``run.py`` pins its environment
    after importing this module and before the engine's first import."""

    def __init__(self, spark, workload: str, seed: int, workdir: str):
        self.spark = spark
        self.workload = workload
        self.gen = Gen(seed)
        self.rec = Recorder(spark)
        self.workdir = workdir
        self.root = None
        self.mirror = None
        self.path = None
        self.attempted = 0
        self.failed = 0
        self.recall_hits = 0
        self.recall_total = 0
        self.next_id = 0

    def fail(self, what: str, err) -> None:
        self.failed += 1
        log(f"FAILED {what}: {err}")

    def call(self, layer, phase, fn, collect=None, store=None,
             user_bytes=None):
        """One attempted operation; an exception counts as a failure and
        yields ``None``."""
        self.attempted += 1
        try:
            return self.rec.run(layer, phase, fn, collect, store, user_bytes)
        except Exception as err:  # noqa: BLE001 — counted and reported
            self.fail(layer, repr(err))
            return None

    def qdf(self, vecs):
        return self.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)], QUERY_SCHEMA)

    # -- set-up -----------------------------------------------------------
    def setup(self) -> list[float]:
        """Create the collection and build its IVF and payload indexes,
        ``SETUP_REPS`` times on fresh roots (the first one also warms the
        JVM); the last one is kept.  Returns each repetition's seconds."""
        from bob_vector_db_spark.operators import (  # noqa: PLC0415
            index,
            payload_index,
            upsert,
        )

        n = POINTS[self.workload]
        ids = list(range(n))
        vecs, tags = self.gen.points(ids), self.gen.tags(n)
        corpus = f"{self.workdir}/corpus.parquet"
        write_parquet(corpus, ids, vecs, tags)
        self.mirror = Mirror(n)
        self.mirror.upsert(ids, vecs, tags)
        self.next_id = n
        user = n * POINT_BYTES
        reps = []
        for r in range(SETUP_REPS):
            if self.root:
                shutil.rmtree(self.root, ignore_errors=True)
            root = self.root = f"{self.workdir}/store{r}"
            df = self.spark.read.parquet(corpus)
            steps = [
                self.call("upsert.create", SETUP, lambda: upsert.create_collection(
                    self.spark, root, COLL, df=df, n_buckets=N_BUCKETS,
                    vector_config={VEC: {"size": vecs.shape[1],
                                         "distance": "cosine"}}),
                    store=root, user_bytes=user),
                self.call("index.build", SETUP, lambda: index.build_vector_index(
                    self.spark, root, COLL, vector_name=VEC, kind="ivf",
                    n_lists=N_LISTS, iters=IVF_ITERS), store=root,
                    user_bytes=user),
                self.call("payload_index.build", SETUP,
                          lambda: payload_index.build_payload_index(
                              self.spark, root, COLL, "tag", n_val_buckets=16),
                          store=root, user_bytes=user),
            ]
            if any(step is None for step in steps):
                raise RuntimeError("set-up failed; see the errors above")
            reps.append(sum(step[0].wall_s for step in steps))
        self.path = upsert.collection_path(self.root, COLL)
        return reps

    # -- reads ------------------------------------------------------------
    def _rows(self, df):
        return sorted((r.qid, r.rank, r.vec_id, r.sim)
                      for r in df.select("qid", "rank", "vec_id", "sim")
                      .collect())

    def _check(self, layer, rows_, qvecs, tag=None, exact=True) -> None:
        """Check every query's hits; a probe that is not exact by
        construction also adds its overlap with the exact top-k to the
        recall tally."""
        by_q: dict[int, list] = {i: [] for i in range(len(qvecs))}
        for qid, _rank, vid, sim in rows_:
            by_q.setdefault(qid, []).append((vid, sim))
        for qid, got in by_q.items():
            if qid >= len(qvecs):
                self.fail(layer, f"unknown qid {qid}")
                return
            err, hits = check_topk(got, self.mirror, qvecs[qid], K, tag,
                                   exact=exact)
            if not exact:
                self.recall_hits += hits
                self.recall_total += K
            if err:
                self.fail(layer, f"wrong result for query {qid}: {err}")
                return

    def ann(self, phase, qvec, full_probe=False) -> float | None:
        """Top-k through the IVF index; a full probe must be exact."""
        from bob_vector_db_spark.operators import knn  # noqa: PLC0415

        q = self.qdf([qvec])
        got = self.call("knn.ann_search", phase, lambda: knn.search_collection(
            self.spark, self.root, COLL, q, k=K, use_index="always",
            n_probe=None if full_probe else N_PROBE),
            collect=self._rows)
        if got is None:
            return None
        self._check("knn.ann_search", got[1], [qvec], exact=full_probe)
        return got[0].wall_s

    def filtered(self, phase, qvec, tag) -> float | None:
        from bob_vector_db_spark.operators import query_search  # noqa: PLC0415
        from bob_vector_db_spark.operators.filters import (  # noqa: PLC0415
            Filter,
            MatchValue,
        )

        q = self.qdf([qvec])
        got = self.call(
            "query_search.filtered_search", phase,
            lambda: query_search.search_points(
                self.spark, self.root, COLL, q,
                flt=Filter(must=[MatchValue("tag", int(tag))]), k=K,
                use_payload_index="always"),
            collect=self._rows)
        if got is None:
            return None
        self._check("query_search.filtered_search", got[1], [qvec], tag=tag)
        return got[0].wall_s

    def batch(self, phase, qvecs, exact: bool, n_probe=None) -> float | None:
        from bob_vector_db_spark.operators import knn  # noqa: PLC0415

        q = self.qdf(qvecs)
        layer = "knn.exact_batch" if exact else "knn.ann_batch"
        got = self.call(layer, phase, lambda: knn.search_collection(
            self.spark, self.root, COLL, q, k=K,
            use_index=False if exact else "always",
            n_probe=None if exact else n_probe), collect=self._rows)
        if got is None:
            return None
        self._check(layer, got[1], qvecs, exact=exact or n_probe is None)
        return got[0].wall_s

    # -- writes -------------------------------------------------------------
    def write_batch(self, phase) -> tuple[float | None, int]:
        """One ingest batch: upsert new points and overwrites, delete a
        few, refresh every index.  Returns ``(seconds until the batch is
        index-searchable, points upserted)``."""
        from bob_vector_db_spark.operators import index, upsert  # noqa: PLC0415

        picked = self.gen.rng.choice(self.mirror.live_ids(),
                                     OVERWRITES + DELETES, replace=False)
        over, doomed = picked[:OVERWRITES], picked[OVERWRITES:]
        new = list(range(self.next_id, self.next_id + NEW_POINTS))
        self.next_id += NEW_POINTS
        ids = new + over.tolist()
        vecs, tags = self.gen.points(ids), self.gen.tags(len(ids))
        df = self.spark.createDataFrame(rows(ids, vecs, tags), BATCH_SCHEMA)
        doomed_ids = doomed.tolist()
        up = self.call("upsert.upsert", phase, lambda: upsert.upsert(
            self.spark, self.root, COLL, df), store=self.path,
            user_bytes=len(ids) * POINT_BYTES)
        if up is not None:
            self.mirror.upsert(ids, vecs, tags)
        de = self.call("upsert.delete", phase, lambda: upsert.delete_points(
            self.spark, self.root, COLL, doomed_ids, count_removed=False),
            store=self.path, user_bytes=len(doomed_ids) * ID_BYTES)
        if de is not None:
            self.mirror.delete(doomed_ids)
        re = self.call("index.refresh", phase, lambda: index.refresh_all_indexes(
            self.spark, self.root, COLL), store=self.path,
            user_bytes=len(ids) * POINT_BYTES + len(doomed_ids) * ID_BYTES)
        if re is not None:
            imeta = index.vector_index_meta(self.root, COLL, VEC) or {}
            re[0].extra["mask_rows"] = int(imeta.get("mask_rows", 0))
        if up is None or de is None or re is None:
            return None, len(ids)
        return up[0].wall_s + de[0].wall_s + re[0].wall_s, len(ids)

    def check_count(self) -> None:
        from bob_vector_db_spark.operators import upsert  # noqa: PLC0415

        self.attempted += 1
        n = upsert.read_collection(self.spark, self.root, COLL).count()
        if n != self.mirror.count:
            self.fail("final count", f"{n} points, mirror has "
                      f"{self.mirror.count}")

    def space_amp(self) -> float:
        return stats.space_amp(stats.tree_bytes(self.path),
                               self.mirror.count, POINT_BYTES)

    def recall(self) -> float:
        return self.recall_hits / self.recall_total


def _report(samples: dict[str, list]) -> None:
    """Log each latency's median (and any tail its sample count supports)
    with the count."""
    for prefix, xs in samples.items():
        summary = stats.latency_summary(prefix, xs)
        log(f"{prefix}: {len(xs)} samples, " + ", ".join(
            f"{k} {v:.4f}" for k, v in summary.items()))


def run_search(run: Run, seconds: int) -> dict:
    """Static corpus; single-query ANN and filtered searches interleaved
    with multi-query calls that alternate exact and IVF-probe."""
    g = run.gen
    # warm-up: every timed operation type, on its own queries; the IVF
    # multi-query call runs the probe path the single-query ANN search warms
    run.ann(WARMUP, g.vectors(1)[0])
    run.filtered(WARMUP, g.vectors(1)[0], g.tags(1)[0])
    run.batch(WARMUP, g.vectors(WARMUP_QUERIES), exact=True)
    ann_s, flt_s, batch_s = [], [], []
    n = rounds_for("search", seconds)
    for i in range(n):
        ann_s.append(run.ann(TIMED, g.vectors(1)[0]))
        flt_s.append(run.filtered(TIMED, g.vectors(1)[0], g.tags(1)[0]))
        # a multi-query call every second round and after the last one,
        # exact first, then IVF probe, alternating
        if i % 2 == 1 or i == n - 1:
            batch_s.append(run.batch(TIMED, g.vectors(BATCH_QUERIES),
                                     exact=len(batch_s) % 2 == 0,
                                     n_probe=N_PROBE))
    ann_s, flt_s, batch_s = ([t for t in xs if t is not None]
                             for xs in (ann_s, flt_s, batch_s))
    _report({"search": ann_s, "filtered_search": flt_s,
             "batch_call": batch_s})
    return {
        "search_p50_s": stats.median(ann_s),
        "filtered_search_p50_s": stats.median(flt_s),
        "throughput_per_s": stats.throughput(BATCH_QUERIES * len(batch_s),
                                             batch_s),
        "recall_at_10": run.recall(),
        "space_amp": run.space_amp(),
    }


def run_ingest(run: Run, seconds: int) -> dict:
    """Seed collection plus a fixed sequence of write batches; after each
    refresh, one ANN and one filtered search read beside the writes."""
    g = run.gen
    run.write_batch(WARMUP)
    # warm-up reads of the refreshed index; the multi-query IVF probe warms
    # the ANN path and gives recall_at_10 enough queries to be steady
    run.batch(WARMUP, g.vectors(RECALL_QUERIES), exact=False, n_probe=N_PROBE)
    run.filtered(WARMUP, g.vectors(1)[0], g.tags(1)[0])
    batch_s, points, ann_s, flt_s = [], 0, [], []
    for _ in range(rounds_for("ingest", seconds)):
        t, p = run.write_batch(TIMED)
        if t is not None:
            batch_s.append(t)
            points += p
        ann_s.append(run.ann(TIMED, g.vectors(1)[0]))
        flt_s.append(run.filtered(TIMED, g.vectors(1)[0], g.tags(1)[0]))
    ann_s, flt_s = ([t for t in xs if t is not None] for xs in (ann_s, flt_s))
    _report({"ingest_batch": batch_s, "fresh_search": ann_s,
             "fresh_filtered_search": flt_s})
    metrics = {
        "search_p50_s": stats.median(ann_s),
        "filtered_search_p50_s": stats.median(flt_s),
        "throughput_per_s": stats.throughput(points, batch_s),
        "recall_at_10": run.recall(),
        "space_amp": run.space_amp(),
    }
    # final state: the point count, and a full-probe search through the
    # refreshed index equal to the mirror's exact top-k
    run.check_count()
    run.ann(CHECK, g.vectors(1)[0], full_probe=True)
    return metrics


def layer_tail(run: Run) -> None:
    """Calls that exercise the layers a workload's timed phase does not, so
    a traced run reports every layer: one write batch (then a full-probe
    search of the refreshed index) on the search workload, an exact
    multi-query call on the ingest workload.  Each is checked like a timed
    call."""
    if run.workload == "search":
        run.write_batch(CHECK)
        run.ann(CHECK, run.gen.vectors(1)[0], full_probe=True)
    else:
        run.batch(CHECK, run.gen.vectors(BATCH_QUERIES), exact=True)


WORKLOADS = {"search": run_search, "ingest": run_ingest}
