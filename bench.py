"""Benchmark runner — the driver's per-round perf probe (BASELINE.md).

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints JSON lines
on stdout — the full record (with the per-query "queries" dict) first,
then small ``per_query_sec`` chunk lines covering every query (slowest
last), then a compact summary line LAST carrying the frozen
headline+probe per-query dict, so whichever suffix of stdout a bounded
tail window keeps still parses line-by-line and carries "value" plus
per-query data (round 16, VERDICT r15 #2 — the driver stores only the
final ~2000 chars):

    {"metric": "headline_query_wall_sec", ..., "queries": {<all 222>}}  # full
    {"metric": "per_query_sec", "part": i, "of": n, "queries": {...}}   # ×n
    {"metric": "headline_query_wall_sec", "value": <total>, ...,
     "queries": {<frozen sets>}}                                # summary

The full record is also written to ``BENCH_DETAIL.json`` next to this
script.  "value" sums only the FROZEN headline subset; per-query timing is
min-of-2 passes (see run_once) with cache clearing between queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bob_vector_db_spark.session import get_spark  # noqa: E402
from bob_vector_db_spark import queries as Q  # noqa: E402

# Headline set (FROZEN — this is the driver's 2×-regression baseline): the
# flagship similarity surface + one representative per operator family.
# Everything else in the registry is still timed and reported in "queries",
# but only the headline subset feeds "value" so growing coverage in later
# rounds can't masquerade as a perf regression.
HEADLINE = [
    "knn_cosine_topk",
    "knn_cosine_topk100",
    "a1_pricing_summary",
    "j1_customer_revenue",
    "j2_customers_per_region",
    "j3_customer_order_counts",
    "j4_semi_customers_with_orders",
    "j4_anti_parts_never_bulk_ordered",
    "w1_top3_orders_per_priority",
    "o2_top100_lineitems",
    "x3_hash_embed_tf",
    "dedup_exact_groups",
    "a5_label_centroids",
    "f1_json_payload_stats",
    "t3_hourly_event_windows",
]

# Probe-only headline (FROZEN, round 12 — VERDICT r11 #6): one PROBE per
# persisted-artifact family.  Fixture queries time build (training +
# artifact writes) and search separately (run_once's split); summing the
# SEARCH legs of this frozen set gives "headline_probe_sec" — a scalar
# that moves when a probe PLAN regresses and ignores build-cost noise, so
# cross-round probe comparisons stop depending on per-query diffs against
# host drift.  First recorded figure = PERF_NOTES round-12 probe baseline.
PROBE_HEADLINE = [
    "store_indexed_search",           # ivf, full probe
    "store_indexed_probe",            # ivf, n_probe < n_lists + rerank
    "store_indexed_pq",               # pq ADC
    "store_indexed_sq",               # sq
    "store_indexed_bq",               # bq
    "store_multivector_indexed",      # ivf_mv max-sim
    "store_mv_indexed_pq",            # ivf_mv_pq
    "store_mv_indexed_sq",            # ivf_mv_sq
    "store_mv_indexed_bq",            # ivf_mv_bq
    "store_sparse_indexed",           # sparse posting index
    "text_bm25_indexed",              # BM25 posting index
    "store_filtered_indexed_search",  # payload-index ∘ vector-index
    "store_tenant_indexed",           # per-tenant artifact
]


# Probe-band regression alarm (VERDICT r12 #7): the frozen probe baseline
# recorded in PERF_NOTES.  Round-15 re-record (the optimization round
# DELIBERATELY moved the probe plans: the quantized-rescore coarse stage
# now executes once per action instead of twice — Exchange 20→10,
# ArrowEvalPython halved, plans/r15/): two same-code quiet-host readings
# 7.0 s and 8.0 s at sf0.1 (prior band 11.6-13.6 s) — the alarm keeps the
# established ~1.15x-over-band-top margin so host drift stays
# distinguishable from plan regressions.  Past the WARN threshold the
# bench prints a loud stderr line so a probe-plan regression is caught at
# bench time, not judge time.
PROBE_BAND_WARN_SEC = 9.2


def check_probe_band(probe_total: float,
                     warn_sec: float = PROBE_BAND_WARN_SEC) -> str | None:
    """Return a WARN line when the summed probe wall-time exceeds the
    recorded band's alarm threshold, else None.  Pure so the alarm path
    is unit-testable with an injected threshold."""
    if probe_total > warn_sec:
        return (f"WARNING: headline_probe_sec {probe_total}s exceeds the "
                f"recorded probe band (baseline 7.0-8.0s, alarm at "
                f"{warn_sec}s) — a probe PLAN likely regressed; diff "
                f"store_splits in BENCH_DETAIL.json against PERF_NOTES")
    return None


def per_query_lines(times: dict[str, float], max_chars: int = 600) -> list[str]:
    """Compact JSON lines covering EVERY per-query total, each line kept
    under ``max_chars`` (600: the ~2000-char driver window minus the ~1300-char
    summary line leaves room for one whole chunk) so a bounded tail capture
    loses at most the oldest
    lines, never a parseable suffix (VERDICT r15 #2: the driver stores only
    the final ~2000 stdout chars, so the single 222-entry detail line can
    never survive its window).  Lines are ordered cheapest-first so the
    LAST lines — the ones a bounded tail keeps — carry the slowest,
    regression-sensitive queries.  Pure function; unit-tested."""
    names = sorted(times, key=lambda n: (times[n], n))
    chunks: list[dict[str, float]] = [{}]
    # size against the WIDEST part/of indices a line can carry: each chunk
    # holds at least one query, so there are never more chunks than names
    widest = 10 ** len(str(max(1, len(names)))) - 1
    probe = {"metric": "per_query_sec", "part": widest, "of": widest,
             "queries": {}}
    for n in names:
        cand = dict(chunks[-1])
        cand[n] = times[n]
        probe["queries"] = cand
        if chunks[-1] and len(json.dumps(probe, separators=(",", ":"))) > max_chars:
            chunks.append({n: times[n]})
        else:
            chunks[-1] = cand
    return [json.dumps({"metric": "per_query_sec", "part": i + 1,
                        "of": len(chunks), "queries": c},
                       separators=(",", ":"))
            for i, c in enumerate(chunks)]


def summary_queries(times: dict[str, float],
                    max_chars: int = 1100) -> dict[str, float]:
    """The per-query dict embedded in the FINAL summary line: the frozen
    headline + probe sets (the driver's cross-round regression baselines),
    trimmed from the cheap end if the encoded dict would push the summary
    line past ``max_chars`` — the whole line must fit the driver's
    ~2000-char tail window WITH room for the trailing newline and the
    per_query_sec lines above it, or nothing parses at all."""
    frozen = [n for n in (*HEADLINE, *PROBE_HEADLINE) if n in times]
    keep = {n: times[n] for n in frozen}
    # drop cheapest-first until it fits — a sub-0.2s frozen query carries
    # the least regression signal per byte
    for n in sorted(keep, key=lambda n: (keep[n], n)):
        if len(json.dumps(keep, separators=(",", ":"))) <= max_chars:
            break
        del keep[n]
    return keep


def probe_split_total(splits: dict[str, dict],
                      probe_names: list[str]) -> float:
    """Sum the SEARCH legs of the frozen probe set.  Raises if any frozen
    name is missing from splits — a renamed or dropped fixture must fail
    the bench loudly, not silently shrink the baseline (ADVICE r12)."""
    missing = sorted(set(probe_names) - set(splits))
    if missing:
        raise RuntimeError(
            f"PROBE_HEADLINE fixtures missing from store_splits: {missing} "
            f"— a frozen probe query was renamed or dropped; fix the "
            f"registry (or update the frozen list deliberately)")
    return round(sum(splits[n]["search_sec"] for n in probe_names), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    # warmup: JVM + parquet reader + the unrolled-dot codegen path, so JIT/
    # Janino startup is charged here, not to the first measured query
    spark.range(1000).selectExpr("sum(id)").collect()
    from bob_vector_db_spark.operators import knn as _knn  # noqa: E402,PLC0415
    from bob_vector_db_spark.sources import load_table as _lt  # noqa: E402,PLC0415

    _emb = _lt(spark, sf_dir, "embeddings").limit(4)
    _q = _emb.selectExpr("vec_id as qid", "embedding as qvec").limit(2)
    _knn.knn_join(_q, _emb, k=1).count()

    registry = Q.REGISTRY
    order = [n for n in HEADLINE if n in registry] + [
        n for n in registry if n not in HEADLINE
    ]
    from bob_vector_db_spark.operators import dedup as _dedup  # noqa: PLC0415

    def run_once(name: str) -> tuple[float, float, float]:
        """Returns (total, build, search) seconds.  fn() runs the EAGER
        fixture work — _tmp_base + create_collection + index training/
        writes for the store_* queries — while .count() executes the
        probe plan, so the two stopwatch segments separate BUILD from
        SEARCH (VERDICT r10 #3: a probe-plan regression must not hide
        inside k-means training noise).  For plain queries fn() is just
        lazy plan construction and build≈0."""
        t0 = time.time()
        df = registry[name].fn(spark, sf_dir)
        t1 = time.time()
        df.count()
        t2 = time.time()
        # queries are self-contained: drop their persisted intermediates so
        # cached blocks don't accumulate across the full-suite sequence
        _dedup.release_cache()
        spark.catalog.clearCache()
        return (round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3))

    # Store/streaming FIXTURE queries build a collection (or run a live
    # stream) end-to-end each pass: their multi-second cost is deterministic
    # setup work, not JIT noise, so the min-of-2 buys nothing and doubles
    # the suite wall-clock.  They run ONCE; every headline query still gets
    # the min-of-2.
    single_pass_prefixes = ("store_", "t9_", "t10_", "t12_", "t13_",
                            "pipe_rag", "text_bm25_refresh",
                            "api_query_fusion", "api_quantized",
                            "dedup_duplicate",  # iterative CC, ~15s
                            "dedup_cluster_keep",  # iterative CC + quality
                            "pipe_dataset_build_neardup")  # LSH + star CC
    single_pass = {n for n in registry if n.startswith(single_pass_prefixes)}

    times: dict[str, float] = {}
    splits: dict[str, dict] = {}
    for name in order:
        total, build, search = run_once(name)
        times[name] = total
        if name.startswith("store_") or build >= 0.5 \
                or name in PROBE_HEADLINE:
            splits[name] = {"build_sec": build, "search_sec": search}
        print(f"# {name}: {total}s (build {build}s / search {search}s)",
              file=sys.stderr)
    # second pass, keeping the per-query min: the first pass charges
    # whole-suite JVM state (codegen churn, GC, JIT deopt) to whoever runs
    # late in the sequence — round-1 saw 5-20× inflation on s1/s6/s7/x4.
    # The min-of-2 reflects the plan, not the code cache.
    for name in order:
        if name in single_pass:
            continue
        total, build, search = run_once(name)
        print(f"# {name} (pass 2): {total}s", file=sys.stderr)
        if total < times[name]:
            times[name] = total
            # re-decide split membership on the KEPT pass so the split
            # always describes the run the total came from
            if name.startswith("store_") or build >= 0.5 or name in splits:
                splits[name] = {"build_sec": build, "search_sec": search}

    headline_total = round(sum(times[n] for n in HEADLINE if n in times), 3)
    probe_total = probe_split_total(splits, PROBE_HEADLINE)
    warn = check_probe_band(probe_total)
    if warn:
        print(warn, file=sys.stderr)
    summary = {
        "metric": "headline_query_wall_sec",
        "value": headline_total,
        "unit": "sec",
        "headline_probe_sec": probe_total,
        "all_queries_sec": round(sum(times.values()), 3),
        "n_queries": len(times),
        "sf": sf,
    }
    full = {**summary, "queries": times, "store_splits": splits}
    # round-16 ADDITION (VERDICT r15 #2): the summary line now also carries
    # the frozen headline+probe per-query totals, sized to the driver's
    # ~2000-char tail window, so PERF's per-query diff has data even when
    # everything above it is truncated
    summary["queries"] = summary_queries(times)
    # BENCH_r02.json lost its "value" when the driver's tail window truncated
    # the (now 75-entry) per-query dict mid-JSON. Mitigation (VERDICT r2
    # "what's wrong" #2): emit the full line first, then a compact summary
    # line LAST — whichever end of the output a head/tail window keeps, a
    # parseable line carrying "value" survives. The full per-query breakdown
    # is also written to BENCH_DETAIL.json alongside this script.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(full))
    # every per-query total again as SMALL lines, slowest queries last —
    # whatever suffix of stdout the driver keeps is parseable line-by-line
    for line in per_query_lines(times):
        print(line)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
