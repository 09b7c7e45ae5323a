"""Per-layer metrics: ``<module>.<op>.<measure>`` over the recorder's calls,
joined with the event-log rows of a traced run."""

from __future__ import annotations

from . import stats
from .layers import TIMED

READ_LAYERS = ("knn.ann_search", "query_search.filtered_search",
               "knn.exact_batch", "knn.ann_batch")
WRITE_LAYERS = ("upsert.create", "index.build", "payload_index.build",
                "upsert.upsert", "upsert.delete", "index.refresh")
READ_MEASURES = ("plan_s", "exec_s", "jobs", "stages", "tasks")
WRITE_MEASURES = ("exec_s", "jobs", "stages", "tasks",
                  "bytes_written_per_user_byte", "data_files")
# index builds leave the collection's data files alone
NO_DATA_FILES = ("index.build", "payload_index.build")
TRACE_MEASURES = ("executor_run_s", "executor_cpu_s", "gc_s", "records_read",
                  "shuffle_bytes", "spill_bytes", "driver_gap_s")
EXTRA = (("session.start.exec_s", "s"),
         ("index.refresh.mask_rows", "count"),
         ("index.refresh.mask_compactions", "count"))


def unit(measure: str) -> str:
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_bytes"):
        return "B"
    if measure == "bytes_written_per_user_byte":
        return "ratio"
    return "count"


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in a fixed order."""
    out = []
    for layer in READ_LAYERS + WRITE_LAYERS:
        base = READ_MEASURES if layer in READ_LAYERS else WRITE_MEASURES
        for m in base + TRACE_MEASURES:
            if m == "data_files" and layer in NO_DATA_FILES:
                continue
            out.append((f"{layer}.{m}", unit(m)))
    return out + list(EXTRA)


def _value(call, measure: str, folded: dict):
    if measure == "bytes_written_per_user_byte":
        return call.bytes_written / call.user_bytes
    if measure in TRACE_MEASURES:
        row = folded.get(call.group) or {}
        if measure == "driver_gap_s":
            return max(0.0, call.wall_s - row.get("job_s", 0.0))
        return row.get(measure, 0)
    return getattr(call, measure)


def per_layer(calls, folded: dict, session_s: float) -> dict[str, dict]:
    """Median of each measure over a layer's timed calls, or over all its
    calls when the workload does not time that layer (set-up builds, the
    final checks)."""
    out = {}
    for name, u in metric_names():
        layer, measure = name.rsplit(".", 1)
        if name == "session.start.exec_s":
            value = session_s
        elif name == "index.refresh.mask_rows":
            refresh = [c for c in calls if c.layer == "index.refresh"]
            value = refresh[-1].extra["mask_rows"] if refresh else 0
        elif name == "index.refresh.mask_compactions":
            rows = [c.extra["mask_rows"] for c in calls
                    if c.layer == "index.refresh"]
            value = sum(1 for a, b in zip(rows, rows[1:]) if b < a)
        else:
            mine = [c for c in calls if c.layer == layer]
            timed = [c for c in mine if c.phase == TIMED]
            if not mine:
                raise RuntimeError(f"no call recorded for layer {layer}")
            value = stats.median(_value(c, measure, folded)
                                 for c in (timed or mine))
        out[name] = {"value": value, "unit": u}
    return out


def table(calls, folded: dict) -> list[str]:
    """Human-readable per-call rows, for the standard-error report."""
    lines = [f"{'group':<40} {'phase':<7} {'plan_s':>7} {'exec_s':>7} "
             f"{'jobs':>4} {'stg':>4} {'tasks':>5} {'cpu_s':>6} {'gap_s':>6}"]
    for c in calls:
        row = folded.get(c.group) or {}
        gap = c.wall_s - row.get("job_s", 0.0) if folded else float("nan")
        lines.append(
            f"{c.group:<40} {c.phase:<7} {c.plan_s or 0:7.3f} {c.exec_s:7.3f} "
            f"{c.jobs:4d} {c.stages:4d} {c.tasks:5d} "
            f"{row.get('executor_cpu_s', float('nan')):6.2f} {gap:6.2f}")
    return lines
