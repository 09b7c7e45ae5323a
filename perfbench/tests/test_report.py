"""Per-layer aggregation over recorded calls and folded event-log rows."""

import pytest

from pbench import report
from pbench.layers import CHECK, SETUP, TIMED, WARMUP, Call


CALLS = [
    Call("upsert.create", SETUP, "g0", None, 9.0, jobs=1, stages=1,
          tasks=2, bytes_written=400, user_bytes=200, data_files=8),
    Call("upsert.create", SETUP, "g1", None, 1.0, jobs=1, stages=1,
          tasks=2, bytes_written=300, user_bytes=200, data_files=8),
    Call("upsert.create", SETUP, "g2", None, 2.0, jobs=1, stages=1,
          tasks=2, bytes_written=200, user_bytes=200, data_files=8),
    Call("knn.ann_search", WARMUP, "g3", 5.0, 5.0, jobs=10),
    Call("knn.ann_search", TIMED, "g4", 0.5, 1.0, jobs=10),
    Call("knn.ann_search", TIMED, "g5", 0.3, 0.6, jobs=12),
    Call("index.refresh", CHECK, "g6", None, 2.0,
          bytes_written=10, user_bytes=5, data_files=4,
          extra={"mask_rows": 500}),
    Call("index.refresh", CHECK, "g7", None, 2.0,
          bytes_written=10, user_bytes=5, data_files=4,
          extra={"mask_rows": 0}),
    Call("index.refresh", CHECK, "g8", None, 2.0,
          bytes_written=10, user_bytes=5, data_files=4,
          extra={"mask_rows": 120}),
]
FOLDED = {"g4": {"job_s": 1.2, "executor_cpu_s": 0.4},
          "g5": {"job_s": 0.5, "executor_cpu_s": 0.2}}


# one filler call for every other layer, so the whole table aggregates
FILLER = [Call(layer, CHECK, f"f{i}",
                0.1 if layer in report.READ_LAYERS else None, 1.0,
                bytes_written=1, user_bytes=1, data_files=1)
          for i, layer in enumerate(report.READ_LAYERS + report.WRITE_LAYERS)
          if layer not in {c.layer for c in CALLS}]


@pytest.fixture(scope="module")
def out():
    return report.per_layer(CALLS + FILLER, FOLDED, session_s=3.5)


def test_every_metric_has_a_value_and_unit(out):
    assert list(out) == [n for n, _ in report.metric_names()]
    assert all(set(v) == {"value", "unit"} for v in out.values())


def test_timed_calls_win_over_warmup(out):
    assert out["knn.ann_search.plan_s"]["value"] == pytest.approx(0.4)
    assert out["knn.ann_search.exec_s"]["value"] == pytest.approx(0.8)
    assert out["knn.ann_search.jobs"]["value"] == 11


def test_untimed_layers_use_everyCall(out):
    assert out["upsert.create.exec_s"]["value"] == 2.0
    assert out["upsert.create.bytes_written_per_user_byte"]["value"] == 1.5
    assert out["upsert.create.data_files"] == {"value": 8, "unit": "count"}


def test_traced_measures_come_from_the_folded_rows(out):
    assert out["knn.ann_search.executor_cpu_s"]["value"] == pytest.approx(0.3)
    # wall (plan + exec) minus the time covered by the call's jobs
    gaps = [1.5 - 1.2, 0.9 - 0.5]
    assert out["knn.ann_search.driver_gap_s"]["value"] == pytest.approx(
        sum(gaps) / 2)
    assert out["knn.ann_search.driver_gap_s"]["unit"] == "s"


def test_session_and_mask_counters(out):
    assert out["session.start.exec_s"]["value"] == 3.5
    assert out["index.refresh.mask_rows"]["value"] == 120
    assert out["index.refresh.mask_compactions"]["value"] == 1


def test_missing_layer_is_an_error():
    with pytest.raises(RuntimeError, match="no call recorded for layer query_search.filtered_search"):
        report.per_layer(CALLS, FOLDED, session_s=1.0)
