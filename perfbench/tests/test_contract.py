"""BENCHMARK.json, the entry point and the per-layer names agree, and the
correctness checks catch what they should."""

import json
from pathlib import Path

import numpy as np

import run
from pbench import inputs, report

SPEC = json.loads(
    (Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_end_to_end_names_match_the_entry_point():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.E2E_UNITS)
    for m in SPEC["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]]
        assert 0 < m["bound"] <= 0.25


def test_per_layer_names_match_the_report():
    names = report.metric_names()
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == names
    assert len(names) == len(set(names)) <= 128


def test_workloads_match_the_entry_point():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(
        run.WORKLOADS)


def _mirror():
    gen = inputs.Gen(7)
    m = inputs.Mirror(50)  # grows to hold the ids upserted
    m.upsert(np.arange(200), gen.vectors(200), gen.tags(200))
    m.delete([0, 1, 2])
    assert m.count == 197
    return gen, m


def test_check_topk_accepts_the_exact_answer():
    gen, m = _mirror()
    q = gen.vectors(1)[0]
    for tag in (None, 3):
        ids, sims = m.topk(q, 10, tag)
        got = list(zip(ids.tolist(), np.round(sims, 6).tolist()))
        assert inputs.check_topk(got, m, q, 10, tag) == (None, len(ids))


def test_check_topk_rejects_wrong_answers():
    gen, m = _mirror()
    q = gen.vectors(1)[0]
    ids, sims = m.topk(q, 10)
    got = list(zip(ids.tolist(), np.round(sims, 6).tolist()))
    # a deleted point
    assert inputs.check_topk([(0, got[0][1])] + got[1:], m, q)[0]
    # a wrong score
    assert inputs.check_topk([(got[0][0], got[0][1] - 0.01)] + got[1:],
                             m, q)[0]
    # one hit short
    assert inputs.check_topk(got[:-1], m, q)[0]
    # the 11th-best point instead of the 10th: valid ANN, not exact
    ids11, sims11 = m.topk(q, 11)
    swapped = got[:-1] + [(int(ids11[10]), round(float(sims11[10]), 6))]
    err, hits = inputs.check_topk(swapped, m, q, exact=False)
    assert err is None and hits == 9
    assert inputs.check_topk(swapped, m, q, exact=True)[0]
