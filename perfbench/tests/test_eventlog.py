"""Folding a Spark event log into per-job-group rows."""

from pathlib import Path

import pytest

from pbench import eventlog

CANNED = Path(__file__).parent / "data" / "eventlog.jsonl"


@pytest.fixture(scope="module")
def rows():
    return eventlog.fold_path(str(CANNED))


def test_groups_and_ungrouped_jobs(rows):
    assert set(rows) == {"pb0000:knn.ann_search", "pb0001:upsert.upsert",
                         None}


def test_counts_skip_stages_never_submitted(rows):
    r = rows["pb0000:knn.ann_search"]
    # stage 2 is listed by job 1 but skipped: no StageSubmitted, no tasks
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 3, 4)


def test_task_metrics_sum_per_group(rows):
    r = rows["pb0000:knn.ann_search"]
    assert r["executor_run_s"] == pytest.approx(0.65)
    assert r["executor_cpu_s"] == pytest.approx(0.49)
    assert r["gc_s"] == pytest.approx(0.015)
    # input records plus shuffle records read
    assert r["records_read"] == 100 + 50 + 15 + 7
    # shuffle written plus shuffle read, local and remote
    assert r["shuffle_bytes"] == 300 + 200 + 100 + 400
    assert r["spill_bytes"] == 1024


def test_job_time_is_the_union_of_overlapping_jobs(rows):
    # jobs 0 and 1 overlap: [10.0, 11.0] and [10.5, 11.2] seconds
    assert rows["pb0000:knn.ann_search"]["job_s"] == pytest.approx(1.2)
    assert rows["pb0001:upsert.upsert"]["job_s"] == pytest.approx(0.4)
    assert rows[None]["job_s"] == pytest.approx(0.1)


def test_union_seconds():
    assert eventlog._union_seconds([]) == 0
    assert eventlog._union_seconds([(0, 1000), (2000, 2500)]) == 1.5
    assert eventlog._union_seconds([(0, 1000), (100, 200), (900, 1500)]) \
        == 1.5


def test_rolling_layout_reads_parts_in_order(tmp_path):
    lines = CANNED.read_text().splitlines(keepends=True)
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # parts 1, 2 and 10: numeric order, not name order
    (app / "events_10_local-1").write_text("".join(lines[16:]))
    (app / "events_2_local-1").write_text("".join(lines[8:16]))
    (app / "events_1_local-1").write_text("".join(lines[:8]))
    (app / "appstatus_local-1").write_text("")
    assert [p.rsplit("/", 1)[1] for p in eventlog.event_files(str(app))] \
        == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert eventlog.fold_path(str(app)) == eventlog.fold_path(str(CANNED))
