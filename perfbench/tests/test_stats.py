"""The aggregation rules behind the end-to-end and write metrics."""

import os

import pytest

from pbench import stats


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([5, 1, 4, 2, 3], 50) == 3
    assert stats.percentile([1, 2, 3, 4, 5], 25) == 2
    assert stats.percentile([1, 2], 50) == 1.5
    assert stats.percentile([7], 90) == 7
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


@pytest.mark.parametrize("bad", [[], None])
def test_percentile_refuses_no_samples(bad):
    with pytest.raises((ValueError, TypeError)):
        stats.percentile(bad, 50)


def test_percentile_refuses_out_of_range_rank():
    with pytest.raises(ValueError):
        stats.percentile([1, 2], 101)


@pytest.mark.parametrize("n,q,beyond", [(20, 50, 10), (100, 90, 10),
                                        (99, 90, 9), (40, 75, 10),
                                        (10, 50, 5)])
def test_samples_beyond(n, q, beyond):
    assert stats.samples_beyond(n, q) == beyond


@pytest.mark.parametrize("n,q", [(5, None), (19, None), (39, None),
                                 (40, 75), (99, 75), (100, 90), (200, 95),
                                 (1000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


def test_latency_summary_names_the_supported_tail():
    assert set(stats.latency_summary("search", range(12))) == {
        "search_p50_s"}
    out = stats.latency_summary("ingest_batch", range(1, 41))
    assert set(out) == {"ingest_batch_p50_s", "ingest_batch_p75_s"}
    assert out["ingest_batch_p50_s"] == 20.5
    out = stats.latency_summary("search", range(100))
    assert "search_p90_s" in out and "search_p75_s" not in out


def test_throughput_aggregates_over_total_busy_time():
    # not the mean of per-call rates (which would be (100 + 50 + 25) / 3)
    assert stats.throughput(300, [1.0, 2.0, 3.0]) == 50.0
    with pytest.raises(ValueError):
        stats.throughput(10, [])


def test_space_amp():
    assert stats.space_amp(2_000, 10, 100) == 2.0
    with pytest.raises(ValueError):
        stats.space_amp(2_000, 0, 100)


def _write(path, nbytes):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * nbytes)


def test_tree_accounting(tmp_path):
    root = str(tmp_path / "collection=c")
    _write(f"{root}/id_bucket=0/part-0.parquet", 100)
    _write(f"{root}/id_bucket=1/part-0.parquet", 50)
    _write(f"{root}/id_bucket=1/_SUCCESS", 0)
    _write(f"{root}/_index/vec/data/list_id=0/part-0.parquet", 30)
    _write(f"{root}/_delta/v1.parquet", 7)
    _write(f"{root}/_collection_meta.json", 3)
    assert stats.tree_bytes(root) == 190
    # index and delta-log files are not collection data files
    assert stats.data_file_count(root) == 2


def test_bytes_written_counts_new_and_changed_files(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/a/part-0.parquet", 10)
    _write(f"{root}/b/part-0.parquet", 20)
    before = stats.snapshot(root)
    _write(f"{root}/b/part-0.parquet", 25)        # rewritten in place
    os.rename(f"{root}/a", f"{root}/a__old")     # swapped out
    _write(f"{root}/a/part-1.parquet", 40)        # swapped in
    after = stats.snapshot(root)
    # a__old/part-0 keeps its inode but sits at a new path: a rename into
    # place is how the store publishes, so it counts as written
    assert stats.bytes_written(before, after) == 25 + 40 + 10
    assert stats.bytes_written(after, after) == 0
