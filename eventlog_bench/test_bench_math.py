"""Unit tests for the benchmark's own arithmetic (no Spark needed).

Run: ``python3 -m pytest eventlog_bench/test_bench_math.py``.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_math import (  # noqa: E402
    Span,
    match_files,
    max_backlog,
    percentile,
    read_commit_times,
    read_file_source_log,
    self_times,
    supported_percentile,
)


def test_supported_percentile_needs_ten_samples_beyond():
    assert supported_percentile(100) == 90
    assert supported_percentile(1000) == 90
    assert supported_percentile(50) == 80
    assert supported_percentile(20) == 50
    assert supported_percentile(19) is None
    assert supported_percentile(0) is None


def test_percentile_matches_statistics_quantiles():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.5
    assert abs(percentile(values, 90) - 90.9) < 1e-9
    assert percentile([3.0], 90) == 3.0
    assert percentile([], 50) == 0.0


def test_self_time_subtracts_children_union():
    spans = [
        Span(0, "pass", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span(3, "a.child", 2.0, 3.5, parent=1),
        Span(4, "c", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - 5.0 - 1.0
    assert own[1] == 3.0 - 1.5
    assert own[2] == 3.0
    assert own[3] == 1.5
    assert own[4] == 3.0


def _write_log(dirname, name, entries):
    with open(os.path.join(dirname, name), "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


def test_file_to_batch_latency_matching(tmp_path):
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    _write_log(src, "0", [{"path": "file:///in/part-0.parquet", "timestamp": 1, "batchId": 0}])
    _write_log(src, "1", [{"path": "file:///in/part-1.parquet", "timestamp": 1, "batchId": 1},
                          {"path": "file:///in/part-3.parquet", "timestamp": 1, "batchId": 1}])
    # batch 2 lists part-4 but never committed
    _write_log(src, "2", [{"path": "file:///in/part-4.parquet", "timestamp": 1, "batchId": 2}])
    for b, t in ((0, 100.5), (1, 102.0)):
        (commits / str(b)).write_text("v1\n{}\n")
        os.utime(commits / str(b), ns=(int(t * 1e9), int(t * 1e9)))
    offered = {"part-0.parquet": 100.0, "part-1.parquet": 100.8, "part-2.parquet": 100.9,
               "part-3.parquet": 101.0, "part-4.parquet": 101.5}
    m = match_files(offered, read_file_source_log(str(src)), read_commit_times(str(commits)))
    assert m.unmatched == ["part-2.parquet", "part-4.parquet"]
    assert m.batch_of == {"part-0.parquet": 0, "part-1.parquet": 1, "part-3.parquet": 1}
    assert abs(m.latencies["part-0.parquet"] - 0.5) < 1e-6
    assert abs(m.latencies["part-1.parquet"] - 1.2) < 1e-6
    assert abs(m.latencies["part-3.parquet"] - 1.0) < 1e-6


def test_compact_source_log_repeats_earlier_entries(tmp_path):
    _write_log(tmp_path, "9.compact", [{"path": "a", "timestamp": 1, "batchId": 0},
                                       {"path": "b", "timestamp": 1, "batchId": 9}])
    _write_log(tmp_path, "10", [{"path": "c", "timestamp": 1, "batchId": 10}])
    assert read_file_source_log(str(tmp_path)) == {"a": 0, "b": 9, "c": 10}


def test_max_backlog_counts_offered_not_committed():
    offered = {"f0": 0.0, "f1": 1.0, "f2": 2.0, "f3": 3.0}
    committed = {"f0": 2.5, "f1": 2.5, "f2": 2.5}  # f3 never committed
    assert max_backlog(offered, committed) == 3
