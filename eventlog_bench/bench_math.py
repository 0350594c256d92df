"""Pure arithmetic of the benchmark: percentiles, span self time, and
matching stream input files to the micro-batches that committed them.

Nothing here imports Spark, so the unit tests run without a session.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) by ``statistics.quantiles`` with the
    default exclusive method; a single sample is its own percentile."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100)[q - 1]


def supported_percentile(n: int, want: int = 90, beyond: int = 10) -> int | None:
    """Highest percentile <= ``want`` that leaves at least ``beyond``
    samples above it in ``n`` samples, or None if even the median does
    not. 100 samples support p90; 20 support p50."""
    for q in range(want, 49, -1):
        if n * (100 - q) >= beyond * 100:
            return q
    return None


@dataclass
class Span:
    """One timed call into a layer. Times are ``time.perf_counter``."""

    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def read_file_source_log(source_dir: str) -> dict[str, int]:
    """Map input file path -> batch id from a file-stream checkpoint's
    ``sources/0`` metadata log. Each log file (``<batchId>`` or the
    periodic ``<batchId>.compact``) holds a version line followed by
    one JSON entry per file; compact files repeat earlier entries."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                out[entry["path"]] = int(entry["batchId"])
    return out


def read_commit_times(commits_dir: str) -> dict[int, float]:
    """batch id -> wall-clock time (s) its commit record was written."""
    out: dict[int, float] = {}
    if not os.path.isdir(commits_dir):
        return out
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits_dir, name)).st_mtime_ns / 1e9
    return out


@dataclass
class FileMatch:
    latencies: dict[str, float]  # file name -> commit time - due time
    batch_of: dict[str, int]  # file name -> batch id
    unmatched: list[str]  # offered files no committed batch contains


def match_files(
    offered: dict[str, float],
    file_batches: dict[str, int],
    commit_times: dict[int, float],
) -> FileMatch:
    """Match each offered file (name -> due time) to the committed
    batch whose source log lists it. ``file_batches`` is keyed by path
    or URI; only the base name is compared. A file counts as matched
    only when its batch has a commit record."""
    by_name = {os.path.basename(p): b for p, b in file_batches.items()}
    latencies, batch_of, unmatched = {}, {}, []
    for name, due in offered.items():
        b = by_name.get(name)
        if b is None or b not in commit_times:
            unmatched.append(name)
            continue
        batch_of[name] = b
        latencies[name] = commit_times[b] - due
    return FileMatch(latencies, batch_of, sorted(unmatched))


def max_backlog(offered: dict[str, float], committed_at: dict[str, float]) -> int:
    """Largest number of files offered but not yet committed, sampled
    at each offer instant. Unmatched files stay in the backlog."""
    events = sorted(offered.values())
    best = 0
    for t in events:
        pending = sum(
            1
            for name, due in offered.items()
            if due <= t and committed_at.get(name, float("inf")) > t
        )
        best = max(best, pending)
    return best
