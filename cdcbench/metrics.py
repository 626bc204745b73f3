"""Pure-Python metric code of the benchmark (no Spark): percentiles,
freshness joins against manifest bookmarks, span self time, and the
oracle-derived counts the correctness gate compares against.

Kept free of pyspark imports at module level so ``test_metrics.py`` runs
in milliseconds.
"""

from __future__ import annotations

import bisect
import statistics
from datetime import datetime

#: a tail percentile needs at least this many samples beyond it
TAIL_MIN_BEYOND = 10
#: ``backlog_growth`` needs the measured files spread over this many commits
BACKLOG_MIN_COMMITS = 3


def iso_epoch(ts: str) -> float:
    """Epoch seconds of an ISO-8601 timestamp (``Z`` suffix allowed)."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def tail_percentile(values, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest percentile that still has ``min_beyond`` samples above it.

    With ``n`` sorted samples that is the ``(n - min_beyond)``-th smallest,
    at percentile ``100 * (n - min_beyond) / n``. Returns
    ``(value, percentile, n)``, or ``None`` when fewer than
    ``min_beyond + 1`` samples exist (no percentile qualifies)."""
    xs = sorted(values)
    n = len(xs)
    k = n - min_beyond
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / n, n


def timing_summary(values) -> dict:
    """Median plus the ``tail_percentile`` rule, with the percentile and
    sample count. With 20 samples or fewer the rule lands at or below the
    median, or finds no percentile, so the tail is the maximum (p100)."""
    t = tail_percentile(values)
    if t is None or t[1] <= 50.0:
        t = (max(values), 100.0, len(values)) if values else (None, None, 0)
    return {
        "p50": statistics.median(values) if values else None,
        "tail": t[0],
        "tail_pct": t[1],
        "n": len(values),
    }


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(n=4)`` quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------- commits

def commit_record(manifest: dict) -> dict:
    """(version, created_at, bookmarks, added bytes, operation) of one
    manifest version."""
    summary = manifest.get("summary") or {}
    return {
        "version": manifest["version"],
        "created_at": manifest["created_at"],
        "bookmarks": manifest.get("bookmarks") or {},
        "added_bytes": sum(
            int(f.get("bytes") or 0) for f in summary.get("added_files", [])
        ),
        "operation": summary.get("operation"),
    }


def load_commits(table) -> list[dict]:
    """``commit_record`` of every manifest version of ``table``, oldest
    first."""
    from pipelinewise_spark.lake.metrics import manifest_history

    return [commit_record(m) for m in manifest_history(table)]


def first_covering_commit(commits: list[dict], stream: str, lsn: int):
    """The first commit whose ``stream`` bookmark is at or past ``lsn``, or
    None. Bookmarks never move backwards across versions, so this is a
    binary search over the version order."""
    marks = [c["bookmarks"].get(stream, {}).get("lsn", -1) for c in commits]
    for i in range(1, len(marks)):  # defensive: keep the search monotone
        marks[i] = max(marks[i], marks[i - 1])
    i = bisect.bisect_left(marks, lsn)
    return commits[i] if i < len(commits) else None


def slope(points) -> float:
    """Least-squares slope of ``(x, y)`` points."""
    mx = statistics.fmean(x for x, _ in points)
    my = statistics.fmean(y for _, y in points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_growth(files: list[tuple[float, float, int]],
                   min_commits: int = BACKLOG_MIN_COMMITS) -> float | None:
    """How fast freshness grows over the measured files, in seconds per
    second: the least-squares slope of freshness against scheduled
    arrival, over ``(arrival, freshness, commit version)`` per file.

    Near 0 while the engine keeps up (freshness saw-tooths around a
    level); positive once per-event cost ``c`` times arrival rate ``R``
    passes 1, however much lag the warm-up left behind. When
    fewer than ``min_commits`` commits cover the files the saw-tooth of
    a few long batches hides the trend, and the stream is too slow for
    the window anyway, so there is no value (the run is invalid)."""
    if len({v for _, _, v in files}) < min_commits:
        return None
    return slope([(t, f) for t, f, _ in files])


# ------------------------------------------------------------------ spans

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """span id -> duration minus the part of it its children cover
    (children clipped to the parent's interval; overlapping children
    count once)."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi))
            for c in kids.get(s["id"], [])
            if c["end"] > lo and c["start"] < hi
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def root_of(spans_by_id: dict, span: dict) -> dict:
    while span.get("parent") is not None and span["parent"] in spans_by_id:
        span = spans_by_id[span["parent"]]
    return span


# ------------------------------------------------------------ oracle counts

def event_dicts(pdf) -> list[dict]:
    """Rows of a (lsn, op, conv_id, turn_idx, text) frame as the dicts
    ``cdc/oracle.fold_events`` takes."""
    return [
        {"conv_id": c, "turn_idx": int(t), "op": o, "text": x, "lsn": int(lsn)}
        for c, t, o, x, lsn in zip(pdf["conv_id"], pdf["turn_idx"], pdf["op"],
                                   pdf["text"], pdf["lsn"])
    ]


class ChangeLog:
    """``(lsn, key, op)`` change events in lsn order, for the counts a
    downstream consumer should see."""

    def __init__(self, events):
        self.events = sorted(events, key=lambda e: e[0])
        self.lsns = [e[0] for e in self.events]

    @classmethod
    def of(cls, dicts: list[dict]) -> "ChangeLog":
        return cls((d["lsn"], (d["conv_id"], d["turn_idx"]), d["op"]) for d in dicts)

    def changed_alive(self, lo: int, hi: int) -> int:
        """Rows a consumer at bookmark ``lo`` reads once the table covers
        ``hi``: keys whose last event in ``(lo, hi]`` is not a delete."""
        i = bisect.bisect_right(self.lsns, lo)
        j = bisect.bisect_right(self.lsns, hi)
        last = {}
        for _, key, op in self.events[i:j]:
            last[key] = op
        return sum(1 for op in last.values() if op != "D")
