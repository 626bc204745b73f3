"""Self-tests of the benchmark's own metric code (no Spark session).

    python3 -m pytest cdcbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import statistics
from types import SimpleNamespace

import pytest

from cdcbench import metrics, tail
from cdcbench.layers import layer_metrics
from cdcbench.trace import SPAN_PROP, Tracer, parse_event_log


# ------------------------------------------------------ tail percentile

def test_tail_needs_eleven_samples():
    assert metrics.tail_percentile(list(range(10))) is None
    assert metrics.tail_percentile(list(range(11))) == (0, 100 / 11, 11)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = metrics.tail_percentile(list(reversed(xs)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_timing_summary_reports_count_and_percentile():
    s = metrics.timing_summary([3.0, 1.0, 2.0] * 10)
    assert s["p50"] == 2.0 and s["n"] == 30
    assert s["tail"] == 2.0 and s["tail_pct"] == pytest.approx(200 / 3)


def test_timing_summary_falls_back_to_the_max_at_or_below_the_median():
    for n in (1, 10, 12, 20):
        s = metrics.timing_summary([float(i) for i in range(n)])
        assert (s["tail"], s["tail_pct"], s["n"]) == (n - 1.0, 100.0, n)
    s = metrics.timing_summary([float(i) for i in range(21)])
    assert s["tail"] == 10.0 and s["tail_pct"] == pytest.approx(1100 / 21)
    assert metrics.timing_summary([])["tail"] is None


def test_quartile_spread_matches_statistics():
    vals = [1.0, 2.0, 4.0, 8.0, 16.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert metrics.quartile_spread(vals) == (q3 - q1) / q2


# ------------------------------------------------ file → commit join

def _commits(*marks):
    return [{"version": v, "created_at": 100.0 + v,
             "bookmarks": {} if m is None else {"s": {"lsn": m}}}
            for v, m in enumerate(marks)]


def test_first_covering_commit_is_the_earliest_at_or_past_lsn():
    commits = _commits(None, 10, 10, 25, 40)
    assert metrics.first_covering_commit(commits, "s", 5)["version"] == 1
    assert metrics.first_covering_commit(commits, "s", 10)["version"] == 1
    assert metrics.first_covering_commit(commits, "s", 11)["version"] == 3
    assert metrics.first_covering_commit(commits, "s", 40)["version"] == 4
    assert metrics.first_covering_commit(commits, "s", 41) is None
    assert metrics.first_covering_commit(commits, "other", 1) is None


def test_load_commits_reads_manifest_history(tmp_path):
    d = tmp_path / "_manifests"
    d.mkdir()
    for v, lsn in ((0, None), (1, 7)):
        m = {"version": v, "created_at": 50.0 + v,
             "bookmarks": {"s": {"lsn": lsn}} if lsn else {},
             "summary": {"operation": "merge",
                         "added_files": [{"bytes": 10}, {"bytes": 5}]}}
        (d / f"v{v:012d}.json").write_text(json.dumps(m))
    (d / ".tmp-x.json").write_text("{}")
    # manifest_history needs only the table's path
    commits = metrics.load_commits(SimpleNamespace(path=str(tmp_path)))
    assert [c["version"] for c in commits] == [0, 1]
    assert commits[1]["added_bytes"] == 15
    assert metrics.first_covering_commit(commits, "s", 7)["created_at"] == 51.0


# -------------------------------------------------- backlog growth

#: 24 files due every 0.5 s inside a window that opens 16 s after the
#: feed started, as on ``tail``
DUE = [16.0 + 0.5 * i for i in range(24)]


def _batched(freshness_of_due, per_batch=3):
    """(due, freshness, version) with ``per_batch`` files per commit."""
    return [(t, freshness_of_due(t), i // per_batch) for i, t in enumerate(DUE)]


def test_backlog_growth_needs_three_commits():
    assert metrics.backlog_growth(_batched(lambda t: 1.0, per_batch=12)) is None
    assert metrics.backlog_growth(_batched(lambda t: 1.0, per_batch=8)) == 0.0


def test_backlog_growth_is_flat_for_a_sustained_sawtooth():
    # three files per 1.5 s batch: freshness 2.0, 1.5, 1.0 again and again
    files = [(t, 2.0 - 0.5 * (i % 3), i // 3) for i, t in enumerate(DUE)]
    assert abs(metrics.backlog_growth(files)) < 0.05
    assert metrics.backlog_growth(files) <= tail.MAX_BACKLOG_GROWTH


def test_backlog_growth_fails_lag_built_up_since_the_feed_started():
    # over capacity from t=0: freshness f0 + g*t, so most of the lag is
    # already there when the window opens; the ratio of last to first
    # files stays under 27/16.5, the slope does not
    g = 0.5
    files = _batched(lambda t: 1.0 + g * t)
    assert metrics.backlog_growth(files) == pytest.approx(g)
    assert metrics.backlog_growth(files) > tail.MAX_BACKLOG_GROWTH
    # the same on top of the batch saw-tooth
    files = [(t, 1.0 + g * t + 0.5 * (i % 3), i // 3) for i, t in enumerate(DUE)]
    assert metrics.backlog_growth(files) > tail.MAX_BACKLOG_GROWTH


# ------------------------------------------------------- self time

def test_union_length_merges_overlaps():
    assert metrics.union_length([]) == 0.0
    assert metrics.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past parent
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},   # grandchild
    ]
    st = metrics.self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 1))
    assert st[2] == pytest.approx(3 - 1)
    assert st[5] == pytest.approx(1)


# ---------------------------------------------------- oracle counts

def test_changelog_counts_live_keys_changed_in_range():
    log = metrics.ChangeLog([
        (11, "a", "U"), (12, "b", "U"), (13, "a", "D"), (14, "c", "U"),
        (14, "c", "U"),  # verbatim replay
        (15, "b", "D"), (16, "b", "U"),
    ])
    assert log.changed_alive(10, 12) == 2          # a, b
    assert log.changed_alive(10, 13) == 1          # a deleted
    assert log.changed_alive(12, 16) == 2          # b re-inserted, c
    assert log.changed_alive(16, 20) == 0


# ---------------------------------------------------------- tracer

class FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_nests_spans_and_restores_the_job_tag():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.root("bench.batch", 4, traced=True):
        outer = sc.props[SPAN_PROP]
        with tr.span("inner") as rec:
            assert sc.props[SPAN_PROP] == str(rec["id"])
        assert sc.props[SPAN_PROP] == outer
    assert SPAN_PROP not in sc.props
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["bench.batch"]["id"]
    assert by_name["inner"]["batch"] == 4


def test_wrapped_calls_record_only_inside_sampled_roots():
    class Owner:
        def work(self, x):
            return x * 2

    tr = Tracer(FakeContext())
    tr.wrap(Owner, "work", "owner.work",
            after=lambda rec, a, k, out: rec.update(out=out))
    try:
        for b in range(4):
            with tr.root("bench.batch", b, traced=tr.sampled(b)):
                assert Owner().work(b) == 2 * b
    finally:
        tr.uninstall()
    work = [s for s in tr.spans if s["name"] == "owner.work"]
    assert [s["batch"] for s in work] == [0, 2]
    assert [s["out"] for s in work] == [0, 4]
    assert Owner.work.__name__ == "work" and Owner().work(3) == 6


# ------------------------------------------- event-log attribution

def test_event_log_attributes_tasks_to_the_span_of_their_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {SPAN_PROP: "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2], "Properties": {}},
    ]
    for stage, run_ms, written, spill in ((0, 30, 100, 0), (1, 20, 0, 5), (2, 50, 0, 0)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                       "Task Metrics": {"Executor Run Time": run_ms,
                                        "Disk Bytes Spilled": spill,
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                                        "Shuffle Read Metrics": {"Local Bytes Read": 1}}})
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs = parse_event_log(str(tmp_path))
    assert jobs[0]["span"] == 7 and jobs[1]["span"] is None
    # stage 1 belongs to job 0, which listed it first
    assert (jobs[0]["tasks"], jobs[0]["task_ms"], jobs[0]["shuffle_write"],
            jobs[0]["spill"]) == (2, 50, 100, 5)
    assert (jobs[1]["tasks"], jobs[1]["task_ms"]) == (1, 50)


def test_layer_metrics_split_self_time_and_jobs_by_span():
    spans = [
        {"id": 1, "name": "bench.batch", "parent": None, "batch": 0,
         "start": 0.0, "end": 4.0, "wall_start": 100.0},
        {"id": 2, "name": "pipeline.apply_batch", "parent": 1, "batch": 0,
         "start": 0.0, "end": 4.0, "wall_start": 100.0, "history_len": 1},
        {"id": 3, "name": "merge.merge_into", "parent": 2, "batch": 0,
         "start": 0.5, "end": 3.5, "wall_start": 100.5, "num_buckets": 4,
         "metrics": {"inserted": 2, "updated": 1, "deleted": 0, "tombstoned": 0,
                     "carried": 6, "joined_rows": 9, "affected_buckets": 2}},
        {"id": 4, "name": "table.write_bucket_files", "parent": 3, "batch": 0,
         "start": 1.0, "end": 3.0, "wall_start": 101.0, "buckets": 2,
         "files": 2, "bytes": 300},
    ]
    jobs = {0: {"span": 4, "submit_ms": 101_000, "tasks": 4, "task_ms": 6000,
                "shuffle_write": 50, "shuffle_read": 50, "spill": 0},
            1: {"span": 3, "submit_ms": 100_600, "tasks": 1, "task_ms": 1000,
                "shuffle_write": 0, "shuffle_read": 0, "spill": 0}}
    m = layer_metrics(spans, jobs, window=(99.0, 104.0), cores=2, input_events=4)
    assert m["pipeline.apply_batch.self_s"] == pytest.approx(1.0)
    assert m["merge.merge_into.self_s"] == pytest.approx(1.0)
    assert m["table.write_bucket_files.s"] == pytest.approx(2.0)
    assert m["table.write.task_s"] == pytest.approx(6.0)
    assert m["spark.jobs_per_batch"] == 2
    assert m["spark.core_busy_frac"] == pytest.approx(7.0 / (5.0 * 2))
    assert m["merge.carry_ratio"] == pytest.approx(6 / 3)
    assert m["merge.dedup_ratio"] == pytest.approx(3 / 4)
    assert m["merge.affected_bucket_frac"] == pytest.approx(0.5)
