"""Span tracing from outside the engine, plus Spark-side attribution.

The tracer wraps public functions of the engine's modules where their
callers look them up (``pipeline.py`` binds ``merge_into`` at import
time, so that name is patched in ``cdc.pipeline``), records one span per
call (name, start, end, parent, batch id) in memory, and tags every Spark
job a span submits with the local property ``cdcbench.span``. The event
log written during the run then attributes jobs, tasks, task time,
shuffle bytes and spill to the innermost span.

Lazy functions (``decode_records``, ``latest_per_key``, ``read``) build a
plan and return; their span measures plan building only, and their Spark
work shows under the span of the action that runs it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

SPAN_PROP = "cdcbench.span"


class Tracer:
    """Spans are recorded inside *sampled* roots only: every other batch
    (and every other consumer read) runs traced, the rest run through the
    same wrappers untraced, so one pass yields both the per-layer numbers
    and the tracing overhead at the same point of JIT warm-up."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._undo: list[tuple] = []

    @staticmethod
    def sampled(index) -> bool:
        return isinstance(index, int) and index % 2 == 0

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def root(self, name: str, batch, traced: bool):
        """Open a batch (or consumer read) root; spans below it are
        recorded only when ``traced``."""
        prev = getattr(self._tls, "on", False)
        self._tls.on = traced
        try:
            if traced:
                with self.span(name, batch=batch):
                    yield
            else:
                yield
        finally:
            self._tls.on = prev

    @contextlib.contextmanager
    def span(self, name: str, batch=None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent["batch"]
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None, "batch": batch,
               "start": time.perf_counter(), "end": None,
               "wall_start": time.time(), **attrs}
        stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(parent["id"]) if parent else None
            )
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, *, before=None, after=None,
             root: bool = False):
        """Replace ``owner.attr`` by a spanning wrapper. ``before(args,
        kwargs)`` returns attributes recorded before the span opens;
        ``after(rec, args, kwargs, result)`` runs after it closes — neither
        is counted in the span's time. A ``root`` wrapper opens a sampled
        root keyed on its ``batch_id`` argument."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if root:
                bid = kwargs.get("batch_id")
                with tracer.root(name, bid, tracer.sampled(bid)):
                    return orig(*args, **kwargs)
            if not getattr(tracer._tls, "on", False):
                return orig(*args, **kwargs)
            attrs = before(args, kwargs) if before else {}
            with tracer.span(name, **attrs) as rec:
                out = orig(*args, **kwargs)
            if after:
                after(rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self):
        """Wrap the engine entry points every workload reaches."""
        from pipelinewise_spark.cdc import dedup, merge, pipeline
        from pipelinewise_spark.evolution import drift
        from pipelinewise_spark.lake.table import LakeTable
        from pipelinewise_spark.singer import protocol

        pressure = LakeTable.delta_pressure  # unwrapped, for read()'s probe

        def on_apply(rec, args, kwargs, out):
            rec["history_len"] = len(args[0].history)

        def on_reconcile(rec, args, kwargs, out):
            rec["actions"] = len(out)

        def on_merge(rec, args, kwargs, out):
            rec["metrics"] = {k: v for k, v in out.items()
                              if isinstance(v, (int, float, bool)) or v is None}
            rec["num_buckets"] = args[0].num_buckets

        def on_write(rec, args, kwargs, out):
            table = args[0]
            rec["buckets"] = len(out)
            rec["files"] = sum(len(v) for v in out.values())
            rec["bytes"] = sum(
                os.path.getsize(os.path.join(table.path, rel))
                for v in out.values() for rel in v
            )

        def on_commit(rec, args, kwargs, out):
            table = args[0]
            rec["manifest_bytes"] = os.path.getsize(os.path.join(
                table.path, "_manifests", f"v{out['version']:012d}.json"))
            rec["operation"] = (out.get("summary") or {}).get("operation")

        def on_compact(rec, args, kwargs, out):
            rec["compacted"] = out is not None
            rec["bytes_rewritten"] = sum(
                int(f.get("bytes") or 0)
                for f in ((out or {}).get("summary") or {}).get("added_files", [])
            )

        def before_read(args, kwargs):
            table = args[0]
            m = table.manifest
            buckets = kwargs.get("buckets", args[1] if len(args) > 1 else None)
            keys = ([str(b) for b in buckets] if buckets is not None
                    else set(m["buckets"]) | set(m.get("deltas", {})))
            files = sum(len(m["buckets"].get(k, [])) + len(m.get("deltas", {}).get(k, []))
                        for k in keys)
            return {"delta_chain": pressure(table)["max_chain"], "files": files}

        w = self.wrap
        w(pipeline.CdcPipeline, "apply_batch", "pipeline.apply_batch", after=on_apply)
        w(pipeline.CdcPipeline, "ingest_singer_lines", "pipeline.ingest_singer_lines",
          root=True)
        w(protocol, "collect_control_messages", "protocol.collect_control")
        w(protocol, "decode_records", "protocol.decode_records")
        w(drift, "reconcile", "drift.reconcile", after=on_reconcile)
        w(pipeline, "merge_into", "merge.merge_into", after=on_merge)
        w(merge, "latest_per_key", "dedup.latest_per_key")
        w(dedup, "latest_per_key", "dedup.latest_per_key")
        w(LakeTable, "write_bucket_files", "table.write_bucket_files", after=on_write)
        w(LakeTable, "commit", "table.commit", after=on_commit)
        w(LakeTable, "compact", "table.compact", after=on_compact)
        w(LakeTable, "read", "table.read", before=before_read)
        w(LakeTable, "refresh", "table.refresh")
        w(LakeTable, "delta_pressure", "table.delta_pressure")
        return self

    def uninstall(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        self.sc.setLocalProperty(SPAN_PROP, None)


def sampled_root(tracer, name: str, index):
    """``tracer.root`` for batch/read ``index`` (every other one traced; an
    index of None is never traced); a no-op without a tracer."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.root(name, index, tracer.sampled(index))


# -------------------------------------------------------------- event log

def parse_event_log(log_dir: str) -> dict:
    """Jobs (with their span tag and submission time) and per-stage task
    totals from the JSON event log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    jobs[jid] = {
                        "span": int(span) if span else None,
                        "submit_ms": ev.get("Submission Time"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "task_ms": 0, "shuffle_write": 0,
                        "shuffle_read": 0, "spill": 0})
                    st["tasks"] += 1
                    st["task_ms"] += tm.get("Executor Run Time", 0)
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
    for jid, job in jobs.items():
        tot = {"tasks": 0, "task_ms": 0, "shuffle_write": 0,
               "shuffle_read": 0, "spill": 0}
        for sid in job["stages"]:
            if stage_job.get(sid) == jid and sid in stages:
                for k, v in stages[sid].items():
                    tot[k] += v
        job.update(tot)
    return jobs
