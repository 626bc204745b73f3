"""Per-layer metrics of a traced pass: span self times, counters recorded
at the layer boundaries, and the Spark jobs/tasks the event log attributes
to each span. Values are means per traced batch of the measured window
unless the name says otherwise."""

from __future__ import annotations

from cdcbench import metrics

#: roots of the spans that make up one batch, and of consumer reads
BATCH_ROOTS = ("pipeline.ingest_singer_lines", "bench.batch")
READ_ROOT = "bench.consumer_read"


def layer_metrics(spans: list[dict], jobs: dict, *, window: tuple, cores: int,
                  input_events: float) -> dict:
    w0, w1 = window
    by_id = {s["id"]: s for s in spans}
    roots = {s["id"]: metrics.root_of(by_id, s) for s in spans}
    in_window = [s for s in spans if w0 <= roots[s["id"]]["wall_start"] < w1]
    batch = [s for s in in_window if roots[s["id"]]["name"] in BATCH_ROOTS]
    reads = [s for s in in_window if roots[s["id"]]["name"] == READ_ROOT]
    n = sum(1 for s in batch if s["parent"] is None) or 1
    self_t = metrics.self_times(spans)

    def named(group, name):
        return [s for s in group if s["name"] == name]

    def dur(group, name):
        return sum(s["end"] - s["start"] for s in named(group, name))

    def ancestors(s):
        out = set()
        while s is not None:
            out.add(s["name"])
            s = by_id.get(s["parent"])
        return out

    span_jobs: dict[int, list] = {}
    for j in jobs.values():
        if j["span"] in by_id:
            span_jobs.setdefault(j["span"], []).append(j)

    def jobs_under(group, name=None):
        return [j for s in group
                if name is None or name in ancestors(s)
                for j in span_jobs.get(s["id"], [])]

    merges = named(batch, "merge.merge_into")
    mm = [s.get("metrics", {}) for s in merges]
    changed = sum(m.get(k) or 0 for m in mm
                  for k in ("inserted", "updated", "deleted", "tombstoned"))
    carried = sum(m.get("carried") or 0 for m in mm)
    deduped = sum((m.get("joined_rows") or 0) - (m.get("carried") or 0)
                  if "joined_rows" in m else (m.get("rows") or 0) for m in mm)
    affected = []
    for s, m in zip(merges, mm):
        if "affected_buckets" in m:
            affected.append(m["affected_buckets"] / s["num_buckets"])
        else:  # merge-on-read: the buckets its delta write touched
            kids = [w for w in batch if w["name"] == "table.write_bucket_files"
                    and w["parent"] == s["id"]]
            affected.append(sum(w["buckets"] for w in kids) / s["num_buckets"])
    writes = named(batch, "table.write_bucket_files")
    write_jobs = jobs_under(batch, "table.write_bucket_files")
    commits = named(batch, "table.commit")
    compacts = named(batch, "table.compact")
    table_reads = named(batch + reads, "table.read")
    batch_jobs = jobs_under(batch)
    window_jobs = [j for j in jobs.values()
                   if j["submit_ms"] is not None and w0 <= j["submit_ms"] / 1e3 < w1]
    histories = [s["history_len"] for s in named(batch, "pipeline.apply_batch")]

    return {
        "pipeline.apply_batch.self_s":
            sum(self_t[s["id"]] for s in named(batch, "pipeline.apply_batch")) / n,
        "pipeline.history_len": max(histories, default=0),
        "protocol.collect_control.s": dur(batch, "protocol.collect_control") / n,
        "protocol.collect_control.jobs":
            len(jobs_under(named(batch, "protocol.collect_control"))) / n,
        "protocol.decode_records.plan_s": dur(batch, "protocol.decode_records") / n,
        "drift.reconcile.s": dur(batch, "drift.reconcile") / n,
        "drift.reconcile.actions": sum(s["actions"] for s in named(batch, "drift.reconcile")),
        "merge.merge_into.self_s": sum(self_t[s["id"]] for s in merges) / n,
        "merge.affected_bucket_frac": sum(affected) / len(affected) if affected else 0.0,
        "merge.carry_ratio": carried / changed if changed else 0.0,
        "merge.dedup_ratio": deduped / input_events if input_events else 0.0,
        "merge.skipped_batches": sum(1 for m in mm if m.get("skipped")),
        "merge.retries": sum(1 for s in batch if s["name"] == "table.refresh"
                             and "merge.merge_into" in ancestors(s)),
        "table.write_bucket_files.s": dur(batch, "table.write_bucket_files") / n,
        "table.write.task_s": sum(j["task_ms"] for j in write_jobs) / 1e3 / n,
        "table.write.shuffle_bytes": sum(j["shuffle_write"] for j in write_jobs) / n,
        "table.write.spill_bytes": sum(j["spill"] for j in write_jobs) / n,
        "table.files_added": sum(s["files"] for s in writes) / n,
        "table.bytes_added": sum(s["bytes"] for s in writes) / n,
        "table.commit.s": dur(batch, "table.commit") / n,
        "table.manifest_bytes":
            sum(s["manifest_bytes"] for s in commits) / len(commits) if commits else 0.0,
        "table.compact.count": sum(1 for s in compacts if s.get("compacted")),
        "table.compact.s": dur(batch, "table.compact") / n,
        "table.compact.bytes_rewritten": sum(s["bytes_rewritten"] for s in compacts) / n,
        "table.read.s": sum(s["end"] - s["start"] for s in table_reads) / n,
        "table.read.delta_chain":
            sum(s["delta_chain"] for s in table_reads) / len(table_reads) if table_reads else 0.0,
        "table.read.files":
            sum(s["files"] for s in table_reads) / len(table_reads) if table_reads else 0.0,
        "spark.jobs_per_batch": len(batch_jobs) / n,
        "spark.tasks_per_batch": sum(j["tasks"] for j in batch_jobs) / n,
        "spark.core_busy_frac":
            sum(j["task_ms"] for j in window_jobs) / 1e3 / ((w1 - w0) * cores),
        "trace.batches": n,
    }


def stream_metrics(progress: list, batches: list) -> dict:
    """``StreamingQueryProgress.durationMs`` per measured trigger (means)
    and the idle gap before each trigger."""
    n = len(batches) or 1

    def mean(*keys):
        return sum(sum(p["durationMs"].get(k, 0) for k in keys) for p in batches) / 1e3 / n

    def start(p):
        return metrics.iso_epoch(p["timestamp"])

    ends = {start(p): start(p) + p["durationMs"]["triggerExecution"] / 1e3 for p in progress}
    starts = sorted(ends)
    measured = {start(p) for p in batches}
    idle = [s - ends[prev] for prev, s in zip(starts, starts[1:]) if s in measured]
    return {
        "stream.trigger_s": mean("triggerExecution"),
        "stream.add_batch_s": mean("addBatch"),
        "stream.checkpoint_s": mean("walCommit", "commitOffsets"),
        "stream.offsets_s": mean("latestOffset", "getBatch"),
        "stream.planning_s": mean("queryPlanning"),
        "stream.rows_per_batch": sum(p["numInputRows"] for p in batches) / n,
        "stream.idle_s": max(0.0, sum(idle) / len(idle)) if idle else 0.0,
    }
