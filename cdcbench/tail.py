"""``tail``: an open-loop singer feed tailed by Structured Streaming.

A 20k-row copy-on-write table, preloaded with ``initial_load``, is
tailed by ``CdcPipeline.run_singer_stream`` with the default
as-fast-as-possible trigger. One generator thread drops singer-framed
files (SCHEMA, RECORDs, STATE — a tap's stdout) into the watched
directory on a fixed schedule with an atomic rename. A downstream
consumer polls the table and reads the rows changed since its bookmark
after every commit. Freshness of a file is the ``created_at`` of the
first manifest whose bookmark covers the file's max LSN minus the file's
scheduled arrival time.
"""

from __future__ import annotations

import math
import os
import threading
import time

from cdcbench import check, metrics
from cdcbench.trace import sampled_root

STREAM = "public-transcripts"
NUM_BUCKETS = 16
N_CONVS, TURNS = 2_000, 10           # 20k preloaded rows
EVENTS_PER_FILE = 1_000
INTERVAL_S = 0.5                      # 2,000 ev/s
WARMUP_S = 16.0
DRAIN_TIMEOUT_S = 30.0
POLL_S = 0.1
#: the run is invalid if the generator dropped a file this late, or if
#: freshness grew faster than this many seconds per second over the
#: measured files (``metrics.backlog_growth``)
MAX_LATE_S = 0.25
MAX_BACKLOG_GROWTH = 0.4


class Generator(threading.Thread):
    """Drops file ``i`` at ``t0 + i * INTERVAL_S`` regardless of how the
    engine keeps up, recording each file's scheduled arrival and how late
    the drop ran."""

    def __init__(self, files: list[str], target_dir: str):
        super().__init__(name="cdcbench-generator", daemon=True)
        self.files = files
        self.target_dir = target_dir
        self.stop_event = threading.Event()
        self.drops: list[dict] = []
        self.started = threading.Event()
        self.t0_wall = None

    def run(self):
        t0 = time.monotonic()
        self.t0_wall = time.time()
        self.started.set()
        for i, src in enumerate(self.files):
            due = t0 + i * INTERVAL_S
            if self.stop_event.wait(max(0.0, due - time.monotonic())):
                return
            os.utime(src)
            os.rename(src, os.path.join(self.target_dir, os.path.basename(src)))
            self.drops.append({"i": i, "due_wall": self.t0_wall + i * INTERVAL_S,
                               "late_s": time.monotonic() - due})


class Tail:
    name = "tail"

    def __init__(self, spark, seed: int, seconds: float, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.n_files = math.ceil((WARMUP_S + seconds) / INTERVAL_S) + 4
        self.lsn0 = N_CONVS * TURNS

    # ------------------------------------------------------------ set-up

    def generate(self) -> None:
        """Seeded events → snapshot rows + per-file singer frames staged on
        disk (the engine only ever sees these files), and the event list the
        oracle folds."""
        from pyspark.sql import functions as F

        from pipelinewise_spark.cdc.events import TRANSCRIPT_SCHEMA
        from pipelinewise_spark.cdc.gen import generate_change_events
        from pipelinewise_spark.singer import protocol
        from pipelinewise_spark.singer.schema import struct_to_jsonschema

        events = generate_change_events(
            self.spark, n_convs=N_CONVS, turns_per_conv=TURNS,
            n_updates=self.n_files * EVENTS_PER_FILE, delete_pct=5,
            dup_every=50, skew_alpha=2.0, seed=self.seed, stream=STREAM,
        )
        payload = [f.name for f in TRANSCRIPT_SCHEMA.fields]
        self.snapshot = events.where(F.col("lsn") <= self.lsn0).select(*payload)
        pdf = (events.select("lsn", "op", "conv_id", "turn_idx", "text")
               .toPandas().sort_values("lsn", kind="stable"))
        snap = pdf[pdf["lsn"] <= self.lsn0]
        self.snapshot_pdf = snap[["conv_id", "turn_idx", "text"]]
        self.updates = metrics.event_dicts(pdf[pdf["lsn"] > self.lsn0])

        lines = (protocol.encode_records(events.where(F.col("lsn") > self.lsn0), payload)
                 .toPandas().sort_values("_order", kind="stable"))
        schema_line = protocol.schema_message(
            STREAM, struct_to_jsonschema(TRANSCRIPT_SCHEMA), ["conv_id", "turn_idx"])
        self.staging = os.path.join(self.work, "staging")
        os.makedirs(self.staging)
        self.file_meta = []  # (max_lsn, records, bytes) per file
        values, lsns = lines["value"].tolist(), lines["_order"].tolist()
        lo = 0
        for i in range(self.n_files):
            hi_lsn = self.lsn0 + (i + 1) * EVENTS_PER_FILE
            hi = lo
            while hi < len(lsns) and lsns[hi] <= hi_lsn:
                hi += 1
            path = os.path.join(self.staging, f"part-{i:05d}.jsonl")
            with open(path, "w") as fh:
                fh.write(schema_line + "\n")
                fh.writelines(v + "\n" for v in values[lo:hi])
                fh.write(protocol.state_message({STREAM: {"lsn": hi_lsn}}) + "\n")
            self.file_meta.append((hi_lsn, hi - lo, os.path.getsize(path)))
            lo = hi

    def preload(self) -> None:
        """The target table, holding the snapshot."""
        from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY, TRANSCRIPT_SCHEMA
        from pipelinewise_spark.cdc.snapshot import initial_load
        from pipelinewise_spark.lake.table import LakeTable

        self.table_path = os.path.join(self.work, "table")
        table = LakeTable.create(self.spark, self.table_path, TRANSCRIPT_SCHEMA,
                                 TRANSCRIPT_KEY, num_buckets=NUM_BUCKETS)
        initial_load(table, self.snapshot, lsn0=self.lsn0, stream=STREAM)

    # ------------------------------------------------------------ a pass

    def run_pass(self, tracer=None) -> dict:
        from pipelinewise_spark.cdc.pipeline import CdcPipeline
        from pipelinewise_spark.lake.table import LakeTable

        path = self.table_path
        pdir = os.path.join(self.work, "pass")
        inbox = os.path.join(pdir, "inbox")
        os.makedirs(inbox)
        files = [os.path.join(self.staging, n) for n in sorted(os.listdir(self.staging))]

        pipe = CdcPipeline(LakeTable(self.spark, path), stream=STREAM)
        consumer = LakeTable(self.spark, path)
        state = {"bookmark": self.lsn0, "reads": []}
        gen = Generator(files, inbox)
        pass_start = time.time()
        query = pipe.run_singer_stream(inbox, os.path.join(pdir, "checkpoint"),
                                       available_now=False)
        try:
            # start the clock once the query waits for data, so its start-up
            # does not land on the first file
            while query.status["message"] != "Waiting for data to arrive":
                self._alive(query)
                time.sleep(0.01)
            gen.start()
            gen.started.wait()
            w0 = gen.t0_wall + WARMUP_S
            w1 = w0 + self.seconds
            while time.time() < w1:
                self._alive(query)
                self._consume(consumer, state, tracer)
            gen.stop_event.set()
            gen.join()
            last_lsn = self.file_meta[len(gen.drops) - 1][0]
            deadline = time.time() + DRAIN_TIMEOUT_S
            while state["bookmark"] < last_lsn and time.time() < deadline:
                self._alive(query)
                self._consume(consumer, state, tracer)
        finally:
            gen.stop_event.set()
            if gen.is_alive():
                gen.join()
            query.stop()
        progress = [p for p in query.recentProgress if p.get("numInputRows")]
        res = self._summarize(path, gen, progress, state["reads"], w0, w1, tracer)
        res.update(last_lsn=last_lsn, warmup_s=w0 - pass_start)
        return res

    @staticmethod
    def _alive(query) -> None:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")

    def _consume(self, consumer, state: dict, tracer) -> None:
        """One poll of the downstream consumer: if a new commit moved the
        bookmark, read and count the rows changed since the last read."""
        consumer.refresh()
        lo = state["bookmark"]
        hi = consumer.bookmarks.get(STREAM, {}).get("lsn", lo)
        if hi <= lo:
            time.sleep(POLL_S)
            return
        idx = len(state["reads"])
        t_wall = time.time()
        t0 = time.perf_counter()
        with sampled_root(tracer, "bench.consumer_read", idx):
            n = consumer.changes_since(lo).count()
        state["reads"].append({"lo": lo, "hi": hi, "rows": n, "wall": t_wall,
                               "s": time.perf_counter() - t0,
                               "traced": tracer is not None and tracer.sampled(idx)})
        state["bookmark"] = hi

    def _summarize(self, path, gen, progress, reads, w0, w1, tracer) -> dict:
        from pipelinewise_spark.lake.table import LakeTable

        commits = metrics.load_commits(LakeTable(self.spark, path))

        def started(p):
            return metrics.iso_epoch(p["timestamp"])

        triggers = [(started(p), started(p) + p["durationMs"]["triggerExecution"] / 1e3, p)
                    for p in progress]

        def trigger_of(commit):
            for a, b, p in triggers:
                if a <= commit["created_at"] <= b:
                    return p
            return None

        def traced(p):
            return tracer is not None and p is not None and tracer.sampled(p["batchId"])

        # events a trigger applied: the records of the files its commit's
        # bookmark advance covers (numInputRows counts every re-scan)
        events_by_batch: dict = {}
        prev = self.lsn0
        for c in commits:
            lsn = c["bookmarks"].get(STREAM, {}).get("lsn", prev)
            p = trigger_of(c) if lsn > prev else None
            if p is not None:
                events_by_batch[p["batchId"]] = events_by_batch.get(p["batchId"], 0) + sum(
                    m[1] for m in self.file_meta if prev < m[0] <= lsn)
            prev = max(prev, lsn)
        batches = [p for a, b, p in triggers if w0 <= a < w1]
        measured = [d for d in gen.drops if w0 <= d["due_wall"] < w1]
        fresh, uncovered = [], 0
        for d in measured:
            c = metrics.first_covering_commit(commits, STREAM, self.file_meta[d["i"]][0])
            if c is None:
                uncovered += 1
                continue
            fresh.append({"s": c["created_at"] - d["due_wall"], "due": d["due_wall"],
                          "version": c["version"], "traced": traced(trigger_of(c))})
        return {
            "commits": commits, "progress": progress, "batches": batches,
            "reads": reads, "window": (w0, w1), "uncovered": uncovered,
            "batch": [{"s": p["durationMs"]["triggerExecution"] / 1e3,
                       "apply_s": p["durationMs"].get("addBatch", 0) / 1e3,
                       "events": events_by_batch.get(p["batchId"], 0),
                       "traced": traced(p)} for p in batches],
            "fresh": fresh,
            "read": [r for r in reads if w0 <= r["wall"] < w1],
            "late_s": [d["late_s"] for d in gen.drops if d["due_wall"] < w1],
            "backlog_growth": metrics.backlog_growth(
                [(f["due"], f["s"], f["version"]) for f in fresh]),
            "input_bytes": sum(self.file_meta[d["i"]][2] for d in measured),
        }

    # ------------------------------------------------------- correctness

    def check(self, result: dict) -> list[str]:
        from pipelinewise_spark.lake.table import LakeTable

        problems = []
        if result["uncovered"]:
            problems.append(f"{result['uncovered']} measured files never committed")
        late = max(result["late_s"], default=0.0)
        if late > MAX_LATE_S:
            problems.append(f"generator ran {late:.3f} s late (invalid run)")
        growth = result["backlog_growth"]
        if growth is None:
            problems.append(f"fewer than {metrics.BACKLOG_MIN_COMMITS} commits covered "
                            "the measured files (batches too long to judge; invalid run)")
        elif growth > MAX_BACKLOG_GROWTH:
            problems.append(f"freshness grew {growth:.3f} s/s over the window "
                            "(rate not sustainable; invalid run)")
        applied = [u for u in self.updates if u["lsn"] <= result["last_lsn"]]
        expected = check.expected_state(self.snapshot_pdf, self.lsn0, applied)
        problems += check.table_mismatches(LakeTable(self.spark, self.table_path), expected)
        problems += check.read_mismatches(result["reads"], metrics.ChangeLog.of(applied))
        return problems
