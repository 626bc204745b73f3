"""``bigtarget_mor``: a closed loop of hot-key batches into a preloaded
merge-on-read table, with a downstream reader after every commit.

``CdcPipeline(mode="mor")`` keeps its default delta-chain backstop, so the
batch that pushes a bucket's chain past the limit compacts inside
``apply_batch``. The run is sized to whole compaction cycles: the first
cycle warms up, then it measures cycles until ``--seconds`` have passed,
finishing the cycle in progress.
After every commit a consumer reads the rows changed since its own
bookmark (``LakeTable.read()`` filtered on ``_lsn``; ``changes_since``
refuses tables with outstanding deltas) and counts them. A batch's
freshness is the lag that consumer sees: from the hand-in of the batch
to the end of the consumer's next read, which must cover it (apply, refresh and read; for
a compacting batch, the compaction too). It adds the writer's and the
reader's cost, so a change that moves work between the two shows in it.
"""

from __future__ import annotations

import os
import time

from cdcbench import check, metrics
from cdcbench.trace import sampled_root

STREAM = "public-transcripts"
NUM_BUCKETS = 16
N_CONVS, TURNS = 5_000, 10            # 50k preloaded rows
BATCH = 10_000
SKEW_ALPHA = 8.0
MAX_BATCHES = 27


class BigtargetMor:
    name = "bigtarget_mor"

    def __init__(self, spark, seed: int, seconds: float, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.lsn0 = N_CONVS * TURNS

    # ------------------------------------------------------------ set-up

    def generate(self) -> None:
        """Seeded events → the snapshot rows and one parquet directory per
        batch (the engine only ever sees these files)."""
        from pyspark.sql import functions as F

        from pipelinewise_spark.cdc.events import TRANSCRIPT_SCHEMA
        from pipelinewise_spark.cdc.gen import generate_change_events

        events = generate_change_events(
            self.spark, n_convs=N_CONVS, turns_per_conv=TURNS,
            n_updates=BATCH * MAX_BATCHES, delete_pct=5,
            skew_alpha=SKEW_ALPHA, seed=self.seed, stream=STREAM,
        )
        payload = [f.name for f in TRANSCRIPT_SCHEMA.fields]
        self.snapshot = events.where(F.col("lsn") <= self.lsn0).select(*payload)
        self.snapshot_pdf = self.snapshot.select("conv_id", "turn_idx", "text").toPandas()
        self.events_path = os.path.join(self.work, "events")
        (events.where(F.col("lsn") > self.lsn0)
         .withColumn("batch", F.floor((F.col("lsn") - self.lsn0 - 1) / BATCH))
         .write.partitionBy("batch").parquet(self.events_path))

    def batch_dir(self, b: int) -> str:
        return os.path.join(self.events_path, f"batch={b}")

    def batch_bytes(self, b: int) -> int:
        d = self.batch_dir(b)
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))

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
        from pyspark.sql import functions as F

        from pipelinewise_spark.cdc.pipeline import CdcPipeline
        from pipelinewise_spark.lake.table import LSN_COL, LakeTable

        path = self.table_path
        pipe = CdcPipeline(LakeTable(self.spark, path), stream=STREAM, mode="mor")
        consumer = LakeTable(self.spark, path)
        start = time.time()
        bookmark = self.lsn0
        batches, reads = [], []
        w0 = None  # the window opens when the warm-up cycle has compacted
        for b in range(MAX_BATCHES):
            i = None if w0 is None else len(batches)
            traced = tracer is not None and tracer.sampled(i)
            src = self.spark.read.parquet(self.batch_dir(b))
            n_hist = len(pipe.history)
            avail = time.time()
            t0 = time.perf_counter()
            with sampled_root(tracer, "bench.batch", i):
                pipe.apply_batch(src, batch_id=f"b{b}")
            apply_s = time.perf_counter() - t0
            compacted = any(h.get("control") == "auto_compact"
                            for h in pipe.history[n_hist:])
            t_wall = time.time()
            t1 = time.perf_counter()
            consumer.refresh()
            hi = consumer.bookmarks[STREAM]["lsn"]
            with sampled_root(tracer, "bench.consumer_read", i):
                n = consumer.read().where(F.col(LSN_COL) > bookmark).count()
            seen = time.time()
            read = {"lo": bookmark, "hi": hi, "rows": n, "wall": t_wall,
                    "s": time.perf_counter() - t1, "traced": traced,
                    "compacted": compacted}
            reads.append(read)
            bookmark = hi
            if i is None:
                if compacted:
                    w0 = time.time()
                    warmup_s = w0 - start
                continue
            max_lsn = self.lsn0 + (b + 1) * BATCH
            batches.append({"s": apply_s, "apply_s": apply_s, "events": BATCH,
                            "avail": avail, "max_lsn": max_lsn,
                            "seen": seen if hi >= max_lsn else None,
                            "compacted": compacted, "b": b, "traced": traced})
            if compacted and time.time() - w0 >= self.seconds:
                break
        w1 = time.time()
        if not batches:
            raise RuntimeError(f"no compaction cycle within {MAX_BATCHES} batches")
        commits = metrics.load_commits(consumer)
        fresh = [{"s": x["seen"] - x["avail"], "traced": x["traced"],
                  "compacted": x["compacted"]}
                 for x in batches if x["seen"] is not None]
        return {
            "commits": commits, "batches": batches, "reads": reads,
            "window": (w0, w1), "uncovered": len(batches) - len(fresh),
            "batch": batches, "fresh": fresh,
            "read": [r for r in reads if r["wall"] >= w0],
            "last_lsn": batches[-1]["max_lsn"],
            "input_bytes": sum(self.batch_bytes(x["b"]) for x in batches),
            "cycles": sum(1 for x in batches if x["compacted"]),
            "warmup_s": warmup_s,
        }

    # ------------------------------------------------------- correctness

    def check(self, result: dict) -> list[str]:
        from pyspark.sql import functions as F

        from pipelinewise_spark.lake.table import LakeTable

        problems = []
        if result["uncovered"]:
            problems.append(f"{result['uncovered']} batches not seen by the consumer's "
                            "next read")
        if not result["cycles"]:
            problems.append("no compaction cycle completed")
        pdf = (self.spark.read.parquet(self.events_path)
               .where(F.col("lsn") <= result["last_lsn"])
               .select("lsn", "op", "conv_id", "turn_idx", "text").toPandas()
               .sort_values("lsn", kind="stable"))
        applied = metrics.event_dicts(pdf)
        expected = check.expected_state(self.snapshot_pdf, self.lsn0, applied)
        problems += check.table_mismatches(LakeTable(self.spark, self.table_path), expected)
        problems += check.read_mismatches(result["reads"], metrics.ChangeLog.of(applied))
        return problems
