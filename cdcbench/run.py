"""CDC benchmark entry point.

    python3 cdcbench/run.py --workload {tail,bigtarget_mor} --seed N \
        --seconds S --trace {0,1}

Runs one workload in one process on ``local[<cores>]`` through the public
API only, checks the final table (and every consumer read) against the
pure-Python oracle, prints every metric with its unit, and ends with one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` every other batch and consumer read of the pass runs
traced and the line carries the per-layer ones (the lines above it add
the layer numbers that only one workload has, and the tracing overhead:
traced minus untraced samples of the same pass).
Exit status: 0 when every check passed, 1 on a correctness mismatch or an
invalid run, 2 when the engine is not importable, 3 on a time-out.
Everything the run writes stays under ``.bench_work/`` of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TIME_LIMIT_S = 170


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def e2e_metrics(res: dict, keep=lambda sample: True) -> dict:
    """Every per-sample end-to-end metric of a pass, over the samples
    ``keep`` selects."""
    from cdcbench.metrics import timing_summary

    batches = [x for x in res["batch"] if keep(x)]
    apply_s = sum(x["apply_s"] for x in batches)
    out = {"events_per_s": sum(x["events"] for x in batches) / apply_s if apply_s else None}
    for name in ("batch", "fresh", "read"):
        values = [x["s"] for x in res[name] if keep(x)]
        label = "freshness" if name == "fresh" else name
        t = timing_summary(values)
        out[f"{label}_p50_s"] = t["p50"]
        out[f"{label}_tail_s"] = t["tail"]
        out[f"{label}_tail_pct"] = t["tail_pct"]
        out[f"{label}_n"] = t["n"]
    return out


def validity(res: dict) -> dict:
    """The open-loop generator's validity numbers (``tail`` only): how late
    it dropped a file, and how fast freshness grew."""
    if "late_s" not in res:
        return {}
    return {"gen.late_s": max(res["late_s"], default=0.0),
            "gen.backlog_growth": res["backlog_growth"]}


def run(args, work: str) -> dict:
    from cdcbench import harness
    from cdcbench.bigtarget_mor import BigtargetMor
    from cdcbench.tail import Tail

    workloads = {w.name: w for w in (Tail, BigtargetMor)}
    report = {"host_start": harness.host_record()}
    t0 = time.perf_counter()
    spark = harness.start_spark(work, event_log=bool(args.trace))
    tracer = None
    try:
        report["session_s"] = time.perf_counter() - t0
        wl = workloads[args.workload](spark, args.seed, args.seconds, work)
        t0 = time.perf_counter()
        wl.generate()
        report["gen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.preload()
        report["preload_s"] = time.perf_counter() - t0
        if args.trace:
            from cdcbench.trace import Tracer

            tracer = Tracer(spark.sparkContext).install()
        try:
            res = wl.run_pass(tracer=tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        report["problems"] = wl.check(res)
        report["rss_mb"] = harness.rss_peak_mb()
        report["host_end"] = harness.host_record()
    finally:
        harness.stop_spark(spark)

    e2e = e2e_metrics(res)
    e2e["setup_s"] = (report["session_s"] + report["gen_s"] + report["preload_s"]
                      + res["warmup_s"])
    e2e["driver_rss_peak_mb"] = report["rss_mb"]
    report["e2e"] = e2e
    report["samples"] = {("freshness" if k == "fresh" else k): [x["s"] for x in res[k]]
                         for k in ("batch", "fresh", "read")}
    report["validity"] = validity(res)
    report["attempted"] = len(res["batch"]) + len(res["reads"]) + 1
    report["failed"] = len(report["problems"])
    if args.trace:
        report["layers"] = trace_report(args, res, tracer, work)
    return report


def trace_report(args, res: dict, tracer, work: str) -> dict:
    """Per-layer metrics of the traced batches, the tracing overhead
    (traced minus untraced batches of the same pass, as a share of the
    untraced value), and the spans written under ``.bench_work/traces``."""
    from cdcbench import harness
    from cdcbench.layers import layer_metrics, stream_metrics
    from cdcbench.trace import parse_event_log

    jobs = parse_event_log(os.path.join(work, "eventlog"))
    traced = [x for x in res["batch"] if x["traced"]]
    layers = layer_metrics(tracer.spans, jobs, window=res["window"],
                           cores=harness.cores(),
                           input_events=sum(x["events"] for x in traced))
    if "progress" in res:
        layers.update(stream_metrics(
            res["progress"], [p for p in res["batches"] if tracer.sampled(p["batchId"])]))
    layers.update(validity(res))
    w0, w1 = res["window"]
    layers["table.write_amp"] = sum(
        c["added_bytes"] for c in res["commits"] if w0 <= c["created_at"] < w1
    ) / res["input_bytes"]
    # compacting batches (and the reads right after them) are left out of
    # the comparison: the two halves need not hold the same number of them
    on = e2e_metrics(res, lambda x: x["traced"] and not x.get("compacted"))
    off = e2e_metrics(res, lambda x: not x["traced"] and not x.get("compacted"))
    for name, v in off.items():
        if name.endswith(("_s", "per_s")) and v and on[name] is not None:
            layers[f"trace.overhead.{name}"] = (on[name] - v) / v
    os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
    out = os.path.join(WORK_ROOT, "traces",
                       f"{args.workload}-s{args.seed}-{os.getpid()}.json")
    with open(out, "w") as fh:
        json.dump({"spans": tracer.spans, "jobs": jobs, "layers": layers}, fh, default=str)
    return layers


def emit(args, spec: dict, report: dict) -> dict:
    """Print every number by name with its unit; return the result line."""
    from cdcbench.harness import steal_frac

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    h0, h1 = report["host_start"], report["host_end"]
    print(f"# host: loadavg {h0['loadavg']} -> {h1['loadavg']}, cpu control "
          f"{h0['cpu_control_s']:.3f} -> {h1['cpu_control_s']:.3f} s, steal "
          f"{100 * steal_frac(h0, h1):.2f}% of CPU time during the run")
    print(f"# setup: session {report['session_s']:.3f} s, generate "
          f"{report['gen_s']:.3f} s, preload {report['preload_s']:.3f} s")
    for name, v in report["e2e"].items():
        print(f"e2e {name} {v} {units.get(name, '')}")
    for name, values in report["samples"].items():
        print(f"# samples {name}_s " + " ".join(f"{v:.4f}" for v in values))
    for name, v in sorted(report.get("layers", {}).items()):
        print(f"layer {name} {v} {units.get(name, '')}")
    for name, v in report["validity"].items():
        print(f"# validity {name} {v}")
    for prob in report["problems"]:
        print(f"CHECK FAILED: {prob}")
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = report["layers"] if args.trace else report["e2e"]
    return {
        "correct": not report["problems"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": source[n], "unit": units[n]} for n in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail", "bigtarget_mor"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pipelinewise_spark
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if not os.path.abspath(pipelinewise_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"pipelinewise_spark resolves outside the checkout: "
                              f"{pipelinewise_spark.__file__}")
    except (ImportError, OSError) as e:
        print(f"cdcbench: engine or BENCHMARK.json not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from cdcbench import harness

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work)
    harness.confine_temp(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    try:
        report = run(args, work)
    except TimeoutError as e:
        print(f"cdcbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    line = emit(args, spec, report)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
