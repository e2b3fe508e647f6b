#!/usr/bin/env python3
"""CDC engine benchmark: one command for every workload and metric.

    python3 cdcbench/run.py --workload sync_stream --seed 1 --seconds 25 --trace 0

Runs from the root of a source checkout on ``local[k]`` (k <= cores) and
drives only the public API of ``airbyte_spark``. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the same run under the design's
metric names, with sample counts, the tails with their percentiles and the
CPU calibration taken around the run. Everything the run writes stays under
``.cdcbench_work/`` in the checkout; the traced run leaves its spans and
per-layer report in ``.cdcbench_work/trace/``. See ``cdcbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench_work")

#: the end-to-end metrics every workload reports, with their units
E2E = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "ops_per_s": "1/s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "scan_p50_s": "s",
}
READ_KINDS = ("lookup", "scan", "scd_scan", "changes")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be >= 1")
    return a


def end_to_end(run, setup_s: float) -> tuple[dict, dict]:
    """(the BENCHMARK.json metrics, detail) from one pass's ops."""
    from cdcbench.stats import p50, tail

    def samples(*kinds):
        return [o.seconds for o in run.ops if o.kind in kinds]

    writes, reads, lookups = samples("write"), samples(*READ_KINDS), samples("lookup")
    metrics = {
        "setup_s": setup_s,
        "events_per_s": run.events / run.write_wall_s,
        "ops_per_s": len(run.ops) / run.busy_s,
        "write_p50_s": p50(writes),
        "read_p50_s": p50(reads),
        "scan_p50_s": p50(samples("scan")),
    }
    detail = {
        "samples": {k: samples(k) for k in ("write", *READ_KINDS, "compact", "vacuum")},
    }
    # tails stay on the detail line: no workload yields the 21 samples of
    # one kind a tail needs (stats.tail), so on the result line they would
    # only repeat the p50
    for name, values in (("write", writes), ("read", reads), ("lookup", lookups)):
        if values:
            t, q, n = tail(values)
            detail.update({f"{name}_tail_s": t, f"{name}_tail_percentile": q,
                           f"{name}_tail_samples": n})
    if lookups:
        detail["lookup_p50_s"] = p50(lookups)
    if samples("changes"):
        detail["changes_p50_s"] = p50(samples("changes"))
    return metrics, detail


#: the design's metric names, per workload, as views of the BENCHMARK.json metrics
NAMED = {
    "sync_stream": {"sync_events_per_s": "events_per_s",
                    "trigger_p50_s": "write_p50_s"},
    "serve_mixed": {"write_p50_s": "write_p50_s", "scan_p50_s": "scan_p50_s",
                    "mixed_ops_per_s": "ops_per_s"},
}


def run_pass(wl, run) -> float:
    """Run the workload's cycles; return the pass wall seconds."""
    if hasattr(wl, "start"):
        wl.start()
    t0 = time.perf_counter()
    for i in range(wl.cycles):
        lo = time.time() * 1000.0
        wl.cycle(i)
        if i == wl.cycles - 1 and hasattr(wl, "finish"):
            wl.finish()
        run.windows.append((lo, time.time() * 1000.0))
    return time.perf_counter() - t0


def end_files(spark, wl, tracer) -> list[tuple[int, int]]:
    """(files, delta files) live in the tables the pass left behind."""
    from airbyte_spark.lake import LakeTable

    paths = []
    base = os.path.join(WORK, "run", wl.DIR)
    for root, dirs, _ in os.walk(base):
        if "_log" in dirs and not os.path.basename(root).startswith("warm"):
            paths.append(root)
            dirs.clear()
    out = []
    with tracer.suspended():
        for p in paths:
            snap = LakeTable(spark, p).snapshot()
            files = list(snap.files.values())
            out.append((len(files), sum(1 for m in files if m.get("kind") == "delta")))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import airbyte_spark  # noqa: F401
        from bench import cpu_calibration
    except ImportError as e:
        print(f"cdcbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from cdcbench import session
    from cdcbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    feeds = os.path.join(WORK, "feeds")
    os.makedirs(feeds, exist_ok=True)
    calib_before = cpu_calibration()

    run = Run(spark=None, work=run_dir, feeds=feeds, seed=args.seed)
    wl = WORKLOADS[args.workload](run, args.seconds)
    wl.prepare()

    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = session.start(ROOT, run_dir, event_log)
    session_s = time.perf_counter() - t0
    run.spark = spark
    passes = [run]
    try:
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        # the traced and the untraced pass share the session, so the
        # JVM is warmer for whichever runs second; the order alternates
        # with the seed so that over seeds neither side gets the warm one
        traced_first = args.seed % 2 == 0
        if args.trace and traced_first:
            tracer, trun, layer_args = traced_pass(spark, wl, run)
        wall = run_pass(wl, run)
        if args.trace and not traced_first:
            tracer, trun, layer_args = traced_pass(spark, wl, run)
        if args.trace:
            passes.append(trun)
            # the event log is on for both passes, so its cost is not in this
            layer_args["overhead_frac"] = layer_args["wall_s"] / wall - 1
        setup_s = session_s + warm_s + statistics.median(run.bootstrap_s)
        metrics, detail = end_to_end(run, setup_s)
    finally:
        session.stop(spark)
    calib_after = cpu_calibration()

    ops = [o for p in passes for o in p.ops]
    attempted, failed = len(ops), sum(1 for o in ops if not o.ok)
    if args.trace:
        from cdcbench import eventlog, layers

        counters = eventlog.read_counters(
            eventlog.event_log_files(event_log), trun.windows)
        values = layers.per_layer(tracer.spans, trun.progress, counters, **layer_args)
        write_trace(args, tracer, values, layer_args, traced_first)
        out_metrics = {k: {"value": v, "unit": layers.LAYER_METRICS[k][0]}
                       for k, v in values.items()}
    else:
        out_metrics = {k: {"value": v, "unit": E2E[k]} for k, v in metrics.items()}

    problems = [f"{o.kind}: {o.note}" for o in ops if not o.ok]
    named = {n: metrics[m] for n, m in NAMED[args.workload].items()}
    if args.workload == "sync_stream":
        named["trigger_tail_s"] = detail["write_tail_s"]
    else:
        named.update({k: detail[k] for k in ("lookup_p50_s", "lookup_tail_s", "changes_p50_s")})
    named["failed_ops_frac"] = failed / attempted
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": session.cores(),
        "cycles": wl.cycles, "named": named, "end_to_end": metrics, **detail,
        "setup_parts_s": {"session": session_s, "warm_up": warm_s,
                          "bootstrap_median": statistics.median(run.bootstrap_s)},
        "cpu_calibration_s": {"before": calib_before, "after": calib_after},
        "problems": problems[:5],
    }))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def traced_pass(spark, wl, measured):
    """Run the workload's cycles on a scratch run with spans, the progress
    listener and the event log's windows, then hand the workload back to
    the ``measured`` run; return what the per-layer report needs."""
    from cdcbench import session
    from cdcbench.trace import Tracer, install_engine_spans, progress_listener

    run = measured.scratch()
    tracer = Tracer()
    run.tracer = tracer
    wl.run = run
    listener = None
    if wl.name == "sync_stream":
        listener = progress_listener()
        spark.streams.addListener(listener)
        run.listener = listener
    install_engine_spans(tracer)
    try:
        wall = run_pass(wl, run)
        files = end_files(spark, wl, tracer)
    finally:
        tracer.restore()
        wl.run = measured
        if listener is not None:
            spark.streams.removeListener(listener)
    write_ops = len(run.progress) or sum(1 for o in run.ops if o.kind == "write")
    write_windows = [
        (s.start, s.end) for s in tracer.spans if s.name in ("op.sync", "op.write")
    ]
    # spans use the perf counter; the event log uses epoch ms
    shift = time.time() - time.perf_counter()
    write_windows = [((a + shift) * 1e3, (b + shift) * 1e3) for a, b in write_windows]
    return tracer, run, dict(
        cycles=wl.cycles, events=run.events, write_ops=write_ops,
        write_windows=write_windows, wall_s=wall, cores=session.cores(),
        end_files=files,
    )


def write_trace(args, tracer, values: dict, kwargs: dict, traced_first: bool) -> None:
    from cdcbench.layers import LAYER_METRICS

    out = os.path.join(WORK, "trace")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-s{args.seed}")
    tracer.dump(stem + ".spans.jsonl")
    report = {
        "workload": args.workload, "seed": args.seed,
        "traced_wall_s": kwargs["wall_s"],
        "tracing_overhead_frac": kwargs["overhead_frac"],
        "traced_pass_first": traced_first,
        "metrics": {
            k: {"value": v, "unit": LAYER_METRICS[k][0],
                "moves": LAYER_METRICS[k][1], "on": LAYER_METRICS[k][2]}
            for k, v in values.items()
        },
    }
    with open(stem + ".layers.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
