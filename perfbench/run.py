"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload webtext_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and Spark's event log and prints the per-layer
metrics instead.  The line before it holds details (sample counts,
calibration, checks).  See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("webtext_pipeline", "dq_lineitem")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workload_class(name: str):
    if name == "webtext_pipeline":
        from wl_webtext import WebtextPipeline

        return WebtextPipeline
    from wl_lineitem import DqLineitem

    return DqLineitem


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, work: str, trace_dir: str) -> tuple:
    from harness import (Checks, RssSampler, Yardstick, closed_loop,
                         kernel_ms_per_doc, make_session, median, stop_session)
    from layers import UNITS, Layers, wrap_targets
    from tracing import EventLog, Tracer, find_event_log, span_summary

    checks = Checks()
    tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    cls = workload_class(args.workload)
    info: dict = {"workload": args.workload, "seed": args.seed}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = make_session(work, event_dir)
        try:
            # the yardstick runs in the timed runs only: the traced run's
            # per-layer metrics are not scaled by it
            yard = Yardstick(spark, enabled=not args.trace)
            wl = cls(spark, work, args.seed, tracer, checks, yard, traced=bool(args.trace))
            wl.setup()
            yard.warm()
            setup_s = time.perf_counter() - t0
            log(f"set-up {setup_s:.1f}s")
            if args.trace:
                # an untraced half, then a traced half: the difference of the
                # headline call's medians is the tracing overhead (the event
                # log is on in both halves)
                samples = wl.samples[wl.headline]
                closed_loop(args.seconds / 2, wl.iteration)
                first = len(samples)
                tracer.start(spark, wrap_targets())
                iterations = closed_loop(args.seconds / 2, wl.iteration)
                tracer.stop()
                traced = median(samples[first:])
                untraced = median(samples[:first])
            else:
                iterations = closed_loop(args.seconds, wl.iteration)
                yard.measure()  # once more after the last timed call
            log(f"{iterations} iteration(s), {time.perf_counter() - t0:.1f}s")
            wl.verify()
            kernel = kernel_ms_per_doc()
        finally:
            stop_session(spark)
    info.update(wl.info())
    info.update({
        "iterations": iterations,
        "samples": {k: len(v) for k, v in wl.samples.items()},
        "setup_s": setup_s,
        "kernel_ms_per_doc": kernel,
        "yardstick": yard.info(),
        "cores": len(os.sched_getaffinity(0)),
        "peak_rss_parts_mb": rss.peak_parts,
        "check_failures": checks.failures()[:20],
    })
    if not args.trace:
        metrics = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss.peak_mb, "MB")}
        units = {"main_docs_per_ref": "docs/ref", "incremental_ref": "ref"}
        for name, value in wl.end_to_end().items():
            metrics[name] = (value, units[name])
        return info, checks, metrics
    events = EventLog(find_event_log(event_dir))
    out = Layers()
    wl.layers(out, tracer, events)
    out.update({
        "pipeline.kernel_ms_per_doc": kernel,
        "trace.overhead_s": traced - untraced,
        "trace.overhead_share": (traced - untraced) / untraced,
    })
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
    tracer.write(stem + ".spans.jsonl")
    with open(stem + ".summary.json", "w") as f:
        json.dump({"info": info, "spans": span_summary(tracer, events),
                   "per_layer": out.values}, f, indent=1)
    shutil.copy(find_event_log(event_dir), stem + ".eventlog.json")
    info["trace_files"] = os.path.relpath(stem, ROOT) + ".*"
    metrics = {name: (value, UNITS[name]) for name, value in out.values.items()}
    return info, checks, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hooqu_spark")):
        log(f"no hooqu_spark package in {ROOT}; run from a full checkout")
        return 2
    # the driver and the Python workers Spark forks both import the
    # package from the checkout, wherever the benchmark is launched from
    sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    # every temporary file (py4j handshake, JVM, Spark) stays in the checkout
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        import hooqu_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import hooqu_spark: {e}")
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from harness import result_line

    try:
        info, checks, metrics = run(args, work, os.path.join(base, "trace"))
    except Exception:  # noqa: BLE001 - a broken run prints no result
        traceback.print_exc()
        log("run failed; no result")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in checks.failures()[:20]:
        log(f"check failed: {line}")
    print(json.dumps({"perfbench": info}))
    print(result_line(checks, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
