"""Benchmark entry point.

    python3 perfbench/run.py --workload kb_serve --seed 1 --seconds 8 --trace 0

Runs one workload from the checkout root: starts a Spark session through
``svs_spark.session``, builds the workload's seeded inputs, warms up,
measures for at least ``--seconds`` seconds, checks every output, and
prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the timed region runs with
per-layer spans (``perfbench/trace.py``), the spans are written under
``.perfbench_out/`` and the metrics are the per-layer ones. The line
before the result holds the workload's detail figures, the end-to-end
values of this run (traced or not) and the host state;
``perfbench/overhead.py`` turns a traced and an untraced run of one seed
into the tracing overhead.
``--size toy`` shrinks every input (used by ``perfbench/smoke.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("kb_serve", "corpus_pipeline")


def workload_class(name: str):
    if name == "kb_serve":
        from perfbench.kb_serve import KbServe
        return KbServe
    from perfbench.corpus_pipeline import CorpusPipeline
    return CorpusPipeline


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    p.add_argument("--corrupt", action="store_true",
                   help="alter one observed result before checking (smoke test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import svs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    # a SIGTERM still runs the clean-up below: stop Spark, end its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.become_subreaper()
    host_start = common.host_state()
    tally = common.Tally()
    run_dir = common.RunDir(args.workload)
    spark = None
    extra: dict = {}
    try:
        with common.RssSampler() as rss:
            t0 = time.perf_counter()
            spark, session_s = common.start_session(run_dir, f"perfbench-{args.workload}")
            wl = workload_class(args.workload)(
                spark, run_dir, args.seed, args.size, tally, args.corrupt)
            wl.setup()
            setup_s = time.perf_counter() - t0
            if args.trace:
                from perfbench import trace

                tracer = trace.Tracer(spark, session_s)
                with tracer.installed(wl):
                    lat = wl.timed(args.seconds, tracer)
                extra["spans_file"] = tracer.write(args.workload, args.seed)
                layer_metrics = tracer.layer_metrics()
            else:
                lat = wl.timed(args.seconds)
            metrics, detail = wl.summarize(lat)
        metrics["setup_s"] = common.metric(setup_s, "s")
        metrics["peak_rss_mb"] = common.metric(rss.peak_mb, "MB")
    except Exception:  # noqa: BLE001 — report, stop everything, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            common.stop_session(spark)
        finally:
            run_dir.remove()

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "host_start": host_start, "host_end": common.host_state(),
        "session_start_s": session_s, "setup_phases": wl.setup_phases,
        "detail": detail,
        "error_rate": tally.failed / max(1, tally.attempted),
        "failures": tally.messages, "end_to_end": metrics, **extra,
    }), flush=True)
    out = layer_metrics if args.trace else metrics
    common.emit(tally.failed == 0, tally, out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
