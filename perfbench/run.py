"""Benchmark entry point.

    python3 perfbench/run.py --workload keyed_state_stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds nothing: the package is imported
from the checkout. With ``--trace 0`` the last line of standard output is
one JSON object with every end-to-end metric; with ``--trace 1`` it holds
every per-layer metric instead (layers a workload does not run read 0),
and the spans are written to ``perfbench/.out/``. ``--cores`` overrides
the core count (``--cores 1`` is the single-threaded record) and ``--rate``
the open-loop rate of the stream (how its rate was chosen). Any error
exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("keyed_state_stream", "corpus_dedup")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p99_ms": ("ms", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

_CORPUS_STAGES = ("exact_dedup", "shingle", "minhash", "lsh", "verify", "cc")
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.self_s": ("s", "lower"),
    "sources.parse_s": ("s", "lower"),
    "sources.parse_ok_ratio": ("ratio", "higher"),
    "sources.offset_lag_rows_max": ("rows", "lower"),
    "sources.list_ms_p50": ("ms", "lower"),
    "sources.self_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_rows_p50": ("rows", "higher"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.trigger_ms_p99": ("ms", "lower"),
    "streaming.planning_ms_p50": ("ms", "lower"),
    "streaming.commit_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_bytes": ("B", "lower"),
    "streaming.state_commit_ms_p50": ("ms", "lower"),
    "streaming.state_update_ms_p50": ("ms", "lower"),
    "streaming.dup_rows_dropped": ("rows", "higher"),
    "streaming.late_rows_dropped": ("rows", "higher"),
    "streaming.window_latency_p50_ms": ("ms", "lower"),
    "streaming.window_latency_p99_ms": ("ms", "lower"),
    "streaming.self_s": ("s", "lower"),
    "sink.write_ms_p50": ("ms", "lower"),
    "sink.write_ms_p99": ("ms", "lower"),
    "sink.self_s": ("s", "lower"),
    "operators.window_agg_s": ("s", "lower"),
    **{f"operators.{s}_s": ("s", "lower") for s in _CORPUS_STAGES},
    "operators.lsh_candidates": ("pairs", "lower"),
    "operators.lsh_precision": ("ratio", "higher"),
    "operators.cc_jobs": ("count", "lower"),
    "operators.self_s": ("s", "lower"),
    **{f"spark.{k}.{s}": ("count", "lower") for s in ("parse", "window_agg", *_CORPUS_STAGES) for k in ("jobs", "tasks")},
    "gen.late_ms_p99": ("ms", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--rate", type=int, default=None, help="open-loop events/s of a stream workload")
    return ap.parse_args(argv)


def result(run) -> dict:
    wanted = PER_LAYER if run.trace else END_TO_END
    metrics = {}
    for name, (unit, _) in wanted.items():
        if name in run.metrics:
            value = run.metrics[name][0]
        elif run.trace:
            value = 0.0  # the workload does not run this layer
        else:
            raise RuntimeError(f"end-to-end metric {name} was not measured")
        if not math.isfinite(value):
            raise RuntimeError(f"metric {name} is {value}")
        metrics[name] = {"value": value, "unit": unit}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import harness  # noqa: E402  (needs ROOT on the path)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = harness.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=args.cores or harness.cores(),
        work=work,
        rate=args.rate,
    )
    try:
        with harness.phase("run"):
            if args.workload == "corpus_dedup":
                from corpus import run_corpus

                run_corpus(run)
            else:
                from streams import run_stream

                run_stream(run)
    finally:
        harness.clean(work)
    if run.trace:
        self_s = run.tracer.self_times()
        for layer in ("session", "sources", "streaming", "sink", "operators"):
            run.metric(f"{layer}.self_s", self_s.get(layer, 0.0), "s")
        run.tracer.dump(os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json"))
    if run.attempted < 1:
        raise RuntimeError("no operation was attempted")
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    out = result(run)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
