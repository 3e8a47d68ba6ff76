"""The benchmark's one command.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the program up
once from a cold start (``setup_s``), runs the timed loop for
``--seconds``, checks every output, and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, every per-layer
metric (per operation) with ``--trace 1``. A ``report`` line before it
carries the workload's own figures by their workload names. A traced
run also writes its spans to ``.perfbench/traces/``. Everything else a
run writes lives in a scratch directory under ``.perfbench/`` that is
removed on exit. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# serve_notify is not in BENCHMARK.json: on the current sink, two loads
# in flight on one table fail (see serve_notify.py)
WORKLOADS = ("ingest_batch", "corpus", "serve_notify")


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "swarm_spark", "__init__.py")):
        print(f"swarm_spark is not in {root}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import common
    from spans import Tracer, per_layer

    workload = importlib.import_module(args.workload)
    scratch = common.Scratch(args.workload, args.seed)
    tracer = Tracer() if args.trace else None
    try:
        result, report = workload.run(args.seed, args.seconds, scratch, tracer)
        if tracer is not None:
            result["metrics"] = per_layer(report["layers"])
            path = os.path.join(scratch.traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            tracer.dump(path, {"report": report})
            report["trace_file"] = os.path.relpath(path, root)
    finally:
        common.stop_jvm()
        scratch.remove()
    report["run_s"] = time.perf_counter() - t_start
    common.emit(result, report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
