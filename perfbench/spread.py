"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload ingest_batch --seeds 1-10

Runs the benchmark once per seed (``run_seconds`` from BENCHMARK.json,
untraced, one after another) and prints, for each end-to-end metric,
the median, the quartiles and the interquartile range as a share of
the median next to the metric's bound. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import statistics
import sys

import common


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    cfg = common.load_config()
    values: dict[str, list[float]] = {m["name"]: [] for m in cfg["end_to_end"]}
    for seed in seeds(args.seeds):
        result, _report = common.run_bench(cfg, args.workload, seed, 0)
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
            return 1
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in cfg["end_to_end"]:
        xs = values[m["name"]]
        q1, _q2, q3 = statistics.quantiles(xs, n=4)
        print(
            f"{m['name']:>16}: median {statistics.median(xs):.4g} {m['unit']}"
            f"  q1 {q1:.4g}  q3 {q3:.4g}  spread {(q3 - q1) / statistics.median(xs):.3f}"
            f"  bound {m['bound']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
