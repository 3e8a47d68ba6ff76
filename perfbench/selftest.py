"""The benchmark's own test.

    python3 perfbench/selftest.py --seed 7

For each workload it runs the benchmark traced twice and untraced once
on one seed, and fails unless

- every run's outputs are correct;
- the per-layer counts of the two traced runs are identical (all
  per-layer metrics except times, byte counts and ``cached_after``:
  parquet files hold a per-batch uuid and a wall-clock timestamp,
  shuffle block sizes move with task timing, and Spark's context
  cleaner drops unreferenced checkpointed RDDs whenever the JVM's
  garbage collector gets to them);
- ``git status --porcelain`` reads the same before and after;
- the per-layer metrics a traced run prints are those BENCHMARK.json
  lists, with the same units.

It also prints the tracing overhead: the traced run's ``op_p50_s`` over
the untraced one's. Run it from the repository root of a git checkout.
"""

from __future__ import annotations

import argparse
import subprocess
import sys

import common
from spans import PER_LAYER

P50_OF = {"ingest_batch": "batch_p50_s", "corpus": "pass_p50_s", "serve_notify": "ack_p50_s"}


def git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=common.ROOT, capture_output=True, text=True, check=True
    ).stdout


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    cfg = common.load_config()
    counts = [
        m["name"]
        for m in cfg["per_layer"]
        if m["unit"] not in ("s", "B") and not m["name"].endswith(".cached_after")
    ]
    before = git_status()
    problems = []
    listed = {m["name"]: m["unit"] for m in cfg["per_layer"]}
    if listed != PER_LAYER:
        problems.append(f"BENCHMARK.json per_layer {listed} != spans.PER_LAYER {PER_LAYER}")
    for w in cfg["workloads"]:
        name = w["name"]
        (a, ra), (b, _rb), (u, _ru) = (common.run_bench(cfg, name, args.seed, t) for t in (1, 1, 0))
        for label, r in (("traced", a), ("traced again", b), ("untraced", u)):
            if not r["correct"]:
                problems.append(f"{name}: {label} run incorrect: {r}")
        for c in counts:
            if a["metrics"][c]["value"] != b["metrics"][c]["value"]:
                problems.append(
                    f"{name}: {c} differs between traced runs: "
                    f"{a['metrics'][c]['value']} vs {b['metrics'][c]['value']}"
                )
        traced, plain = ra[P50_OF[name]], u["metrics"]["op_p50_s"]["value"]
        print(f"{name}: op_p50_s traced {traced:.3f} s, untraced {plain:.3f} s, "
              f"overhead {traced / plain - 1:+.1%}")
        print(f"{name}: counts " + ", ".join(f"{c}={a['metrics'][c]['value']:g}" for c in counts))
    after = git_status()
    if after != before:
        problems.append(f"git status changed:\n{before}---\n{after}")
    for p in problems:
        print("FAIL", p)
    print("ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
