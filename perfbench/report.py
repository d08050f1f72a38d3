#!/usr/bin/env python3
"""Run every workload untraced and traced, and print one table.

    python3 perfbench/report.py --seed 1 [--out perfbench/baseline.json]

For each workload this prints every end-to-end metric (untraced run) by
name and unit, the workload's own figures (per-class query medians and the
tail with its percentile and sample count; ingest rate, delete latency,
compaction time and probe latency for churn), the failed-operation ratio,
the traced run's overhead on each end-to-end metric, and the per-layer
table from the traced run. ``--out`` also writes all of it as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace} failed:\n{proc.stderr}")
    out = json.loads(lines[-1])
    for line in lines:
        if line.startswith("# detail "):
            out["detail"] = json.loads(line[len("# detail "):])
        elif line.startswith("# env "):
            out["env"] = json.loads(line[len("# env "):])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    report = {}
    for w in spec["workloads"]:
        name = w["name"]
        plain = one(name, args.seed, seconds, 0)
        traced = one(name, args.seed, seconds, 1)
        report[name] = {"untraced": plain, "traced": traced}
        print(f"== {name}: {w['why']}")
        print(f"   env {json.dumps(plain.get('env', {}), sort_keys=True)}")
        ratio = plain["failed"] / plain["attempted"]
        print(f"   {'failed_op_ratio':34s} {ratio:14.6g} ratio "
              f"({plain['failed']}/{plain['attempted']})")
        for m in spec["end_to_end"]:
            v = plain["metrics"][m["name"]]["value"]
            tv = traced["metrics"].get("traced." + m["name"], {}).get("value")
            over = f"traced/untraced {tv / v:.3f}" if tv and v else ""
            print(f"   {m['name']:34s} {v:14.6g} {m['unit']:8s} {over}")
        for k, v in sorted(plain.get("detail", {}).items()):
            if isinstance(v, (int, float)):
                print(f"   detail.{k:27s} {v:14.6g}")
        for m in spec["per_layer"]:
            v = traced["metrics"][m["name"]]["value"]
            print(f"   layer {m['name']:40s} {v:14.6g} {m['unit']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
