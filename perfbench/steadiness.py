#!/usr/bin/env python3
"""Run the benchmark over several seeds and print, per end-to-end metric, the
median, the inter-quartile spread as a share of the median and the values, next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload analyst --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    outputs = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
        outputs.append(p.stdout)
        print(f"seed {s}: exit {p.returncode}", file=sys.stderr)
    results = [json.loads(o.strip().splitlines()[-1]) for o in outputs]
    print(f"runs={len(results)} correct={sum(r['correct'] for r in results)} "
          f"failed_ops={sum(r['failed'] for r in results)}")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        sp = benchlib.spread(vals) if len(vals) >= 2 else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE")
        print(f"{name:>24} median={benchlib.median(vals):.4f} spread={sp:.4f} bound={b}{flag}"
              f"  values={[float(f'{v:.4g}') for v in vals]}")


if __name__ == "__main__":
    main()
