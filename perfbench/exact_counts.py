#!/usr/bin/env python3
"""Which per-layer counts repeat exactly, and what tracing costs.

    python3 perfbench/exact_counts.py [--seed 7] [--workloads tank_pipeline,tablelog]

Run from the repository root. For each workload: one untraced run, then two
traced runs with the same seed. A per-layer metric whose unit is not a time
and whose value is identical in both traced runs is an exact regression
signal: it does not depend on host load, so any change in it is a change in
the work the program did. The tracing overhead is the traced minus the
untraced end-to-end figures of the same seed. The result is written to
``perfbench/exact_counts.json`` and printed.
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace {trace} failed:\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    report = json.loads(next(l for l in lines if l.startswith("report "))[len("report "):])
    return report, json.loads(lines[-1])


def main():
    spec = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    out = {}
    for w in args.workloads.split(","):
        run(w, args.seed, spec["run_seconds"], 0)
        first, a = run(w, args.seed, spec["run_seconds"], 1)
        _, b = run(w, args.seed, spec["run_seconds"], 1)
        va = {k: v["value"] for k, v in a["metrics"].items()}
        vb = {k: v["value"] for k, v in b["metrics"].items()}
        counts = [k for k in va if units[k] != "s"]
        out[w] = {
            "seed": args.seed,
            "exact": sorted(k for k in counts if va[k] == vb[k] and va[k] != 0),
            "exact_zero": sorted(k for k in counts if va[k] == vb[k] == 0),
            "varying": {k: [va[k], vb[k]] for k in sorted(counts) if va[k] != vb[k]},
            "trace_overhead_pct": {k: round(v["pct"], 2) for k, v in
                                   first.get("trace_overhead", {}).items() if v["pct"] is not None},
        }
        print(w, json.dumps(out[w]))
    (HERE / "exact_counts.json").write_text(json.dumps(out, indent=2) + "\n")


if __name__ == "__main__":
    main()
