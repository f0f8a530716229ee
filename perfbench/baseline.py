#!/usr/bin/env python3
"""Record the per-layer baseline: one untraced and one traced run per workload.

    python3 perfbench/baseline.py --seed 1 --seconds 20

Writes ``perfbench/baseline/<workload>_seed<seed>.json`` with the
untraced end-to-end metrics, the traced per-layer metrics, the tracing
overhead (traced ``wall_s`` − untraced ``wall_s``), the self-time table
and its largest layer, and for ``cron_ingest`` the assembly size sweep.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out_dir = os.path.join(ROOT, "perfbench", "baseline")
    os.makedirs(out_dir, exist_ok=True)
    for w in spec["workloads"]:
        name = w["name"]
        plain = run(name, args.seed, args.seconds, 0)
        traced = run(name, args.seed, args.seconds, 1)
        with open(os.path.join(ROOT, ".perfbench_out", f"trace_{name}_seed{args.seed}.json")) as fh:
            trace = json.load(fh)
        layer = trace["layer"]
        wall = plain["metrics"]["wall_s"]["value"]
        record = {
            "workload": name,
            "seed": args.seed,
            "seconds": args.seconds,
            "cores": trace["cores"],
            "untraced": plain,
            "traced": traced,
            "tracing_overhead_s": traced["metrics"]["trace.wall_s"]["value"] - wall,
            "self_s": layer.get("self_s"),
            "attribution": layer.get("attribution"),
            "assembly_sweep": layer.get("sweep"),
            "plan_shapes": layer.get("shapes"),
        }
        path = os.path.join(out_dir, f"{name}_seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
            fh.write("\n")
        print(f"wrote {os.path.relpath(path, ROOT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
