#!/usr/bin/env python3
"""Print the per-layer summary of a traced run's profile.

    python3 perfbench/run.py --workload operators --seed 1 --trace 1
    python3 perfbench/summary.py --workload operators [--seed 1] [--ops]

Reads .work/traces/<workload>-seed<seed>.json (the newest one of the
workload without --seed). Layer figures are the median over rounds of
each round's total; --ops adds one line per operation.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import jvm, trace  # noqa: E402

TRACES = os.path.join(jvm.WORK, "traces")
OP_COLUMNS = ["build.wall_s", "build.jobs", "sched.jobs", "sched.idle_s",
              "task.cpu_s", "codegen.compile_s", "driver.cpu_s"]


def find(workload, seed):
    if seed is not None:
        return os.path.join(TRACES, f"{workload}-seed{seed}.json")
    found = sorted(glob.glob(os.path.join(TRACES, f"{workload}-seed*.json")),
                   key=os.path.getmtime)
    if not found:
        raise SystemExit(f"no trace for {workload}; run run.py with --trace 1 first")
    return found[-1]


def render(prof, per_op=False):
    lines = [f"workload {prof['workload']}: {len(prof['rounds'])} round(s), "
             f"setup {prof['setup_s']} s, warm-up {prof['warmup_s']:.1f} s"]
    walls = [r["wall_s"] for r in prof["rounds"]]
    lines.append(f"traced round wall {min(walls):.2f}-{max(walls):.2f} s")
    for name, m in trace.layer_metrics(prof, trace.LAYER_UNITS).items():
        lines.append(f"  {name:24s} {m['value']:12.3f} {m['unit']}")
    if per_op:
        lines.append("per operation (first round):")
        lines.append(f"  {'operation':30s} {'wall_s':>8s} " +
                     " ".join(f"{c:>18s}" for c in OP_COLUMNS))
        first = prof["rounds"][0]["round"]
        for op in prof["ops"]:
            if op["round"] == first:
                lines.append(f"  {op['name']:30s} {op['wall_s']:8.3f} " + " ".join(
                    f"{op['counts'][c]:18.3f}" for c in OP_COLUMNS))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--ops", action="store_true")
    a = ap.parse_args(argv)
    with open(find(a.workload, a.seed)) as fh:
        print(render(json.load(fh), a.ops))


if __name__ == "__main__":
    main()
