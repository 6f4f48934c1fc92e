#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end
metric's median, quartiles and quartile spread ((Q3 - Q1) / median),
gated or not, and the failed share of operations.

    python3 perfbench/spread.py --workload operators --seeds 1-10
    python3 perfbench/spread.py --lines runs.txt   # result lines saved earlier

The bounds in BENCHMARK.json hold a metric's spread over ten seeds, and
the drift between the medians of two such sets.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import stats  # noqa: E402

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def summarize(results):
    out = {}
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out[name] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                     "spread": stats.quartile_spread(xs)}
    out["failed_share"] = sorted({r["failed"] / r["attempted"] for r in results})
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--lines", help="file of result lines, one JSON object each")
    a = ap.parse_args(argv)
    if a.lines:
        with open(a.lines) as fh:
            results = [json.loads(l[l.index("{"):]) for l in fh if "{" in l]
    else:
        results = []
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, RUN, "--workload", a.workload,
                                "--seed", str(s), "--seconds", a.seconds,
                                "--trace", "0"], capture_output=True, text=True)
            line = json.loads(p.stdout.strip().splitlines()[-1])
            # all four end-to-end figures, gated or not, are on stderr
            for err in p.stderr.splitlines():
                if err.startswith("perfbench: {"):
                    line["metrics"] = json.loads(err[len("perfbench: "):])
            print(json.dumps({"seed": s, **line}), flush=True)
            results.append(line)
    print(json.dumps(summarize(results), indent=1))


if __name__ == "__main__":
    main()
