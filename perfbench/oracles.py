#!/usr/bin/env python3
"""Rebuild the cached DuckDB results of one workload's inputs.

    python3 perfbench/oracles.py --workload operators --seed 1

Regenerates the inputs from the seed, reads the oracle SQL from the
program's registry (and the benchmark's own SQL for the word-count job
and the ingest checks), and recomputes every expected result with
DuckDB, overwriting the cache entries. Nothing here reads the program's
output, so the cache is never a copy of it.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import checks, jvm, workloads  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    timed, _ = workloads.sizes(a.workload)
    data = workloads.prepare(a.workload, a.seed, timed)
    if a.workload == "ingest":
        _, want = checks.ingest_expectations(data, timed["batches"], rebuild=True)
        n = 2 * len(want)
    else:
        log = os.path.join(jvm.WORK, "last.log")
        _, want = checks.query_expectations(
            data, workloads.WORKLOADS[a.workload]["ops"], jvm.classpath(log), log,
            rebuild=True)
        n = len(want)
    print(f"rebuilt {n} cached results for {a.workload} seed {a.seed}")


if __name__ == "__main__":
    main()
