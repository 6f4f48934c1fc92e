#!/usr/bin/env python3
"""Reference figures for the README, measured on the machine it runs on.

    python3 perfbench/reference.py

1. count() against full output: q31, q46, q157 and q180 on the
   `operators` inputs, after a warm-up, timed with `count()` and with
   the parquet write the benchmark uses.
2. cold against warm pass, and same-session against fresh-session:
   the `operators` operations with no warm-up, three rounds in fresh
   sessions (round 0 is the cold pass), then three rounds in one
   session.
3. tracing overhead: untraced against traced `wall_s`, same seed.

Prints one JSON object; the outputs are not checked here.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import jvm, workloads  # noqa: E402
import run  # noqa: E402

COUNT_OPS = ["q31_fingerprint", "q46_approx_distinct",
             "q157_image_dhash_neardup", "q180_boilerplate_catalog"]


def harness(cp, data, warm, ops, seconds, extra=()):
    work = os.path.join(jvm.WORK, "reference")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", "operators", "--data", data, "--warm", warm,
            "--work", work, "--seconds", str(seconds), "--ops", ",".join(ops),
            "--cpus", str(os.cpu_count())] + list(extra)
    log = os.path.join(jvm.WORK, "last.log")
    if jvm.run_harness(cp, args, log, 600) != 0:
        raise RuntimeError(f"harness failed, see {log}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    return [{op["name"]: round(op["wall_s"], 3) for op in r["ops"]} |
            {"round_wall_s": round(r["wall_s"], 3)} for r in res["rounds"]]


def main():
    log = os.path.join(jvm.WORK, "last.log")
    cp = jvm.classpath(log)
    timed, warm = workloads.sizes("operators")
    data = workloads.prepare("operators", 1, timed)
    warm_dir = workloads.prepare("operators", 1, warm, warm=True)
    out = {
        "count": harness(cp, data, warm_dir, COUNT_OPS, 1, ["--action", "count"])[0],
        "full_output": harness(cp, data, warm_dir, COUNT_OPS, 1)[0],
    }
    ops = workloads.op_order("operators", 1)
    rounds = harness(cp, data, "none", ops, 50)[:3]
    out["fresh_sessions_cold_first"] = rounds
    out["same_session_cold_first"] = harness(
        cp, data, "none", ops, 50, ["--reuse-session", "1"])[:3]
    untraced = run.run("operators", 1, 10, False)["metrics"]["wall_s"]["value"]
    run.run("operators", 1, 10, True)
    with open(os.path.join(jvm.WORK, "traces", "operators-seed1.json")) as fh:
        traced = [r["wall_s"] for r in json.load(fh)["rounds"]]
    out["tracing"] = {"untraced_wall_s": untraced, "traced_wall_s": traced,
                      "overhead": traced[0] / untraced - 1}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
