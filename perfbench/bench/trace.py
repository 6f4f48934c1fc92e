"""Assemble the traced run's records into the per-operation profile.

The span tree is operation -> build / action -> job -> stage; every span
of one operation carries the operation's id. Jobs belong to an
operation by the job group the harness set for it, and to its build or
its action by when they started. Counters read on the harness thread
(process CPU, GC, JIT, codegen) are differenced at the same boundaries.
Listener events that arrive asynchronously (query executions, cached
blocks) belong to the operation in whose window, up to the start of the
next operation, they were delivered.
"""
from . import stats

MB = 1024.0 * 1024.0
# name -> unit; the order is the order of the summary table
LAYER_UNITS = {
    "build.wall_s": "s", "build.self_s": "s", "build.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "sched.jobs": "count", "sched.stages": "count",
    "sched.stages_skipped": "count", "sched.tasks": "count",
    "sched.idle_s": "s",
    "task.cpu_s": "s", "task.run_s": "s", "task.gc_s": "s",
    "task.failed": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "cache.blocks": "count", "cache.peak_mb": "MB",
    "io.read_mb": "MB", "io.write_mb": "MB", "io.files_written": "count",
    "api.calls_s": "s", "ingest.probe_s": "s", "ingest.append_s": "s",
    "ann.append_s": "s", "ann.search_s": "s", "ingest.index_files": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "driver.cpu_s": "s",
}
# The per-layer metrics a traced run prints (BENCHMARK.json "per_layer"):
# all but those that read 0 on every run of some workload here (failed
# tasks, fetch wait and spill in local mode, the ingest-only api
# figures); the profile keeps every metric of LAYER_UNITS.
REPORTED = [n for n in LAYER_UNITS if n not in (
    "task.failed", "shuffle.fetch_wait_s", "shuffle.spill_mb", "ingest.probe_s",
    "ingest.append_s", "ann.append_s", "ann.search_s", "ingest.index_files")]
# ingest operation kind -> the api-layer metric its wall time feeds
API_KINDS = {"probe": "ingest.probe_s", "dedup_append": "ingest.append_s",
             "ann_append": "ann.append_s", "search": "ann.search_s"}
# operations that call an `api` entry point directly
API_OPS = ("api_mapreduce_wordcount",)
PHASES = {"analysis": "catalyst.analysis_s", "optimization": "catalyst.optimizer_s",
          "planning": "catalyst.planning_s"}


def _delta(a, b, key):
    return b[key] - a[key]


def _assign_stages(jobs, stages):
    """Each submitted stage goes to the first job listing it that had
    started when the stage was submitted; a job's other listed stages
    were skipped (their output was reused)."""
    owner = {}
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        for sid in j["stages"]:
            for st in stages.get(sid, []):
                if st["submitted"] and st["submitted"] >= j["start"] - 1:
                    owner.setdefault((sid, st["attempt"]), j["id"])
    return owner


def _cache_series(blocks):
    """[(t, total cached bytes after the update)] in delivery order."""
    cur, out, total = {}, [], 0
    for b in sorted(blocks, key=lambda b: b["t"]):
        total -= cur.pop(b["block"], 0)
        if b["cached"]:
            cur[b["block"]] = b["bytes"]
            total += b["bytes"]
        out.append((b["t"], total))
    return out


def profile(result, verdict=None):
    rec = result.get("trace") or {"jobs": [], "stages": [], "execs": [], "blocks": []}
    stages = {}
    for st in rec["stages"]:
        stages.setdefault(st["id"], []).append(st)
    by_group = {}
    for j in rec["jobs"]:
        by_group.setdefault(j["group"], []).append(j)
    owner = _assign_stages(rec["jobs"], stages)
    series = _cache_series(rec["blocks"])
    ops_out, rounds_out = [], []
    status = (verdict or {}).get("status", {})
    flat = [(r, op) for r in result["rounds"] for op in r["ops"]]
    for i, (r, op) in enumerate(flat):
        s0, mid, s1 = op["start"], op["boundary"], op["end"]
        t0, tb, t1 = s0["epoch_ms"], mid["epoch_ms"], s1["epoch_ms"]
        window_end = flat[i + 1][1]["start"]["epoch_ms"] if i + 1 < len(flat) else float("inf")
        oid = op["group"]
        spans = [{"id": oid, "kind": "op", "name": op["name"], "start": t0, "end": t1},
                 {"id": oid, "kind": "build", "name": "build", "start": t0, "end": tb},
                 {"id": oid, "kind": "action", "name": "action", "start": tb, "end": t1}]
        m = {k: 0.0 for k in LAYER_UNITS}
        jobs = by_group.get(op["group"], [])
        job_iv = {"build": [], "action": []}
        for j in jobs:
            part = "build" if j["start"] < tb else "action"
            job_iv[part].append((j["start"], j["end"]))
            spans.append({"id": oid, "kind": "job", "name": f"job {j['id']}",
                          "parent": part, "start": j["start"], "end": j["end"]})
            listed = len(j["stages"])
            ran = 0
            for sid in j["stages"]:
                for st in stages.get(sid, []):
                    if owner.get((sid, st["attempt"])) != j["id"]:
                        continue
                    ran += 1
                    spans.append({"id": oid, "kind": "stage", "name": f"stage {sid}",
                                  "parent": f"job {j['id']}", "start": st["submitted"],
                                  "end": st["completed"], "tasks": st["tasks"]})
                    m["sched.tasks"] += st["tasks"]
                    m["task.cpu_s"] += st["cpu_ns"] / 1e9
                    m["task.run_s"] += st["run_ms"] / 1e3
                    m["task.gc_s"] += st["gc_ms"] / 1e3
                    m["task.failed"] += st["failed_tasks"]
                    m["shuffle.write_mb"] += st["shuffle_write"] / MB
                    m["shuffle.read_mb"] += st["shuffle_read"] / MB
                    m["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
                    m["shuffle.spill_mb"] += st["spill"] / MB
                    m["io.read_mb"] += st["input_bytes"] / MB
                    m["io.write_mb"] += st["output_bytes"] / MB
            m["sched.stages"] += min(ran, listed)
            m["sched.stages_skipped"] += max(listed - ran, 0)
        m["sched.jobs"] = len(jobs)
        m["build.jobs"] = len(job_iv["build"])
        m["build.wall_s"] = (tb - t0) / 1e3
        m["build.self_s"] = stats.uncovered((t0, tb), job_iv["build"]) / 1e3
        m["sched.idle_s"] = stats.uncovered((t0, t1), job_iv["build"] + job_iv["action"]) / 1e3
        m["catalyst.analysis_s"] = op.get("analysis_ms", 0) / 1e3
        for ex in rec["execs"]:
            if tb <= ex["t"] < window_end:
                for ph, name in PHASES.items():
                    p = ex["phases"].get(ph)
                    if p:
                        m[name] += (p["end"] - p["start"]) / 1e3
        m["codegen.compile_s"] = _delta(s0, s1, "codegen_ns") / 1e9
        m["codegen.compiles"] = _delta(s0, s1, "codegen_n")
        m["jvm.gc_s"] = _delta(s0, s1, "gc_ms") / 1e3
        m["jvm.jit_s"] = _delta(s0, s1, "jit_ms") / 1e3
        m["driver.cpu_s"] = _delta(s0, s1, "cpu_ns") / 1e9 - m["task.cpu_s"]
        in_op = [(t, v) for t, v in series if t0 <= t < window_end]
        m["cache.blocks"] = sum(1 for b in rec["blocks"]
                                if b["cached"] and t0 <= b["t"] < window_end)
        m["cache.peak_mb"] = max((v for _, v in in_op), default=0) / MB
        m["io.files_written"] = op["files_written"]
        kind = op["name"].rsplit("_b", 1)[0]
        if kind in API_KINDS:
            m[API_KINDS[kind]] = op["wall_s"]
        if kind in API_KINDS or op["name"] in API_OPS:
            m["api.calls_s"] = op["wall_s"]
        failed = status.get((r["round"], op["name"]))
        ops_out.append({"id": oid, "round": r["round"], "name": op["name"],
                        "wall_s": op["wall_s"], "ok": failed is None,
                        "spans": spans, "counts": m})
    for r in result["rounds"]:
        ops = [o for o in ops_out if o["round"] == r["round"]]
        tot = {k: sum(o["counts"][k] for o in ops) for k in LAYER_UNITS}
        tot["cache.peak_mb"] = max((o["counts"]["cache.peak_mb"] for o in ops), default=0)
        tot["ingest.index_files"] = r.get("index_files", 0) if any(
            o["name"].startswith("probe_") for o in ops) else 0
        rounds_out.append({"round": r["round"], "wall_s": r["wall_s"],
                           "cpu_s": r["cpu_s"], "layers": tot})
    return {"workload": result["workload"], "setup_s": result["setup_s"],
            "warmup_s": result["warmup_s"], "rounds": rounds_out, "ops": ops_out}


def layer_metrics(prof, names=REPORTED):
    """Per-layer metrics of the run: the median over rounds of each
    round's total."""
    return {n: {"value": stats.median([r["layers"][n] for r in prof["rounds"]]),
                "unit": LAYER_UNITS[n]} for n in names}
