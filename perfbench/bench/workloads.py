"""Workload definitions and the seeded preparation of their inputs.

The seed picks the operation order (query workloads) and the start-set /
batch split (ingest); the generated tables are the same in every run.
The program only ever sees the generated files.
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, jvm

# The `operators` workload: operators whose build runs a loop of Spark
# jobs (MMR selection, hierarchy flattening), and per-row-heavy ones (the
# reference's map -> shuffle -> reduce word count, as a query and through
# `api.MapReduce`, and the text fingerprint kernel).
OPERATORS = ["q200_mmr_diversified", "q131_hierarchy_flatten", "wordcount",
             "api_mapreduce_wordcount", "q31_fingerprint"]

# Input sizes. `scale` sizes the relational tables like the synthetic
# data's scale factor (lineitem = 6M x scale rows); documents and
# embeddings are sized on their own. `warm` is the warm-up input size;
# the warm-up runs `warm_rounds` rounds (`operators`) or `batches`
# batches (`ingest`) on it: the JIT is still compiling hard after one.
WORKLOADS = {
    "operators": {"ops": OPERATORS, "scale": 0.01, "docs": 1000, "vecs": 1000,
                  "warm_rounds": 3,
                  "warm": {"scale": 0.001, "docs": 200, "vecs": 200}},
    "ingest": {"scale": 0.001, "docs": 600, "vecs": 600,
               "start_docs": 200, "start_vecs": 200, "batches": 2,
               "warm": {"scale": 0.001, "docs": 400, "vecs": 400,
                        "start_docs": 200, "start_vecs": 200, "batches": 1}},
}
# Small inputs for the smoke mode: every workload end to end in minutes.
SMOKE = {
    "operators": {"scale": 0.001, "docs": 300, "vecs": 300},
    "ingest": {"scale": 0.001, "docs": 300, "vecs": 300, "start_docs": 100,
               "start_vecs": 100, "batches": 2},
}
TEXT_FILES = 40
# The tables are the same in every run (the seed varies only the order
# and the split); the warm-up inputs are other tables.
DATA_SEED = 1
WARM_DATA_SEED = 2


def op_order(workload, seed):
    ops = list(WORKLOADS[workload]["ops"])
    random.Random(seed).shuffle(ops)
    return ops


def _write_texts(data_dir, n_files):
    """The documents as whole-text files, the reference's input shape."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    out = os.path.join(data_dir, "texts")
    os.makedirs(out, exist_ok=True)
    for f in range(n_files):
        with open(os.path.join(out, f"doc-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(texts[f::n_files]) + "\n")


def _split_ingest(data_dir, seed, size):
    """Split documents and embeddings by the seed into a start set and
    `batches` equal batches."""
    rng = np.random.default_rng(seed)
    out = os.path.join(data_dir, "ingest")
    os.makedirs(out, exist_ok=True)
    for table, start_key, name in (("documents", "start_docs", "docs"),
                                   ("embeddings", "start_vecs", "vecs")):
        t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
        perm = rng.permutation(t.num_rows)
        n0 = size[start_key]
        pq.write_table(t.take(pa.array(np.sort(perm[:n0]))),
                       os.path.join(out, f"start_{name}.parquet"))
        rest = perm[n0:]
        per = len(rest) // size["batches"]
        for b in range(size["batches"]):
            idx = np.sort(rest[b * per:(b + 1) * per])
            pq.write_table(t.take(pa.array(idx)),
                           os.path.join(out, f"batch_{name}_{b:02d}.parquet"))


def prepare(workload, seed, size, warm=False):
    """Generate the inputs of one run under .work/data and return their
    directory (kept and reused once finished)."""
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
    name = f"{workload}-{'warm' if warm else 'timed'}-{key}"
    if workload == "ingest":
        name += f"-seed{seed}"
    data_dir = os.path.join(jvm.WORK, "data", name)
    done = os.path.join(data_dir, ".done")
    if os.path.exists(done):
        return data_dir
    gen.generate(data_dir, WARM_DATA_SEED if warm else DATA_SEED,
                 size["scale"], size["docs"], size["vecs"])
    if "api_mapreduce_wordcount" in WORKLOADS[workload].get("ops", []):
        _write_texts(data_dir, TEXT_FILES)
    if workload == "ingest":
        _split_ingest(data_dir, seed, size)
    open(done, "w").close()
    return data_dir


def sizes(workload, smoke=False):
    """(timed input size, warm-up input size)."""
    if smoke:
        return SMOKE[workload], SMOKE[workload]
    w = WORKLOADS[workload]
    return {k: v for k, v in w.items() if k not in ("ops", "warm", "warm_rounds")}, w["warm"]
