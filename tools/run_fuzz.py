#!/usr/bin/env python3
"""Differential fuzz orchestrator: after `graft.tools.FuzzRun` has
materialized <work>/<variant>/{data,out}, replay the DuckDB oracle
compare per variant and merge everything into one committed artifact.

Usage: python3 tools/run_fuzz.py <workDir> <artifactPath> [--timeout S]

Divergences are recorded per (variant, query) with the checker's
err/mismatch class; the artifact is the evidence either that every
query is green on hostile corpora, or of exactly which accepted-
divergence class (SURVEY.md §5) a red cell belongs to (the `notes`
field is hand-maintained in the committed artifact's `documented`
map).
"""
import json
import os
import subprocess
import sys

VARIANTS = ["nulls", "empty", "unicode", "skew"]

# Accepted cross-engine divergence classes (SURVEY.md §5, round 14):
# each red cell below is traced to a documented Spark-vs-DuckDB
# semantics difference, not an engine bug. Anything NOT listed here
# that fails is a regression and should stay loudly red.
CLASSES = {
    "A": "NULL order-key placement: Spark sorts NULLs FIRST, DuckDB "
         "LAST — value-changing inside window ORDER BYs (running sums,"
         " ranks, positional medians, as-of picks)",
    "B": "NULL comparison/argmax semantics: 3VL theta predicates, "
         "join-on-NULL group membership, max_by with NULL tie fields",
    "C": "aggregate-on-empty grand totals: SQL ROLLUP/CUBE emits the "
         "() grouping-set row over zero input rows, Spark emits none",
    "D": "unicode width/folding/class semantics: codepoint-vs-grapheme"
         " substr, locale case folding (İ/ß), UTF-16 code units in "
         "char-level BPE, byte-defined stub features",
    "E": "engine-specific sketch inside a tolerance gate "
         "(approx_percentile) flipping a boolean near the band edge",
}
# Round-15 closures: class A (NULL order keys) pinned engine-side
# (asc_nulls_last / NULLS LAST / observed-values-only CDFs), class B
# (NULL comparison/argmax) pinned via null-safe group matches,
# record-id-totalized survivorship orderings and presence-vs-digest
# separation (q102/q120/q130/q182), class C (empty-input () rows) via
# Degenerate.emptyGrandTotal, and three class-D cells fixed for real
# (q74 tail clamp, q48 UTF-8 byte-sum oracle, q235 codepoint BPE
# symbols).
# Round-16 closures: q112's class-E cell fixed for real (null-safe
# ap-join keeps the NULL event_type group; the ε·n gate is measured
# over count(value) — the non-NULL n the GK guarantee is stated over —
# so a NULL flood can't flip the boolean).
DOCUMENTED = {
    "nulls": {},
    "empty": {},
    # Round-17 closure: the last class-D cell (wordcount İ) is CLOSED
    # engine-side — the fold is the locale-independent SIMPLE 1:1
    # mapping (İ→i, what towlower and DuckDB's utf8proc apply), so the
    # output hash-matches the oracle on the unicode corpus
    # (MapReduceApiSpec pins it).
    "unicode": {},
    "skew": {},
}


def main(work: str, artifact: str, timeout: str = "300") -> int:
    merged = {"seed": 14, "source_sf": "sf0.001", "variants": {}}
    for v in VARIANTS:
        data, out = f"{work}/{v}/data", f"{work}/{v}/out"
        per = f"{work}/{v}/correctness.json"
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__),
                                          "check_oracle.py"),
             data, out, "--json", per, "--timeout", timeout, "--sort-rows"],
            check=False)
        recs = json.load(open(per))
        fails = {q: (r["err"] or
                     ("rows" if not r["rows_match"] else
                      "schema" if not r["schema_match"] else "hash"))
                 for q, r in recs.items()
                 if not (r["rows_match"] and r["schema_match"]
                         and r["hash_match"])}
        doc = DOCUMENTED.get(v, {})
        annotated = {q: {"kind": e, "class": doc.get(q)}
                     for q, e in fails.items()}
        undoc = [q for q in fails if q not in doc]
        merged["variants"][v] = {
            "queries": len(recs),
            "pass": len(recs) - len(fails),
            "failures": annotated,
            "undocumented": undoc,
        }
        print(f"[fuzz:{v}] {len(recs) - len(fails)}/{len(recs)} green"
              + (f"; UNDOCUMENTED: {undoc}" if undoc else ""))
    merged["classes"] = CLASSES
    with open(artifact, "w") as f:
        json.dump(merged, f, indent=2, sort_keys=True)
    print(f"artifact written: {artifact}")
    return 0


if __name__ == "__main__":
    to = "300"
    if "--timeout" in sys.argv:
        to = sys.argv[sys.argv.index("--timeout") + 1]
    args = [a for a in sys.argv[1:] if not a.startswith("--") and a != to]
    if "--timeout" not in sys.argv:
        args = sys.argv[1:3]
    sys.exit(main(args[0], args[1], to))
