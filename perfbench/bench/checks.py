"""Output checks, computed apart from the program with DuckDB.

Query workloads: each operation's output is compared with its
`QueryDef.oracle` SQL run by DuckDB on the same parquet inputs, the way
`tools/check_oracle.py` compares them; the `api.MapReduce` word count
with DuckDB's word count over the same text files.

Ingest: every reported dedup pair must be an exact pair (exact word
trigram Jaccard >= 0.8, same rounded value) against the documents
indexed before its batch; every search hit's `cos_sim` must equal the
exact cosine within 1e-6; recall of both is held to a floor; after the
batches, both indexes must hold exactly the rows appended.

DuckDB results depend only on the SQL and the input files, so they are
cached under .cache/oracle keyed by both (see oracles.py to rebuild).
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from . import jvm

CACHE = os.path.join(jvm.HERE, ".cache", "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORDCOUNT_SQL = r"""SELECT word, count(*) AS cnt
FROM (SELECT unnest(regexp_split_to_array(lower(content), '[^\p{L}\p{N}]+')) AS word
      FROM read_text(TEXTS))
WHERE word <> ''
GROUP BY word
ORDER BY word"""
SHINGLES_SQL = """SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        FROM read_parquet({files}))"""
EXACT_PAIRS_SQL = """WITH b AS ({batch}), ix AS ({index}),
bi AS (SELECT doc_id, unnest(sh) AS g FROM b WHERE len(sh) > 0),
ii AS (SELECT doc_id, unnest(sh) AS g FROM ix WHERE len(sh) > 0),
co AS (SELECT bi.doc_id AS new_id, ii.doc_id AS dup_of, count(*) AS inter
       FROM bi JOIN ii ON bi.g = ii.g AND bi.doc_id <> ii.doc_id GROUP BY ALL)
SELECT new_id, dup_of, jaccard FROM (
  SELECT new_id, dup_of,
    round(CAST(inter AS DOUBLE) / (len(b.sh) + len(ix.sh) - inter), 4) AS jaccard
  FROM co JOIN b ON b.doc_id = co.new_id JOIN ix ON ix.doc_id = co.dup_of)
WHERE jaccard >= 0.8"""
COSINE_SQL = """SELECT q.vec_id AS q_id, v.vec_id AS n_id,
  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])) AS cos
FROM read_parquet({batch}) q, read_parquet({index}) v WHERE q.vec_id <> v.vec_id"""
MINHASH_BANDS = 16
TOPK = 10
DEDUP_RECALL_FLOOR = 0.95
ANN_RECALL_FLOOR = 0.6
COS_TOL = 1e-6


def norm(df):
    """Column order and numeric widths normalized, as check_oracle does."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df


def compare(got, want):
    """None when equal, else a one-line reason."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:200]
    return None


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def read_output(con, path, order_by=None):
    files = _parquet_files(path)
    if not files:
        return None
    sql = f"SELECT * FROM read_parquet({files!r})"
    return con.sql(sql + (f" ORDER BY {order_by}" if order_by else "")).df()


def _duckdb():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{jvm.WORK}/duckdb_tmp'")
    return con


def connect(data):
    con = _duckdb()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def input_fingerprint(data):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(data):
        dirnames.sort()
        for f in sorted(files):
            if f.startswith("."):
                continue
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
    return h.hexdigest()


def oracle_sql(cp, log, names):
    """{op: oracle SQL} dumped from the program's registry (cached per build)."""
    path = os.path.join(jvm.BUILD, f"oracle_sql-{jvm.current_stamp()[:16]}.json")
    if not os.path.exists(path):
        code = jvm.run_harness(cp, ["--dump-oracles", path], log, 120, heap="1g")
        if code != 0:
            raise RuntimeError(f"oracle dump failed, see {log}")
    with open(path) as fh:
        sql = json.load(fh)
    return {n: sql[n] for n in names if n in sql}


def expected(con, sql, fingerprint, rebuild=False):
    """DuckDB's result for `sql` on the inputs, through the cache."""
    os.makedirs(CACHE, exist_ok=True)
    key = hashlib.sha256((sql + "\0" + fingerprint).encode()).hexdigest()
    path = os.path.join(CACHE, key + ".parquet")
    if rebuild or not os.path.exists(path):
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
    return con.sql(f"SELECT * FROM read_parquet('{path}')").df()


def query_expectations(data, names, cp, log, rebuild=False):
    """{op: expected frame} for a query workload's operations."""
    con = connect(data)
    fp = input_fingerprint(data)
    sqls = oracle_sql(cp, log, names)
    if "api_mapreduce_wordcount" in names:
        sqls["api_mapreduce_wordcount"] = WORDCOUNT_SQL.replace("TEXTS", repr(f"{data}/texts/*.txt"))
    missing = [n for n in names if n not in sqls]
    if missing:
        raise RuntimeError(f"no oracle for {missing}")
    return con, {n: expected(con, sql, fp, rebuild) for n, sql in sqls.items()}


def check_queries(data, result, cp, log):
    names = sorted({op["name"] for r in result["rounds"] for op in r["ops"]})
    con, want = query_expectations(data, names, cp, log)
    status = {}
    for r in result["rounds"]:
        for op in r["ops"]:
            key = (r["round"], op["name"])
            if not op["ok"]:
                status[key] = op["error"]
                continue
            # the word-count job's output is unordered; sort it like the oracle
            order = "word" if op["name"] == "api_mapreduce_wordcount" else None
            got = read_output(con, os.path.join(r["out"], op["name"]), order)
            status[key] = ("no output" if got is None
                           else compare(got, want[op["name"]]))
    return status, {}


def _files(data, names):
    return [os.path.join(data, "ingest", f"{n}.parquet") for n in names]


def ingest_expectations(data, batches, rebuild=False):
    """Per batch: the exact dup pairs against the index and the exact
    cosine of every (query, indexed vector) pair."""
    con = _duckdb()
    fp = input_fingerprint(os.path.join(data, "ingest"))
    out = []
    for b in range(batches):
        before = ["start_docs"] + [f"batch_docs_{i:02d}" for i in range(b)]
        pairs_sql = EXACT_PAIRS_SQL.format(
            batch=SHINGLES_SQL.format(files=_files(data, [f"batch_docs_{b:02d}"])),
            index=SHINGLES_SQL.format(files=_files(data, before)))
        upto = ["start_vecs"] + [f"batch_vecs_{i:02d}" for i in range(b + 1)]
        cos_sql = COSINE_SQL.format(batch=_files(data, [f"batch_vecs_{b:02d}"]),
                                    index=_files(data, upto))
        out.append({"pairs": expected(con, pairs_sql, fp, rebuild),
                    "cos": expected(con, cos_sql, fp, rebuild)})
    return con, out


def _row_count(con, path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    return con.sql(f"SELECT count(*) FROM read_parquet({sorted(files)!r})").fetchone()[0]


def check_ingest(data, result, batches):
    con, want = ingest_expectations(data, batches)
    n_docs = sum(con.sql(f"SELECT count(*) FROM '{f}'").fetchone()[0]
                 for f in glob.glob(os.path.join(data, "ingest", "*_docs*.parquet")))
    n_vecs = sum(con.sql(f"SELECT count(*) FROM '{f}'").fetchone()[0]
                 for f in glob.glob(os.path.join(data, "ingest", "*_vecs*.parquet")))
    status = {}
    found = exact = hits = relevant = 0
    for r in result["rounds"]:
        idx = r["index"]
        counts_ok = {
            "dedup_append": (_row_count(con, f"{idx}/dedup/shingles") == n_docs
                             and _row_count(con, f"{idx}/dedup/bands")
                             == MINHASH_BANDS * n_docs),
            "ann_append": _row_count(con, f"{idx}/ann/cells") == n_vecs,
        }
        for op in r["ops"]:
            key = (r["round"], op["name"])
            if not op["ok"]:
                status[key] = op["error"]
                continue
            kind, b = op["name"].rsplit("_b", 1)
            exp = want[int(b)]
            out = os.path.join(r["out"], op["name"])
            if kind in counts_ok:
                status[key] = None if counts_ok[kind] else "index row count"
            elif kind == "probe":
                got = read_output(con, out)
                status[key], n_found = _check_pairs(got, exp["pairs"])
                found += n_found
                exact += len(exp["pairs"])
            else:
                got = read_output(con, out)
                status[key], n_hit, n_rel = _check_hits(got, exp["cos"])
                hits += n_hit
                relevant += n_rel
    recall = {"dedup_recall": found / exact if exact else 1.0,
              "ann_recall": hits / relevant if relevant else 1.0}
    ok = (recall["dedup_recall"] >= DEDUP_RECALL_FLOOR
          and recall["ann_recall"] >= ANN_RECALL_FLOOR)
    return status, {"recall": recall, "recall_ok": ok}


def _check_pairs(got, exact):
    """(reason or None, number of exact pairs found)."""
    if got is None:
        return "no output", 0
    want = {(int(a), int(b)): j for a, b, j in exact.itertuples(index=False)}
    for a, b, j in got[["new_id", "dup_of", "jaccard"]].itertuples(index=False):
        if want.get((int(a), int(b))) != j:
            return f"pair ({a}, {b}, {j}) is not an exact pair", 0
    pairs = set(zip(got["new_id"].astype(int), got["dup_of"].astype(int)))
    if len(pairs) != len(got):
        return "duplicate pairs", 0
    return None, len(pairs)


def _check_hits(got, cos):
    """(reason or None, hits in the exact top-k, exact top-k size)."""
    if got is None:
        return "no output", 0, 0
    exact = {(int(q), int(n)): c for q, n, c in cos.itertuples(index=False)}
    for q, n, c in got[["q_id", "n_id", "cos_sim"]].itertuples(index=False):
        e = exact.get((int(q), int(n)))
        if e is None or abs(c - e) > COS_TOL:
            return f"hit ({q}, {n}, {c}) differs from the exact cosine {e}", 0, 0
    top = (cos.sort_values(["q_id", "cos", "n_id"], ascending=[True, False, True])
           .groupby("q_id").head(TOPK))
    want = set(zip(top["q_id"].astype(int), top["n_id"].astype(int)))
    have = set(zip(got["q_id"].astype(int), got["n_id"].astype(int)))
    return None, len(want & have), len(want)


def check(workload, data, size, result, cp, log):
    if workload == "ingest":
        status, extra = check_ingest(data, result, size["batches"])
    else:
        status, extra = check_queries(data, result, cp, log)
    expected_ops = sum(len(r["ops"]) for r in result["rounds"])
    failed = sum(1 for v in status.values() if v is not None)
    # an operation that threw is only failed; one whose output (or index
    # row count) is wrong also makes the run incorrect
    threw = {(r["round"], op["name"]) for r in result["rounds"]
             for op in r["ops"] if not op["ok"]}
    wrong = [k for k, v in status.items() if v is not None and k not in threw]
    correct = (not wrong and len(status) == expected_ops
               and extra.get("recall_ok", True))
    return {"correct": correct, "attempted": expected_ops, "failed": failed,
            "status": status, **extra}
