"""Correctness checks of one benchmark run, computed apart from the program.

* `wordcount_mr`: every output against the generator's own word counts.
* parquet workloads: every output against DuckDB running the program's
  oracle SQL over the same input tables, as sorted canonical row sets.
* properties of the dedup outputs: kept documents are a subset of the
  input with no two exact duplicates kept; a cluster label is the smallest
  id of its cluster and is equal across every near-duplicate pair.

Each check returns a list of failure messages; an empty list is a pass.
"""
import glob
import json
import os
import sys

import duckdb

# the repo's own DuckDB oracle mirror: table list and canonical row sets
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, rows_to_set  # noqa: E402


def _connect(in_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _result(con, out_dir, op):
    path = os.path.join(out_dir, "results", op)
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None, None
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in rel.description]
    return cols, rel.fetchall()


def oracle_checks(in_dir, out_dir):
    """Every operation with oracle SQL against DuckDB on the same tables."""
    con = _connect(in_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    fails = []
    for op, sql in sorted(oracle.items()):
        gcols, got = _result(con, out_dir, op)
        if got is None:
            fails.append(f"{op}: no output")
            continue
        exp = con.execute(sql).fetchall()
        ecols = [d[0] for d in con.description]
        if sorted(gcols) != sorted(ecols):
            fails.append(f"{op}: columns {sorted(gcols)} != oracle {sorted(ecols)}")
        elif rows_to_set(gcols, got) != rows_to_set(ecols, exp):
            g, e = set(rows_to_set(gcols, got)), set(rows_to_set(ecols, exp))
            fails.append(f"{op}: {len(got)} rows vs oracle {len(exp)}; "
                         f"e.g. program-only {sorted(g - e)[:1]} oracle-only {sorted(e - g)[:1]}")
    return fails


def wordcount_checks(in_dir, out_dir, mr_dir):
    """The MapReduce outputs against the generator's per-word counts."""
    with open(os.path.join(in_dir, "counts.json"), encoding="utf-8") as fh:
        want = json.load(fh)
    fails = []
    parts = sorted(glob.glob(os.path.join(mr_dir, "part-*")))
    seen, got = {}, {}
    for p in parts:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                word, _, n = line.rstrip("\n").partition("\t")
                if word in seen:
                    fails.append(f"mr_spec: '{word}' in {os.path.basename(seen[word])} "
                                 f"and {os.path.basename(p)}")
                seen[word] = p
                got[word] = int(n)
    if len([p for p in parts if os.path.getsize(p)]) < 2:
        fails.append(f"mr_spec: {len(parts)} output files")
    total = sum(want.values())
    if sum(got.values()) != total:
        fails.append(f"mr_spec: {sum(got.values())} tokens counted, {total} generated")
    if got != want:
        fails.append(f"mr_spec: {len(set(got.items()) ^ set(want.items()))} (word, count) "
                     "pairs differ from the generator")
    con = duckdb.connect()
    for op in ("mr_native", "mr_combine", "wc_text"):
        cols, rows = _result(con, out_dir, op)
        if rows is None:
            fails.append(f"{op}: no output")
            continue
        w, c = cols.index("word"), cols.index("cnt")
        counts = {r[w]: r[c] for r in rows}
        if len(counts) != len(rows) or counts != want:
            fails.append(f"{op}: {len(set(counts.items()) ^ set(want.items()))} (word, count) "
                         "pairs differ from the generator")
    return fails


def property_checks(in_dir, out_dir):
    """Kept-set and cluster-label properties of the dedup outputs."""
    con = _connect(in_dir)
    fails = []
    docs = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    cols, rows = _result(con, out_dir, "dedup_exact")
    if rows is not None:
        kept = [r[cols.index("doc_id_kept")] for r in rows]
        if not set(kept) <= set(docs):
            fails.append("dedup_exact: keeps ids that are not in the input")
        texts = [docs.get(k) for k in kept]
        if len(set(texts)) != len(texts):
            fails.append("dedup_exact: keeps two exact duplicates")
    cols, rows = _result(con, out_dir, "dedup_minhash_clusters")
    pcols, pairs = _result(con, out_dir, "dedup_minhash")
    if rows is not None:
        i, c = cols.index("doc_id"), cols.index("cluster_rep")
        label = {r[i]: r[c] for r in rows}
        members = {}
        for d, l in label.items():
            members.setdefault(l, []).append(d)
        bad = [l for l, m in members.items() if min(m) != l]
        if bad:
            fails.append(f"dedup_minhash_clusters: {len(bad)} labels are not their "
                         "cluster's smallest id")
        if pairs is not None:
            a, b = pcols.index("doc_a"), pcols.index("doc_b")
            split = [p for p in pairs if label.get(p[a], p[a]) != label.get(p[b], p[b])]
            if split:
                fails.append(f"dedup_minhash_clusters: {len(split)} near-duplicate pairs "
                             "lie in different clusters")
    return fails


def outputs(workload, in_dir, out_dir):
    """All output checks of one run of `workload`."""
    if workload == "wordcount_mr":
        return wordcount_checks(in_dir, out_dir, os.path.join(out_dir, "mr_spec", "bench_j0"))
    fails = oracle_checks(in_dir, out_dir)
    if workload == "dedup_search":
        fails += property_checks(in_dir, out_dir)
    return fails
