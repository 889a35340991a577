#!/usr/bin/env python3
"""Shows that the benchmark's correctness checks catch a wrong output.

    python3 perfbench/test_checks.py

For each workload it runs the benchmark once (seed 1, one second), checks
that the untouched outputs pass, then corrupts one output row in a copy
and checks that the same checks fail. The checked outputs are those of the
run's last pass, which runs on the state the warm passes left (session
memos included), so the dedup corruptions include outputs of operations
that reuse such memos. Exits non-zero on any surprise.
"""
import glob
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 1


def set_first(path, column, value):
    """Replaces `column` of the first row of the first non-empty part file
    with `value(table)`; `column=None` takes the first numeric column."""
    part = [p for p in sorted(glob.glob(os.path.join(path, "*.parquet")))
            if pq.read_metadata(p).num_rows][0]
    t = pq.read_table(part)
    if column is None:
        column = [f.name for f in t.schema
                  if pa.types.is_integer(f.type) or pa.types.is_floating(f.type)][0]
    col = t.column(column).to_pylist()
    col[0] = value(t, col[0])
    i = t.schema.get_field_index(column)
    t = t.set_column(i, t.schema.field(i), pa.array(col, t.schema.field(i).type))
    pq.write_table(t, part)


def bump_text(path):
    """Adds 1 to the count on the first line of the first non-empty part file."""
    part = [p for p in sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.getsize(p)][0]
    with open(part, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    word, _, n = lines[0].partition("\t")
    lines[0] = f"{word}\t{int(n) + 1}"
    with open(part, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


CORRUPTIONS = {
    "wordcount_mr": [
        ("mr_spec part file", lambda o: bump_text(os.path.join(o, "mr_spec", "bench_j0"))),
        ("mr_native row", lambda o: set_first(
            os.path.join(o, "results", "mr_native"), "cnt", lambda t, v: v + 1)),
    ],
    "tpch_sql": [
        ("sql_q1_pricing row", lambda o: set_first(
            os.path.join(o, "results", "sql_q1_pricing"), None, lambda t, v: v + 1)),
    ],
    "dedup_search": [
        # a label that is not the cluster's smallest id
        ("dedup_minhash_clusters label", lambda o: set_first(
            os.path.join(o, "results", "dedup_minhash_clusters"), "cluster_rep",
            lambda t, v: max(t.column("doc_id").to_pylist()) + 1)),
        # outputs served from session memos built by the cold pass
        ("simsearch_graph_ann row", lambda o: set_first(
            os.path.join(o, "results", "simsearch_graph_ann"), None, lambda t, v: v + 1)),
        ("dedup_clusters_incremental row", lambda o: set_first(
            os.path.join(o, "results", "dedup_clusters_incremental"), None, lambda t, v: v + 1)),
    ],
}


def main():
    bad = 0
    for workload, corruptions in CORRUPTIONS.items():
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(SEED), "--seconds", "1", "--trace", "0"],
            cwd=run.ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(f"FAIL {workload}: benchmark exited {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        in_dir = gen.inputs(run.WORK, workload, SEED)
        out_dir = os.path.join(run.WORK, "runs", f"{workload}-trace0")
        fails = check.outputs(workload, in_dir, out_dir)
        if fails:
            print(f"FAIL {workload}: untouched outputs fail: {fails}")
            bad += 1
        for what, corrupt in corruptions:
            copy = os.path.join(run.WORK, "test_checks", workload)
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(out_dir, copy)
            corrupt(copy)
            fails = check.outputs(workload, in_dir, copy)
            status = "ok  " if fails else "FAIL"
            bad += not fails
            print(f"{status} {workload}: corrupted {what} -> {len(fails)} check(s) fail"
                  + (f": {fails[0][:160]}" if fails else ""))
            shutil.rmtree(copy, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
