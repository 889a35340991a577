"""Seeded input generation for the benchmark.

Every input a workload reads is made here from `--seed`, so the same seed
gives the same bytes. Two families:

  * a text corpus for `wordcount_mr`: Zipf-distributed vocabulary, mixed
    case, punctuation, apostrophes and number noise, written as several
    text files; the generator keeps its own per-word counts as the oracle;
  * parquet tables with the schemas the operators read (TPC-H-like star
    schema, events, documents, embeddings), at a per-workload scale.

Generated inputs are cached per (workload, seed) under the work directory.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- text corpus -----------------------------------------------------------

CORPUS_FILES = 6
CORPUS_TOKENS = 300_000
VOCAB = 20_000
ZIPF_S = 1.1
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
PUNCT_BEFORE = ["", "", "", "", "(", '"', "'", "‘"]
PUNCT_AFTER = ["", "", "", "", "", ",", ".", ";", ":", "!", "?", ")", '"', "'", "’"]


def _vocabulary(rng):
    """VOCAB distinct lowercase words; about 3% carry an inner apostrophe
    (`don't`, `o‘clock`), which the tokenizer keeps inside the word."""
    words = set()
    out = []
    while len(out) < VOCAB:
        n = int(rng.integers(2, 11))
        w = "".join(rng.choice(LETTERS, n))
        if rng.random() < 0.03 and n >= 3:
            cut = int(rng.integers(1, n - 1))
            w = w[:cut] + str(rng.choice(["'", "‘", "’"])) + w[cut:]
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def make_corpus(rng, out_dir):
    """Writes CORPUS_FILES text files and returns {word: count} for every
    token the mapper's `[a-z](?:[a-z'‘’]*[a-z])?` over the lowercased
    line will find in them."""
    vocab = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    ids = rng.choice(VOCAB, size=CORPUS_TOKENS, p=p)
    counts = np.bincount(ids, minlength=VOCAB)
    case = rng.random(CORPUS_TOKENS)
    before = rng.integers(0, len(PUNCT_BEFORE), CORPUS_TOKENS)
    after = rng.integers(0, len(PUNCT_AFTER), CORPUS_TOKENS)
    line_len = rng.integers(4, 18, CORPUS_TOKENS)
    noise = rng.random(CORPUS_TOKENS)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, CORPUS_TOKENS, CORPUS_FILES + 1).astype(int)
    for f in range(CORPUS_FILES):
        lines, cur = [], []
        for i in range(bounds[f], bounds[f + 1]):
            w = vocab[ids[i]]
            if case[i] < 0.15:
                w = w.capitalize()
            elif case[i] < 0.18:
                w = w.upper()
            cur.append(PUNCT_BEFORE[before[i]] + w + PUNCT_AFTER[after[i]])
            if noise[i] < 0.01:
                cur.append(str(int(noise[i] * 1e6)))  # digits: no token
            if len(cur) >= line_len[i]:
                lines.append(" ".join(cur))
                cur = []
        if cur:
            lines.append(" ".join(cur))
        with open(os.path.join(out_dir, f"part-{f:02d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    return {vocab[i]: int(c) for i, c in enumerate(counts) if c}


# --- parquet tables ---------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a the join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream window "
             "spark part group big sort query fast").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def make_tables(rng, out_dir, sf, docs, vecs):
    """TPC-H-like tables at scale factor `sf` (sf 0.01 = 60,000 lineitem
    rows), `docs` documents and `vecs` 64-d embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_evt = 4 * n_ord, int(1_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_evt),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(docs):
        r = rng.random()
        if texts and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        elif texts and r < 0.06:    # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), n)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(0, 1, (10, 64))
    x = rng.normal(0, 1, (vecs, 64)) + 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --- per-workload inputs ----------------------------------------------------

# (sf, documents, embeddings) per workload; the corpus only for wordcount_mr
SCALES = {
    "wordcount_mr": None,
    "tpch_sql": (0.05, 100, 100),
    "dedup_search": (0.001, 250, 250),
}


def inputs(work, workload, seed):
    """Returns the cached input directory of (workload, seed), generating it
    on first use. The directory name carries a digest of this file, so a
    changed generator never reuses old inputs; a complete directory holds
    `done.json`."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{version}")
    if os.path.exists(os.path.join(d, "done.json")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    # one stream per (workload, seed): workloads draw independent inputs
    rng = np.random.default_rng([seed, sorted(SCALES).index(workload)])
    meta = {"workload": workload, "seed": seed}
    if SCALES[workload] is None:
        counts = make_corpus(rng, os.path.join(d, "corpus"))
        with open(os.path.join(d, "counts.json"), "w") as fh:
            json.dump(counts, fh)
        meta["tokens"] = sum(counts.values())
    else:
        sf, docs, vecs = SCALES[workload]
        make_tables(rng, d, sf, docs, vecs)
    with open(os.path.join(d, "done.json"), "w") as fh:
        json.dump(meta, fh)
    return d
