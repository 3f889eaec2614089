"""Seeded input generation for the benchmark workloads.

Every table has the schema and value distributions of the repository's
TPC-H-ish test tables (documents with planted " dup" copies, unit-norm
64-d embeddings with 10 labels, orders/lineitem/customer/supplier), drawn
from ``numpy.random.default_rng(seed)`` only, so the same seed gives the
same bytes. Rows are written in a seeded permutation.

``python3 perfbench/gen.py <workload> <seed> <out_dir>`` writes one
workload's inputs; ``run.py`` calls :func:`generate` and caches the result
per (workload, seed).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
DUP_SHARE = 0.05

# Scale of each workload. dsl_programs is small on purpose: its gates sit
# at the per-job floor, so more rows would only lengthen a pass without
# loading the layers it is for (quotation, planning, scheduling).
# index_maintenance keeps the persisted structures small so one pass holds
# many operations.
SF = {"dsl_programs": 0.01, "index_maintenance": 0.01}

# index_maintenance op stream: per pass, exactly these counts of each op
# type in seeded order (12 reads of 20 = 60 %).
PASS_OPS = {"lookup": 9, "ann_probe": 1, "pq_probe": 1, "tok_load": 1,
            "upsert": 1, "ann_append": 1, "ann_delete": 1, "ann_compact": 1,
            "pq_append": 1, "pq_delete": 1, "tok_save": 1, "stream_maint": 1}
READ_OPS = {"lookup", "ann_probe", "pq_probe", "tok_load"}
STREAM_PASSES = 40
RECENT = 24        # lookups favour the last RECENT written keys ...
RECENT_SHARE = 0.7 # ... with this probability
APPEND_BATCH = 12
DELETE_BATCH = 4
UPSERT_ROWS = 8
PROBE_QUERIES = 4
STREAM_DOCS = 6


def _ts(days):
    return pa.array(np.asarray(days, dtype="int64") * 86400 * 1_000_000,
                    type=pa.timestamp("us"))


def _write(out, name, cols, rng):
    table = pa.table(cols)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def near_dup_share(texts):
    """Share of documents that are a planted copy (another document's
    text plus " dup")."""
    seen = set(texts)
    return sum(t.endswith(" dup") and t[:-4] in seen for t in texts) / len(texts)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, o = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[o:o + ln]))
        o += ln
    # planted near-duplicates: an earlier document's text plus " dup"
    for i in rng.choice(np.arange(n // 10, n), int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def documents(rng, n):
    texts = _texts(rng, n)
    ids = np.arange(n, dtype="int64")
    return {"doc_id": ids, "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64")}


def embeddings(rng, n, id0=0):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {"vec_id": np.arange(id0, id0 + n, dtype="int64"),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype("int32")}


def tpch(rng, out, sf):
    nc, ns, no, nl = int(150000 * sf), int(10000 * sf), int(1500000 * sf), int(6000000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(out, "region", {"r_regionkey": np.arange(5, dtype="int32"),
                           "r_name": REGIONS}, rng)
    _write(out, "nation", {"n_nationkey": np.arange(25, dtype="int32"),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype("int32")}, rng)
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}, rng)
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, ns)}, rng)
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": _ts(9131 + rng.integers(0, 2404, no)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}, rng)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, int(200000 * sf), nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(9132 + rng.integers(0, 2498, nl))}, rng)


def corpus(rng, out, sf):
    """Documents and embeddings."""
    nd, ne = int(50000 * sf), int(20000 * sf)
    docs = documents(rng, nd)
    _write(out, "documents", docs, rng)
    _write(out, "embeddings", embeddings(rng, ne), rng)
    return nd, ne, near_dup_share(docs["text"])


def op_stream(rng, out, n_orders, n_emb, n_docs):
    """The index_maintenance op stream: STREAM_PASSES passes, each holding
    exactly PASS_OPS ops in seeded order. The generator tracks which keys
    and vector ids are live so every op is valid (no delete of a dead id,
    appends take fresh ids); results are checked in the JVM against its
    own replay, not against anything computed here."""
    pool = embeddings(rng, STREAM_PASSES * 2 * APPEND_BATCH, id0=n_emb)
    _write(out, "vector_pool", pool, rng)
    live_keys = set(range(n_orders))
    ever = list(range(n_orders))
    recent = list(rng.choice(n_orders, RECENT, replace=False).tolist())
    next_key = n_orders
    ann_live, pq_live = set(range(n_emb)), set(range(n_emb))
    next_vec = n_emb
    ops, reads, picks, recent_hits = [], 0, 0, 0

    def pick_key():
        nonlocal picks, recent_hits
        picks += 1
        if rng.random() < RECENT_SHARE:
            recent_hits += 1
            return int(recent[int(rng.integers(0, len(recent)))])
        return int(ever[int(rng.integers(0, len(ever)))])

    for p in range(STREAM_PASSES):
        kinds = [k for k, c in PASS_OPS.items() for _ in range(c)]
        for kind in (kinds[i] for i in rng.permutation(len(kinds))):
            op = {"op": kind, "pass": p}
            if kind == "lookup":
                op["keys"] = sorted({pick_key() for _ in range(3)})
            elif kind == "upsert":
                rows, used = [], set()
                for _ in range(UPSERT_ROWS):
                    u = rng.random()
                    if u < 0.4:
                        k = next_key; next_key += 1; ever.append(k)
                    else:
                        k = pick_key()
                    if k in used:
                        continue
                    used.add(k)
                    dead = u >= 0.8 and k in live_keys
                    rows.append([k, round(float(rng.uniform(1000, 500000)), 2), dead])
                    (live_keys.discard if dead else live_keys.add)(k)
                    recent.append(k); recent[:] = recent[-RECENT:]
                op["rows"] = rows
            elif kind in ("ann_append", "pq_append"):
                op["lo"], op["hi"] = next_vec, next_vec + APPEND_BATCH
                next_vec += APPEND_BATCH
                (ann_live if kind == "ann_append" else pq_live).update(
                    range(op["lo"], op["hi"]))
            elif kind in ("ann_delete", "pq_delete"):
                live = ann_live if kind == "ann_delete" else pq_live
                ids = sorted(rng.choice(sorted(live), DELETE_BATCH, replace=False).tolist())
                live.difference_update(ids)
                op["ids"] = ids
            elif kind in ("ann_probe", "pq_probe"):
                op["queries"] = sorted(rng.choice(n_emb, PROBE_QUERIES, replace=False).tolist())
            elif kind == "tok_save":
                op["merges"] = int(rng.choice([24, 32, 40]))
            elif kind == "stream_maint":
                ids = rng.choice(n_docs, STREAM_DOCS, replace=False).tolist()
                op["docs"] = [[int(d), ["edit", "drop"][int(rng.random() < 0.3)],
                               " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(3, 12))))]
                              for d in sorted(ids)]
            reads += kind in READ_OPS
            ops.append(op)
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op, separators=(",", ":")) + "\n")
    return {"ops": len(ops), "read_share": reads / len(ops),
            "key_recent_share": recent_hits / picks,
            "recent_window": RECENT, "passes": STREAM_PASSES}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SF).index(workload)])
    sf = SF[workload]
    info = {"workload": workload, "seed": seed, "sf": sf}
    tpch(rng, out, sf)
    n_docs, n_emb, info["near_dup_share"] = corpus(rng, out, sf)
    if workload == "index_maintenance":
        info["op_stream"] = op_stream(rng, out, int(1500000 * sf), n_emb, n_docs)
    info["tables"] = {}
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(out, f)).metadata
            info["tables"][f[:-8]] = {"rows": md.num_rows, "files": 1,
                                      "bytes": os.path.getsize(os.path.join(out, f))}
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
