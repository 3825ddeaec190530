"""Seeded input generator for the graft benchmark.

Writes parquet tables with the same schemas and value shapes as the
sf0.1 test corpus (documents, embeddings, events and a TPC-H-like star
schema) so the benchmark needs no data from outside its checkout.

Two layers of input:

* the *base* tables come from a fixed data seed, so the rows every
  registry query reads, and therefore their result hashes, are the same
  for every benchmark seed;
* each workload then derives its own inputs from the benchmark seed:
  the medallion corpus tokens and verbatim copies, the daily-ingest
  corpus/held-out split and day slices, the query order.

Usage: python3 gen.py <out_dir> <sf>   (writes the base tables only)
"""

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def salted(seed, key):
    """A stable 64-bit hash of (seed, key): seed-salted slice choice."""
    h = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "little")


def base_documents(rng, n_docs):
    """Docs of 8..100 words from a 30-word vocabulary; 5% are
    near-duplicates (an earlier doc plus " dup"), 0.2% exact copies."""
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(8, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    for i in rng.choice(np.arange(20, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(20, n_docs), n_docs // 500, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n_docs, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in ids],
    }


def documents_table(cols):
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64()),
    })


def embeddings_table(rng, n_emb):
    """Unit vectors in 10 Gaussian clusters, one per doc id < n_emb."""
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n_emb)
    v = centers[label] * 0.35 + rng.normal(size=(n_emb, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _ts(days_from, n, rng, lo, hi):
    us = rng.integers(lo, hi, n) * 86_400_000_000
    return pa.array(np.datetime64(days_from, "us") + us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def relational_tables(rng, sf):
    n_cust, n_supp, n_part, n_ord, n_line = (int(n * sf) for n in
                                             (150000, 10000, 200000, 1500000, 6000000))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    f64 = lambda a: pa.array(np.round(np.asarray(a, dtype=np.float64), 2))
    pick = lambda vals, n: pa.array(list(rng.choice(vals, n)), pa.string())
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": f64(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["FURNITURE", "HOUSEHOLD", "BUILDING", "MACHINERY",
                                  "AUTOMOBILE"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": f64(rng.uniform(-999.99, 9999.99, n_supp))}),
    }
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    out["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(900 + (np.arange(n_part) % 1000) / 10)})
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["O", "P", "F"], n_ord),
        "o_totalprice": f64(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": _ts("1995-01-01", n_ord, rng, 0, 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line)),
        "l_extendedprice": f64(rng.uniform(900, 105000, n_line)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", n_line, rng, 0, 2498)})
    n_ev = int(1000000 * sf)
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": pick(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": f64(rng.exponential(50, n_ev)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])})
    return out


def write_base(out, sf):
    """The fixed-seed base tables at scale factor `sf`, shaped like the
    TPC-H-style test corpus (sf 0.1: 600k lineitem rows, 5,000 docs,
    2,000 vectors; sf 0.01: 60k, 500, 500). Seed-independent; idempotent."""
    stamp = os.path.join(out, "_DONE")
    if os.path.exists(stamp):
        return
    rng = np.random.default_rng(BASE_SEED)
    _write(documents_table(base_documents(rng, max(500, int(50000 * sf)))),
           f"{out}/documents.parquet")
    _write(embeddings_table(rng, max(500, int(20000 * sf))), f"{out}/embeddings.parquet")
    for name, t in relational_tables(rng, sf).items():
        _write(t, f"{out}/{name}.parquet")
    open(stamp, "w").close()


def base_docs(base):
    return pq.read_table(f"{base}/documents.parquet").to_pydict()


def medallion(base, out, seed, copies, verbatim_share):
    """`copies` copies of every base doc, each tagged with a token unique
    to (seed, copy, doc) so bronze's exact dedup keeps it, plus a fixed
    share of extra rows that repeat seed-chosen copies verbatim so the
    dedup still drops rows. Doc ids follow a seed permutation, so which
    copy of a pair bronze keeps varies too. The surviving texts differ
    from seed to seed only in their equal-length numeric tokens, so
    every layer's row count is the same for every seed."""
    src = base_docs(base)
    n = len(src["doc_id"])
    rng = np.random.default_rng(seed)
    unique = n * copies
    # bijective scramble of (copy, doc) -> token, salted by the seed
    mult, off = 2654435761, int(rng.integers(0, 10 ** 8))
    rows = [(k % n, f"{src['text'][k % n]} t{(k * mult + off) % 10 ** 8:08d}")
            for k in range(unique)]
    n_verbatim = int(round(unique * verbatim_share))
    rows += [rows[int(k)] for k in rng.choice(unique, n_verbatim, replace=False)]
    rows = [rows[int(k)] for k in rng.permutation(len(rows))]
    _write(documents_table({
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "text": [t for _, t in rows],
        "lang": [src["lang"][i] for i, _ in rows],
        "source": [src["source"][i] for i, _ in rows],
    }), f"{out}/documents.parquet")
    return {"input": len(rows), "bronze": unique}


def daily(base, out, seed, days, day_docs, corpus_docs):
    """A standing corpus of `corpus_docs` docs and `days` held-out day
    slices of `day_docs` docs each, drawn from the base docs that have
    an embedding (so every arm, semantic included, sees every doc) by a
    seed-salted hash."""
    src = base_docs(base)
    n_emb = pq.read_metadata(f"{base}/embeddings.parquet").num_rows
    order = sorted((i for i in src["doc_id"] if i < n_emb), key=lambda i: salted(seed, i))
    if corpus_docs + days * day_docs > len(order):
        raise ValueError("not enough base docs for the corpus and the day slices")
    corpus = order[:corpus_docs]
    pick = lambda ids: {k: [v[i] for i in sorted(ids)] for k, v in src.items()}
    _write(documents_table(pick(corpus)), f"{out}/corpus/documents.parquet")
    for d in range(days):
        ids = order[corpus_docs + d * day_docs:corpus_docs + (d + 1) * day_docs]
        _write(documents_table(pick(ids)), f"{out}/day{d:02d}/documents.parquet")
    return {"days": days, "day_docs": day_docs, "corpus": len(corpus)}


def query_order(names, seed):
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]


if __name__ == "__main__":
    write_base(sys.argv[1], float(sys.argv[2]))
