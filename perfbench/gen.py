"""Seeded input generator for the graft benchmark.

Writes the testdata table layout (`<dir>/<table>.parquet`, the schemas of the
testdata scale-factor directories) from a workload name and a seed.
The same (workload, seed) always gives byte-identical tables; different
seeds give different tables.

Text is the testdata's word salad (the same 30-word vocabulary and 10-100
word lengths), so the registered queries' fixed terms keep hitting documents.
Seed-planted near-duplicates (a document re-published without its last word)
are recorded in the returned manifest so the benchmark can measure dedup
recall against them. Embeddings cluster the way real ones do (see
`_embeddings`); the testdata's near-random vectors are the worst case for
IVF indexes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
N_SOURCES = 20
DIM = 64
N_LABELS = 10
FAMILY = 10

# Base sizes per unit of scale: the sf0.1 testdata row counts.
BASE = {"documents": 5000, "embeddings": 2000, "orders": 150000,
        "lineitem": 600000, "customer": 15000, "part": 20000, "supplier": 1000}

# Per workload: the scale of each table it reads (tables not listed are not
# written), how many part files each table is split into and the share of
# planted near-duplicate documents.
WORKLOADS = {
    # the nightly job: one file per table, like the testdata
    "nightly": dict(scale={"documents": 0.1, "embeddings": 0.05, "orders": 0.05},
                    files=1, dup_frac=0.05),
    # interactive: multi-file corpus, relational tables
    "interactive": dict(scale={"documents": 0.1, "embeddings": 0.5,
                               "orders": 0.02, "lineitem": 0.02,
                               "customer": 0.02, "part": 0.02,
                               "supplier": 0.02},
                        files=4, dup_frac=0.01),
}
SALT = {"nightly": 101, "interactive": 303}


def _write(out_dir, name, table, files):
    """One parquet file per table (files == 1, the testdata layout) or a
    directory of `files` part files (the replicated-twin layout)."""
    path = os.path.join(out_dir, f"{name}.parquet")
    if files <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _documents(rng, n, dup_frac):
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    sources = rng.integers(0, N_SOURCES, size=n)
    ids = list(range(n))
    # Near-duplicates: a long document re-published without its last word,
    # on the same site and in the same language.
    long_docs = np.flatnonzero(lengths >= 80)
    n_dup = int(round(n * dup_frac))
    pairs = []
    for k, src in enumerate(rng.choice(long_docs, size=n_dup, replace=False)):
        new_id = n + k
        texts.append(texts[src].rsplit(" ", 1)[0])
        langs = np.append(langs, langs[src])
        sources = np.append(sources, sources[src])
        ids.append(new_id)
        pairs.append((int(src), new_id))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, pairs


def _embeddings(rng, n):
    """Real embeddings cluster twice: pages by topic (the label), and within
    a topic into families of near-variants (templates, translations,
    re-posts) of about ten pages each."""
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n_fam = max(1, n // FAMILY)
    fam_label = rng.integers(0, N_LABELS, size=n_fam)
    fam_center = centers[fam_label] + rng.normal(size=(n_fam, DIM)) * 0.8 / np.sqrt(DIM)
    families = rng.integers(0, n_fam, size=n)
    vecs = fam_center[families] + rng.normal(size=(n, DIM)) * 0.1 / np.sqrt(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(fam_label[families], pa.int32()),
    })


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_cust, 1), size=n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], size=n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n).tolist()),
    })


def _lineitem(rng, n, n_orders, n_part, n_supp):
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], size=n).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n).tolist()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n),
                               pa.timestamp("us")),
    })


def generate(workload, seed, out_dir):
    """Write the workload's input tables under `out_dir`; return a manifest:
    per-table rows/bytes/files and the planted near-duplicate pairs."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([SALT[workload], seed])
    os.makedirs(out_dir, exist_ok=True)
    rows = {t: int(BASE[t] * s) for t, s in spec["scale"].items()}
    files = spec["files"]
    manifest = {"tables": {}, "doc_pairs": []}
    tables = {}
    if "documents" in rows:
        tables["documents"], manifest["doc_pairs"] = _documents(
            rng, rows["documents"], spec["dup_frac"])
    if "embeddings" in rows:
        tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    if "lineitem" in rows:
        n_cust, n_part, n_supp = (rows["customer"], rows["part"], rows["supplier"])
        tables["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        tables["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        tables["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
            "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                        "BUILDING", "HOUSEHOLD"], size=n_cust).tolist()})
        tables["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2))})
        adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
        noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
        tables["part"] = pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       rng.integers(0, 8, size=(n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                                  "MEDIUM", "PROMO"], size=n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2))})
        tables["lineitem"] = _lineitem(rng, rows["lineitem"], rows["orders"],
                                       n_part, n_supp)
    if "orders" in rows:
        tables["orders"] = _orders(rng, rows["orders"], rows.get("customer", 15000))
    for name, table in tables.items():
        # dimension tables stay single files, like the replicated twins
        _write(out_dir, name, table, 1 if name in ("region", "nation") else files)
        path = os.path.join(out_dir, f"{name}.parquet")
        paths = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        manifest["tables"][name] = {
            "rows": table.num_rows, "files": len(paths),
            "bytes": sum(os.path.getsize(p) for p in paths)}
    return manifest


if __name__ == "__main__":
    import json
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])["tables"]))
