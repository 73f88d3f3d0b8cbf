"""Seeded generator of the benchmark's input tables.

Writes the TPC-H-ish star schema the library's `TpchGraph` reads (region,
nation, customer, supplier, part, orders, lineitem) plus the `documents`
and `embeddings` corpora, one parquet file each, with the column names and
types of the repository's test data. The same (seed, sizes) always yields
the same files, so the JVM under test and the DuckDB oracle read identical
bytes.

Near-duplicate documents are planted on purpose: every planted copy shares
at least ~85% of its 5-word shingles with its original and unrelated
documents share almost none, so the dedup operators' exact-verified output
has no pairs near their 0.5 Jaccard threshold.
"""
import numpy as np
import pandas as pd
import duckdb

NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = ("a the data spark batch stream join agg group sort scan hash key value "
         "row column table query filter window merge order part line customer "
         "vector fast slow big small").split()
# a long tail of rare words gives TF-IDF (which drops terms in more than
# 100 documents) something to weigh
RARE_WORDS = 3000
LANGS = ["en", "de", "fr", "es", "zh"]
EMB_DIM = 64


def sizes(scale):
    """Row counts at a scale; scale 1.0 is the sf0.1 test data's size."""
    return {
        "customer": int(15000 * scale), "supplier": max(25, int(1000 * scale)),
        "part": int(20000 * scale), "orders": int(150000 * scale),
        "documents": int(5000 * scale), "embeddings": int(2000 * scale),
    }


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, n):
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return base + rng.integers(0, 3650, n).astype("timedelta64[D]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.08:
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 40:
                # one word replaced near the end: at most 5 of >= 36 shingles change
                j = len(src) - 1 - int(rng.integers(0, 3))
                src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
            continue
        k = int(rng.integers(12, 80))
        common = rng.integers(0, len(WORDS), k)
        rare = rng.integers(0, RARE_WORDS, k)
        texts.append(" ".join(WORDS[c] if rng_u < 0.7 else f"w{r}" for c, r, rng_u
                              in zip(common, rare, rng.random(k))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[x] for x in rng.integers(0, len(LANGS), n)],
        "source": [f"src{x}" for x in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir, seed, scale):
    """Write every table under `out_dir`; returns the row count per table."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": (np.arange(NATIONS) % 5).astype(np.int32)})
    nc = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, NATIONS, nc).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[x] for x in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, NATIONS, ns).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    adj = ["large", "hot", "blue", "small", "red", "cold"]
    noun = ["ring", "bolt", "gear", "pipe", "valve"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, npart), rng.integers(0, 5, npart))],
        "p_brand": [f"Brand#{x}" for x in rng.integers(1, 26, npart)],
        "p_type": [["LARGE", "ECONOMY", "SMALL", "PROMO", "STANDARD"][x]
                   for x in rng.integers(0, 5, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": _cents(rng, 900, 2000, npart)})
    no = n["orders"]
    # two thirds of the customers place orders, as in TPC-H
    buyers = rng.choice(nc, size=max(1, (2 * nc) // 3), replace=False)
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": buyers[rng.integers(0, len(buyers), no)].astype(np.int64),
        "o_orderstatus": [["O", "F", "P"][x] for x in rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000, 400000, no),
        "o_orderdate": _days(rng, no),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][x] for x in rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [["A", "N", "R"][x] for x in rng.integers(0, 3, nl)],
        "l_linestatus": [["O", "F"][x] for x in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl)})
    t["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    emb = (centers[labels] + rng.normal(0, 1.5, (ne, EMB_DIM))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": [row.tolist() for row in emb],
        "label": labels.astype(np.int32)})

    con = duckdb.connect()
    for name, df in t.items():
        con.register("src", df)
        sel = ("SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label FROM src"
               if name == "embeddings" else "SELECT * FROM src")
        con.execute(f"COPY ({sel}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()
    return {name: len(df) for name, df in t.items()}
