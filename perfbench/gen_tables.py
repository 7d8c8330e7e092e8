"""Deterministic input tables for the `battery` workload.

Writes the ten parquet tables the headline queries read
(`<out>/<table>.parquet`) in the shape of the project's TPC-H-ish test
data, as measured on its sf0.001, sf0.01 and sf0.1 tables: the same row
counts per scale, column names, parquet types and value domains, and the
same statistics the curation and session queries depend on:
  - documents: 500 at sf <= 0.01, 5000 at sf0.1; 10-99 words each, drawn
    uniformly from 30 words; one document in twenty is a copy of another
    with the word "dup" appended (a copy of a copy carries it twice). So
    every ordinary word sits in ~78% of the documents and only "dup" passes
    q_tfidf's document-frequency cap, as in the test data;
  - embeddings: 64-dim unit vectors drawn isotropically, with a label
    0-9 drawn independently of the vector (the test data's vectors share
    no direction within a label: mean same-label cosine 0.002);
  - events: time-ordered over 30 days, one user per ten customers.

The tables depend only on the scale and on DATA_SEED, never on the
benchmark's --seed, so every run reads the same bytes and the pinned row
counts in pinned.json hold. Usage: python3 gen_tables.py <out_dir> <scale>
"""

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

# rows per table at scale 1.0 (documents/embeddings have a floor, as in the
# test data, so the curation queries always see a few hundred rows)
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
}
MIN_DOCS = 500
MIN_VECS = 500
VOCAB = ("a the spark stream batch table row column key value hash join "
         "group agg sort merge filter scan query data window line part order "
         "customer vector fast slow big small").split()
PART_ADJ = "large hot blue red small old green cold".split()
PART_NOUN = "ring bolt widget gear gizmo plate nut spring".split()


def ts_column(micros):
    return pa.array(np.asarray(micros, dtype="int64"), type=pa.timestamp("us"))


def day_micros(rng, n, start, end):
    """Random midnight timestamps in [start, end] as epoch micros."""
    span = (end - start).days
    days = rng.integers(0, span + 1, n)
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return base + days.astype("int64") * 86_400_000_000


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    langs = np.array(["en", "zh", "de", "fr", "es"])
    lang_p = [0.41, 0.15, 0.14, 0.15, 0.15]
    texts = [" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(n)]
    # one document in twenty becomes a near duplicate of another one
    for i in rng.choice(n, n // 20, replace=False):
        j = rng.integers(0, n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.choice(len(langs), n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype("int32")
    vecs = rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def generate(out, scale):
    rng = np.random.default_rng(DATA_SEED)
    rows = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(regions)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})

    nc = rows["customer"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, nc)])})

    ns = rows["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})

    npart = rows["part"]
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype="int64")),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), npart), rng.integers(0, len(PART_NOUN), npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(types[rng.integers(0, len(types), npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2))})

    no = rows["orders"]
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": ts_column(day_micros(
            rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)])})

    nl = rows["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": ts_column(day_micros(
            rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)))})

    ne = rows["events"]
    start = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    write(out, "events", {
        "event_id": pa.array(np.arange(ne, dtype="int64")),
        "ts": ts_column(ts),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne).astype("int64")),
        "event_type": pa.array(kinds[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    write(out, "documents", documents(rng, max(MIN_DOCS, int(round(50_000 * scale)))))
    write(out, "embeddings", embeddings(rng, max(MIN_VECS, int(round(20_000 * scale)))))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
