"""Deterministic synthetic fixture for the benchmark.

Writes the ten tables the registry queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value domains listed in FIXTURES.md:
TPC-H-like star tables, a month of events with microsecond timestamps,
a 30-word document corpus with injected near and exact duplicates, and
unit-norm 64-d float embeddings.

Every workload reads the same scale, made from one fixed data seed, so
two runs write byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# Scale factor and data seed of the fixture. The workload seed only
# orders the queries; it never changes the data.
SF = 0.01
SEED = 42


def _days(rng, n, start, end):
    """n naive midnight timestamps, uniform over [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(docs=None):
    """Yield (name, {column: array}) for every table at scale SF;
    `docs` overrides the documents and embeddings row counts."""
    rng = np.random.default_rng(SEED)
    n_cust = max(1, int(150_000 * SF))
    n_supp = max(1, int(10_000 * SF))
    n_part = max(1, int(200_000 * SF))
    n_ord = max(1, int(1_500_000 * SF))
    n_line = max(1, int(6_000_000 * SF))
    n_ev = max(1, int(1_000_000 * SF))
    n_doc = docs or max(500, int(50_000 * SF))
    n_emb = docs or max(500, int(20_000 * SF))

    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    adj = np.array("blue old small new red large hot cold".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array("LARGE ECONOMY STANDARD SMALL MEDIUM PROMO"
                           .split())[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)}
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array("AUTOMOBILE BUILDING FURNITURE HOUSEHOLD "
                                 "MACHINERY".split())[
            rng.integers(0, 5, n_cust)].tolist()}
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)].tolist()}
    flags = rng.integers(0, 6, n_line)
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2].tolist(),
        "l_linestatus": np.array(["O", "F"])[flags % 2].tolist(),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))}
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    yield "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, month_us, n_ev)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev,
                                dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB),
                                         rng.integers(10, 101))])
             for _ in range(n_doc)]
    # 5% near duplicates (an earlier document plus one token) and a few
    # exact copies, so the dedup kernels have clusters to find.
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600),
                        replace=False):
        texts[i] = texts[rng.integers(0, i)]
    doc_id = np.arange(n_doc, dtype=np.int64)
    yield "documents", {
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    yield "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}


def generate(out, docs=None):
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(docs):
        _write(out, name, cols)
    return out
