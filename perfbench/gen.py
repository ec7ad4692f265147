"""Seeded input generators for the benchmark.

Two families:

* ``tables(out, sf, seed)`` writes the ten fixture tables the queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), each one parquet file, with the schema and value domains of
  the TPC-H-ish fixtures the engine is tested on. The ROW MULTISET is drawn
  from a fixed content seed, so a query's order-insensitive result is the
  same for every ``seed``; ``seed`` permutes row order and row-group layout,
  which is what changes from run to run. That is what lets result hashes be
  pinned once and checked on every run.
* ``corpus(out, kind, n_docs, n_vecs, k, seed)`` writes the same ten tables
  with ``documents``/``embeddings`` replaced by a text corpus of ``n_docs``
  rows and a vector set of ``n_vecs`` rows. ``kind="dups"``: every text and
  every vector appears exactly ``k`` times. ``kind="distinct"``: the same
  rows, but each copy gets a per-copy token perturbation and vector jitter,
  so nothing repeats. Both kinds have the same row counts.

Everything is numpy + pyarrow; nothing is read from outside ``out``.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101  # fixes the row multiset; never the run seed

VOCAB = ("a the data table column row value key query scan filter join "
         "group agg sort order window stream batch merge hash part line "
         "customer vector spark big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVTYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _days(rng, lo, hi, n):
    lo = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Random texts over VOCAB, 10..100 words; 5% are an earlier text plus
    the token `dup` (the fixtures' near-duplicate shape)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            out[i] = out[rng.integers(0, i)] + " dup"
    return out


def _docs_table(ids, texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32)),
            flat),
        "label": pa.array(labels, pa.int32()),
    })


def base_tables(sf):
    """The fixed row multiset at scale factor `sf` (seed-independent)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = max(15, int(150000 * sf)), max(10, int(10000 * sf))
    n_part, n_ord = max(20, int(200000 * sf)), max(150, int(1500000 * sf))
    n_line, n_ev = max(600, int(6000000 * sf)), max(100, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIOS, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line),
                               pa.timestamp("us"))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVTYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _docs_table(np.arange(n_docs), _texts(rng, n_docs), rng)
    t["embeddings"] = _emb_table(np.arange(n_vecs), _unit_vectors(rng, n_vecs),
                                 rng.integers(0, 10, n_vecs))
    return t


def _perturb(text, copy, rng):
    """Copy `copy` of a text, made distinct: copy 0 is the text itself;
    copy j > 0 replaces two seeded token positions and appends the copy
    marker `vN`, so no two copies of any text coincide."""
    if copy == 0:
        return text
    ws = text.split()
    for p in rng.integers(0, len(ws), 2):
        ws[p] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(ws) + f" v{copy}"


def corpus_tables(kind, n_docs, n_vecs, k):
    """Fixed row multiset of a text-dedup corpus: base tables at sf 0.001
    plus `n_docs` documents and `n_vecs` embeddings where each of
    n/k base rows has k copies, verbatim (`dups`) or perturbed
    (`distinct`)."""
    assert kind in ("dups", "distinct") and n_docs % k == 0 and n_vecs % k == 0
    t = base_tables(0.001)
    rng = np.random.default_rng(CONTENT_SEED + 1)
    seen = set()
    base = []
    for i, x in enumerate(_texts(rng, n_docs // k)):
        base.append(x if x not in seen else f"{x} u{i}")  # unique bases
        seen.add(base[-1])
    texts = [base[i // k] if kind == "dups" else _perturb(base[i // k], i % k, rng)
             for i in range(n_docs)]
    t["documents"] = _docs_table(np.arange(n_docs), texts, rng)
    bv = _unit_vectors(rng, n_vecs // k)
    vecs = np.repeat(bv, k, axis=0)
    if kind == "distinct":
        jit = 0.02 * rng.standard_normal(vecs.shape)
        jit[::k] = 0.0  # copy 0 keeps the base vector
        vecs = vecs + jit
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = np.repeat(rng.integers(0, 10, n_vecs // k), k)
    t["embeddings"] = _emb_table(np.arange(n_vecs), vecs, labels)
    return t


def dup_share(values):
    """Share of rows whose value already appeared in an earlier row."""
    return 1.0 - len(set(values)) / len(values)


def write(tables, out, seed):
    """Write `tables` under `out`, each as `<name>.parquet`, rows in a
    seeded permutation and split into a seeded number of row groups."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        tbl = tables[name]
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        groups = int(rng.integers(1, 4))
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, -(-tbl.num_rows // groups)))


def tables(out, sf, seed):
    write(base_tables(sf), out, seed)


def corpus(out, kind, n_docs, n_vecs, k, seed):
    t = corpus_tables(kind, n_docs, n_vecs, k)
    write(t, out, seed)
    emb = t["embeddings"].column("embedding").to_pylist()
    shares = {
        "dup_text_share": dup_share(t["documents"].column("text").to_pylist()),
        "dup_vector_share": dup_share([tuple(e) for e in emb]),
    }
    with open(os.path.join(out, "corpus.json"), "w") as f:
        json.dump(shares, f)
    return shares
