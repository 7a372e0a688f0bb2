"""Seeded generator for the benchmark's input tables.

Writes the ten tables `graft.Tables` reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the schemas and value domains of the project's
deterministic testdata: TPC-H-like star schema, an event stream with
`{"k": n}` props, a token-vocabulary document corpus in which about 5% of
docs repeat an earlier doc plus one token (the near-duplicates the dedup
queries find), and unit-norm 64-d float embeddings with a class label.

For the maintain workload it also writes a seeded commit stream: batch 0
bootstraps the corpus, every later batch inserts new docs and rewrites
the text of already-committed ones (an upsert stream; the corpus table's
merge is upsert-only), and `arrivals_<i>` holds the docs probed after
commit i.

The same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark join hash row batch scan column customer filter small "
         "slow merge order vector line table data agg key stream window part "
         "group big sort query fast value").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _dates(rng, n, first, days):
    day = rng.integers(0, days, n)
    return pa.array((np.datetime64(first, "us") + day * np.timedelta64(1, "D")),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n, prior=()):
    """n texts of 10..99 vocabulary tokens; ~5% copy an earlier text
    (from `prior` or this batch) and append the token `dup`."""
    out = []
    pool = list(prior)
    for _ in range(n):
        if pool and rng.random() < 0.05:
            out.append(pool[rng.integers(0, len(pool))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            out.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
        pool.append(out[-1])
    return out


def _documents(rng, ids, texts):
    ids = np.asarray(ids, dtype=np.int64)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def tables(out, seed, sf, n_docs, n_emb):
    """Write the ten base tables at scale `sf` (orders = 1.5M * sf)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2499)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _documents(rng, range(n_docs), doc_texts(rng, n_docs)))
    e = rng.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def commit_stream(out, seed, n_boot, n_commits, n_insert, n_update, n_arrive):
    """Write the maintain workload's commit stream under `out`:
    `commit_0` (n_boot docs), `commit_1..n` (n_insert new docs plus
    n_update rewrites of committed docs each) and `arrivals_0..n`
    (n_arrive docs probed after each commit: half re-sent committed
    texts, half fresh). Returns the list of commit batches as
    (doc_ids, texts) for the replay check."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    live = {}
    batches = []
    next_id = 0

    def emit(name, ids, texts):
        _write(out, name, _documents(rng, ids, texts))

    for i in range(n_commits + 1):
        if i == 0:
            ids = list(range(n_boot))
            texts = doc_texts(rng, n_boot)
            next_id = n_boot
        else:
            ids = list(range(next_id, next_id + n_insert))
            next_id += n_insert
            committed = sorted(live)
            upd = sorted(rng.choice(committed, n_update, replace=False).tolist())
            ids += upd
            texts = doc_texts(rng, n_insert, prior=list(live.values()))
            # an update rewrites the doc: half get fresh text, half keep
            # their text with one more token (a near-duplicate of the old)
            texts += [live[d] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
                      if rng.random() < 0.5 else doc_texts(rng, 1)[0] for d in upd]
        emit(f"commit_{i}", ids, texts)
        batches.append((ids, texts))
        live.update(zip(ids, texts))
        committed = sorted(live)
        half = n_arrive // 2
        old = rng.choice(committed, half, replace=False).tolist()
        arr_ids = list(range(10_000_000 + i * n_arrive, 10_000_000 + (i + 1) * n_arrive))
        arr_texts = [live[d] for d in old] + doc_texts(rng, n_arrive - half)
        emit(f"arrivals_{i}", arr_ids, arr_texts)
    return batches
