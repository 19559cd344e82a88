"""Seeded input generator for the graft benchmark.

Every table graft reads is generated here from one seed, with the column
names, types and value ranges of the repository's synthetic test corpus
(a TPC-H-like star schema plus `events`, `documents` and `embeddings`).
The same seed always gives byte-identical parquet files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table column row key value hash join merge sort "
         "group agg filter scan query window stream batch vector part "
         "customer order line big small fast slow").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "dark"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# the message clock: the stream's first incremental batch starts here
T0_US = 1_709_251_200 * 1_000_000  # 2024-03-01T00:00:00Z


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def documents(rng, n, lo=10, hi=99, dup_share=0.05):
    """doc_id, text, lang, source, n_chars. A `dup_share` of rows are
    near-duplicates of an earlier row (its text plus a trailing "dup"),
    so the dedup stages have clusters to find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, lo, hi))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, n)
    x = rng.normal(size=(n, dim)) + 1.2 * centers[lab]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    })


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    })


def events(rng, n, users):
    start = 1_704_067_200 * 1_000_000  # 2024-01-01
    ts = np.sort(rng.integers(start, start + 30 * 86400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def star(rng, sf):
    """The ten tables at scale factor `sf` (row counts as the test corpus:
    lineitem 6M x sf, documents 50k x sf, ...)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    day = 86400 * 1_000_000
    d95 = 788_918_400 * 1_000_000  # 1995-01-01
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": customers(rng, n_cust),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PTYPES[i] for i in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array([("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": _ts(d95 + rng.integers(0, 2404, n_ord) * day),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(901, 105000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array([("R", "A", "N")[i] for i in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(d95 + rng.integers(1, 2500, n_li) * day)}),
        "events": events(rng, int(1_000_000 * sf), max(1, n_cust // 10)),
        "documents": documents(rng, int(50_000 * sf)),
        "embeddings": embeddings(rng, min(int(50_000 * sf), 2000)),
    }
    return t


def write_tables(d, tables):
    os.makedirs(d, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(d, f"{name}.parquet"))


def _reply_shaped(i):
    # IngestJob's #EDIT rule: a reply id is event_id % 7 == 0 && % 10 != 0
    return i % 7 == 0 and i % 10 != 0


def kb_stream(rng, d, history=60, batches=80, per_batch=4, edit_every=3):
    """The bot's message stream for `kb_ingest`.

    Message text is documents[event_id % 500], so every id stays below 500
    and each message has its own documents row. Messages are short enough
    (8-15 words) to be one chunk at the default chunk size 20 and overlap
    5, so a message's text is its chunk text.
    Plain messages never take reply-shaped ids; every `edit_every`-th batch
    (from the first) adds one #EDIT reply to an older, not yet edited
    parent (an id % 10 == 0) and rewrites that parent's documents row.
    Writes d/customer.parquet, d/stream/docs_<v>.parquet,
    d/stream/batch_<i>.parquet (batch 0 is the history) and
    d/stream/manifest.json."""
    os.makedirs(f"{d}/stream", exist_ok=True)
    pq.write_table(customers(rng, 1500), f"{d}/customer.parquet")
    docs = documents(rng, 500, lo=8, hi=15, dup_share=0.0)
    texts = docs.column("text").to_pylist()
    ids = (i for i in range(500) if not _reply_shaped(i))
    hour = 3600 * 1_000_000
    manifest, version, edited = [], 0, set()
    pq.write_table(docs, f"{d}/stream/docs_0.parquet")
    for b in range(batches + 1):
        n = history if b == 0 else per_batch
        lo = T0_US - 24 * hour if b == 0 else T0_US + (b - 1) * hour
        span = 24 * hour if b == 0 else hour
        msg = [next(ids) for _ in range(n)]
        edit = None
        if b > 0 and (b - 1) % edit_every == 0:
            older = [m["ids"] for m in manifest]
            parents = [p for ms in older for p in ms if p % 10 == 0 and p not in edited]
            p = parents[int(rng.integers(0, len(parents)))]
            r = next(r for r in range(1, 10) if (p + r) % 7 == 0)
            edited.add(p)
            texts[p] = _text(rng, 8, 15)
            version += 1
            pq.write_table(docs.set_column(1, "text", pa.array(texts)).set_column(
                4, "n_chars", pa.array([len(t) for t in texts], type=pa.int64())),
                f"{d}/stream/docs_{version}.parquet")
            edit = {"parent": p, "reply": p + r, "text": texts[p]}
            msg.append(p + r)
        ts = np.sort(rng.integers(lo + 1_000_000, lo + span, len(msg)))
        tb = pa.table({
            "event_id": pa.array(np.array(msg, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, len(msg)).astype(np.int64)),
            "event_type": pa.array(["view"] * len(msg)),
            "value": pa.array(np.round(rng.exponential(50.0, len(msg)), 2)),
            "props": pa.array(['{"k": 0}'] * len(msg)),
        })
        pq.write_table(tb, f"{d}/stream/batch_{b}.parquet")
        newest = msg[int(np.argmax(ts))]
        manifest.append({
            "batch": b, "ids": msg, "docs_version": version,
            "last_run_s": (lo // 1_000_000), "edit": edit,
            "newest": newest, "newest_text": texts[newest]})
    with open(f"{d}/stream/manifest.json", "w") as f:
        json.dump(manifest, f)
