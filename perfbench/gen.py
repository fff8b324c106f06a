"""Seeded input generators. The same seed gives the same inputs.

Orders CSVs follow the pipeline's canonical input (OrderId, CustomerId,
Amount, OrderDate); the tables follow the TPC-H-like schema the query
surface reads (see FIXTURES.md §6), with the documents corpus shared by
the text queries and the streaming ingest.
"""
import datetime
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def amount_category(cents):
    """The Transform step's CASE buckets: < 50 Low, < 200 Medium, else High."""
    return "Low" if cents < 5000 else "Medium" if cents < 20000 else "High"


def _money(cents):
    return f"{cents // 100}.{cents % 100:02d}"


def _write_orders_csv(path, ids, cust, cents, days):
    start = datetime.date(2024, 1, 1)
    with open(path, "w") as f:
        f.write("OrderId,CustomerId,Amount,OrderDate\n")
        for i, c, a, d in zip(ids, cust.tolist(), cents.tolist(), days.tolist()):
            f.write(f"{i},C{c},{_money(a)},{start + datetime.timedelta(days=d)}\n")


def orders(seed, out, n_bulk, n_upsert, n_files, n_warm):
    """A bulk file, `n_files` upsert files (half updates of existing
    order ids, half new ids; no id twice in one file) and a warm-up file
    with its own ids. Returns the expected target after the bulk load
    and after each upsert: {upserts applied: {rows, checksum}}, the
    checksum being the order-independent sum of CRC-32s over
    (order_id, amount, amount_category) after last-writer-wins per key."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    final, expected = {}, {}
    checksum = 0
    next_id = 0

    def crc(key, cents):
        return zlib.crc32(f"{key}|{_money(cents)}|{amount_category(cents)}".encode())

    def new_ids(n, prefix="ORD"):
        nonlocal next_id
        ids = [f"{prefix}-{i:08d}" for i in range(next_id, next_id + n)]
        next_id += n
        return ids

    def write(name, ids, track):
        nonlocal checksum
        cust, cents, days = rng.integers(1, 2001, len(ids)), rng.integers(100, 100000, len(ids)), \
            rng.integers(0, 400, len(ids))
        _write_orders_csv(os.path.join(out, name), ids, cust, cents, days)
        if track:
            for k, c in zip(ids, cents.tolist()):
                if k in final:
                    checksum -= crc(k, final[k])
                final[k] = c
                checksum += crc(k, c)

    write("bulk.csv", new_ids(n_bulk), True)
    expected[0] = {"rows": len(final), "checksum": checksum}
    keys = list(final)
    for k in range(1, n_files + 1):
        upd = [keys[j] for j in rng.choice(len(keys), n_upsert // 2, replace=False)]
        ins = new_ids(n_upsert - n_upsert // 2)
        keys += ins
        ids = upd + ins
        write(f"upsert_{k:02d}.csv", [ids[j] for j in rng.permutation(len(ids))], True)
        expected[k] = {"rows": len(final), "checksum": checksum}
    write("warm.csv", new_ids(n_warm, "WRM"), False)
    return expected


def documents(rng, n):
    """Short texts over a small vocabulary; about 5% are an earlier
    document plus a trailing word (near-duplicates) and 0.2% exact
    copies. Returns the table and the planted (earlier, copy) id pairs."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens.tolist():
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    pairs = []
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[j]
        else:
            continue
        pairs.append((j, i))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), pairs


def stream(seed, out, n_docs, n_batches):
    """The stream corpus with a `batch` column: a seeded shuffle split
    into `n_batches` equal micro-batches. Returns the planted
    near-duplicate and exact-copy (earlier, copy) id pairs."""
    rng = np.random.default_rng(seed + 1)
    docs, pairs = documents(rng, n_docs)
    batch = np.empty(n_docs, dtype=np.int64)
    batch[rng.permutation(n_docs)] = np.arange(n_docs) % n_batches
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs.append_column("batch", pa.array(batch)), os.path.join(out, "docs.parquet"))
    return pairs


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _money_col(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def tables(seed, out, sf):
    """The query surface's tables at scale factor `sf` (sf 0.1: 600k
    lineitems, 5k documents)."""
    rng = np.random.default_rng(seed + 2)
    os.makedirs(out, exist_ok=True)
    n_c, n_s, n_p = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_o, n_l, n_e = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_d, n_v = int(50000 * sf), max(500, int(20000 * sf))
    day = 86400 * 10**6
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    t = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": i64(np.arange(n_c)), "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": i32(rng.integers(0, 25, n_c)), "c_acctbal": _money_col(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_c)}),
        "supplier": pa.table({
            "s_suppkey": i64(np.arange(n_s)), "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": i32(rng.integers(0, 25, n_s)), "s_acctbal": _money_col(rng, -999.99, 9999.99, n_s)}),
        "part": pa.table({
            "p_partkey": i64(np.arange(n_p)),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["small", "large", "medium"], n_p),
                                                 rng.choice(["ring", "bolt", "gear", "plate"], n_p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 6, n_p)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_p),
            "p_size": i32(rng.integers(1, 51, n_p)), "p_retailprice": _money_col(rng, 900, 2000, n_p)}),
        "orders": pa.table({
            "o_orderkey": i64(np.arange(n_o)), "o_custkey": i64(rng.integers(0, n_c, n_o)),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_o), "o_totalprice": _money_col(rng, 1000, 500000, n_o),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_o) * day),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_o, n_l)), "l_partkey": i64(rng.integers(0, n_p, n_l)),
            "l_suppkey": i64(rng.integers(0, n_s, n_l)), "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": _money_col(rng, 900, 105000, n_l),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], n_l), "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_l) * day)}),
        "events": pa.table({
            "event_id": i64(np.arange(n_e)), "ts": _ts("2024-01-01", rng.integers(0, 30 * day, n_e)),
            "user_id": i64(rng.integers(0, max(1, n_c // 10), n_e)),
            "event_type": rng.choice(["error", "view", "purchase", "signup", "click"], n_e),
            "value": _money_col(rng, 0, 560, n_e), "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
        "documents": documents(rng, n_d)[0],
    }
    emb = rng.standard_normal((n_v, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_v)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_v))})
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))
