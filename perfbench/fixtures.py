"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the sizes passed in, so
the same seed always yields byte-identical inputs. The tables follow the
schemas of the engine's parquet corpus (FIXTURES.md section 1); the shard
files follow the shardsim record format
(`seq \\t partitionKey \\t arrivalMicros \\t data`).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SHARDS = 4
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EPOCH_2024_US = 1704067200 * 1_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ts_us(days_from, days_to, n, rng, base=dt.datetime(1995, 1, 1)):
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    days = rng.integers(days_from, days_to, n)
    return pa.array(base_us + days.astype(np.int64) * 86_400_000_000,
                    pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]


def write_tables(out_dir, seed, sf):
    """The ten corpus tables at scale factor `sf` (sf0.1 = 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    r = _rng(seed, 1)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            r.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "large", "hot", "cold", "red", "blue", "old", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(0, 2404, n_ord, r),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(1, 2499, n_li, r)})
    ev = events(seed, n_ev, n_users=max(150, int(15_000 * sf)))
    _write(out_dir, "events", {
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts_us"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"]})
    r = _rng(seed, 2)
    texts = doc_texts(r, n_doc)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})


def events(seed, n, n_users=1500, first_id=0, stream=3):
    """`n` events with ids first_id.. re-keyed by a seeded permutation of
    user ids; timestamps increase through January 2024."""
    r = _rng(seed, stream)
    gaps = r.integers(1, 50_000_000, n)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": EPOCH_2024_US + np.cumsum(gaps) % (30 * 86_400_000_000),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }


def event_payloads(ev):
    """The shardsim `data` JSON of each event (ShardSimFixture's layout)."""
    return [json.dumps({"event_id": int(e), "user_id": int(u),
                        "event_type": str(t), "value": float(v),
                        "ts_us": int(ts), "props": str(p)},
                       separators=(",", ":"))
            for e, u, t, v, ts, p in zip(ev["event_id"], ev["user_id"],
                                         ev["event_type"], ev["value"],
                                         ev["ts_us"], ev["props"])]


def shard_lines(shard_of, pks, arrivals, payloads, start):
    """Group records by shard; returns {shard: [line, ...]} with per-shard
    sequence numbers continuing from `start[shard]`."""
    out = {k: [] for k in range(N_SHARDS)}
    nxt = dict(start)
    for s, pk, a, d in zip(shard_of, pks, arrivals, payloads):
        s = int(s)
        out[s].append(f"{nxt[s]:012d}\t{pk}\t{int(a)}\t{d}\n")
        nxt[s] += 1
    return out


def write_shards(shard_dir, lines_by_shard):
    os.makedirs(shard_dir, exist_ok=True)
    for k, lines in lines_by_shard.items():
        with open(os.path.join(shard_dir, f"shard-{k}.tsv"), "w") as f:
            f.writelines(lines)


def backlog_events(seed, n):
    return events(seed, n, stream=4)


def tail_events(seed, n, first_id):
    return events(seed, n, first_id=first_id, stream=5)


def write_event_shards(shard_dir, ev):
    """Event records sharded by user_id mod N_SHARDS; arrival = event ts.
    Returns the per-shard record counts."""
    shard_of = ev["user_id"] % N_SHARDS
    lines = shard_lines(shard_of, ev["user_id"], ev["ts_us"],
                        event_payloads(ev), {k: 0 for k in range(N_SHARDS)})
    write_shards(shard_dir, lines)
    return {k: len(v) for k, v in lines.items()}


def doc_stream(seed, n_base, n_exact, n_near, n_null, n_eval, batch_docs):
    """The ingest_dedup input: `n_base` random documents plus seed-chosen
    exact copies and near variants (one word appended) of earlier docs,
    `n_null` docs with a NULL text, all placed in the last full batch of
    `batch_docs` docs, and an eval set of `n_eval` copies of base docs.
    Doc ids are a seeded permutation, so copies and variants land in random
    batches. Returns (docs, pairs, eval_docs): docs in delivery order as
    (doc_id, text-or-None), pairs as (base_id, copy_id) of every planted
    duplicate."""
    r = _rng(seed, 6)
    base = doc_texts(r, n_base)
    n = n_base + n_exact + n_near + n_null
    ids = r.permutation(np.arange(1_000, 1_000 + 4 * n))[:n].astype(np.int64)
    docs = [(int(ids[i]), base[i]) for i in range(n_base)]
    pairs = []
    src = r.choice(n_base, n_exact + n_near, replace=False)
    for j, b in enumerate(src):
        text = base[b] if j < n_exact else \
            base[b] + " " + WORDS[int(r.integers(0, len(WORDS)))]
        docs.append((int(ids[n_base + j]), text))
        pairs.append((int(ids[b]), int(ids[n_base + j])))
    docs = [docs[i] for i in r.permutation(len(docs))]
    if n_null:
        # the NULLs go to seed-chosen slots of the last full batch, so every
        # seed quarantines the same batch position
        last = (len(docs) + n_null) // batch_docs - 1
        at = sorted(r.choice(batch_docs, n_null, replace=False) + last * batch_docs)
        for j, pos in enumerate(at):
            docs.insert(int(pos), (int(ids[n - n_null + j]), None))
    ev_src = r.choice(n_base, n_eval, replace=False)
    eval_docs = [(int(10_000_000 + i), base[b]) for i, b in enumerate(ev_src)]
    return docs, pairs, eval_docs


def warm_docs(seed, round_no, n):
    """The small batch one set-up round of ingest_dedup appends."""
    texts = doc_texts(_rng(seed, 100 + round_no), n)
    return [(50_000_000 + 1_000 * round_no + i, t) for i, t in enumerate(texts)]


def write_doc_shards(shard_dir, docs, start=None):
    """Docs dealt round-robin over the shards, sequence numbers continuing
    from `start` (default 0). Returns the per-shard record counts."""
    start = start or {k: 0 for k in range(N_SHARDS)}
    shard_of = [i % N_SHARDS for i in range(len(docs))]
    payloads = [json.dumps({"doc_id": d, "text": t}, separators=(",", ":"))
                for d, t in docs]
    lines = shard_lines(shard_of, [str(d) for d, _ in docs],
                        [EPOCH_2024_US] * len(docs), payloads, start)
    write_shards(shard_dir, lines)
    return {k: len(v) for k, v in lines.items()}


def write_docs_parquet(path, docs):
    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string())}), path)


def plan_batches(counts, cap):
    """Replays the shardsim source's admission control for an
    AvailableNow drain: each batch takes cap // (#shards with backlog)
    records from every shard that still has some. Returns, per batch,
    {shard: (start, end)}."""
    pos = {k: 0 for k in counts}
    batches = []
    while any(pos[k] < counts[k] for k in counts):
        live = [k for k in counts if pos[k] < counts[k]]
        per = max(1, cap // len(live))
        b = {}
        for k in live:
            end = min(counts[k], pos[k] + per)
            b[k] = (pos[k], end)
            pos[k] = end
        batches.append(b)
    return batches
