"""Correctness checks of the benchmark's workload outputs.

Each check returns failures per operation, so `failed` counts operations:
a record not delivered exactly once with its payload (consume), a document
that lands wrongly (ingest_dedup), a query run that threw or whose result
does not match (query_mix).
"""
import hashlib
import json
import os
import re
import sys

import duckdb

import fixtures


def check(workload, res, info, top, seed):
    fn = {"consume": check_consume, "ingest_dedup": check_ingest,
          "query_mix": check_query_mix}[workload]
    out = fn(res, info, top, seed)
    out["failed"] = len(out["failures"])
    return out


# --------------------------------------------------------------- consume

def expected_records(info):
    """(shardId, sequenceNumber) -> payload tuple for backlog and tail."""
    exp = {}

    def add(ev, start):
        nxt = dict(start)
        for e, u, t, v, ts in zip(ev["event_id"], ev["user_id"],
                                  ev["event_type"], ev["value"], ev["ts_us"]):
            s = int(u) % fixtures.N_SHARDS
            exp[(f"shard-{s}", f"{nxt[s]:012d}")] = (int(e), int(u), str(t),
                                                     float(v), int(ts))
            nxt[s] += 1
    tail = info["tail"]
    add(fixtures.backlog_events(tail["seed"], info["backlog"]),
        {k: 0 for k in range(fixtures.N_SHARDS)})
    add(fixtures.tail_events(tail["seed"], tail["records"], tail["first_id"]),
        {int(k): v for k, v in tail["start"].items()})
    return exp


def delivery_failures(rows, exp):
    """Every expected record exactly once with its payload; nothing else."""
    failures = []
    seen = {}
    for key, payload in rows:
        seen.setdefault(key, []).append(payload)
    for key, want in exp.items():
        got = seen.get(key, [])
        if len(got) != 1:
            failures.append(f"record {key} delivered {len(got)} times")
        elif got[0] != want:
            failures.append(f"record {key} payload {got[0]} != {want}")
    failures += [f"unexpected record {k}" for k in seen if k not in exp]
    return failures


def consume_rows(out_dir):
    con = duckdb.connect()
    return con.execute(
        "SELECT shardId, sequenceNumber, event_id, user_id, event_type, "
        "value, epoch_us(ts), epoch_us(approximateArrivalTimestamp), batch_id "
        f"FROM read_parquet('{out_dir}/batch_id=*/*.parquet', "
        "hive_partitioning = true)").fetchall()


def check_consume(res, info, top, seed):
    exp = expected_records(info)
    tail = info["tail"]
    out = {"failures": [], "attempted": len(exp), "backlog": info["backlog"],
           "tail_records": tail["records"]}
    for tag in ("plain", "traced"):
        if tag not in res:
            continue
        run = res[tag]
        rows = consume_rows(run["out"])
        fails = delivery_failures(
            [((r[0], r[1]), (r[2], r[3], r[4], r[5], r[6])) for r in rows], exp)
        out["failures"] += [f"{tag}: {f}" for f in fails]
        with open(run["tailgen"]) as f:
            gen = json.load(f)
        if gen["records"] != tail["records"]:
            out["failures"].append(f"{tag}: generator wrote {gen['records']}")
        end_ms = {b["batch_id"]: b["end_ms"] for b in run["batches"]
                  if b["phase"] == "tail"}
        tail_first = tail["first_id"]
        lat = [end_ms[r[8]] - r[7] / 1000.0 for r in rows
               if r[2] >= tail_first and r[8] in end_ms]
        if len(lat) != tail["records"]:
            out["failures"].append(
                f"{tag}: {len(lat)} of {tail['records']} tail records matched "
                "a tail batch")
        out[tag] = {"tail_latency_ms": lat, "records": len(exp),
                    "generator": gen}
    return out


# ---------------------------------------------------------- ingest_dedup

def doc_outputs(corpus):
    con = duckdb.connect()

    def ids(sub):
        path = os.path.join(corpus, sub)
        if not os.path.isdir(path) or not any(
                n.startswith("batch_id=") for n in os.listdir(path)):
            return []
        return [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{path}/batch_id=*/*.parquet')"
        ).fetchall()]
    return {"corpus": ids(""), "quarantine": ids("quarantine"),
            "contaminated": ids("contaminated")}


def shingles(text, k=5):
    """Distinct k-token shingles, tokens split on [^a-z0-9]+ of the
    lower-cased text (the engine's shingle_hashes, before hashing)."""
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def expected_routing(info, min_frac=0.1):
    """Where every input doc must land: 'quarantine' for the docs of a batch
    with a NULL text, else, for a doc the dedup admits, 'contaminated' when
    at least `min_frac` of its shingles occur in the eval set and 'corpus'
    otherwise; None for a doc the dedup rejects. Of a planted duplicate
    pair, the member in the earlier batch is admitted (the smaller id when
    both share a batch); the later one is rejected unless the admitted one
    went to contaminated/, which is not corpus."""
    docs = info["docs"]
    by_pos = {}
    for i, (d, t) in enumerate(docs):
        by_pos[(i % fixtures.N_SHARDS, i // fixtures.N_SHARDS)] = d
    batch_of = {}
    for b, ranges in enumerate(info["batches"]):
        for shard, (lo, hi) in ranges.items():
            for j in range(lo, hi):
                batch_of[by_pos[(int(shard), j)]] = b
    texts = dict(docs)
    bad_batches = {batch_of[d] for d, t in docs if t is None}
    eval_sh = set().union(*(shingles(t) for _, t in info["eval"]))

    def admitted(d):
        sh = shingles(texts[d])
        dirty = sh and len(sh & eval_sh) / len(sh) >= min_frac
        return "contaminated" if dirty else "corpus"
    expect = {d: "quarantine" if batch_of[d] in bad_batches else admitted(d)
              for d, _ in docs}
    for a, b in info["pairs"]:
        live = sorted((d for d in (a, b) if batch_of[d] not in bad_batches),
                      key=lambda d: (batch_of[d], d))
        if len(live) == 2:
            first, second = live
            if batch_of[first] == batch_of[second] or expect[first] == "corpus":
                expect[second] = None
    return expect, bad_batches, batch_of


def check_ingest(res, info, top, seed):
    expect, bad_batches, batch_of = expected_routing(info)
    inputs = set(expect)
    out = {"failures": [], "attempted": len(inputs), "docs": len(inputs)}
    digests = {}
    for tag in ("plain", "traced"):
        if tag not in res:
            continue
        got = doc_outputs(res[tag]["corpus"])
        where = {}
        for name, ids in got.items():
            for d in ids:
                if d not in inputs:
                    out["failures"].append(f"{tag}: {name} holds unknown doc {d}")
                elif d in where:
                    where[d] = f"{where[d]} and {name}"
                else:
                    where[d] = name
        for d, want in expect.items():
            if where.get(d) != want:
                out["failures"].append(
                    f"{tag}: doc {d} landed in {where.get(d)}, expected {want}")
        q_batches = {int(n.split("=")[1]) for n in os.listdir(
            os.path.join(res[tag]["corpus"], "quarantine"))
            if n.startswith("batch_id=")} if os.path.isdir(
            os.path.join(res[tag]["corpus"], "quarantine")) else set()
        if q_batches != bad_batches:
            out["failures"].append(
                f"{tag}: quarantined batches {sorted(q_batches)} != "
                f"{sorted(bad_batches)}")
        digests[tag] = hashlib.sha256(
            ",".join(map(str, sorted(got["corpus"]))).encode()).hexdigest()
    # the accepted set is a function of the seed: same seed, same digest
    if len(set(digests.values())) > 1:
        out["failures"].append(f"accepted-set digests differ: {digests}")
    store = os.path.join(top, "ingest_digests.json")
    known = json.load(open(store)) if os.path.exists(store) else {}
    key = f"{seed}:{len(inputs)}"
    for tag, dg in digests.items():
        if key in known and known[key] != dg:
            out["failures"].append(
                f"{tag}: accepted-set digest {dg[:12]} differs from an earlier "
                f"run with seed {seed} ({known[key][:12]})")
        known.setdefault(key, dg)
    with open(store, "w") as f:
        json.dump(known, f)
    out["digest"] = digests.get("plain")
    out["batch_of_doc"] = list(batch_of.values())
    return out


# ------------------------------------------------------------- query_mix

def _canon_frame():
    """tools/check.py's canonical row rendering (the oracle gate's form)."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check as oracle_check
    return oracle_check


def tables_con(data_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def digest(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in sorted(rows):
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


def check_query_mix(res, info, top, seed):
    oc = _canon_frame()
    oracle_sql = res["oracle_sql"]
    out = {"failures": [], "attempted": 0, "oracle_checked": []}

    def result_of(con, run):
        cols, rows = oc.frame(
            con, f"SELECT * FROM read_parquet('{run['out']}/*.parquet')")
        return cols, rows

    def oracle_of(con, name):
        return oc.frame(con, oracle_sql[name])

    def same(a, b):
        return a[0] == b[0] and sorted(a[1]) == sorted(b[1])

    fx = os.path.join(top, "query_mix", "fixtures", "query_mix")
    # warm-up rounds: each equals the oracle on the warm-up tables
    warm_con = tables_con(os.path.join(fx, "warm"))
    oracle_cache = {}
    for run in res["warm"]:
        out["attempted"] += 1
        name = run["query"]
        if run["error"]:
            out["failures"].append(f"warm-up {name} threw: {run['error']}")
            continue
        got = result_of(warm_con, run)
        if name in oracle_sql:
            if name not in oracle_cache:
                oracle_cache[name] = oracle_of(warm_con, name)
            if not same(got, oracle_cache[name]):
                out["failures"].append(f"warm-up {name} differs from the oracle")
        elif not got[1]:
            out["failures"].append(f"warm-up {name} returned no rows")
    # timed passes: every pass digests equal to the first, which equals
    # the oracle on the measured tables
    con = tables_con(os.path.join(fx, "tables"))
    for tag in ("plain", "traced"):
        if tag not in res:
            continue
        first = {}
        for p in res[tag]["passes"]:
            for run in p["queries"]:
                out["attempted"] += 1
                name = run["query"]
                if run["error"]:
                    out["failures"].append(f"{tag} {name} threw: {run['error']}")
                    continue
                got = result_of(con, run)
                dg = digest(*got)
                if name not in first:
                    first[name] = dg
                    if name in oracle_sql:
                        if not same(got, oracle_of(con, name)):
                            out["failures"].append(
                                f"{tag} {name} differs from the oracle")
                        out["oracle_checked"].append(name)
                    elif not got[1]:
                        out["failures"].append(f"{tag} {name} returned no rows")
                elif dg != first[name]:
                    out["failures"].append(
                        f"{tag} pass {p['pass']} {name}: digest differs "
                        "from the first pass")
    return out
