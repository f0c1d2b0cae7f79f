#!/usr/bin/env python3
"""Toy-size self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py        (from the repository root)

Builds small correct outputs for each workload's check, confirms the check
passes them, then plants one fault at a time and confirms the check catches
it and that `failed` (and so failed_ratio = failed / attempted) counts it:

- consume: a record dropped, and a record delivered twice across the
  restart;
- ingest_dedup: a document landed in two outputs;
- query_mix: a timed pass whose result digest differs from the first.

Needs no JVM; writes only under perfbench/work/selftest.
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import fixtures  # noqa: E402

TOP = os.path.join(BENCH, "work", "selftest")
results = []


def expect(name, failed, attempted, want):
    ok = failed == want
    results.append(ok)
    print(f"{'ok  ' if ok else 'FAIL'} {name}: failed={failed} "
          f"attempted={attempted} failed_ratio={failed / attempted:.4f} "
          f"(want failed={want})")


def consume_case():
    ev = fixtures.backlog_events(7, 40)
    counts = {k: int((ev["user_id"] % fixtures.N_SHARDS == k).sum())
              for k in range(fixtures.N_SHARDS)}
    info = {"backlog": 40, "tail": {"seed": 7, "records": 12,
                                    "first_id": 40, "start": counts}}
    exp = checks.expected_records(info)
    rows = list(exp.items())
    fails = checks.delivery_failures(rows, exp)
    expect("consume clean", len(fails), len(exp), 0)
    fails = checks.delivery_failures(rows[1:], exp)
    expect("consume dropped record", len(fails), len(exp), 1)
    fails = checks.delivery_failures(rows + [rows[-1]], exp)
    expect("consume record duplicated across the restart", len(fails),
           len(exp), 1)


def write_ids(path, ids):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(["x"] * len(ids), pa.string())}),
                   os.path.join(path, "part-0.parquet"))


def ingest_outputs(corpus, expected, batch_of, extra=None):
    shutil.rmtree(corpus, ignore_errors=True)
    by = {}
    for d, where in list(expected.items()) + (extra or []):
        if where:
            sub = "" if where == "corpus" else where
            by.setdefault((sub, batch_of[d]), []).append(d)
    for (sub, b), ids in by.items():
        write_ids(os.path.join(corpus, sub, f"batch_id={b}"), ids)


def ingest_case():
    batch = 8
    docs, pairs, ev = fixtures.doc_stream(7, 22, 2, 2, 2, 3, batch)
    path = os.path.join(TOP, "ingest_shards")
    counts = fixtures.write_doc_shards(path, docs)
    info = {"docs": docs, "pairs": pairs, "eval": ev,
            "batches": fixtures.plan_batches(counts, batch)}
    expected, _, batch_of = checks.expected_routing(info)
    corpus = os.path.join(TOP, "corpus")
    res = {"plain": {"corpus": corpus}}
    ingest_outputs(corpus, expected, batch_of)
    out = checks.check("ingest_dedup", res, info, TOP, 7)
    expect("ingest clean", out["failed"], out["attempted"], 0)
    doc = next(d for d, w in expected.items() if w == "corpus")
    ingest_outputs(corpus, expected, batch_of, extra=[(doc, "contaminated")])
    out = checks.check("ingest_dedup", res, info, TOP, 7)
    expect("ingest doc in two outputs", out["failed"], out["attempted"], 1)


def query_case():
    fx = os.path.join(TOP, "query_mix", "fixtures", "query_mix")
    for d in ("warm", "tables"):
        fixtures.write_tables(os.path.join(fx, d), 7, 0.0001)
    sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    region = pq.read_table(os.path.join(fx, "tables", "region.parquet"))

    def out(name, table):
        path = os.path.join(TOP, "qm", name)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return path

    def run(path):
        return {"query": "q_region", "out": path, "error": None,
                "wall_s": 1.0, "task_ms": 1}
    good = out("good", region)
    wrong = out("wrong", region.slice(1))
    res = {"oracle_sql": {"q_region": sql},
           "warm": [dict(run(good), round=1)],
           "plain": {"passes": [{"pass": 0, "queries": [run(good)]},
                                {"pass": 1, "queries": [run(good)]}]}}
    o = checks.check("query_mix", res, {}, TOP, 7)
    expect("query_mix clean", o["failed"], o["attempted"], 0)
    res["plain"]["passes"][1]["queries"] = [run(wrong)]
    o = checks.check("query_mix", res, {}, TOP, 7)
    expect("query_mix wrong digest", o["failed"], o["attempted"], 1)


def main():
    shutil.rmtree(TOP, ignore_errors=True)
    os.makedirs(TOP)
    consume_case()
    ingest_case()
    query_case()
    print(f"{sum(results)} of {len(results)} self-test cases passed")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
