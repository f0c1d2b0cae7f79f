"""Per-layer metrics of a traced run, each tagged with the end-to-end metric
and workload it should move.

The streaming workloads (consume, ingest_dedup) both report every metric of
the common list, which is BENCHMARK.json's `per_layer`; a layer a workload
does not exercise reports 0 (for example `ingest.gate_s` on consume). The
opt-in query_mix workload reports the per-query metrics in addition.
"""
import statistics

import numpy as np

QUERIES = [
    "q06_join_multiway", "q107_waiting_supplier", "q115_single_source",
    "q78_bm25", "q176_ccnet_buckets",
    "q23_dedup_minhash_lsh", "q153_keeper_merge", "q160_dedup_serve",
    "q24_knn_ivf", "q172_int8_ann_recall", "q179_graph_ann_recall",
    "q181_pq_residual_trained_recall",
    "q73_kll_quantiles", "q93_wasserstein_drift"]

TAIL = "latency_p50_ms, latency_p95_ms on consume (tail_latency_*)"
CATCHUP = "throughput_per_s on consume (catchup_rps)"
INGEST = "latency_p50_ms and throughput_per_s on ingest_dedup " \
    "(ingest_batch_p50_s, ingest_docs_per_s)"
PASS = "throughput_per_s and task_s on query_mix (pass_s, pass_task_s)"

_SPEC = [
    ("shardsim.latest_offset_ms", "ms", TAIL + "; near 0 on ingest_dedup"),
    ("shardsim.read_rps_head", "1/s", CATCHUP + "; " + TAIL),
    ("shardsim.read_rps_tail", "1/s", CATCHUP + "; " + TAIL),
    ("shardsim.reread_ratio", "ratio", INGEST + "; 1.0 on consume"),
    ("shardsim.lag_max_records", "count", "shows the tail ran below capacity: " + TAIL),
    ("generator.late_ms_max", "ms", "shows the generator kept its schedule: " + TAIL),
    ("stream.planning_ms", "ms", TAIL),
    ("stream.wal_commit_ms", "ms", TAIL),
    ("stream.commit_offsets_ms", "ms", TAIL),
    ("stream.trigger_ms", "ms", TAIL),
    ("stream.batches", "count", TAIL + "; " + INGEST),
    ("stream.jobs_per_batch", "count", TAIL),
    ("stream.stages_per_batch", "count", TAIL),
    ("app.add_batch_ms", "ms", CATCHUP + "; " + INGEST),
    ("app.add_batch_drift", "ratio", CATCHUP + " (last decile / first decile)"),
    ("app.task_s_per_batch", "s", INGEST + "; task_s on consume"),
    ("ingest.gate_s", "s", INGEST),
    ("ingest.gate_task_s", "s", INGEST),
    ("ingest.admit_s", "s", INGEST),
    ("ingest.admit_task_s", "s", INGEST),
    ("ingest.landing_write_s", "s", INGEST),
    ("ingest.landing_write_task_s", "s", INGEST),
    ("ingest.index_write_s", "s", INGEST),
    ("ingest.index_write_task_s", "s", INGEST),
    ("quality.check_s", "s", INGEST),
    ("dedup.shingle_s", "s", INGEST),
    ("dedup.admit_served_s", "s", INGEST),
    ("trace.overhead_pct", "%", "tracing cost: traced vs untraced run of the "
     "same workload in one JVM"),
    ("baseline.local1_catchup_rps", "1/s", "single-threaded baseline for "
     + CATCHUP),
    ("baseline.speedup_vs_local1", "ratio", CATCHUP + " over the local[1] drain"),
]
_QUERY_SPEC = [("pass.gc_s", "s", PASS)]
for _q in QUERIES:
    _QUERY_SPEC += [(f"{_q}.wall_s", "s", PASS), (f"{_q}.task_s", "s", PASS),
              (f"{_q}.jobs", "count", PASS), (f"{_q}.stages", "count", PASS),
              (f"{_q}.shuffle_mb", "MB", PASS), (f"{_q}.spill_mb", "MB", PASS)]


def _entries(workload):
    return _SPEC + (_QUERY_SPEC if workload == "query_mix" else [])


def spec(workload):
    return [{"name": n, "unit": u, "better": better(n)}
            for n, u, _ in _entries(workload)]


def better(name):
    higher = ("read_rps", "local1_catchup_rps", "speedup")
    return "higher" if any(h in name for h in higher) else "lower"


def tags(workload):
    return {n: t for n, _, t in _entries(workload)}


def p50(xs):
    return float(np.percentile(xs, 50)) if len(xs) else 0.0


# ----------------------------------------------------------------------

def classify_ingest_job(span):
    """Group an ingest micro-batch job by what its SQL execution does."""
    sql = span["sql"]
    if sql.startswith("write "):
        return "index_write" if "/index/" in sql else "landing_write"
    if sql == "constraint check":
        return "gate"
    return "admit"


def stream_metrics(m, batches, spans, delivered):
    """Streaming-loop metrics over `batches` (dicts from the harness) and
    the micro-batch jobs among `spans`."""
    ids = {b["batch_id"] for b in batches}
    jobs = [s for s in spans if s["batch_id"] in ids]
    n = max(1, len(batches))

    def dur(k):
        return [b["durations"].get(k, 0) for b in batches]
    m["shardsim.latest_offset_ms"] = p50(dur("latestOffset"))
    m["stream.planning_ms"] = p50(dur("queryPlanning"))
    m["stream.wal_commit_ms"] = p50(dur("walCommit"))
    m["stream.commit_offsets_ms"] = p50(dur("commitOffsets"))
    m["stream.trigger_ms"] = p50(dur("triggerExecution"))
    m["stream.batches"] = len(batches)
    m["stream.jobs_per_batch"] = len(jobs) / n
    m["stream.stages_per_batch"] = sum(s["stages"] for s in jobs) / n
    # numInputRows sums the source scan over every execution of the batch
    # plan, so against the records delivered it is the re-read factor
    read = sum(b["input_rows"] for b in batches)
    m["shardsim.reread_ratio"] = read / delivered if delivered else 0.0
    m["shardsim.lag_max_records"] = max((b["lag"] for b in batches), default=0)


def app_metrics(m, batches, spans):
    ids = {b["batch_id"] for b in batches}
    m["app.add_batch_ms"] = p50([b["durations"].get("addBatch", 0) for b in batches])
    task = sum(s["task_ms"] for s in spans if s["batch_id"] in ids)
    m["app.task_s_per_batch"] = task / 1000.0 / max(1, len(batches))


def per_layer(workload, res, chk):
    m = {s["name"]: 0.0 for s in spec(workload)}
    plain, traced = res["plain"], res["traced"]
    spans = traced["spans"]
    if workload == "consume":
        tail = [b for b in traced["batches"] if b["phase"] == "tail"]
        catchup = [b for b in traced["batches"] if b["phase"] == "catchup"]
        stream_metrics(m, tail, spans, chk["tail_records"])
        m["shardsim.reread_ratio"] = sum(
            b["input_rows"] for b in traced["batches"]) / chk["traced"]["records"]
        app_metrics(m, catchup, spans)
        add = [b["durations"].get("addBatch", 0) for b in catchup]
        k = max(1, len(add) // 10)
        m["app.add_batch_drift"] = statistics.mean(add[-k:]) / statistics.mean(add[:k])
        m["shardsim.read_rps_head"] = res["layers"]["read_rps_head"]
        m["shardsim.read_rps_tail"] = res["layers"]["read_rps_tail"]
        m["generator.late_ms_max"] = chk["traced"]["generator"]["late_ms_max"]
        m["trace.overhead_pct"] = 100.0 * (traced["catchup_s"] / plain["catchup_s"] - 1)
        local1 = chk["backlog"] / res["local1_catchup_s"]
        m["baseline.local1_catchup_rps"] = local1
        m["baseline.speedup_vs_local1"] = chk["backlog"] / plain["catchup_s"] / local1
    elif workload == "ingest_dedup":
        batches = traced["batches"]
        stream_metrics(m, batches, spans, chk["docs"])
        app_metrics(m, batches, spans)
        groups = {}
        for s in spans:
            if s["batch_id"] >= 0:
                g = groups.setdefault(classify_ingest_job(s), [0.0, 0.0])
                g[0] += (s["end_ms"] - s["start_ms"]) / 1000.0
                g[1] += s["task_ms"] / 1000.0
        n = max(1, len(batches))
        for g in ("gate", "admit", "landing_write", "index_write"):
            wall, task = groups.get(g, [0.0, 0.0])
            m[f"ingest.{g}_s"] = wall / n
            m[f"ingest.{g}_task_s"] = task / n
        lay = res["layers"]
        m["quality.check_s"] = lay["quality_check_s"]
        m["dedup.shingle_s"] = lay["dedup_shingle_s"]
        m["dedup.admit_served_s"] = lay["dedup_admit_served_s"]
        m["trace.overhead_pct"] = 100.0 * (traced["drain_s"] / plain["drain_s"] - 1)
    else:
        passes = traced["passes"]
        n = len(passes)
        for q in QUERIES:
            walls = [r["wall_s"] for p in passes for r in p["queries"]
                     if r["query"] == q]
            qs = [s for s in spans if s["query"] == q]
            m[f"{q}.wall_s"] = p50(walls)
            m[f"{q}.task_s"] = sum(s["task_ms"] for s in qs) / 1000.0 / n
            m[f"{q}.jobs"] = len(qs) / n
            m[f"{q}.stages"] = sum(s["stages"] for s in qs) / n
            m[f"{q}.shuffle_mb"] = sum(s["shuffle_bytes"] for s in qs) / 2**20 / n
            m[f"{q}.spill_mb"] = sum(s["spill_bytes"] for s in qs) / 2**20 / n
        m["pass.gc_s"] = p50([p["gc_ms"] / 1000.0 for p in passes])

        def mean_pass(run):
            return statistics.mean(sum(r["wall_s"] for r in p["queries"])
                                   for p in run["passes"])
        m["trace.overhead_pct"] = 100.0 * (mean_pass(traced) / mean_pass(plain) - 1)
    return m, tags(workload)


def trace_tree(workload, res):
    """The traced run's spans nested workload → phase → micro-batch or
    query → Spark job."""
    traced = res["traced"]
    spans = traced["spans"]
    phases = {}
    for s in spans:
        ph = phases.setdefault(s["phase"] or "(none)", {})
        key = f"batch {s['batch_id']}" if s["batch_id"] >= 0 else \
            f"query {s['query']}" if s["query"] else "driver"
        ph.setdefault(key, []).append(s)
    batches = {f"batch {b['batch_id']}": b for b in traced.get("batches", [])}
    return {"workload": workload, "phases": [
        {"phase": p, "children": [
            {"span": k, "progress": batches.get(k), "jobs": v}
            for k, v in sorted(kids.items())]}
        for p, kids in phases.items()]}
