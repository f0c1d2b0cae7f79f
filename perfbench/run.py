#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <consume|ingest_dedup|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
(sbt, offline) when the sources changed since the last build, generates the
workload's inputs from the seed, drives the workload in one JVM, checks the
outputs, and prints the metrics. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads, metrics and checks.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import fixtures  # noqa: E402
import layers  # noqa: E402

# query_mix is opt-in (not in BENCHMARK.json) and allowed a longer run
JVM_TIMEOUT_S = {"consume": 165, "ingest_dedup": 165, "query_mix": 480}
SETUP_ROUNDS = 3

# Workload sizes. Work scales with --seconds; README.md explains the sizing.
def sizes(workload, seconds):
    if workload == "consume":
        return {"backlog": int(6_000 * seconds), "warm": 40_000, "batch": 5_000,
                "tail_rate": 4_000, "tail_seconds": 0.8 * seconds,
                "tick_ms": 50, "read_n": 5_000}
    if workload == "ingest_dedup":
        # one batch per 5 s of run time, at least three: the first
        # bootstraps the corpus, the middle ones are admitted through the
        # served index path, the last is quarantined
        batches = max(3, round(seconds / 5))
        return {"base": batches * 248 - 62, "exact": 30, "near": 30,
                "nulls": 2, "eval": 20, "batch": 250, "warm": 24}
    return {"sf": 0.01, "warm_sf": 0.002, "min_passes": 2}


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last successful build. Returns the classes directory."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classes
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.offline=true"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ------------------------------------------------------------- fixtures

def make_fixtures(workload, seed, seconds, trace, fx):
    """Write the workload's inputs under `fx`; returns what the checks and
    the harness need to know about them."""
    z = sizes(workload, seconds)
    info = {"sizes": z}
    if workload == "consume":
        d = os.path.join(fx, "consume")
        ev = fixtures.backlog_events(seed, z["backlog"])
        counts = fixtures.write_event_shards(os.path.join(d, "shards_plain"), ev)
        for tag in ("traced", "base") if trace else ():
            shutil.copytree(os.path.join(d, "shards_plain"),
                            os.path.join(d, f"shards_{tag}"))
        fixtures.write_event_shards(
            os.path.join(d, "warm"), fixtures.events(seed + 1, z["warm"], stream=7))
        tail = {"seed": seed, "records": int(z["tail_rate"] * z["tail_seconds"]),
                "rate": z["tail_rate"], "tick_ms": z["tick_ms"],
                "first_id": z["backlog"], "start": counts}
        with open(os.path.join(d, "tail.json"), "w") as f:
            json.dump(tail, f)
        info.update(backlog=z["backlog"], tail=tail)
    elif workload == "ingest_dedup":
        d = os.path.join(fx, "ingest")
        per_batch = z["batch"] // fixtures.N_SHARDS * fixtures.N_SHARDS
        docs, pairs, eval_docs = fixtures.doc_stream(
            seed, z["base"], z["exact"], z["near"], z["nulls"], z["eval"],
            per_batch)
        counts = fixtures.write_doc_shards(os.path.join(d, "shards"), docs)
        # each set-up round restarts on one warm-up checkpoint and ingests
        # one more small batch: round 1 bootstraps the corpus, later rounds
        # take the served (index) admission path the measured batches take
        at = {k: 0 for k in range(fixtures.N_SHARDS)}
        for k in range(1, SETUP_ROUNDS + 1):
            n = fixtures.write_doc_shards(
                os.path.join(d, "warm_rounds", str(k)),
                fixtures.warm_docs(seed, k, z["warm"]), at)
            at = {s: at[s] + n[s] for s in at}
        fixtures.write_docs_parquet(os.path.join(d, "eval.parquet"), eval_docs)
        probe, _, _ = fixtures.doc_stream(seed + 2, z["batch"], 0, 0, 0, 0, 0)
        fixtures.write_docs_parquet(os.path.join(d, "probe_batch.parquet"), probe)
        info.update(docs=docs, pairs=pairs, eval=eval_docs,
                    batches=fixtures.plan_batches(counts, z["batch"]))
    else:
        d = os.path.join(fx, "query_mix")
        fixtures.write_tables(os.path.join(d, "tables"), seed, z["sf"])
        fixtures.write_tables(os.path.join(d, "warm"), seed + 1, z["warm_sf"])
        r = np.random.default_rng([seed, 8])
        info["queries"] = [layers.QUERIES[i]
                           for i in r.permutation(len(layers.QUERIES))]
    return info


# ------------------------------------------------------------------ jvm

def harness_args(workload, info, args, work, fx):
    a = {"workload": workload, "fixtures": fx, "work": work,
         "seconds": args.seconds, "trace": args.trace, "cores": os.cpu_count(),
         "out": os.path.join(work, "result.json"), "setup_rounds": SETUP_ROUNDS,
         "python": sys.executable, "tailgen": os.path.join(BENCH, "tailgen.py")}
    z = info["sizes"]
    if workload == "consume":
        a.update(batch=z["batch"], read_n=z["read_n"])
    elif workload == "ingest_dedup":
        a.update(batch=z["batch"], batches=len(info["batches"]))
    else:
        a.update(queries=",".join(info["queries"]), min_passes=z["min_passes"])
    return [f"{k}={v}" for k, v in a.items()]


def run_jvm(classes, hargs, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:/opt/spark/jars/*", "perfbench.Main"] + hargs
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the harness may have started a generator: stop the whole group
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def unstolen(cpu_stat):
    """The share of a window's busy CPU time the hypervisor did not steal:
    busy / (busy + steal), from /proc/stat jiffies (user, nice, system,
    idle, iowait, irq, softirq, steal). Wall times are multiplied by it to
    take out the time this machine's CPUs waited for the host."""
    user, nice, system, _, _, irq, softirq, steal = cpu_stat
    busy = user + nice + system + irq + softirq
    return busy / (busy + steal) if busy + steal else 1.0


def end_to_end(workload, res, chk):
    """The end-to-end metrics, under the names BENCHMARK.json lists, plus
    the workload's own names for the raw figures (printed only)."""
    plain = res["plain"]
    # consume's two phases each take out their own window's steal
    f_rate = unstolen(plain.get("catchup_cpu_stat", plain.get("cpu_stat")))
    f_lat = unstolen(plain.get("tail_cpu_stat", plain.get("cpu_stat")))
    rounds = res["setup_rounds"]
    setup_s = statistics.median(r["s"] * unstolen(r["cpu_stat"]) for r in rounds)
    if workload == "consume":
        lat = chk["plain"]["tail_latency_ms"]
        units = chk["plain"]["records"] / 10_000
        raw = {"throughput_per_s": chk["backlog"] / plain["catchup_s"],
               "latency_p50_ms": pct(lat, 50), "latency_p95_ms": pct(lat, 95)}
        named = {"catchup_rps": ("records/s", raw["throughput_per_s"]),
                 "tail_latency_p50_ms": ("ms", raw["latency_p50_ms"]),
                 "tail_latency_p95_ms": ("ms", raw["latency_p95_ms"])}
    elif workload == "ingest_dedup":
        trig = [b["durations"]["triggerExecution"] for b in plain["batches"]]
        # every doc is in the backlog when the drain starts: its latency is
        # the commit of the batch that holds it, counted from that start
        end = {b["batch_id"]: b["end_ms"] for b in plain["batches"]}
        lat = [end[b] - plain["start_ms"] for b in chk["batch_of_doc"]]
        units = chk["docs"] / 100
        raw = {"throughput_per_s": chk["docs"] / plain["drain_s"],
               "latency_p50_ms": pct(lat, 50), "latency_p95_ms": pct(lat, 95)}
        named = {"ingest_docs_per_s": ("docs/s", raw["throughput_per_s"]),
                 "ingest_batch_p50_s": ("s", pct(trig, 50) / 1000.0)}
    else:
        passes = plain["passes"]
        walls = [q["wall_s"] for p in passes for q in p["queries"]]
        pass_s = [sum(q["wall_s"] for q in p["queries"]) for p in passes]
        pass_task = [sum(q["task_ms"] for q in p["queries"]) / 1000.0
                     for p in passes]
        units = len(passes)
        raw = {"throughput_per_s": len(walls) / sum(walls),
               "latency_p50_ms": pct(walls, 50) * 1000.0,
               "latency_p95_ms": pct(walls, 95) * 1000.0}
        named = {"pass_s": ("s", statistics.median(pass_s)),
                 "pass_task_s": ("s", statistics.median(pass_task))}
    e2e = {"setup_s": setup_s,
           "throughput_per_s": raw["throughput_per_s"] / f_rate,
           "latency_p50_ms": raw["latency_p50_ms"] * f_lat,
           "latency_p95_ms": raw["latency_p95_ms"] * f_lat,
           "cpu_s": plain["cpu_ns"] / 1e9 / units,
           "live_heap_mb": plain["live_heap_mb"]}
    named.update(
        task_s=("s", plain["task_ms"] / 1000.0 / units),
        setup_raw_s=("s", statistics.median(r["s"] for r in rounds)),
        peak_rss_mb=("MB", res["peak_rss_mb"]),
        steal_share=("ratio", 1.0 - unstolen(plain.get("cpu_stat") or [
            a + b for a, b in zip(plain["catchup_cpu_stat"],
                                  plain["tail_cpu_stat"])])),
        failed_ratio=("ratio", chk["failed"] / chk["attempted"]))
    return e2e, named


def run(args):
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        raise SystemExit("run from the repository root: the engine sources "
                         "(src/main/scala) are not here")
    top = os.path.join(BENCH, "work")
    os.makedirs(top, exist_ok=True)
    classes = build(root, top)
    work = os.path.join(top, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    fx = os.path.join(work, "fixtures")
    os.makedirs(fx)
    info = make_fixtures(args.workload, args.seed, args.seconds, args.trace, fx)
    res = run_jvm(classes, harness_args(args.workload, info, args, work, fx),
                  work, JVM_TIMEOUT_S[args.workload])
    chk = checks.check(args.workload, res, info, top, args.seed)
    for f in chk["failures"][:20]:
        log(f"check failed: {f}")
    if args.trace:
        metrics, tags = layers.per_layer(args.workload, res, chk)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(layers.trace_tree(args.workload, res), f)
        units = {m["name"]: m["unit"] for m in layers.spec(args.workload)}
        for name, value in metrics.items():
            moves = tags.get(name, "")
            print(f"layer {name} = {value:.6g} {units[name]}  -> {moves}")
    else:
        e2e, named = end_to_end(args.workload, res, chk)
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
        metrics = e2e
        for name, value in e2e.items():
            print(f"{args.workload} {name} = {value:.6g} {units[name]}")
        for name, (unit, value) in named.items():
            print(f"{args.workload} {name} = {value:.6g} {unit}")
    out = {"correct": chk["failed"] == 0, "attempted": chk["attempted"],
           "failed": chk["failed"],
           "metrics": {k: {"value": v, "unit": units[k]}
                       for k, v in metrics.items()}}
    print(json.dumps(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["consume", "ingest_dedup", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
