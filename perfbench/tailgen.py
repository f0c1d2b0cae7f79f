"""Tail generator for the `consume` workload's second phase.

Usage: python3 tailgen.py <spec.json> <shard_dir> <summary.json>

A single-threaded process that appends the spec's records to the shard
files at a fixed rate. Every tick it writes the records that have come due,
as whole lines in one write per shard, and stamps each with its creation
time (epoch microseconds) in the arrival field. The record contents are a
function of the seed alone (fixtures.tail_events). The summary records how
late the generator ran against its schedule.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixtures  # noqa: E402


def main():
    spec_path, shard_dir, summary_path = sys.argv[1:4]
    with open(spec_path) as f:
        spec = json.load(f)
    n, rate, tick = spec["records"], spec["rate"], spec["tick_ms"] / 1000.0
    ev = fixtures.tail_events(spec["seed"], n, spec["first_id"])
    payloads = fixtures.event_payloads(ev)
    shard_of = (ev["user_id"] % fixtures.N_SHARDS).tolist()
    pks = ev["user_id"].tolist()
    nxt = {int(k): v for k, v in spec["start"].items()}
    fds = {k: os.open(os.path.join(shard_dir, f"shard-{k}.tsv"),
                      os.O_WRONLY | os.O_APPEND)
           for k in range(fixtures.N_SHARDS)}
    written, late_max, ticks, loops = 0, 0.0, 0, 0
    t0 = time.time()
    try:
        while written < n:
            now = time.time()
            due = min(n, int((now - t0) * rate) + 1)
            if due > written:
                now_us = int(now * 1e6)
                chunks = {k: [] for k in fds}
                for j in range(written, due):
                    s = shard_of[j]
                    chunks[s].append(
                        f"{nxt[s]:012d}\t{pks[j]}\t{now_us}\t{payloads[j]}\n")
                    nxt[s] += 1
                for s, lines in chunks.items():
                    if lines:
                        os.write(fds[s], "".join(lines).encode())
                late_max = max(late_max, now - (t0 + written / rate))
                written = due
                ticks += 1
            loops += 1
            time.sleep(max(0.0, t0 + loops * tick - time.time()))
    finally:
        for fd in fds.values():
            os.close(fd)
    with open(summary_path, "w") as f:
        json.dump({"records": written, "ticks": ticks,
                   "late_ms_max": late_max * 1000.0,
                   "seconds": time.time() - t0}, f)


if __name__ == "__main__":
    main()
