"""Summarise a traced run's span dump: time, self time and jobs per span.

    python3 perfbench/spans.py .bench_build/traces/curate_batch-1.spans.jsonl

A traced run (``run.py --trace 1``) writes one JSON object per span, with its
self time (its length minus the part its child spans cover) and the number of
Spark jobs attributed to it, then one object per Spark job with the span it
was attributed to. This prints one row per span name, sorted by self time,
with the summed duration of its jobs, and the share of op time no layer span
covers.
"""
import collections
import json
import sys


def summarise(path):
    records = [json.loads(l) for l in open(path) if l.strip()]
    spans = [r for r in records if r["kind"] == "span"]
    jobs = [r for r in records if r["kind"] == "job"]
    job_s = collections.defaultdict(float)
    for j in jobs:
        job_s[j["span"]] += (j["end_ns"] - j["start_ns"]) / 1e9
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0, 0, 0.0])
    for s in spans:
        key = s["name"] + (f" [{s['detail']}]" if s["detail"] else "")
        r = rows[key]
        r[0] += 1
        r[1] += (s["end_ns"] - s["start_ns"]) / 1e9
        r[2] += s["self_ns"] / 1e9
        r[3] += s["jobs"]
        r[4] += job_s[s["id"]]
    ops = [s for s in spans if s["name"] == "op"]
    op_wall = sum(s["end_ns"] - s["start_ns"] for s in ops) / 1e9
    op_self = sum(s["self_ns"] for s in ops) / 1e9
    print(f"{'span':48} {'n':>5} {'total_s':>9} {'self_s':>9} {'jobs':>6} {'job_s':>9}")
    for k, (n, tot, self_s, nj, js) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{k[:48]:48} {n:5d} {tot:9.3f} {self_s:9.3f} {nj:6d} {js:9.3f}")
    streaming = [j for j in jobs if j["streaming"]]
    if streaming:
        print(f"streaming-engine jobs {len(streaming)}, "
              f"{sum(j['end_ns'] - j['start_ns'] for j in streaming) / 1e9:.3f} s")
    if op_wall:
        print(f"ops {len(ops)}, op wall {op_wall:.3f} s, "
              f"unattributed {op_self / op_wall:.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    summarise(sys.argv[1])
