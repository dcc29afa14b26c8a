#!/usr/bin/env python3
"""Print the Spark jobs of each streaming epoch in a perfbench trace.

    python3 tools/epoch_timeline.py perfbench/out/trace-<run id>.json

A trace holds the benchmark's spans plus one span per streaming epoch
("epoch N") and one per Spark job ("job N", with its job-description
label and stage count). For every epoch this prints each job whose start
lies inside the epoch: its start relative to the epoch, the gap before
it (from the epoch start or the previous job's end), its duration, its
stage count and its label. Then the epoch's per-label sums (jobs and job
ms) and, at the end, the per-label sums over all epochs with their means
per epoch. Jobs of the micro-batch itself carry Spark's batch
description ("id = ...  runId = ...  batch = N"); they are shown as
"(stream batch)", and jobs without a description as "(none)".

The script only reads the trace; it changes nothing.
"""

import json
import sys
from collections import OrderedDict


def label_of(job):
    label = (job.get("attrs") or {}).get("label") or ""
    if "runId = " in label and "batch = " in label:
        return "(stream batch)"
    return label.strip() or "(none)"


def add(sums, label, ms):
    n, total = sums.get(label, (0, 0.0))
    sums[label] = (n + 1, total + ms)


def print_sums(sums, epochs=None, indent="  "):
    for label, (n, ms) in sorted(sums.items(), key=lambda kv: -kv[1][1]):
        line = f"{indent}{label:<24} {n:>5} jobs {ms:>9.1f} ms"
        if epochs:
            line += f"   per epoch {n / epochs:>6.2f} jobs {ms / epochs:>8.1f} ms"
        print(line)


def main(path):
    spans = json.load(open(path))["spans"]
    epochs = sorted((s for s in spans if s["layer"] == "stream"
                     and s["name"].startswith("epoch ")),
                    key=lambda s: s["start_ms"])
    jobs = sorted((s for s in spans if s["layer"] == "spark"
                   and s["name"].startswith("job ")),
                  key=lambda s: s["start_ms"])
    if not epochs:
        sys.exit(f"{path}: no epoch spans (not a streaming workload trace?)")
    total = OrderedDict()
    gaps = 0.0
    for e in epochs:
        t0, t1 = e["start_ms"], e["end_ms"]
        attrs = e.get("attrs") or {}
        print(f"{e['name']}: {t1 - t0:.0f} ms, rows {attrs.get('rows', '?')}, "
              f"addBatch {attrs.get('addBatch', '?')} ms")
        print(f"  {'start':>8} {'gap':>7} {'ms':>7} {'stages':>6}  label")
        sums = OrderedDict()
        prev = t0
        for j in (j for j in jobs if t0 <= j["start_ms"] <= t1):
            ms = j["end_ms"] - j["start_ms"]
            gap = max(0.0, j["start_ms"] - prev)
            gaps += gap
            label = label_of(j)
            print(f"  {j['start_ms'] - t0:>8.1f} {gap:>7.1f} {ms:>7.1f} "
                  f"{(j.get('attrs') or {}).get('stages', 0):>6}  {label}")
            add(sums, label, ms)
            add(total, label, ms)
            prev = max(prev, j["end_ms"])
        gaps += max(0.0, t1 - prev)
        print(f"  tail gap {max(0.0, t1 - prev):.1f} ms")
        print_sums(sums, indent="    ")
    n = len(epochs)
    print(f"all {n} epochs: {sum(c for c, _ in total.values())} jobs, "
          f"gaps (no job running) {gaps:.0f} ms, "
          f"{gaps / n:.1f} ms per epoch")
    print_sums(total, epochs=n)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
