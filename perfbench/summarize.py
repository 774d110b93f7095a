#!/usr/bin/env python3
"""Print every per-layer metric, by name with its unit, from a traced run.

    python3 perfbench/run.py --workload cdc_refresh --seed 1 --seconds 1 --trace 1 \
        --keep traced.json
    python3 perfbench/summarize.py traced.json

Besides the metrics it prints, per workload, each op's wall time and busy
ratio and each benchmark call span's wall, self time and job count.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def report(rec):
    """Prints every workload's op, call and per-layer figures; returns the
    per-layer metrics {name: (value, unit)}."""
    out = {}
    for name, w in rec["workloads"].items():
        print(f"== {name}")
        for op, b in metrics.op_busy(w).items():
            print(f"op   {op:<24} {b['ms']:>10.1f} ms  busy {b['busy']:.3f}")
        for c, b in metrics.call_breakdown(w).items():
            print(f"call {c:<24} {b['ms']:>10.1f} ms  self {b['self_ms']:.1f} ms  "
                  f"{b['jobs']:.1f} jobs  busy {b['busy']:.3f}")
        m = metrics.per_layer(name, w)
        for k, (v, u) in sorted(m.items()):
            print(f"{k:<48} {v:>14.4f} {u}")
        out.update(m)
    return out


def main(path):
    with open(path) as f:
        rec = json.load(f)
    if "workloads" not in rec:
        sys.exit("not a traced run record (run with --trace 1 --keep FILE)")
    report(rec)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
