#!/usr/bin/env python3
"""Compare benchmark results, per workload and metric.

Usage:

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds result files as run.py saves them
(.bench_build/perfbench/results/<workload>-trace<t>-seed<n>.json, one
per run), with the printed-only op_p50_s and op_tail_s beside the
result's metrics. Values are medians over the runs (seeds) of one
workload.

With one directory: the median and the spread of every metric, the
spread being the distance between the first and third quartile as a
share of the median, and the tracing overhead. End-to-end spreads above
a third of the metric's bound in BENCHMARK.json are flagged.

With two: the change of every median from BASE to NEW. End-to-end
metrics that got worse by more than their bound are flagged, and the
per-layer changes of the same workload are listed beside them, largest
first, so a verdict can say which layer moved.
"""
import json
import statistics
import sys
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m for m in SPEC["per_layer"]}


def load(d):
    """{workload: {metric: [values]}} over every run in the directory."""
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        w = out.setdefault(r["workload"], {})
        for k, m in {**r["result"]["metrics"], **r.get("printed", {})}.items():
            w.setdefault(k, []).append(m["value"])
    return out


def spread(vals):
    if len(vals) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q3 - q1) / abs(med) if med else 0.0


def worse(name, base, new):
    """Relative change, signed so that positive means worse."""
    if base == 0:
        return 0.0 if new == 0 else float("inf")
    better = (E2E.get(name) or LAYER.get(name) or {}).get("better", "lower")
    rel = (new - base) / abs(base)
    return rel if better == "lower" else -rel


def summary(runs):
    for w, ms in sorted(runs.items()):
        print(f"== {w}")
        if "trace.wall_s" in ms and "wall_s" in ms:
            over = statistics.median(ms["trace.wall_s"]) - statistics.median(ms["wall_s"])
            print(f"  tracing overhead {over:+.3f} s (median traced wall_s minus median untraced wall_s)")
        for k, v in sorted(ms.items(), key=lambda kv: (kv[0] not in E2E, kv[0])):
            s = spread(v)
            flag = ""
            if k in E2E and k != "setup_s" and s > E2E[k]["bound"] / 3:
                flag = f"  SPREAD > bound/3 ({E2E[k]['bound'] / 3:.3f})"
            print(f"  {k:28s} median {statistics.median(v):12.6g}  spread {s:7.3f}  n={len(v)}{flag}")


def diff(base, new):
    for w in sorted(set(base) | set(new)):
        b, n = base.get(w, {}), new.get(w, {})
        print(f"== {w}")
        layers = []
        flagged = []
        for k in sorted(set(b) & set(n)):
            mb, mn = statistics.median(b[k]), statistics.median(n[k])
            ch = worse(k, mb, mn)
            if k in E2E:
                mark = "REGRESSION" if ch > E2E[k]["bound"] else ""
                if mark:
                    flagged.append(k)
                print(f"  {k:28s} {mb:12.6g} -> {mn:12.6g}  worse by {ch:+8.2%}  "
                      f"bound {E2E[k]['bound']:.0%} {mark}")
            else:
                layers.append((k, mb, mn, ch))
        if flagged:
            print(f"  flagged: {', '.join(flagged)}; per-layer changes of {w}:")
        for k, mb, mn, ch in sorted(layers, key=lambda x: -abs(x[3]) if x[3] != float("inf") else -1e18):
            print(f"    {k:26s} {mb:12.6g} -> {mn:12.6g}  worse by {ch:+8.2%}")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    runs = [load(d) for d in sys.argv[1:]]
    if len(runs) == 1:
        summary(runs[0])
    else:
        diff(*runs)


if __name__ == "__main__":
    main()
