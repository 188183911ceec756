#!/usr/bin/env python3
"""Summarizes a set of benchmark runs.

Usage: python3 perfbench/summarize.py <run.json>... [--out <summary.json>]

Each argument is a raw run record that run.py keeps under perfbench/out/runs/.
For every workload and metric it gives the number of runs, the median, the
quartiles and their distance as a share of the median (the spread a bound
must exceed). For traced runs it also marks each per-layer counter that read
exactly the same in every run, and it gives the tracing overhead: the traced
runs' median warm_s over the untraced runs' median, minus one.
"""
import argparse
import json
import statistics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(paths):
    runs = {}
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        a = d["args"]
        runs.setdefault((a["workload"], a["trace"]), []).append(d)
    out = {}
    for (w, trace), ds in sorted(runs.items()):
        metrics = {}
        for name in ds[0]["result"]["metrics"]:
            xs = [d["result"]["metrics"][name]["value"] for d in ds]
            q1, _, q3 = quartiles(xs)
            m = statistics.median(xs)
            metrics[name] = {"unit": ds[0]["result"]["metrics"][name]["unit"], "n": len(xs),
                             "median": m, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / m if m else 0.0}
            if trace:
                metrics[name]["exact"] = len(set(xs)) == 1
        out[f"{w} trace={trace}"] = {
            "seeds": [d["args"]["seed"] for d in ds],
            "correct": all(d["result"]["correct"] for d in ds),
            "attempted": sum(d["result"]["attempted"] for d in ds),
            "failed": sum(d["result"]["failed"] for d in ds),
            "jvm_wall_s": statistics.median(d["raw"]["jvm_wall_s"] for d in ds),
            "metrics": metrics}
    for (w, trace) in runs:
        if trace and (w, 0) in runs:
            traced = out[f"{w} trace=1"]["metrics"]["trace.warm_s"]["median"]
            plain = out[f"{w} trace=0"]["metrics"]["warm_s"]["median"]
            out[f"{w} trace=1"]["tracing_overhead"] = traced / plain - 1
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs", nargs="+")
    ap.add_argument("--out")
    args = ap.parse_args()
    s = summarize(args.runs)
    text = json.dumps(s, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    for key, g in s.items():
        print(f"{key}: {len(g['seeds'])} runs, correct={g['correct']}, failed={g['failed']}/"
              f"{g['attempted']}, JVM wall median {g['jvm_wall_s']:.1f} s"
              + (f", tracing overhead {g['tracing_overhead']:+.1%}" if "tracing_overhead" in g else ""))
        for name, m in g["metrics"].items():
            if key.endswith("trace=1") and not m["median"]:
                continue
            print(f"  {name:42s} {m['median']:14.4f} {m['unit']:6s} spread {m['spread']:.3f}"
                  + (" exact" if m.get("exact") else ""))


if __name__ == "__main__":
    main()
