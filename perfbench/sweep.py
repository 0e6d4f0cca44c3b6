#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarizes each metric.

    python3 perfbench/sweep.py --workloads registry_warm museum_etl \
        --seeds 1-10 --seconds 10 [--trace] --out <summary.json>

Run from a checkout root. For every workload and end-to-end metric it
reports the median, the quartiles (statistics.quantiles, n=4), the spread
(q3 - q1) / median and the sample count, plus the box it ran on. With
--trace it also makes one traced run per workload (first seed) and reports
its per-layer metrics, its self time by span name, and the tracing
overhead, traced pass_s / untraced median pass_s. Compare two commits only
with summaries taken on the same box.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def box():
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
    except OSError:
        pass
    return {"cpu": model, "nproc": os.cpu_count(), "machine": platform.machine(),
            "kernel": platform.release(), "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    summary = {"box": box(), "seconds": a.seconds, "seeds": a.seeds, "workloads": {}}
    for w in a.workloads:
        values, failures, detail = {}, [], None
        for s in seeds(a.seeds):
            detail, result = run(w, s, a.seconds, 0)
            failures += detail["failures"]
            for k, m in detail["end_to_end"].items():
                values.setdefault(k, (m["unit"], []))[1].append(m["value"])
            print(f"{w} seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in
                                                detail["end_to_end"].items()), flush=True)
        entry = {"failing_ops": sorted(set(failures)), "max_heap_mb": detail["max_heap_mb"],
                 "cpus": detail["cpus"], "end_to_end": {}}
        for k, (unit, vs) in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            entry["end_to_end"][k] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                                      "spread": (q3 - q1) / med if med else None,
                                      "n": len(vs), "values": vs}
        if a.trace:
            tdetail, tresult = run(w, seeds(a.seeds)[0], a.seconds, 1)
            with open(os.path.join(os.path.dirname(HERE), tdetail["artifacts"], "trace.json")) as f:
                trace = json.load(f)
            layers = {k: m["value"] for k, m in tresult["metrics"].items()}
            entry["per_layer"] = layers
            entry["self_time_s"] = trace["self_time_s"]
            entry["tracing_overhead"] = layers["trace.pass_s"] / entry["end_to_end"]["pass_s"]["median"]
        summary["workloads"][w] = entry
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    for w, e in summary["workloads"].items():
        for k, m in e["end_to_end"].items():
            print(f"{w:14s} {k:13s} median {m['median']:.4g} {m['unit']:5s} "
                  f"spread {m['spread'] if m['spread'] is not None else float('nan'):.3f} n={m['n']}")


if __name__ == "__main__":
    main()
