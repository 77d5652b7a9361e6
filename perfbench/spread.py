#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's median,
quartiles and spread (interquartile distance over the median).

    python3 perfbench/spread.py --seeds 1-10 [--workloads udf_scan,catalog]
        [--trace 0] [--json out.json]

Runs one workload run at a time from the root of the checkout, with the
run length BENCHMARK.json sets, and checks each spread against a third of
the metric's bound (setup_s is compared on its median only).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--json")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    ok = True
    for w in names:
        runs = []
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
            t0 = time.time()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not r.get("correct"):
                print(f"{w} seed {s}: exit {p.returncode}, correct={r.get('correct')}")
                ok = False
                continue
            runs.append(r["metrics"])
            print(f"{w} seed {s} ({wall:.1f} s): " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items() if k in bounds or a.trace == "0"),
                flush=True)
        report[w] = {}
        for k in (runs[0] if runs else {}):
            vals = [r[k]["value"] for r in runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med if med else float("inf")
            report[w][k] = {"median": med, "q1": q1, "q3": q3, "spread": share, "n": len(vals),
                            "unit": runs[0][k]["unit"]}
            limit = bounds.get(k)
            flag = ""
            if limit is not None and k != "setup_s" and share > limit / 3:
                flag = f"  > bound/3 ({limit / 3:.3f})"
                ok = False
            if limit is not None or a.trace == "1":
                print(f"  {w} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {share:.3f}{flag}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
