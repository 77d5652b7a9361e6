#!/usr/bin/env python3
"""Fast self-tests of the benchmark itself, at a tiny size.

    python3 perfbench/selftest.py

From the root of the checkout, for every workload in BENCHMARK.json:
  - an untraced run prints every end_to_end metric with its declared unit,
    and a traced run every per_layer metric, and both report correct;
  - two runs with the same seed print identical input fingerprints (table
    digest, DDL bodies, query order);
  - a run with another seed prints different ones.
Takes about five minutes (nine short runs). Exits non-zero on a failure.
"""
import json
import subprocess
import sys

failures = []


def run(workload, seed, trace):
    bench = json.load(open("BENCHMARK.json"))
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        failures.append(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
        return None, []
    return json.loads(lines[-1]), [l for l in lines if l.startswith("input ")]


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def main():
    bench = json.load(open("BENCHMARK.json"))
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, inputs = run(w, 1, trace)
            if result is None:
                continue
            declared = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == declared, f"{w} trace {trace}: prints every {key} metric with its unit"
                   + ("" if got == declared else f" (missing {sorted(set(declared) - set(got))}, "
                      f"extra {sorted(set(got) - set(declared))}, units differ for "
                      f"{sorted(k for k in got if k in declared and got[k] != declared[k])})"))
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{w} trace {trace}: outputs correct ({result['attempted']} ops)")
            if trace == 0:
                first = inputs
            else:
                expect(inputs == first and inputs, f"{w}: same seed gives the same inputs")
        _, other = run(w, 2, 0)
        expect(other and other != first, f"{w}: another seed gives other inputs")
        for a, b in zip(first, other):
            if a == b:
                print(f"     (unchanged across seeds: {a[:100]})")
    if failures:
        print(f"\n{len(failures)} failure(s)")
        for f in failures:
            print(f)
        return 1
    print("\nall self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
