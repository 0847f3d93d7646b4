#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and inter-quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload sql_mix --seeds 1-10 [--save a.json]
    python3 perfbench/steady.py --compare a.json b.json

`--compare` applies the acceptance rule to two saved run sets: every
spread except setup_s within its bound, and the second median not worse
than the first by more than the bound.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run_set(workload, seed_list, seconds):
    values = {}
    for s in seed_list:
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                              "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines() or ["{}"]
        r = json.loads(lines[-1])
        prov = json.loads(lines[-2])["provenance"] if len(lines) > 1 else {}
        if out.returncode != 0 or not r.get("correct"):
            print(f"seed {s}: rc={out.returncode} {lines[-1][:300]}", file=sys.stderr)
        for k, m in r.get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in r.get("metrics", {}).items())
              + f" steal={prov.get('steal_jiffies')}/{prov.get('steal_bound_jiffies')}", flush=True)
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    decl = {m["name"]: m for m in bench["end_to_end"]}
    if a.compare:
        first, second = (json.load(open(p)) for p in a.compare)
        for name in decl:
            print(f"{name:12s} spread {benchlib.spread(first[name]):.3f}/"
                  f"{benchlib.spread(second[name]):.3f} bound {decl[name]['bound']} median "
                  f"{benchlib.median(first[name]):.4g} -> {benchlib.median(second[name]):.4g}")
        failures = benchlib.accept(first, second, bench["end_to_end"])
        for name, why in failures:
            print(f"FAIL {name}: {why}")
        sys.exit(1 if failures else 0)
    values = run_set(a.workload, seeds(a.seeds), bench["run_seconds"])
    for name, xs in values.items():
        m = decl[name]
        sp = benchlib.spread(xs) if len(xs) > 1 else 0.0
        print(f"{name:12s} median {benchlib.median(xs):.4g} spread {sp:.3f} "
              f"bound {m['bound']} ({sp / m['bound']:.2f} of bound)")
    if a.save:
        json.dump(values, open(a.save, "w"))


if __name__ == "__main__":
    main()
