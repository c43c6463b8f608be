#!/usr/bin/env python3
"""One report over every workload: end-to-end metrics with units, output
checks, where the time went (per-layer self time from the traced run), the
per-layer metrics and the tracing overhead.

    python3 perfbench/report.py [--seed N] [--no-run]

Without --no-run it first runs each workload of BENCHMARK.json once untraced
and once traced (perfbench/run.py); with --no-run it reads the artifacts the
last runs left in perfbench/out/.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def artifact(workload, seed, trace):
    p = os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.isfile(p):
        sys.exit(f"missing artifact {p}; run without --no-run first")
    with open(p) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--no-run", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]

    if not a.no_run:
        for w in workloads:
            for t in (0, 1):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(a.seed), "--seconds", str(bench["run_seconds"]),
                       "--trace", str(t)]
                r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
                if r.returncode != 0:
                    sys.exit(f"{' '.join(cmd)} failed with {r.returncode}")

    for w in workloads:
        plain, traced = artifact(w, a.seed, 0), artifact(w, a.seed, 1)
        print(f"== {w}  (seed {a.seed}, {plain['master']}, nproc {plain['nproc']}, "
              f"heap {plain['heap_max_mb']} MB, commit {plain['commit'][:12]}, "
              f"loadavg {plain['loadavg_start']} -> {plain['loadavg_end']})")
        print("  end to end (untraced run)")
        for m in bench["end_to_end"]:
            v = plain["end_to_end"].get(m["name"])
            print(f"    {m['name']:<16} {v[0] if v else float('nan'):>12.4f} {m['unit']}")
        frac = plain["failed"] / max(1, plain["attempted"])
        print(f"    {'fail_frac':<16} {frac:>12.4f} ratio  ({plain['failed']} of {plain['attempted']} ops)")
        d = plain["detail"]
        if "checks" in d:
            bad = [g for g, s in d["checks"].items() if s != "ok"]
            print(f"  output checks: {len(d['checks']) - len(bad)}/{len(d['checks'])} gates match "
                  f"their golden fingerprint" + (f"; FAILED: {', '.join(bad)}" if bad else ""))
        else:
            print(f"  output checks: full load {d['full_load_s']:.3f} s, incremental run "
                  f"median {d['incr_batch_p50_s']:.3f} s (n={d['incr_batch_samples']}); "
                  f"warehouse row counts after every run "
                  + ("match the generator" if not plain["failures"] else "MISMATCH"))
        for msg in plain["failures"]:
            print(f"    ! {msg}")
        self_t = traced["detail"].get("self_time_s", {})
        total = sum(self_t.values()) or 1.0
        print("  where did the time go (traced run, self time per layer)")
        for name, s in sorted(self_t.items(), key=lambda kv: -kv[1]):
            print(f"    {name:<28} {s:>9.3f} s  {100 * s / total:5.1f}%")
        print("  per layer (traced run)")
        for m in bench["per_layer"]:
            if not m["name"].startswith("trace."):
                v = traced["per_layer"].get(m["name"], float("nan"))
                print(f"    {m['name']:<28} {v:>14.4f} {m['unit']}")
        print(f"  tracing overhead: {traced['per_layer'].get('trace.overhead_s', float('nan')):+.3f} s "
              f"({100 * traced['per_layer'].get('trace.overhead_share', float('nan')):+.1f}%) "
              f"traced minus untraced, same run")
        print()


if __name__ == "__main__":
    main()
