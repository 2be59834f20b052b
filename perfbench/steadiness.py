#!/usr/bin/env python3
"""Steadiness self-check: runs every workload on several seeds, in two or
more sets, and compares each end-to-end metric's spread and median with the
bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --seeds 10 --sets 2 --out perfbench/steadiness.json

The runs alternate: seed by seed, each set runs every workload in turn, so
a change in host speed during the check reaches every set alike. The spread
of a metric is the distance between the first and third quartile of its
values (`statistics.quantiles(values, n=4)`) as a share of their median. A
set passes when every spread stays within its bound; two sets agree when
each later set's median differs from the first set's by at most the bound,
in either direction.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload, seed, seconds):
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = time.time() - t
    r["ops"] = [l for l in p.stderr.splitlines()
                if l.startswith((f"[perfbench] {workload} ", "[perfbench] pass "))]
    return r


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    runs = {w: [[] for _ in range(a.sets)] for w in workloads}
    ok = True
    for i in range(a.seeds):
        for k in range(a.sets):
            seed = 1 + i * a.sets + k
            for w in workloads:
                r = run_once(w, seed, bench["run_seconds"])
                ok &= r["correct"] and r["failed"] == 0
                runs[w][k].append(r)
                print(f"{w} set{k} seed{seed} wall={r['wall_s']:.0f}s " + " ".join(
                    f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()), flush=True)
                print("   " + " ".join(r["ops"]), flush=True)

    report = {"seeds": a.seeds, "sets": a.sets, "run_seconds": bench["run_seconds"],
              "workloads": {}}
    for w in workloads:
        sets = runs[w]
        rw = report["workloads"][w] = {"wall_s_max": max(r["wall_s"] for s in sets for r in s),
                                       "metrics": {}}
        for name, spec in bounds.items():
            per_set = [[r["metrics"][name]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in per_set]
            sp = [spread(v) for v in per_set]
            drift = [(m - med[0]) / med[0] for m in med[1:]]
            within = all(x <= spec["bound"] for x in sp) and all(abs(x) <= spec["bound"] for x in drift)
            ok &= within
            rw["metrics"][name] = {"bound": spec["bound"], "medians": med, "spreads": sp,
                                   "later_vs_first": drift}
            print(f"{w:16s} {name:32s} bound={spec['bound']:.2f} medians="
                  + ",".join(f"{m:.4g}" for m in med) + " spreads="
                  + ",".join(f"{x:.3f}" for x in sp)
                  + (" drift=" + ",".join(f"{x:+.3f}" for x in drift) if drift else "")
                  + ("" if within else "  <-- OUT OF BOUND"), flush=True)
    report["steady"] = ok
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=2) + "\n")
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
