#!/usr/bin/env python3
"""Steadiness report: run one workload with seeds 1..runs and print every
end-to-end metric's median, quartiles and spread against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload mor_serve --runs 10
    python3 perfbench/steady.py --workload cow_ingest --runs 10 --sets 2

The spread is (Q3 - Q1) / median over the runs, with the quartiles of
Python's statistics.quantiles(values, n=4). A metric whose spread exceeds
its bound is flagged FLAG (it cannot hold the bound); one above a third of
its bound is marked WARN. Every metric is judged so, setup_s included. With
--sets 2 the runs are repeated with the same seeds, and a metric whose
second median is worse than the first by more than its bound is flagged
too. Exits 1 when anything is flagged. The per-run values and the table are
written to .bench_build/steady/<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload, seed, seconds):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "0"],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {out.returncode})")
    return json.loads(lines[-1])


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    if a.runs < 4:
        ap.error("--runs must be at least 4 for quartiles")

    sets = []
    for s in range(a.sets):
        results = []
        for seed in range(1, a.runs + 1):
            r = run_once(a.workload, seed, spec["run_seconds"])
            if not r["correct"]:
                raise SystemExit(f"seed {seed}: incorrect output ({r['failed']} failed ops)")
            results.append(r)
            print(f"set {s + 1} seed {seed}/{a.runs}: " +
                  " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics),
                  flush=True)
        sets.append(results)

    flagged = []
    table = {}
    print(f"\n{a.workload}: {a.runs} runs x {a.sets} set(s), run_seconds {spec['run_seconds']}")
    print(f"{'metric':42s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} {'bound':>6s}")
    for m in metrics:
        name = m["name"]
        per_set = [summarize([r["metrics"][name]["value"] for r in rs]) for rs in sets]
        s1 = per_set[0]
        bound = m["bound"]
        marks = []
        for i, st in enumerate(per_set, 1):
            if st["spread"] > bound:
                marks.append(f"FLAG set {i} spread")
            elif st["spread"] > bound / 3:
                marks.append(f"WARN set {i} spread > bound/3")
        if len(per_set) == 2:
            lower = m["better"] == "lower"
            worse = (per_set[1]["median"] / s1["median"] - 1) if lower else \
                (1 - per_set[1]["median"] / s1["median"])
            if worse > bound:
                marks.append(f"FLAG set 2 worse by {worse:.3f}")
        mark = "; ".join(marks)
        if any(x.startswith("FLAG") for x in marks):
            flagged.append(name)
        table[name] = {"sets": per_set, "bound": bound, "mark": mark}
        print(f"{name:42s} {s1['median']:11.5g} {s1['q1']:11.5g} {s1['q3']:11.5g} "
              f"{s1['spread']:7.3f} {bound:6.3f} {mark}")
        if len(per_set) == 2:
            s2 = per_set[1]
            print(f"{'  (set 2)':42s} {s2['median']:11.5g} {s2['q1']:11.5g} {s2['q3']:11.5g} {s2['spread']:7.3f}")

    os.makedirs(os.path.join(ROOT, ".bench_build", "steady"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady", f"{a.workload}.json"), "w") as fh:
        json.dump({"runs": [[r["metrics"] for r in rs] for rs in sets], "table": table}, fh, indent=1)
    if flagged:
        print(f"\nflagged: {', '.join(flagged)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
