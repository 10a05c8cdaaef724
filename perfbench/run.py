#!/usr/bin/env python3
"""Run one benchmark workload with one seed.

    python3 perfbench/run.py --workload mor_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py). The JVM builds the workload's fixture, runs
its closed loop for --seconds of timed op wall time and checks every op's
output. This script prints every metric with its unit, writes the full
result (with its run context) under .bench_build/results/, and prints the
compact summary line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (from a run that also records spans and Spark counters; the
spans go to .bench_build/traces/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cow_ingest", "mor_serve", "curation")
DEADLINE_S = 165


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(path) as fh:
        return json.load(fh)


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times():
    """The host's aggregate CPU tick counters (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a run on a shared host reads slower when this is high."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm(main, args, log_path, deadline):
    """Run a JVM main; returns (exit code, stdout lines). Its stderr goes to
    the log file. The JVM is killed (and waited for) at the deadline."""
    work_tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    cmd = build.jvm_command(main, args, work_tmp, "use")
    env = dict(os.environ, SPARK_LOCAL_DIRS=work_tmp)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None, []
        finally:
            # also on SIGTERM or Ctrl-C: the JVM never outlives this script
            if proc.poll() is None:
                proc.kill()
                proc.communicate()
    return proc.returncode, out.splitlines()


def selftest():
    build.build()
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, lines = jvm("perfbench.SelfTest", [work], os.path.join(work, "jvm.log"),
                          time.time() + DEADLINE_S)
        print("\n".join(lines))
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-5000:])
            fail("self-test failed", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    started = time.time()
    try:
        if a.selftest:
            return selftest()
        if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
            ap.error("--workload, --seed, --seconds and --trace are required")
        spec = load_spec()
        _, sha = build.build()
    except build.BuildError as e:
        fail(f"build error: {e}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
    # measured from here, so a first-run build does not eat into the run's time
    deadline = time.time() + DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    trace_file = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
    load_before, cpu_before = loadavg(), cpu_times()
    try:
        code, lines = jvm("perfbench.Main", [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                                             trace_file], os.path.join(work, "jvm.log"), deadline)
        log_tail = open(os.path.join(work, "jvm.log")).read()[-8000:]
    finally:
        load_after, cpu_after = loadavg(), cpu_times()
        shutil.rmtree(os.path.join(work, "fixture"), ignore_errors=True)
    raw = [ln for ln in lines if ln.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not raw:
        sys.stderr.write(log_tail)
        shutil.rmtree(work, ignore_errors=True)
        fail("timed out" if code is None else f"benchmark JVM failed (exit {code})", 1)
    shutil.rmtree(work, ignore_errors=True)
    res = json.loads(raw[-1][len("PERFBENCH_RESULT "):])

    values = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {n: {"value": values[n], "unit": units[n]} for n in wanted if n in values}

    res["context"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_commit": git_commit(), "source_sha256": sha, "nproc": os.cpu_count(),
        "spark_k": res["spark"]["k"], "spark_version": res["spark"]["version"], "heap": build.HEAP,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_pct": steal_pct(cpu_before, cpu_after),
        "wall_s": round(time.time() - started, 3),
    }
    res["metrics"] = metrics
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)

    missing = [n for n in wanted if n not in values]
    if missing:
        for msg in res["failures"]:
            print(f"  FAILED {msg}", file=sys.stderr)
        fail(f"metrics missing from the run: {', '.join(missing)}", 1)

    ctx = res["context"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  commit {ctx['git_commit']}  "
          f"sources {sha[:12]}  nproc {ctx['nproc']}  local[{ctx['spark_k']}]  heap {build.HEAP}  "
          f"spark {ctx['spark_version']}  load {load_before[0]:.2f} -> {load_after[0]:.2f}  "
          f"steal {ctx['cpu_steal_pct']}%")
    for n in wanted:
        extra = ""
        if n in res.get("tails", {}):
            t = res["tails"][n]
            extra = f"  (p{t['percentile']:.1f} of {t['samples']} samples)"
        print(f"  {n:42s} {values[n]:.6g} {units[n]}{extra}")
    for f, d in sorted(res["families"].items()):
        if d.get("samples"):
            print(f"  family {f:20s} n={d['samples']:<4d} p50 {d['p50_s']:.4f} s  "
                  f"tail {d['tail_s']:.4f} s (p{d['tail_pct']:.1f})")
    print(f"  ops {res['attempted']} attempted, {res['failed']} failed; error_rate "
          f"{res['failed'] / max(1, res['attempted']):.4f}; timed {res['timed_s']:.2f} s")
    for msg in res["failures"]:
        print(f"  FAILED {msg}")
    if a.trace:
        other = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(other):
            base = json.load(open(other))["end_to_end"]["ops_per_s"]
            print(f"  tracing overhead: traced/untraced ops_per_s = "
                  f"{values['trace.ops_per_s'] / base:.3f}")
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
