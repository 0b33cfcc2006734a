"""Steadiness check of the benchmark.

    python3 perfbench/steady.py [--runs 10] [--traced 2] [--seed0 1]
                                [--workloads tpch,pipeline,...]

Runs every workload --runs times untraced, each run with its own seed,
alternating the order of the workloads from one round to the next, then
--traced traced runs of each. For every end-to-end metric it prints the
median, the quartiles (statistics.quantiles, n=4), min, max and the
quartile spread as a share of the median, next to the metric's bound in
BENCHMARK.json. It names every exact counter of the traced runs that does
not repeat exactly, and every run that failed or read incorrect. Each run
also records the share of the machine's CPU time stolen by the host while
it ran (/proc/stat), since contention from outside moves every timing.
Raw results go to .bench_build/perfbench/steady/<time>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# Counters that do not depend on timing: they must repeat exactly on inputs
# that do not change with the seed.
EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_mb",
         "exec.shuffle_read_mb", "exec.scan_rows", "exec.result_rows",
         "query.build_jobs", "core.table_resolve_jobs",
         "stream.batches_per_step", "stream.state_rows",
         "stream.tasks_per_batch"]


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def one(workload, seed, seconds, trace):
    t0 = time.monotonic()
    steal0, total0 = cpu_ticks()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.monotonic() - t0
    steal1, total1 = cpu_ticks()
    # share of this machine's CPU time taken by the host for others
    steal = (steal1 - steal0) / max(1, total1 - total0)
    summary = [x for x in p.stderr.splitlines() if x.startswith(f"perfbench: {workload} ")]
    info = dict(workload=workload, seed=seed, trace=trace, wall_s=wall, steal=steal,
                summary=summary[-1] if summary else "")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return dict(info, error=p.stderr[-2000:])
    return dict(json.loads(lines[-1]), **info)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    out = os.path.join(".bench_build", "perfbench", "steady")
    os.makedirs(out, exist_ok=True)
    raw = os.path.join(out, time.strftime("%Y%m%d-%H%M%S") + ".jsonl")
    results = []

    def record(r):
        results.append(r)
        with open(raw, "a") as f:
            f.write(json.dumps(r) + "\n")
        state = r.get("error") and "ERROR" or ("ok" if r["correct"] else "INCORRECT")
        print(f"  {r['workload']:<16} seed={r['seed']:<4} trace={r['trace']} "
              f"{r['wall_s']:6.1f}s steal {r['steal']:.1%} {state}", flush=True)

    for i in range(a.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            record(one(w, a.seed0 + i, bench["run_seconds"], 0))
    for i in range(a.traced):
        for w in workloads:
            record(one(w, a.seed0 + i, bench["run_seconds"], 1))

    print(f"\nraw results: {raw}")
    for w in workloads:
        mine = [r for r in results if r["workload"] == w]
        bad = [r for r in mine if r.get("error") or not r["correct"]]
        ok = [r for r in mine if r not in bad]
        walls = [r["wall_s"] for r in mine]
        print(f"\n{w}: {len(ok)}/{len(mine)} runs ok, wall per run "
              f"median {statistics.median(walls):.1f}s max {max(walls):.1f}s, "
              f"CPU steal median {statistics.median(r['steal'] for r in mine):.1%} "
              f"max {max(r['steal'] for r in mine):.1%}")
        for r in bad:
            print(f"  BAD run seed={r['seed']} trace={r['trace']}: "
                  f"{r.get('error', 'incorrect')[-300:]}")
        shares = {(r["failed"], r["attempted"]) for r in ok if r["trace"] == 0}
        if any(f for f, _ in shares):
            print(f"  failed/attempted: {sorted(shares)}")
        untraced = [r for r in ok if r["trace"] == 0]
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in untraced]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "  <-- spread >= bound/3"
            print(f"  {m['name']:<12} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"min {min(vals):12.4f}  max {max(vals):12.4f}  "
                  f"spread {spread:6.3f} (bound {m['bound']}){flag}")
        traced = [r for r in ok if r["trace"] == 1]
        for name in EXACT:
            vals = {r["metrics"][name]["value"] for r in traced if name in r["metrics"]}
            if len(vals) > 1:
                print(f"  counter {name} does not repeat: {sorted(vals)}")


if __name__ == "__main__":
    main()
