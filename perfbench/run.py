"""Runs one benchmark workload and prints one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The program and the harness are compiled
first if a source changed (perfbench/build.py); then one fresh JVM runs
the workload: set-up and warm-up, then whole rounds of a fixed amount of
work for S seconds. Its outputs are checked here against computations
made apart from the program (perfbench/check.py). The last line of
standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1 (which also writes the run's spans to
.bench_build/perfbench/trace/<workload>.spans.jsonl).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("tpch", "pipeline", "stream_join", "stream_topspeed")
# The sf0.1 tables every workload reads (SPARK_GRAFT_SF_DIR, as for
# graft.Bench). TPC-H warms up on the sf0.001 tables next to them.
DATA_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.path.join(os.path.dirname(os.path.abspath(DATA_DIR)), "sf0.001")
RUN_LIMIT_S = 175       # a run must end well within 180 s

# JVM flags as in build.sbt.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap():
    """build.sbt's default: SPARK_DRIVER_MEM, else half of physical memory,
    at least 2g and at most 32g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    gb = int(line.split()[1]) // 1048576
    except OSError:
        pass
    return f"{8 if gb <= 0 else max(2, min(32, gb // 2))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    started = time.monotonic()

    try:
        classes = build.build(root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    for d in (DATA_DIR, WARM_DIR):
        if not os.path.isdir(d):
            print(f"perfbench: no data directory {d}", file=sys.stderr)
            return 2

    run_dir = os.path.join(build.out_dir(root), "runs", f"{a.workload}-{os.getpid()}")
    in_dir, out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("in", "out", "tmp"))
    for d in (in_dir, out_dir, tmp_dir):
        os.makedirs(d)
    try:
        return run(a, root, classes, started, in_dir, out_dir, tmp_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, root, classes, started, in_dir, out_dir, tmp_dir, run_dir):
    # enough input for the harness's warm-up steps (5) and timed steps as
    # short as 100 ms; a run stops early, and says so in its step count,
    # only if the input runs out
    steps = int(a.seconds * 10) + 10
    events = None
    if a.workload == "stream_join":
        events = gen.join_events(a.seed, steps)
        gen.write_tsv(os.path.join(in_dir, "join.tsv"), events)
    elif a.workload == "stream_topspeed":
        events = gen.topspeed_events(a.seed, steps)
        gen.write_tsv(os.path.join(in_dir, "topspeed.tsv"), events)

    # local[N]: SPARK_GRAFT_CPUS if set (1 gives the single-thread
    # baseline), else the CPUs this process may use
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = (["java", "-cp", classes + ":" + build.spark_jars_dir(root) + "/*"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{heap()}", "-XX:+UseParallelGC",
              # beyond build.sbt: keep every file the JVM writes inside the run
              # directory (no hsperfdata file in /tmp)
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
              "perfbench.Main", "--workload", a.workload, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", DATA_DIR, "--in", in_dir,
              "--out", out_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: JVM exited {rc}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        r = json.load(f)

    jvm_done = time.monotonic()
    facts = r["facts"]
    cache = os.path.join(build.out_dir(root), "oracle-cache")
    problems = [f"JVM: {e}" for e in r["errors"] if e.startswith("warm-up")]
    if int(facts.get("unstable_results", "0")):
        problems.append(f"{facts['unstable_results']} results changed between rounds")
    if a.workload == "tpch":
        problems += check.check_tpch(DATA_DIR, out_dir, cache)
    elif a.workload == "pipeline":
        problems += check.check_pipeline(DATA_DIR, out_dir, cache)
    else:
        done = int(facts["steps_done"])
        state = facts["state_rows_per_step"]
        fed = [e for e in events if e[0] < done]
        if a.workload == "stream_join":
            problems += check.check_stream_join(fed, out_dir, gen.JOIN_WINDOW_MS)
            # watermark eviction: state never holds more than the events
            # of the two most recent windows
            cap = 2 * 2 * gen.JOIN_EVENTS_PER_SIDE
            if max(state) > cap:
                problems.append(f"join state reached {max(state)} rows > {cap}")
        else:
            problems += check.check_stream_topspeed(fed, out_dir)
            if any(s != gen.TOPSPEED_CARS for s in state):
                problems.append(f"topspeed state rows {sorted(set(state))} != {gen.TOPSPEED_CARS} cars")
    layers = r["layers"]
    if a.trace and not 0 < layers.get("exec.core_busy", 0) <= 1:
        problems.append(f"exec.core_busy {layers.get('exec.core_busy')} outside (0, 1]")
    for p in problems:
        print(f"perfbench: INCORRECT: {p}", file=sys.stderr)

    if a.trace:
        trace_dir = os.path.join(build.out_dir(root), "trace")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(os.path.join(out_dir, "spans.jsonl"),
                    os.path.join(trace_dir, f"{a.workload}.spans.jsonl"))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {n: {"value": layers.get(n, 0.0), "unit": units[n]} for n in units}
    else:
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "run_s": {"value": r["run_s"], "unit": "s"},
            "op_p50_ms": {"value": statistics.median(r["op_ms"]) if r["op_ms"] else 0.0,
                          "unit": "ms"},
        }
    print(f"perfbench: {a.workload} seed={a.seed} rounds={r['rounds']} "
          f"ops={len(r['op_ms'])} jvm_s={jvm_done - started:.1f} "
          f"check_s={time.monotonic() - jvm_done:.1f} facts={json.dumps(facts)} "
          f"op_ms={[round(x) for x in r['op_ms']]}",
          file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
