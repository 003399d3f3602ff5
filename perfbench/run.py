"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload viz_session --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the benchmark's Scala
program if needed (perfbench/build.py), starts one JVM (local[4], one client thread) that
generates the seeded inputs, warms up and measures whole rotations of
the workload's input mix for about --seconds (at least one), then
prints each metric as `metric <name> <value> <unit>` and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The run's artifact (spans, set-up timings, environment) is kept under
<build dir>/runs/. Exits non-zero, printing no result, if anything fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("viz_session", "lake_corpus")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(cp, args, work, out, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap size: collections do not depend on how the heap grew
    cmd += ["-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            f"-Dgraft.scratch.dir={work}",
            "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    launched_ms = time.time() * 1000.0
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, env=env)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                fail(f"JVM exceeded {JVM_TIMEOUT_S}s; log: {log}")
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    proc.returncode = code  # reaped by wait4 above; keeps Popen from waiting again
    with open(log, errors="replace") as lf:
        for line in lf:
            if line.startswith("perfbench:"):
                print(line.rstrip(), file=sys.stderr)
    if code != 0:
        fail(f"JVM exited with {code}; log: {log}")
    # ru_maxrss of the waited child is in KiB on Linux
    return launched_ms, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(str(e))
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(runs, tag + ".json")
    log = os.path.join(runs, tag + ".log")
    work = os.path.abspath(os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}"))
    if os.path.exists(out):
        os.remove(out)
    try:
        launched_ms, peak_rss_mb = run_jvm(cp, args, work, out, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(out):
        fail(f"no artifact written; log: {log}")
    with open(out) as fh:
        art = json.load(fh)

    st = art["setup"]
    # one start (JVM and session), the median of the repeated input
    # generations, then references and warm-up
    setup_s = ((st["session_ready_ms"] - launched_ms) + statistics.median(st["gen_ms"])
               + st["references_ms"] + st["warmup_ms"]) / 1000.0
    # the set-up this run took: launch until warm-up was done
    setup_wall_s = (st["measure_start_ms"] - launched_ms) / 1000.0
    attempted, failed = metrics.Run(art).failures()
    if args.trace:
        values = {k: (metrics.finite(v), "") for k, v in metrics.per_layer(art).items()}
        units = load_units("per_layer")
    else:
        values = metrics.end_to_end(art, setup_s)
        units = load_units("end_to_end")
        print(f"detail {args.workload}.setup_wall_s {setup_wall_s:.6g} s")
        print(f"detail {args.workload}.peak_rss_mb {peak_rss_mb:.6g} MB")
        for k, (v, u) in metrics.detail(art).items():
            print(f"detail {args.workload}.{k} {v:.6g} {u}")
    result = {}
    for name, unit in units.items():
        v = metrics.finite(values[name][0]) if name in values else 0.0
        result[name] = {"value": v, "unit": unit}
        print(f"metric {name} {v:.6g} {unit}")
    art["summary"] = {"setup_s": setup_s, "setup_wall_s": setup_wall_s, "peak_rss_mb": peak_rss_mb,
                      "attempted": attempted, "failed": failed, "metrics": result}
    if args.trace:
        art["summary"]["self_ms"] = {k: {"calls": c, "ms": ms}
                                     for k, (c, ms) in metrics.self_times(art).items()}
    with open(out, "w") as fh:
        json.dump(art, fh)
    print(json.dumps({"correct": failed == 0 and art["aborted_cycles"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": result}))


def load_units(section):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    main()
