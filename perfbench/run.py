#!/usr/bin/env python3
"""Benchmark of graft's integration pipeline, one workload per run.

    python3 perfbench/run.py --workload er_pairs --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload er_pairs --seed 1 --generate   # inputs only

Builds the program and the benchmark (perfbench/build.py), then runs the
workload in a fresh JVM launched directly (fixed heap, local[nproc]): set-up,
one cold execution, warm-up, and a closed loop of pipeline executions for
--seconds, each checked. With --trace 0 the last stdout line carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Everything the run
writes stays under .bench_build/ of the checkout; its scratch directory is
removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("er_pairs", "corpus_dedup")
HEAP = "3g"
DEADLINE_S = 170

UNITS = {
    "setup_s": "s", "cold_run_s": "s", "run_s_p50": "s", "cpu_s_p50": "s",
    "records_per_s": "1/s", "heap_retained_mb": "MB", "f1": "ratio",
}


def layer_unit(name):
    leaf = name.split(".", 1)[1]
    if leaf == "pairs_per_s":
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("useful_ratio", "task_skew"):
        return "ratio"
    return "count"


# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true",
                    help="only write the seeded inputs and planted truth under .bench_build/inputs")
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = build.ensure_built()
    started = time.time()
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(logs, tag + ".log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores()),
              "--t0-ms", str(int(time.time() * 1000))])
    if a.trace:
        cmd += ["--trace-file", os.path.join(build.BUILD, "traces", tag + ".json")]
    if a.generate:
        cmd += ["--generate-to", os.path.join(build.BUILD, "inputs", f"{a.workload}-seed{a.seed}")]
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=work)
            # the run must end within the deadline, hung or not
            watchdog = threading.Timer(max(1, DEADLINE_S - (time.time() - started)), proc.kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    log.write(f"[{time.time() - started:.1f}] " + line)
                    log.flush()
                    if line.startswith("RESULT "):
                        result = json.loads(line[len("RESULT "):])
                    elif line.startswith("GENERATED "):
                        result = line.split()[1:]
                proc.wait()
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(f"benchmark JVM failed (exit {proc.returncode}); log: {log_path}\n")
        sys.exit(1)
    if a.generate:
        print(" ".join(result))
        return
    metrics = {k: {"value": v, "unit": UNITS.get(k) or layer_unit(k)}
               for k, v in result["metrics"].items()}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
