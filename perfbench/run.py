"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload blueprint_fanout --seed 1 --seconds 12 --trace 0

Builds the harness if needed (perfbench/build.py), runs it in one JVM with
local[N] Spark, N = min(2, nproc), stamps the result with the machine's
state and writes it to .bench_build/perfbench/results/. The last line of
standard output is the result as one JSON object: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1 (which also writes a span
file next to the result).
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
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("blueprint_fanout", "dataset_build")
# Two task threads leave the other cores of a small machine to the query
# planning thread (planning, codegen) and the JIT and GC threads, which
# carry most of each pass: the passes are bound by per-job overhead, not
# by task parallelism.
MAX_CORES = 2
HEAP = "2g"
# no -Xms: the heap grows with the program, so peak_rss_mb follows its
# allocations rather than the heap flags
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
             "-XX:MetaspaceSize=256m"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit(root):
    if not (root / ".git").exists():
        return None
    p = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def cpu_times():
    """The machine's aggregate CPU counters (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(start, end):
    """Share of CPU time the hypervisor took (steal) between two readings."""
    if not start or not end or len(start) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) > 0 else None


def run_harness(cmd, env, log_path):
    """Runs the JVM, relaying its progress lines; kills it on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env, start_new_session=True)

        def kill():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        timer = threading.Timer(RUN_TIMEOUT_S, kill)
        timer.start()
        try:
            for line in proc.stdout:
                print("  " + line.rstrip(), flush=True)
            return proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                kill()
                proc.wait()


def main():
    # a terminated run still stops its JVM (run_harness's finally block)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = build.ROOT
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    try:
        classes, source_sha = build.build()
        jars = build.spark_jars()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    cores = min(MAX_CORES, nproc)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = build.BUILD / "work" / tag
    results = build.BUILD / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    spans = results / f"{tag}.spans.json"

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", str(work), "--out", str(out),
            "--spans", str(spans) if a.trace else ""]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    rc = run_harness(cmd, env, work / "harness.log")
    if rc != 0 or not out.is_file():
        log = (work / "harness.log").read_text(errors="replace")
        tail = [l for l in log.splitlines() if " INFO " not in l and not l.startswith("WARNING")]
        print("\n".join(tail[-40:]), file=sys.stderr)
        print(f"perfbench: harness exited with {rc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    result = json.loads(out.read_text())
    result["stamp"] = {
        "cores": cores, "nproc": nproc,
        "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0],
        "cpu_steal_share": steal_share(cpu_start, cpu_times()),
        "heap": HEAP, "spark_version": result.get("spark_version"),
        "git_commit": git_commit(root), "source_sha256": source_sha,
    }
    result_file = results / f"{tag}.json"
    result_file.write_text(json.dumps(result, indent=1, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)

    for name, m in result["metrics"].items():
        print(f"{name:34s} {m['value']:>16.6g} {m['unit']}")
    if result["failures"]:
        print("failures:\n  " + "\n  ".join(result["failures"]))
    print(f"result file: {result_file}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
