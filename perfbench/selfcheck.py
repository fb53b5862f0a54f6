"""Checks that the benchmark's counts are load-invariant.

    python3 perfbench/selfcheck.py [--seed 1] [--workload NAME ...]

Runs each workload twice with --trace 1 and the same seed, and fails
unless both runs report identical per-layer counts (every *_jobs, *_tasks
and *_rows metric, the Spark job/stage/task totals,
engine.rederive_factor and dedup.candidate_precision), identical output
digests, and counts that were stable across the traced passes of each
run. Times are not compared.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
COUNTS = ("engine.rederive_factor", "dedup.candidate_precision",
          "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed")


def is_count(name):
    return name in COUNTS or name.endswith(("_jobs", "_tasks", "_rows"))


def traced_run(workload, seed):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "4", "--trace", "1"],
                       stdout=subprocess.PIPE, text=True)
    path = next((l.split(": ", 1)[1] for l in p.stdout.splitlines()
                 if l.startswith("result file: ")), None)
    if p.returncode != 0 or path is None:
        sys.exit(f"selfcheck: {workload} seed {seed} did not produce a result")
    return json.loads(Path(path).read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*",
                    default=[w["name"] for w in json.loads(
                        (HERE.parent / "BENCHMARK.json").read_text())["workloads"]])
    a = ap.parse_args()
    ok = True
    for w in a.workload:
        first, second = traced_run(w, a.seed), traced_run(w, a.seed)
        diffs = [f"{k}: {first['metrics'][k]['value']} vs {second['metrics'][k]['value']}"
                 for k in sorted(first["metrics"]) if is_count(k)
                 and first["metrics"][k]["value"] != second["metrics"][k]["value"]]
        if first["digests"] != second["digests"]:
            diffs.append(f"digests: {first['digests']} vs {second['digests']}")
        for r in (first, second):
            if not r.get("counts_stable"):
                diffs.append("counts differ between traced passes of one run")
            if not r["correct"]:
                diffs.append("output checks failed: " + "; ".join(r["failures"]))
        print(f"{w}: {'identical' if not diffs else 'DIFFERENT'}")
        for d in diffs:
            print("  " + d)
        ok = ok and not diffs
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
