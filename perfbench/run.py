"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve_search --seed 1 --seconds 20 --trace 0

Builds the jar if needed (perfbench/build.py), then runs the workload in
one JVM. Before and after the run it samples /proc/stat for the host's
busy and steal fractions and stores them beside the result in
<build dir>/results/, so a run hit by outside load shows in the data.
Traced runs (--trace 1) also leave their spans there as JSON lines.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve_search", "stream_curate_serve")
JVM_TIMEOUT_S = 165


def cpu_sample(window_s=0.5):
    """Busy and steal fractions of all CPUs over a short window."""
    def read():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v
    a = read()
    time.sleep(window_s)
    b = read()
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return {"busy": round(1 - idle / total, 4), "steal": round(d[7] / total, 4)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jar = build.build()
    out = build.build_dir()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    log = os.path.join(results, f"{tag}.log")

    cmd = build.java_cmd(jar, build.spark_jars(), work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--spans", os.path.join(results, f"{tag}.spans.jsonl")]

    before = cpu_sample()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: {tag} timed out after {JVM_TIMEOUT_S} s (log: {log})")
    after = cpu_sample()
    shutil.rmtree(work, ignore_errors=True)

    with open(log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
    lines = [x for x in stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: {tag} failed with exit code {p.returncode} (log: {log})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"perfbench: {tag} printed a malformed result")
    ambient = {"before": before, "after": after}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"result": result, "ambient": ambient}, f)
    print(f"[perfbench] ambient before {before} after {after}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
