"""Deal-loop and vector-store benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail|catchup|vector_store \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source on first use (see build.py), then runs one JVM that sets up the
workload, measures it for S seconds, checks the engine's outputs and
prints one JSON result as its last line of standard output. Exits
non-zero when a check fails, when the result does not carry exactly the
metrics BENCHMARK.json lists for the trace mode, in their units, or when
the run cannot complete. See README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def manifest_errors(root, result, traced):
    """Where the result differs from what BENCHMARK.json promises: every
    end-to-end metric (untraced) or every per-layer metric (traced), each
    in its unit; an end-to-end value must be a positive finite number."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    errors = [f"missing metric {n}" for n in want if n not in got]
    errors += [f"unlisted metric {n}" for n in got if n not in want]
    for n, m in got.items():
        if n not in want:
            continue
        v = m.get("value")
        if m.get("unit") != want[n]:
            errors.append(f"{n}: unit {m.get('unit')}, expected {want[n]}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{n}: value {v!r} is not a number")
        elif not traced and v <= 0:
            errors.append(f"{n}: value {v} is not positive")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tail", "catchup", "vector_store"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build.build(root)
    cmd = ["java"] + build.jvm_args(root)
    if os.path.exists(build.archive(root)):
        cmd.append("-XX:SharedArchiveFile=" + build.archive(root))
    cmd += [
        "-cp", build.classpath(root), "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(stdout)
        sys.exit(f"no result line (exit {proc.returncode})")
    errors = manifest_errors(root, result, a.trace == 1)
    if errors:
        sys.stderr.write(stdout)
        sys.exit("result does not match BENCHMARK.json: " + "; ".join(errors))
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
