#!/usr/bin/env python3
"""Smoke test for the benchmark: every workload on tiny inputs, the fault
hook, and the refusal to run without the engine's sources.

    python3 perfbench/smoke_test.py        # from the root of a checkout

Takes a few minutes; each run starts its own JVM.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last, p


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    tiny = ["--seed", "7", "--seconds", "1", "--scale", "0.05"]

    for w in ("lake", "dedup", "ann"):
        for trace in (0, 1):
            rc, out, p = run(["--workload", w, "--trace", str(trace)] + tiny)
            want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            if rc != 0 or not out or not out["correct"]:
                failures.append(f"{w} trace={trace}: exit {rc}\n{p.stderr[-2000:]}")
            elif set(out["metrics"]) != want:
                failures.append(f"{w} trace={trace}: metrics {sorted(out['metrics'])}")
            elif out["failed"] != 0 or out["attempted"] < 1:
                failures.append(f"{w} trace={trace}: attempted {out['attempted']} failed {out['failed']}")

    # The fault hook fails every fifth engine call (the first query, then
    # every fifth): failures are counted, never timed, and success_rate
    # falls below 1.
    rc, out, p = run(["--workload", "lake", "--trace", "0", "--fault-every", "5"] + tiny)
    if not out or out["failed"] == 0 or out["metrics"]["success_rate"]["value"] >= 1:
        failures.append(f"fault hook did not show: exit {rc} {out}")

    # Without the engine's sources the benchmark must refuse, printing no result.
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, p = run(["--workload", "lake", "--trace", "0"] + tiny, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out is not None:
        failures.append(f"bare checkout: exit {rc}, result {out}")

    for f in failures:
        print("FAIL", f)
    print("smoke:", "ok" if not failures else f"{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
