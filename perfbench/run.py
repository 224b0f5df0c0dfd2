#!/usr/bin/env python3
"""Repo benchmark: one seeded workload, one closed-loop client, one line of
JSON metrics at the end of standard output.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 12 --trace 0

Workloads and metrics are described in perfbench/README.md and named in
BENCHMARK.json. Run from the root of a checkout; the engine is compiled
from src/main/scala on first use (see build.py). The run works in
.bench_build/run-<workload>, which is emptied before and after each run.
Exits non-zero when any correctness check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("lake", "dedup", "ann")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def heap():
    """Half of physical memory, between 2g and 8g, as the tier-1 tests pin it."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpu_ticks():
    """(steal, total) CPU ticks of the host since boot, or None."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke runs)")
    ap.add_argument("--fault-every", type=int, default=0,
                    help="fail every n-th engine call before it runs (fault hook)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build()

    work = os.path.join(build.BUILD, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        before = cpu_ticks()
        result = run_jvm(cp, work, a)
        after = cpu_ticks()
        if before and after and after[1] > before[1]:
            # CPU time the hypervisor gave to other guests: wall-clock
            # figures of a run with a high share are slower for that reason.
            result["named"]["host_steal_pct"] = {
                "value": 100.0 * (after[0] - before[0]) / (after[1] - before[1]), "unit": "%"}
        checks = result["checks"]
        if a.workload == "lake":
            import oracle
            try:
                n, bad = oracle.check(os.path.join(work, "out", "lake"),
                                      os.path.join(work, "out", "queries.jsonl"))
            except Exception as e:  # the lake or the query log is missing
                n, bad = 0, [repr(e)]
            checks.append({"name": f"lake.duckdb_match ({n} queries)", "ok": not bad,
                           "detail": "; ".join(bad)})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    correct = all(c["ok"] for c in checks)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "checks": len(checks),
                      "end_to_end": result["end_to_end"], "named": result["named"],
                      "notes": result["notes"]}))
    if a.trace:
        # Spans as [id, name, start ns, end ns, parent id, request].
        print(json.dumps({"layers": result["layers"], "spans": result["spans"]}))
    chosen = spec["per_layer" if a.trace else "end_to_end"]
    source = result["layers"] if a.trace else result["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def run_jvm(cp, work, a):
    cmd = ["java", f"-Xmx{heap()}", "-Xms2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", work,
            "--scale", str(a.scale), "--fault-every", str(a.fault_every)]
    log = os.path.join(build.BUILD, f"jvm-{a.workload}.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: engine run failed ({rc})")
    with open(res) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
