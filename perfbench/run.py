#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, run against the
engine's public entry points in one JVM at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and
the benchmark (perfbench/build.py). Workloads: bulk_replay, live_tail,
lake_reads, query_suite (see perfbench/METRICS.md). Every result is checked
(ReplayOracle for lakes, DuckDB for queries). The last stdout line is the
result JSON; the line before it is the detail record with host and run
facts and every named metric with its median, tail percentile and sample
count. Exits non-zero, printing no result, when anything fails to run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("bulk_replay", "live_tail", "lake_reads", "query_suite")
JVM_TIMEOUT_S = 150  # with parity (at most 20 s), a run ends within 180 s
# query_suite's input: a copy of the repo's sf0.01 test tables (60k lineitem rows)
TABLES = os.path.join(HERE, "data", "sf0.01")


def host_facts(stamp, seed):
    mem_kb = None
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    except OSError:
        pass
    head = None
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb and mem_kb // 1024,
            "git_head": head, "source_sha256": stamp, "jvm_flags": build.JVM_FLAGS, "seed": seed}


def run_jvm(args, work):
    """Run the benchmark JVM; returns (exit code, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(tmp, args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, ru.ru_maxrss / 1024.0
            if time.time() > deadline:
                proc.kill()
                _, status, ru = os.wait4(proc.pid, 0)
                proc.returncode = -9
                return -9, ru.ru_maxrss / 1024.0
            time.sleep(0.05)


def parity(tables, out_dir):
    """DuckDB parity of every written query result (tools/parity.py);
    returns (results compared, lines of the failed ones)."""
    r = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "parity.py"),
                        tables, out_dir], capture_output=True, text=True, timeout=20)
    lines = r.stdout.splitlines()
    ok = sum(1 for ln in lines if ln.strip().startswith("ok "))
    bad = [ln for ln in lines if ln.startswith("FAIL")]
    return ok + len(bad), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    stamp = build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = TABLES if a.workload == "query_suite" else ""
        raw_path = os.path.join(work, "raw.json")
        code, rss_mb = run_jvm([a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                    work, raw_path] + ([tables] if tables else []), work)
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        raw = json.load(open(raw_path))
        if a.trace:  # keep the traced run's spans and jobs for inspection
            shutil.copy(raw_path, os.path.join(build.build_dir(), f"trace-{a.workload}.json"))
        attempted, failed = raw["attempted"], raw["failed"]
        notes = list(raw["notes"])
        if a.workload == "query_suite":
            checked, bad = parity(tables, raw["extra"]["parity_dir"])
            attempted += len(metrics.HEADLINE)
            failed += len(metrics.HEADLINE) - checked + len(bad)
            notes += bad
        named, gate, layers = metrics.compute(raw, rss_mb)
        detail = {"facts": dict(host_facts(stamp, a.seed), master=raw["master"],
                                spark=raw["spark_version"], workload=a.workload,
                                seconds=a.seconds, trace=a.trace),
                  "named": named, "setup": raw["setup"], "notes": notes,
                  "failed_frac": failed / max(attempted, 1)}
        if a.trace:
            detail["per_layer"] = layers
        print(json.dumps(detail))
        chosen = layers if a.trace else gate
        result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
                  "failed": failed, "metrics": chosen}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
