#!/usr/bin/env python3
"""graft benchmark. Run from the repository root:

  python3 perfbench/run.py --workload <linkgraph|query-sweep> --seed <n>
                           --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), then runs one
JVM at local[<cores>] that sets up the seeded inputs, runs a cold pass and
measures passes for --seconds, checking every output. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). With --trace 1 the
spans are also written to .bench_build/traces/.
Set GRAFT_BENCH_CORRUPT_REF=1 to perturb every reference result: each
checked operation must then count as failed.
`--write-ref perfbench/ref/query-sweep.json` (with --workload query-sweep)
runs one pass and rewrites the sweep's committed result digests; check
them with perfbench/oracle_check.py before committing.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("linkgraph", "query-sweep")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--write-ref", help="query-sweep only: run one pass and "
                    "write its result digests to this file")
    a = ap.parse_args()

    import build
    os.makedirs(build.OUT, exist_ok=True)
    cp = build.build()

    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(build.OUT, "logs", f"{a.workload}-{a.seed}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.codegen.cache.maxEntries=4096"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--ref", os.path.join(HERE, "ref", "query-sweep.json")]
    if a.write_ref:
        cmd += ["--write-ref", os.path.abspath(a.write_ref)]
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s (log: {log})")
    if a.trace == "1":
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.decode().strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: JVM exited with {p.returncode} (log: {log})")
    result = json.loads(lines[-1])
    if a.write_ref:
        print(json.dumps(result))
        return
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"perfbench: malformed result line (log: {log})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
