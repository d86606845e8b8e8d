#!/usr/bin/env python3
"""Cross-checks the query sweep against the DuckDB oracles, once.

Writes the sweep's generated tables, dumps the sweep's SparkEntry queries
with graft.Verify (which switches the sketch queries to the portable hash
the oracle SQL mirrors), and compares them with scripts/local_oracle_check.py.
Queries without oracle SQL are listed as NO_ORACLE.

Usage (from the repository root):
  python3 perfbench/oracle_check.py [output file]
"""
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
from run import ADD_OPENS  # noqa: E402


def queries():
    src = open(os.path.join(HERE, "src", "graft", "perfbench",
                            "Sweep.scala")).read()
    block = src[src.index("val Queries"):src.index(")", src.index("val Queries"))]
    return re.findall(r'"(q[\w]+)"', block)


def java(cp, work, *args):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.sql.codegen.cache.maxEntries=4096"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    subprocess.run(cmd + ["-cp", cp] + list(args), cwd=ROOT, check=True,
                   stderr=subprocess.DEVNULL)


def main():
    os.makedirs(build.OUT, exist_ok=True)
    cp = build.build()
    work = os.path.join(build.OUT, "oracle-check")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tables = os.path.join(work, "tables")
    java(cp, work, "graft.perfbench.Main", "--dump-tables", tables,
         "--work", work)
    java(cp, work, "graft.Verify", tables, os.path.join(work, "verify"),
         ",".join(queries()))
    r = subprocess.run([sys.executable,
                        os.path.join(ROOT, "scripts", "local_oracle_check.py"),
                        os.path.join(work, "verify"), tables],
                       cwd=ROOT, capture_output=True, text=True)
    print(r.stdout, end="")
    print(r.stderr, end="", file=sys.stderr)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(r.stdout)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
