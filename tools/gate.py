#!/usr/bin/env python3
"""One-command oracle gate: graft.Verify + tools/check.py at three SFs.

Usage: python3 tools/gate.py <query,...|all> <testdata-dir> [--out DIR]

<testdata-dir> holds the sf0.001, sf0.01 and sf0.1 fixture directories.
For each SF the gate dumps the named queries' results with graft.Verify
(its name filter; `all` runs the full surface), compares them against
the DuckDB oracle with tools/check.py, and finally prints one summary
line:

    gate t05_language_id,t40_bpe_tokenize: sf0.001 2/2 | sf0.01 2/2 | sf0.1 2/2 -> PASS

Exit status 0 only when every SF passes. The three Verify runs share one
sbt session; SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM pass through to the
forked JVMs as usual. Results land under --out (default: a new temp dir)
as <out>/<sf>/, so a failure can be inspected after the run.
"""
import argparse
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SFS = ["sf0.001", "sf0.01", "sf0.1"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", help="comma-separated query names, or 'all'")
    ap.add_argument("testdata", help="directory holding sf0.001/sf0.01/sf0.1")
    ap.add_argument("--out", help="results directory (default: a temp dir)")
    a = ap.parse_args()
    out = os.path.abspath(a.out or tempfile.mkdtemp(prefix="graft-gate-"))
    data = os.path.abspath(a.testdata)
    names = [] if a.queries == "all" else a.queries.split(",")

    runs = []
    for sf in SFS:
        sf_dir = os.path.join(data, sf)
        if not os.path.isdir(sf_dir):
            sys.exit(f"gate: missing fixture directory {sf_dir}")
        runs.append(f"runMain graft.Verify {sf_dir} {os.path.join(out, sf)} "
                    f"{','.join(names)}".rstrip())
    sbt = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + runs,
                         cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    failed = re.findall(r"\[verify\] (\d+) FAILED: (.*)", sbt.stdout)
    if sbt.returncode != 0:
        sys.stdout.write(sbt.stdout[-4000:])
        sys.exit(f"gate: sbt exited {sbt.returncode}")

    parts, ok = [], True
    for sf in SFS:
        chk = subprocess.run(
            [sys.executable, os.path.join(HERE, "check.py"),
             os.path.join(data, sf), os.path.join(out, sf)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        for line in chk.stdout.splitlines():
            if line.startswith("FAIL"):
                print(f"{sf}: {line}")
        m = re.search(r"(\d+) pass / (\d+) fail", chk.stdout)
        if not m:
            sys.stdout.write(chk.stdout[-2000:])
            sys.exit(f"gate: tools/check.py gave no summary for {sf}")
        n_pass, n_fail = int(m.group(1)), int(m.group(2))
        ok = ok and n_fail == 0 and chk.returncode == 0
        # Verify's name filter skips unknown names silently
        missing = [q for q in names
                   if not os.path.isdir(os.path.join(out, sf, q))]
        if missing:
            print(f"{sf}: no result for {','.join(missing)}")
            ok = False
        parts.append(f"{sf} {n_pass}/{n_pass + n_fail}")
    ok = ok and not failed
    for n, names in failed:
        print(f"verify: {n} queries threw: {names}")
    print(f"gate {a.queries}: {' | '.join(parts)} -> "
          f"{'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
