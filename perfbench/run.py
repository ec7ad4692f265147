#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source with sbt (once per source state; the classpath is cached under
perfbench/target), generates the workload's inputs from the seed under
perfbench/work, runs the harness JVM (perfbench.Main) and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer
metrics. Everything the run writes stays inside the checkout.

--write-pins re-pins the query result hashes under perfbench/expected from
this run's outputs instead of checking them; use it only after checking the
outputs against the DuckDB oracle (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Both text corpora: 2,000 documents and 1,000 vectors, each base row in
# K copies (verbatim in `dups`, perturbed in `distinct`).
N_DOCS, N_VECS, K = 2000, 1000, 4
# Runnable, but not among BENCHMARK.json's workloads (see README.md).
EXTRA = ["text_dedup_dups"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
# The engine build's forked-JVM options (build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile (when the sources changed) and return the runtime classpath."""
    cache = os.path.join(HERE, "target", "bench-classpath.json")
    fp = source_fingerprint()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp:
            return c["classpath"]
    log("[perfbench] building engine + harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def generate(workload, data, seed):
    """Writes the workload's inputs; returns (median seconds of three
    generations, generator facts)."""
    times, facts = [], {}
    for _ in range(3):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "ingest_sync":
            gen.tables(data, 0.001, seed)  # for the traced run's query probe
        else:
            kind = workload.rsplit("_", 1)[1]
            facts = gen.corpus(data, kind, N_DOCS, N_VECS, K, seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), facts


def main():
    # a SIGTERM unwinds like an error, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]] + EXTRA:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    cp = classpath()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        gen_s, facts = generate(a.workload, data, a.seed)
        if facts:
            log(f"[perfbench] corpus {facts}")
        out = os.path.join(work, "result.json")
        pins = os.path.join(HERE, "expected", f"{a.workload}.json")
        cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--data", data,
                  "--work", os.path.join(work, "state"), "--out", out,
                  "--pins", pins, "--gen-s", repr(gen_s),
                  "--trace-file", os.path.join(HERE, "work",
                                               f"trace-{a.workload}-{a.seed}.jsonl")]
               + (["--write-pins"] if a.write_pins else []))
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        jvm_log = os.path.join(HERE, "work", f"{a.workload}-{a.seed}.log")
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit("perfbench: harness timed out")
            finally:
                if proc.poll() is None:  # timed out, or we were stopped
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: harness exited with {rc}; see {jvm_log}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in res["failures"]:
        log(f"[perfbench] FAILED {msg}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["layer"] if a.trace else res["e2e"]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: harness did not report {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0 and not res["failures"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
