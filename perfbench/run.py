#!/usr/bin/env python3
"""End-to-end benchmark of the graft memory pipeline.

    python3 perfbench/run.py --workload ingest|stream|curate \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program's main
sources together with the harness in perfbench/src (sbt, offline); later
runs reuse the build while the sources are unchanged. Each run generates
its inputs from --seed (gen.py), runs the workload in one JVM on
local[nproc] with a fixed heap, checks its outputs, and prints as its
last stdout line one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
It exits 0 when every check passed and 1 when one failed; any other failure
exits 2 without a result line. Build output and run files stay under
perfbench/target and .bench_build/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_LIMIT_S = 175
HEAP = "2g"
YOUNG = "512m"
WORKLOADS = ("ingest", "stream", "curate")

# What the JVM needs to run Spark outside spark-submit on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    fp = source_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == fp:
                with open(CLASSPATH) as c:
                    return c.read()
    # offline: the build resolves nothing beyond sbt's own cached artifacts
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Xmx2g")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"build failed (sbt exit {r.returncode})")
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(fp)
    with open(CLASSPATH) as c:
        return c.read()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def run_jvm(cmd, log_path, limit):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {limit:.0f} s; log: {log_path}")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    want = expected_metrics(a.trace)

    cp = build()
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen
    gen.generate(a.workload, a.seed, a.seconds, in_dir)

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation: resident memory then tracks what the
    # run keeps live, not how far the collector happened to grow the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--in", in_dir, "--work", work, "--cpus", str(cpus)])
    log_path = os.path.join(run_dir, "jvm.log")
    rc, out = run_jvm(cmd, log_path, RUN_LIMIT_S - (time.time() - started))
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"JVM exit {rc}, no result; log: {log_path}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        die(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    with open(log_path) as f:
        for line in f:
            if line.startswith("CHECK FAILED") or line.startswith("request "):
                sys.stderr.write(line)
    if a.trace:
        print(f"spans: {os.path.relpath(os.path.join(work, 'spans.jsonl'), ROOT)}",
              file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
