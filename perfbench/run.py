#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. It builds the program from source (see
build.py), writes seeded inputs, runs the workload in a fresh driver JVM at
local[1], checks every output against the DuckDB oracle and prints
one JSON object as the last line of stdout: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. Everything it writes stays
under `.perfbench/` (and the build directory) in the working directory.
"""
import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Set-ups measured per run (the run's own JVM plus set-up-only JVMs);
# setup_s is their median.
SETUPS = 2
JVM_HEAP = "4g"
# The workload JVM runs one Spark task slot and sizes its own thread pools
# (GC, JIT, Netty, fork-join) for one processor. The benchmark shares a few
# cores with other tenants: a program that keeps fewer threads busy than
# there are cores is slowed far less by their load than one that uses them
# all.
# Only the C1 JIT tier compiles. With C2, the JIT compiled Spark's code for
# 27 s of CPU in the seven passes after the cold pass (1.9 s of JIT CPU in
# the seventh, a 2.4 s pass), so how fast a measured pass ran depended on
# how far compilation had got, which depends on the host's load. C1
# settles within the warm-up passes. The compiler threads are fixed, so the
# harness can leave their CPU time out of the program's.
CPUS = 1
JVM_FLAGS = ["-XX:ActiveProcessorCount=1", "-XX:+UseSerialGC",
             "-XX:TieredStopAtLevel=1",
             "-XX:-UseDynamicNumberOfCompilerThreads"]
# Spark on JDK 17 outside spark-submit needs these (build.sbt passes the
# same list to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die_with_parent():
    """Child-side: the kernel kills the JVM if this process dies first."""
    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def jvm(classpath, work, args, timeout):
    """Runs one harness JVM with every scratch path inside `work`."""
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_GRAFT_STREAM_TMP=os.path.join(work, "stream"))
    for d in ("tmp", "local", "stream"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + JVM_FLAGS
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Harness"] + args)
    logf = os.path.join(work, "harness.log")
    with open(logf, "a") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, env=env,
                             cwd=work, preexec_fn=die_with_parent)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException as e:
            p.kill()
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError(f"harness timed out after {timeout} s")
            raise
    if rc != 0:
        tail = open(logf, errors="replace").read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")


def run(args):
    root = os.getcwd()
    wl = WORKLOADS[args.workload]
    source = inputs.default_source(root)
    if not source or not os.path.isdir(source):
        raise RuntimeError(f"no bench-scale input tables found ({source})")
    classpath = build.build(root)

    work = os.path.join(root, ".perfbench", f"run-{uuid.uuid4().hex[:12]}")
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        inputs.generate(source, data, args.seed)
        log(f"seeded inputs in {time.time() - t0:.1f} s")
        common = [f"data={data}", f"cpus={CPUS}",
                  "fixtures=" + ",".join(wl["fixtures"])]
        result_file = os.path.join(work, "result.json")
        t0 = time.time()
        jvm(classpath, work,
            common + ["mode=run", "ops=" + ",".join(wl["ops"]),
                      f"out={os.path.join(work, 'out')}",
                      f"result={result_file}", f"seed={args.seed}",
                      f"seconds={args.seconds}", f"trace={args.trace}"],
            timeout=150)
        result = json.load(open(result_file))
        log(f"workload JVM in {time.time() - t0:.1f} s")
        t0 = time.time()
        setups = [(result["session_s"], result["fixtures_s"])]
        for i in range(SETUPS - 1):
            f = os.path.join(work, f"setup{i}.json")
            jvm(classpath, work, common + ["mode=setup", f"result={f}"],
                timeout=60)
            s = json.load(open(f))
            setups.append((s["session_s"], s["fixtures_s"]))
        log(f"{SETUPS - 1} set-up JVMs in {time.time() - t0:.1f} s")
        t0 = time.time()

        # failures: ops that threw on any pass, or whose output is wrong
        errors = dict(result["prime_errors"])
        for p in result["passes"]:
            for o in p["ops"]:
                if not o["ok"]:
                    errors.setdefault(o["name"], o["error"])
        errors.update(oracle.check(
            data, os.path.join(work, "out"), wl["ops"], result["oracle_sql"],
            os.path.join(root, ".perfbench", "oracle")))
        log(f"oracle check in {time.time() - t0:.1f} s")
        for name, why in sorted(errors.items()):
            log(f"FAILED {name} (seed {args.seed}): {why}")
        attempted = len(set(wl["ops"]) | set(wl["fixtures"]))
        failed = len(errors)

        if args.trace:
            vals = metrics.per_layer(result, setups, failed, attempted)
            kind = "per_layer"
        else:
            vals = metrics.end_to_end(result, setups)
            kind = "end_to_end"
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))[kind]
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                        for m in spec},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(args)
    except (RuntimeError, build.BuildError, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
