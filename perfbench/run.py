#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source if needed (see
build.py), then runs the workload in one JVM. Lines starting with `#`
describe the inputs, the session settings and the oracle check; the last
line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1, as BENCHMARK.json names them). In trace mode the spans
are written to <build dir>/traces/. Exits non-zero, printing no result,
when the program cannot be built or run, and with code 1 after the
result when an answer is wrong.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def heap_gb():
    """Half the host's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    spec_file = os.path.join(build.ROOT, "BENCHMARK.json")
    try:
        spec = json.load(open(spec_file))
    except (OSError, ValueError) as e:
        fail("cannot read %s: %s" % (spec_file, e))
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}

    try:
        _, cp = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)

    bdir = build.build_dir()
    tag = "%s-seed%d-trace%s" % (a.workload, a.seed, a.trace)
    work = os.path.join(bdir, "work", "%s-%d" % (tag, os.getpid()))
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(bdir, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx%dg" % heap_gb(), "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", work]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(bdir, "traces", tag + ".jsonl")]

    log_file = os.path.join(logs, tag + ".log")
    with open(log_file, "w") as err:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the work directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=build.ROOT, env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("run exceeded %ds (log: %s)" % (RUN_TIMEOUT_S, log_file), 4)
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
        lines = lines[:-1]
    for l in lines:
        print(l)
    if result is None:
        tail = open(log_file).read()[-3000:]
        fail("no result (exit %d); log %s:\n%s" % (p.returncode, log_file, tail), 3)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        fail("metrics differ from BENCHMARK.json: missing %s, extra %s, units %s" % (
            sorted(set(declared) - set(got)), sorted(set(got) - set(declared)),
            sorted(k for k in got if k in declared and got[k] != declared[k])), 3)
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
