#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source when needed (see
perfbench/build.py), runs the workload in one JVM, and prints as the
last line of standard output one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics (a layer the workload does not run reads 0) and the
spans go to .bench_build/traces/. Exits non-zero, without a result
line, when the build or the run fails.

    python3 perfbench/run.py --record <dir>

re-records perfbench/digests.json and writes the results and their
oracle SQL to <dir> for `tools/oracle_check.py perfbench/data <dir>`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = "perfbench"
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
JVM_YOUNG = "384m"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(1)


def java_cmd(root, classes, main_args, work):
    jars = build.spark_jars(root)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cp = os.pathsep.join([os.path.join(jars, "*"), classes, os.path.join(root, "src/main/resources")])
    # a fixed heap and young generation keep the resident set from
    # following the collector's adaptive sizing from run to run
    return ["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(root, BENCH, 'log4j2.properties')}",
            "-cp", cp, "graftbench.Main", *main_args, "--work-dir", work]


def run_jvm(cmd):
    """Run the JVM in its own process group; returns (code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def result_line(lines, spec, trace):
    """Validate the JVM's last line against BENCHMARK.json."""
    if not lines:
        fail("no output")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not JSON: {lines[-1][:200]}")
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"unexpected keys {sorted(res)}")
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    names = {m["name"]: m["unit"] for m in declared}
    got = res["metrics"]
    extra = sorted(set(got) - set(names))
    if extra:
        fail(f"metrics not declared in BENCHMARK.json: {extra}")
    for name, unit in names.items():
        if name not in got:
            if not trace:
                fail(f"missing end-to-end metric {name}")
            got[name] = {"value": 0, "unit": unit}  # a layer this workload does not run
        elif got[name]["unit"] != unit or got[name]["value"] is None:
            fail(f"metric {name} is {got[name]}, declared unit {unit}")
    res["metrics"] = {n: got[n] for n in names}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.record and a.workload not in workloads:
        fail(f"unknown workload {a.workload}; expected one of {workloads}")
    classes = build.build(root)

    work = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.record:
        wl, trace_out = "record_digests", os.path.abspath(a.record)
    else:
        wl = a.workload
        trace_out = os.path.join(root, build.BUILD_DIR, "traces", f"{wl}-seed{a.seed}.json")
    main_args = ["--workload", wl, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", os.path.join(root, BENCH, "data"),
                 "--digests", os.path.join(root, BENCH, "digests.json"), "--trace-out", trace_out]
    try:
        code, lines = run_jvm(java_cmd(root, classes, main_args, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")
    if a.record:
        return
    res = result_line(lines, spec, a.trace == 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
