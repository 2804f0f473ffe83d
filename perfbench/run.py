#!/usr/bin/env python3
"""Run one benchmark workload against graft, built from this checkout.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds on first use (see build.py), runs the workload in one JVM at
local[nproc], and prints the workload's details line followed by one
JSON result line: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero, without a result line, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("live_tail", "console", "pretrain_ingest")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (Spark's own
# JavaModuleOptions list); the repository's build.sbt passes the same.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, main, args, tmp):
    jars = build.spark_jars()
    conf = os.path.join(build.HERE, "conf", "log4j2.properties")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java"] + opens +
            ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={conf}",
             "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args)


def run_jvm(classes, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(java_cmd(classes, main, args, tmp), env=env,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's self-tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = "selftest" if a.self_test else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build.build_dir(), "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            code, out = run_jvm(classes, "perfbench.SelfTest", [], work)
            sys.stdout.write(out)
            return code
        code, out = run_jvm(classes, "perfbench.Main",
                            ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--workdir", work,
                             "--statedir", os.path.join(build.build_dir(), "state",
                                                        build.stamp_of(classes)[:16]),
                             "--tracedir", os.path.join(build.build_dir(), "traces")], work)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        print(f"[perfbench] run failed (exit {code}), no result line", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
