#!/usr/bin/env python3
"""Reference-pipeline benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (perfbench/build.py), then runs
one workload in one driver JVM on local[4]. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything the run
writes stays under .bench_build/ in the checkout; a per-run results file
with provenance, input sizes and spans lands in .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["ingest_bulk", "search_serve", "update_mixed"]
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, timeout=10,
                             capture_output=True, text=True)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(main_class, args, tag):
    """Run a benchmark main in its own JVM; return its stdout lines."""
    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, main_class] + args + ["--work", work])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"[perfbench] {tag} stopped by signal {signum}")

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[perfbench] {tag} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] {tag} exited with {proc.returncode}")
    return [line for line in out.splitlines() if line.strip()]


def run_workload(workload, seed, seconds, trace, scale="full"):
    lines = run_jvm("perfbench.Main",
                    ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", str(trace), "--scale", scale,
                     "--results", os.path.join(build.BUILD_DIR, "results"),
                     "--commit", commit_id()],
                    f"{workload}-{seed}-{trace}")
    result = json.loads(lines[-1])
    want = declared_metrics(trace)
    if want is not None and set(result["metrics"]) != want:
        raise SystemExit("[perfbench] metrics differ from BENCHMARK.json: "
                         f"{sorted(set(result['metrics']) ^ want)}")
    return lines, result


def selftest():
    """Unit checks of the benchmark code, then every workload at a tiny size."""
    for line in run_jvm("perfbench.SelfTest", [], "selftest"):
        print(line)
    for workload in WORKLOADS:
        for trace in (0, 1):
            _, result = run_workload(workload, 7, 2, trace, scale="tiny")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                raise SystemExit(f"[perfbench] selftest {workload} trace={trace}: {result}")
            print(f"selftest {workload} trace={trace}: ok, attempted {result['attempted']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            selftest()
            return
        if not a.workload:
            ap.error("--workload is required")
        lines, _ = run_workload(a.workload, a.seed, a.seconds, a.trace)
    except build.BuildError as e:
        raise SystemExit(f"[perfbench] build failed: {e}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
