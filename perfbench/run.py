#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
from source with sbt (see build.sbt here); later runs reuse the build until
a source file changes. A run generates its seeded inputs (gen.py), runs
the workload in one JVM (src/main/scala/perfbench), checks every output and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones; a per-layer metric of a layer the
workload does not call reads 0. The traced run also leaves its spans and
self-time table under perfbench/.work/trace/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("replay_backlog", "curate_corpus")
# Every run must end within this many seconds, build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles graft and the harness unless the build is newer than every
    source; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not here; run from the repository root")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest_source_mtime():
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = run_group(["sbt", "-batch", "compile", "writeClasspath"], BENCH, out, BUILD_LIMIT_S)
        if rc != 0 or not os.path.exists(cp_file):
            fail("build failed (exit %s), see %s" % (rc, log))
    with open(cp_file) as f:
        return f.read().strip()


def run_group(cmd, cwd, out, limit):
    """Runs cmd in its own process group; kills the group at the time limit
    or on exit, and waits for it. Spark's scratch stays in the run's own
    temporary directory, not in SPARK_LOCAL_DIRS."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def spark_cores(workload):
    """Task slots: replay_backlog keeps one core free for the JVM's own
    threads, as it ran faster and steadier that way."""
    n = min(os.cpu_count() or 4, 4)
    return max(1, n - 1) if workload == "replay_backlog" else n


def bench_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    # a terminated run still stops its JVM and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()

    cp = build()
    e2e, per_layer = bench_metrics()
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, inputs, os.path.join(BENCH, "data"))
        gen_s = time.perf_counter() - t0

        out_json = os.path.join(work, "result.json")
        cmd = (["java", "-Xmx" + JVM_HEAP, "-Xms" + JVM_HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                  "--out", out_json, "--cores", str(spark_cores(a.workload))])
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        env_log = os.path.join(WORK, "last-%s.log" % a.workload)
        with open(env_log, "w") as log:
            limit = RUN_LIMIT_S - (time.time() - started)
            rc = run_group(cmd, ROOT, log, limit)
        if rc != 0 or not os.path.exists(out_json):
            fail("the %s run failed (exit %s), see %s" % (a.workload, rc, env_log))
        with open(out_json) as f:
            res = json.load(f)

        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        outputs = os.path.join(work, "outputs")
        if a.workload == "curate_corpus":
            n, bad = check.curate(outputs, manifest)
        else:
            n, bad = check.replay(outputs, manifest)
        attempted += n
        failed += len(bad)
        failures += bad
        m = res["metrics"]
        jvm_setup = m.pop("jvm_setup_s")["value"]
        m["setup_s"] = {"value": gen_s + float(res["info"]["jvm_boot_s"]) + jvm_setup, "unit": "s"}

        if a.trace:
            keep = os.path.join(WORK, "trace", "%s-%d" % (a.workload, a.seed))
            shutil.rmtree(keep, ignore_errors=True)
            shutil.copytree(os.path.join(work, "trace"), keep)
            with open(os.path.join(keep, "selftime.txt")) as f:
                print(f.read().rstrip())
            print("spans and self time in " + os.path.relpath(keep, ROOT))
        wanted = per_layer if a.trace else e2e
        metrics = {}
        for spec in wanted:
            v = m.get(spec["name"], {"value": 0.0})["value"]
            metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        for k, v in sorted(res["info"].items()):
            print("  %-38s %s" % (k, v))
        for k, v in m.items():
            if k not in metrics:
                print("  %-38s %s %s" % (k, v["value"], v["unit"]))
        for k, v in metrics.items():
            print("%-40s %16.4f %s" % (k, v["value"], v["unit"]))
        for f_ in failures[:20]:
            print("FAILED: " + f_)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
