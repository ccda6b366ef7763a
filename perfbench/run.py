"""Benchmark entry point.

    python3 perfbench/run.py --workload query|ingest \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--seed N]

Builds the engine from the checkout's sources (see build.py), runs one
workload in a fresh JVM with a fixed heap and ``local[cores]``, and prints
the result as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run. A
table with sample counts and the run's steadiness diagnostics goes to
standard error. Everything is written under ``.bench_build/perfbench``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def cores():
    v = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(v) if v else len(os.sched_getaffinity(0))


def heap():
    # fixed heap (-Xms = -Xmx) so GC sizing does not drift between runs
    return os.environ.get("SPARK_DRIVER_MEM", "").strip() or "3g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="query")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    workload = "selftest" if a.selftest else a.workload
    if workload not in ("query", "ingest", "selftest"):
        raise SystemExit(f"perfbench: unknown workload {workload}")

    classes = build.build()
    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "idx"):
        os.makedirs(os.path.join(run_dir, d))
    log_dir = os.path.join(build.OUT, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{workload}-s{a.seed}-t{a.trace}.log")
    out = os.path.join(run_dir, "result.json")
    n = cores()
    # the heap is touched once at start-up, so first-touch page faults land
    # in the session's start, not in timed ops
    cmd = [build.java(), f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        with open(log_path, "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                timeout=RUN_TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: benchmark JVM failed ({rc}); log: {log_path}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # BENCHMARK.json fixes the metric set: a missing, extra or
    # non-finite metric is a benchmark bug, not a result
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = res["metrics"]
    if workload != "selftest":
        bad = sorted(set(want) ^ set(got)) + [k for k, m in got.items()
                                             if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]]
        if bad:
            raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: {bad}")

    err = sys.stderr
    err.write(f"perfbench {workload} seed={a.seed} trace={a.trace} cores={n} heap={heap()}\n")
    for name, m in res["metrics"].items():
        err.write(f"  {name:38s} {m['value']!s:>22} {m['unit']:6s} n={m['samples']}\n")
    err.write("diagnostics " + json.dumps(res.get("diagnostics", {})) + "\n")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in res["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
