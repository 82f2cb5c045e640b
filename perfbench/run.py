#!/usr/bin/env python3
"""Collection-facade benchmark for the graft engine.

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine and the
harness into `.bench_build/perfbench/` (see build.py); later runs reuse it.
The harness JVM drives `graft.Collection` as one closed-loop client and
prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. A detail line (prefix `perfbench-detail`) with the
run metadata and every per-operation figure comes just before it, and the
same detail plus the span file of a traced run are kept under
`.bench_build/perfbench/out/`. See NOTES.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ann_search", "ingest_mixed")
# A run must end within 180 s; leave room for start-up and teardown.
JVM_LIMIT_S = 165
HEAP = "3g"
# What spark-submit adds for Spark 4 on JDK 17 (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_PREFIX = "perfbench-result "


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args()


def valid_result(res):
    return (isinstance(res, dict)
            and set(res) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)
            and isinstance(res["metrics"], dict) and res["metrics"]
            and all(isinstance(m.get("value"), (int, float))
                    for m in res["metrics"].values()))


def main():
    args = parse_args()
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    base = os.path.join(root, build.BUILD_DIR)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    scratch = os.path.join(base, "runs", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, tag + ".log")

    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(classpath),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(scratch, "data"),
        "--out", os.path.join(out_dir, tag),
    ]
    result = None
    try:
        with open(log_path, "wb") as log:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, env=env)
            try:
                stdout, _ = proc.communicate(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: run exceeded {JVM_LIMIT_S} s; see {log_path}",
                      file=sys.stderr)
                return 1
        for line in stdout.splitlines():
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX):])
            elif line.strip():
                print(line)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or not valid_result(result):
        print(f"perfbench: harness failed (exit {proc.returncode}); see {log_path}",
              file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(result, separators=(", ", ": ")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
