#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|queries --seed N \
        --seconds S --trace 0|1

Builds graft plus the harness (perfbench/build.py), runs the workload in
one JVM on local[4], checks its outputs, and prints as the last stdout line
one JSON object: correct, attempted, failed and the metrics (end-to-end
ones with --trace 0, per-layer ones with --trace 1). The line before it
gives the same run's numbers under the workload's own names. Everything
the run writes stays under .bench_build/ in the checkout and is removed
afterwards. See perfbench/README.md for what each workload and metric is.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "queries")
GOLDEN = os.path.join(HERE, "golden.json")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classes, args, work, out):
    fixtures = os.path.join(work, "fixtures")
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "user.timezone": "UTC",
        "spark.ui.enabled": "false",
        # Registry queries keep memoized logs under these directories
        "graft.interop.dir": os.path.join(fixtures, "interop"),
        "graft.rollup.dir": os.path.join(fixtures, "rollup"),
        "graft.rollupstream.dir": os.path.join(fixtures, "rollupstream"),
        "graft.runtree.dir": os.path.join(fixtures, "runtree"),
        "graft.shred.dir": os.path.join(fixtures, "shred"),
    }
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--queries", ",".join(metrics.QUERIES),
            "--launch-ms", str(int(time.time() * 1000))]
    return cmd


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def golden_check(raw, update):
    """Queries: each output hash must equal the stored golden hash."""
    hashes = raw.get("hashes", {})
    if update:
        with open(GOLDEN, "w") as f:
            json.dump(dict(sorted(hashes.items())), f, indent=1)
            f.write("\n")
    with open(GOLDEN) as f:
        golden = json.load(f)
    return [q for q in metrics.QUERIES if hashes.get(q) != golden.get(q)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--update-golden", action="store_true",
                    help="rewrite golden.json from this run's query outputs")
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        rc = run_jvm(jvm_command(classes, args, work, out), os.path.join(work, "jvm.log"))
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}")
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = raw["correct"]
    failed_checks = list(raw.get("failed_checks", []))
    if args.workload == "queries":
        mismatched = golden_check(raw, args.update_golden)
        failed_checks += [f"golden:{q}" for q in mismatched]
        correct = correct and not mismatched
    if args.trace:
        vals = metrics.per_layer(args.workload, raw)
        units = dict(metrics.PER_LAYER)
        own = {}
    else:
        vals, own = metrics.end_to_end(args.workload, raw)
        units = dict(metrics.END_TO_END)
    detail = {k: raw[k] for k in ("jvm_start_s", "session_s", "prepare_s", "warm_s", "lost",
                                  "duplicated", "threw", "passes", "pass_s", "run_s") if k in raw}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in own.items()},
                      "failed_checks": failed_checks, **detail}))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
