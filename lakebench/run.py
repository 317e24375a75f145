#!/usr/bin/env python3
"""Lakebench: graft's end-to-end and per-layer benchmark.

    python3 lakebench/run.py --workload <lambda_day|curation_load> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft plus the benchmark (see
build.py), runs one workload in one JVM and one Spark session at
local[nproc], and prints one JSON line last: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer span metrics. Every
file the run writes stays under .bench_build/ and .bench_work/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("lambda_day", "curation_load")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    # the run limit starts after the build: a compile takes minutes
    classpath = build.build()

    bench_work = build.ROOT / ".bench_work"
    work = bench_work / f"{args.workload}-{args.seed}-{os.getpid()}"
    logs = bench_work / "logs"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file under /tmp; every write stays in the checkout
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms8g", "-Xmx8g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", classpath, "lakebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(work), "--profile", str(Path(__file__).resolve().parent / "profile.json")])
    log = logs / f"{work.name}-trace{args.trace}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work, start_new_session=True)

            def stop(*_):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.exit(f"lakebench: run stopped (log: {log})")
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                stop()
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            sys.exit(f"lakebench: run failed with code {proc.returncode} (log: {log})")
        result = json.loads(lines[-1])
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
