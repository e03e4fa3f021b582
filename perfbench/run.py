#!/usr/bin/env python3
"""graft's benchmark: one workload, one JVM, one client in a closed loop.

    python3 perfbench/run.py --workload lake_cdc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run compiles the engine
and the harness (perfbench/build.py).  The JVM runs a pinned
local[n] session (n = min(2, cores)), builds the workload's inputs from
the seed, sets up, warms up, then times every public call for
`--seconds` and checks every output.  With `--trace 1` it measures a
second window with a Spark listener and a query-execution listener
attached and reports the per-layer metrics instead.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it holds the details: settings, versions, load
telemetry, sizes, per-kind figures and the oracle checks.
Workloads: lake_cdc, altimetry_batch.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

ROOT = build.ROOT
RUNS = ROOT / ".bench_run"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ("lake_cdc", "altimetry_batch")


# environment variables the engine reads to switch code paths or session
# settings; the JVM runs without them so both sides of a comparison run the
# same code on the same session
ENV_DROPPED_PREFIXES = ("GRAFT_", "SPARK_GRAFT_")


def jvm_env():
    """The caller's environment without the engine's switches, and the names dropped."""
    dropped = sorted(k for k in os.environ if k.startswith(ENV_DROPPED_PREFIXES))
    return {k: v for k, v in os.environ.items() if k not in dropped}, dropped


def jvm_timeout_s(args):
    """A backstop for a hung JVM: start-up and set-up, plus each window
    (three when traced) at up to three times its length."""
    return 120 + 3 * args.seconds * (3 if args.trace else 1)


def jvm_command(classes, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the old generation starts small and grows with demand, so peak RSS
    # follows what the run keeps live; a fixed young generation keeps G1's
    # pause-time sizing, which moves with host noise, out of it.  GC
    # threads kept to the session's two cores
    return ["java", "-Xmx1g", "-Xmn256m", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", str(args.scale), "--work", str(work)]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (smoke tests use 0.01)")
    args = ap.parse_args(argv)

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    work = RUNS / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    env, dropped = jvm_env()
    t0 = time.time()
    try:
        with open(log, "w") as f:
            rc = subprocess.run(jvm_command(classes, work, args), stdout=f, stderr=subprocess.STDOUT,
                                cwd=work, env=env, timeout=jvm_timeout_s(args)).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not (work / "raw.json").is_file():
        print(f"[perfbench] JVM failed ({rc}); last log lines:", file=sys.stderr)
        print("".join(open(log).readlines()[-40:]), file=sys.stderr)
        return 1
    raw = json.loads((work / "raw.json").read_text())
    checks = oracle.check(raw["oracle"], str(work / "data"))
    result = report.result(raw, checks, traced=args.trace == 1)
    detail = report.details(raw, checks)
    detail["jvm_wall_s"] = time.time() - t0
    detail["env_dropped"] = dropped
    RUNS.mkdir(exist_ok=True)
    (RUNS / f"last-{args.workload}-trace{args.trace}.json").write_text(
        json.dumps({"details": detail, "result": result, "raw": raw}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
