#!/usr/bin/env python3
"""CDC drain benchmark: one run of one workload.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source
(cdcbench/build.py), then runs graft.cdcbench.Bench in its own JVM with the
flags sbt's forked run uses (heap from the SPARK_DRIVER_MEM formula, at most
8g; Spark UI off; UTC; local[<cores>] in one process). Prints every metric as
`metric <name> <value> <unit>` and, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Exits 1 when the correctness gate fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the whole run must end within 180 s once the program is built
TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_mem():
    """The Tier-1 SPARK_DRIVER_MEM formula: half of RAM, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def warn_if_contended():
    """Two Spark JVMs on one box inflate each other's times 2-3x."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if os.path.basename(argv[0]) != "java":
            continue
        cmd = " ".join(argv)
        if "sbt" in cmd or "org.apache.spark" in cmd or "spark/jars" in cmd:
            print(f"warning: another sbt/Spark JVM is running (pid {pid}); "
                  "times will be inflated", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    t0 = time.monotonic()
    classes = build.build()
    built_s = time.monotonic() - t0
    warn_if_contended()
    # local[<cores>]; SPARK_GRAFT_CPUS=1 gives the single-threaded baseline
    cores = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    work = os.path.join(build.BUILD_DIR, "work", args.workload)
    tmp = os.path.join(build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{driver_mem()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([classes] + build.spark_jars()),
            "graft.cdcbench.Bench", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--spans", os.path.join(build.BUILD_DIR, "spans",
                                    f"{args.workload}-seed{args.seed}.jsonl")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    # a fresh build counts against the first run's longer allowance only
    budget = TIMEOUT_S - (time.monotonic() - t0 - built_s)
    watchdog = threading.Timer(budget, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("result "):
                result = json.loads(line[len("result "):])
            else:
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit(f"bench: no result (JVM exit code {code})")
    missing = [n for n in wanted if n not in result["metrics"]]
    if missing:
        sys.exit(f"bench: metrics missing from the run: {missing}")
    result["metrics"] = {n: result["metrics"][n] for n in wanted}
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
