"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload curate|store|stream|ml --seed N \
        --seconds S --trace 0|1 [--plant FAULT] [--tiny]

Builds the engine and the benchmark from source on first use (see
build.py), then runs one JVM that executes every workload: the named one
loops for --seconds, the other three run one companion pass each. The last
line of stdout is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the run's context (host, sizes, tails, failures).
Exits non-zero if the build fails, a check fails or the run times out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("curate", "store", "stream", "ml")
FAULTS = ("none", "skip_neardup", "drop_merge", "double_append", "swap_model")
TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--plant", default="none", choices=FAULTS)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t0_ms = int(time.time() * 1000)

    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(work, d))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    # a fixed heap, not a size taken from the environment. -Xms = -Xmx
    # keeps the full collections of the retained_mb readings from shrinking
    # the heap, after which G1 regrew it with hundreds of young and
    # concurrent pauses inside the timed ops; 4 MB regions keep Spark's
    # 0.5-2 MB buffers from being humongous allocations, each of which
    # started a concurrent cycle. No pre-touch: the heap is mapped as used.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=4m",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dspark.local.dir={work}/local",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", build.classpath(classes), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--t0-ms", str(t0_ms), "--plant", args.plant]
           + (["--tiny"] if args.tiny else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    log_path = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env, cwd=work,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 3
    shutil.rmtree(work, ignore_errors=True)

    context = result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_CONTEXT "):
            context = line.split(" ", 1)[1]
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
    if result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: no result (JVM exit {proc.returncode})", file=sys.stderr)
        return 4
    os.remove(log_path)
    missing = set(expected_metrics(args.trace)) - set(result["metrics"])
    if missing:
        print(f"perfbench: metrics missing from the result: {sorted(missing)}",
              file=sys.stderr)
        return 5
    print("perfbench context: " + context)
    print(json.dumps(result))
    if proc.returncode != 0 or not result["correct"]:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
