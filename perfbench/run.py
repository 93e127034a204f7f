"""Run one benchmark measurement.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source when needed (build.py), runs
the harness in one JVM on local[min(4, nproc)], and prints the result
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from the traced pass, whose spans are also written to
.bench_build/traces/. Exits non-zero, printing no result, on any failure.
See perfbench/README.md for the workloads and metrics.
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

WORKLOADS = ("serve", "index_maintain")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the build.sbt list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    cp = build.classpath()
    name = f"{a.workload}-{a.seed}-{'trace' if a.trace == '1' else 'e2e'}-{os.getpid()}"
    work = build.BUILD / "runs" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.BUILD / "logs"
    traces = build.BUILD / "traces"
    logs.mkdir(parents=True, exist_ok=True)
    traces.mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--out", str(out),
            "--trace-out", str(traces / f"{name}.jsonl")]
    log_path = logs / f"{name}.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            # a terminated runner takes its JVM down with it
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"run: timed out after {JVM_TIMEOUT_S} s; log in {log_path}",
                      file=sys.stderr)
                return 1
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        sys.stdout.write(stdout)
        if proc.returncode != 0 or not out.is_file():
            print(f"run: harness exited with {proc.returncode}; log in {log_path}",
                  file=sys.stderr)
            return 1
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("run: malformed result object", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
