"""Run one benchmark workload and print its result object as the last line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the benchmark if needed (perfbench/build.py), then runs it in a fresh
JVM with a fresh store directory under .bench_build/perfbench, which is
removed afterwards. Extra options: --report FILE writes the answer digest and
every count (used by perfbench/test), --small runs the reduced graph.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve_read", "serve_mixed", "batch_analytics")
JVM_TIMEOUT_S = 165
# what spark-submit would add on JDK 17 (Spark's JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def result_line(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}:
        return r
    return None


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    # a SIGTERM unwinds through the finally below, which kills the JVM
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--report")
    ap.add_argument("--small", action="store_true")
    a = ap.parse_args()

    try:
        classes = build.ensure()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{classes}{os.pathsep}{jars / '*'}",
            "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    if a.report:
        cmd += ["--report", str(Path(a.report).resolve())]
    if a.small:
        cmd.append("--small")

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"benchmark exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for _ in range(3):
            shutil.rmtree(work, ignore_errors=True)
            if not work.exists():
                break
            time.sleep(0.5)

    lines = out.splitlines()
    result = next((r for r in map(result_line, reversed(lines)) if r is not None), None)
    for line in lines:
        if result_line(line) is None:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"benchmark failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
