#!/usr/bin/env python3
"""Seeded order-book replay benchmark.

    python3 replaybench/run.py --workload many_books --seed 1 --seconds 16 --trace 0
    python3 replaybench/run.py --self-test

Run from the repository root. Builds the program from `src/main/scala` and the
benchmark (see build.py), then runs one workload on a local Spark process with
every available core. The last line of standard output is the JSON result;
each run also writes an artifact under <build dir>/replaybench/results.
The build dir is $CARGO_TARGET_DIR, else `.bench_build`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

# A fixed heap under the throughput collector: G1's timing-driven heap
# sizing made pass times and peak RSS swing between identical runs.
HEAP = "2g"
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]


def git_head() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd: list) -> int:
    """Runs the JVM in the foreground and makes sure it has ended on exit."""
    proc = subprocess.Popen(cmd, cwd=ROOT)

    def forward(signum, _frame):
        proc.terminate()

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        return proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="many_books, deep_book, sql_window or stream_book")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not (ROOT / "src" / "main" / "scala").is_dir():
        print(f"replaybench: program sources not found under {ROOT}/src/main/scala", file=sys.stderr)
        return 2
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build.ensure(ROOT, build_dir)
    # runs are sequential, so anything left in the work dir is from a run
    # that was killed
    work = build_dir / "replaybench" / "work"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)

    cores = len(os.sched_getaffinity(0))
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *GC, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", classpath]
    if a.self_test:
        return run_jvm(jvm + ["replaybench.SelfTest", "--cores", str(cores), "--work-dir", str(work)])

    return run_jvm(jvm + ["replaybench.Main", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
                          "--work-dir", str(work),
                          "--results-dir", str(build_dir / "replaybench" / "results"),
                          "--git-head", git_head()])


if __name__ == "__main__":
    sys.exit(main())
