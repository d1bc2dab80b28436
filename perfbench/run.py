"""Stepped-pipeline benchmark: events/s and step latency of Pipeline.step.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-check

Builds the project and the benchmark from source if needed (build.py),
then runs one fresh JVM on local[N], N = $SPARK_GRAFT_CPUS or the number
of cores, with the driver heap of the project's test formula ($SPARK_DRIVER_MEM,
else half the memory in whole GiB, clamped to 2..8). The last stdout line
is the JSON result; the lines before it give the run environment and
every metric by name and unit. Workloads and metrics are listed in
BENCHMARK.json; the Scala driver is perfbench/src/perfbench/Main.scala.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

CHILD_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    if not (build.ROOT / ".git").exists():
        return "unknown (not a git checkout)"
    r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def java_cmd(cp, heap, main, args, cds=False):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # class-data sharing halves JVM and Spark start-up; the first benchmark
    # run after a build writes the archive at exit, later runs map it
    share = [] if not cds else [
        f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}"
        if build.CDS_ARCHIVE.is_file()
        else f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}"]
    # JVM log lines go to stderr: stdout's last line must be the result
    # no hsperfdata file: a run writes nothing outside the checkout
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData", *share, "-Xlog:disable",
             "-Xlog:all=warning,cds*=error:stderr", *opens,
             "-cp", os.pathsep.join(map(str, cp)), main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not a.self_check and not a.workload:
        ap.error("--workload is required")

    try:
        cp, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    # the engine's A/B switches (SPARK_GRAFT_VIEWPAR, ...) are dropped, so
    # every run measures its defaults
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") or k == "SPARK_GRAFT_CPUS"}
    env.setdefault("SPARK_GRAFT_CPUS", str(cores()))
    heap = driver_heap()
    if a.self_check:
        return subprocess.run(
            java_cmd(cp, "1g", "perfbench.SelfCheck", []),
            env=env).returncode

    run_dir = build.WORK / f"run-{os.getpid()}"
    spans = build.WORK / "traces" / f"spans-{a.workload}-seed{a.seed}.jsonl"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    cmd = java_cmd(cp, heap, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--tmp-dir", str(run_dir), "--spans", str(spans),
        "--commit", git_commit(), "--source", digest], cds=True)
    cmd.insert(1, f"-Djava.io.tmpdir={run_dir / 'tmp'}")
    try:
        r = subprocess.run(cmd, env=env, cwd=run_dir, stdout=subprocess.PIPE,
                           text=True, timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stdout.write(r.stdout)
        print(f"perfbench: driver exited with {r.returncode}", file=sys.stderr)
        return r.returncode or 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(r.stdout)
        print("perfbench: driver printed no result line", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
