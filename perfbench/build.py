"""Build file of the benchmark.

Compiles the project's sources (src/main/scala) into one jar and the
benchmark's own sources (perfbench/src) against it into another, with the
Scala compiler that ships among the Spark jars the project builds against.
A stamp over each stage's inputs skips a compile when nothing changed, so
editing only the benchmark does not recompile the project. Classes are
packed into jars because the JVM's class-data sharing archive (see
run.py) covers only classes loaded from jars.

    python3 perfbench/build.py      # prints the class path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
PROJECT_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
RESOURCES = ROOT / "src" / "main" / "resources"
# class-data sharing archive of every class a run loads; dropped whenever
# a jar is rebuilt, and written again by the next run
CDS_ARCHIVE = WORK / "classes.jsa"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of the project build (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: neither build.sbt's "
                     "unmanagedBase nor $SPARK_HOME/jars exists")


def sources(d):
    files = sorted(d.rglob("*.scala")) if d.is_dir() else []
    if not files:
        raise BuildError(f"no Scala sources under {d.relative_to(ROOT)}")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def compile_stage(name, files, cp, stamp, resources=None):
    """Compiles `files` into WORK/<name>.jar unless its stamp matches."""
    out = WORK / f"{name}.jar"
    stamp_file = WORK / f"{name}.stamp"
    if out.is_file() and stamp_file.is_file() \
            and stamp_file.read_text().strip() == stamp:
        return out
    WORK.mkdir(parents=True, exist_ok=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    stamp_file.unlink(missing_ok=True)
    tmp = WORK / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar")))
                for n in ("compiler", "library", "reflect")]
    argfile = WORK / f"{name}.sources"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(map(str, cp)), f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} files ({name})", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode} ({name})")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d in [tmp] + ([resources] if resources else []):
            for p in sorted(d.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(d).as_posix())
    shutil.rmtree(tmp)
    stamp_file.write_text(stamp + "\n")
    return out


def build():
    """Compiles what changed. Returns (class path entries, source stamp)."""
    jar_list = sorted(spark_jars().glob("*.jar"))
    project = sources(PROJECT_SRC)
    bench = sources(BENCH_SRC)
    project_stamp = digest(project)
    project_jar = compile_stage("project", project, jar_list, project_stamp,
                                RESOURCES)
    bench_stamp = digest(bench, project_stamp)
    bench_jar = compile_stage("bench", bench, [project_jar] + jar_list,
                              bench_stamp)
    return [bench_jar, project_jar] + jar_list, bench_stamp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build()[0])))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
