#!/usr/bin/env python3
"""Build file of the benchmark: compile the repo's `src/main/scala` together
with the harness in `omopbench/scala` into `.bench_build/classes`, using the
Scala compiler that ships in Spark's `jars` directory (no sbt, no network).

Usage: python3 omopbench/build.py   (from the repo root)

The build is skipped when a stamp of every source file matches the last
build. Spark is found through SPARK_HOME, else through `spark-submit` on
PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SOURCE_DIRS = ("src/main/scala", "omopbench/scala")


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources(root: Path) -> list:
    files = []
    for d in SOURCE_DIRS:
        if not (root / d).is_dir():
            raise BuildError(f"missing source directory {d}")
        files += sorted((root / d).rglob("*.scala"))
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path) -> Path:
    """Compile if needed; return the classes directory."""
    out = root / ".bench_build" / "classes"
    files = sources(root)
    digest = stamp(files)
    stamp_file = root / ".bench_build" / "classes.stamp"
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return out
    jars = spark_jars()
    compiler = [j for p in ("scala-compiler-", "scala-library-", "scala-reflect-")
                for j in jars.glob(p + "*.jar")]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler in {jars}")
    tmp = root / ".bench_build" / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = root / ".bench_build" / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-cp", str(jars / "*"), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(digest)
    return out


def main() -> int:
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
