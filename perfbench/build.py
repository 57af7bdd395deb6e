"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (perfbench/src) into one class directory.

Uses the Scala compiler that ships with the Spark distribution graft builds
against, so the build needs neither sbt nor a dependency download. The output
goes to .bench_build/perfbench/classes in the checkout; a stamp over every
source file lets later runs skip the compile.

    python3 perfbench/build.py        # build (or confirm the build is fresh)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "src"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that graft's own build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources() -> list:
    if not (GRAFT_SRC / "graft" / "SparkEntry.scala").exists():
        raise BuildError(f"graft sources missing under {GRAFT_SRC}")
    files = sorted(GRAFT_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not any(HARNESS_SRC.rglob("*.scala")):
        raise BuildError(f"benchmark harness sources missing under {HARNESS_SRC}")
    return files


def stamp_of(files, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build() -> str:
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return classpath()
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"classes.tmp-{os.getpid()}"  # private to this build
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [
        "java", "-Xmx2g", "-Xss16m", "-cp", str(jars / "*"),
        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}",
    ]
    print(f"[build] compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
