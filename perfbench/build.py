"""Build the benchmark from source.

Compiles the library (``src/main/scala``) together with the benchmark's own
sources (``perfbench/scala``) into ``.bench_build/perfbench/classes`` with the
Scala compiler that ships in Spark's jar directory (``$SPARK_HOME/jars``, or
the one next to ``spark-submit`` on the PATH). A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources missing: {lib}")
    own = ROOT / "perfbench" / "scala"
    return sorted(lib.rglob("*.scala")) + sorted(own.glob("*.scala"))


def ensure():
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    scala = [str(next(jars.glob(f"scala-{n}-2.*.jar"), "")) for n in ("compiler", "library", "reflect")]
    if "" in scala:
        raise BuildError(f"no Scala compiler jars in {jars}")
    classpath = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    print(f"building benchmark: {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
