"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory, into
`perfbench/.build/classes`. The engine's resources (its data source
registrations) join the classpath as they are. A stamp records the newest
source time, so a checkout compiles once and later runs reuse the classes.

    python3 perfbench/build.py      # build if stale; print the classpath
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = BENCH / ".build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


def spark_home():
    """$SPARK_HOME, or the installation that holds `spark-submit`."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("perfbench build: no Spark (set SPARK_HOME)")
    return Path(submit).resolve().parent.parent


SPARK_JARS = spark_home() / "jars"


def sources():
    roots = [REPO / "src" / "main" / "scala", BENCH / "src"]
    missing = [str(r) for r in roots if not r.is_dir()]
    if missing:
        raise SystemExit(f"perfbench build: source tree missing: {missing}")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


RESOURCES = REPO / "src" / "main" / "resources"


def classpath():
    return os.pathsep.join([str(CLASSES), str(RESOURCES), f"{SPARK_JARS}/*"])


def build(log=sys.stderr):
    srcs = sources()
    newest = str(max(p.stat().st_mtime_ns for p in srcs)) + f":{len(srcs)}"
    if STAMP.exists() and STAMP.read_text() == newest:
        return classpath()
    if not list(SPARK_JARS.glob("spark-sql_*.jar")):
        raise SystemExit(f"perfbench build: no Spark jars under {SPARK_JARS}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-d", str(CLASSES),
           "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-6000:], file=log)
        raise SystemExit("perfbench build: scalac failed")
    STAMP.write_text(newest)
    return classpath()


if __name__ == "__main__":
    print(build())
