#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark
harness (perfbench/src) with the Scala compiler that ships in the Spark
distribution's jars, into <build root>/perfbench/classes. The build root is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout. A
stamp of every source's bytes skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def build_root():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else beside the
    spark-submit found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def build():
    """Compile if needed; return the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    out = build_root()
    classes = out / "classes"
    stamp = out / "classes.stamp"
    h = hashlib.sha256(str(jars).encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if not (stamp.exists() and stamp.read_text() == digest and classes.is_dir()):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = out / "scalac.args"
        argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        stamp.write_text(digest)
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(resources), f"{jars}/*"])


if __name__ == "__main__":
    print(build())
