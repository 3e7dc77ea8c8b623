"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark jar directory, without sbt and without touching `build.sbt`.

Outputs go under `.bench_build/perfbench/<hash>/`, keyed by a hash of
every compiled source, so an unchanged tree is compiled once.

usage: python3 perfbench/build.py   (prints the classpath it built)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"


def spark_jars():
    """The Spark jar directory graft builds against: build.sbt's
    `unmanagedBase`, the one place the build names it."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        found = None
    if not found:
        raise SystemExit("no unmanagedBase in build.sbt: run from a graft checkout")
    return found.group(1)


# build.sbt's JDK 17 module openings, as scripts/dev.sh passes them
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {spark_jars()}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    if not main:
        raise SystemExit("no graft sources under src/main/scala: run from a checkout")
    return main, bench


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(out, classpath, srcs):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(spark_jars(), f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", ":".join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode})")
    os.rename(tmp, out)


def build():
    """Compile what changed; return the run classpath (list of paths)."""
    main, bench = sources()
    jars = spark_classpath()
    key = _digest(main)
    graft_out = os.path.join(BUILD, "graft-" + key)
    bench_out = os.path.join(BUILD, "bench-" + _digest(main + bench))
    if not os.path.isdir(graft_out):
        _scalac(graft_out, jars, main)
    if not os.path.isdir(bench_out):
        _scalac(bench_out, [graft_out] + jars, bench)
    for d in glob.glob(os.path.join(BUILD, "graft-*")) + glob.glob(os.path.join(BUILD, "bench-*")):
        if d not in (graft_out, bench_out):
            shutil.rmtree(d, ignore_errors=True)  # builds of sources since changed
    return [bench_out, graft_out] + jars


if __name__ == "__main__":
    print(":".join(build()))
