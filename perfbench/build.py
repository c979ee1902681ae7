"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one jar with the Scala compiler that
ships among the Spark jars, the same jars build.sbt compiles against.
The jar lands in $CARGO_TARGET_DIR (default .bench_build) and is rebuilt
only when a source file or the jar set changed.

Usage: python3 perfbench/build.py   (prints the jar path)
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing {top}")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the path of an up-to-date jar, compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(out, "perfbench.jar")
    stamp = os.path.join(out, "perfbench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and \
            open(stamp).read() == h.hexdigest():
        return jar
    tmp = os.path.join(out, "perfbench.tmp.jar")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + srcs
    print(f"build: compiling {len(srcs)} files", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(tmp):
        raise SystemExit(f"build: scalac exited {r.returncode}")
    os.replace(tmp, jar)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar


def java_cmd(jar, jars, work):
    """The JVM command line every benchmark run uses."""
    # no hsperfdata file: a run writes nothing outside the checkout
    return (["java", "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" +
             os.path.join(ROOT, "perfbench", "log4j2.properties")] +
            [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-cp", f"{jar}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main"])


# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


if __name__ == "__main__":
    print(build())
