"""Build file of the benchmark: compiles the product (src/main/scala) and the
benchmark's own Scala sources (perfbench/jvm) into one class directory with
the Scala 2.13 compiler that ships with Spark, the same compiler version
build.sbt selects. No sbt, no network, nothing written outside the checkout.

    python3 perfbench/build.py        # prints the class directory

A build is reused while the hash of every source file it compiled holds.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/jvm"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"),
                           recursive=True)
    return sorted(found)


def spark_jars():
    """The Spark jar directory build.sbt compiles against (its
    `unmanagedBase`), unless SPARK_JARS names another."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase")
    return m.group(1)


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no product sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD_DIR, stamp)
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp",
           os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=BUILD_DIR, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
