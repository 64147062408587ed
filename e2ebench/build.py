"""Build definition of the end-to-end benchmark.

Compiles the repository's `src/main/scala` together with the benchmark's own
sources in `e2ebench/src` into one class directory, with the Scala 2.13
compiler that ships among the Spark jars. The classpath is the same jar
directory the repository's build.sbt names as `unmanagedBase`, so the program
under test is built from source exactly as sbt builds it, without sbt's
start-up cost and without writing outside the checkout.

The output directory is keyed by a hash of every source file and of the jar
list, so an unchanged tree is compiled once and later runs reuse it.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars"

# Mirrors build.sbt's javaOptions: Spark 4 on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def _scala_sources(root):
    found = []
    for base, _, files in os.walk(root):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def sources(checkout, bench_dir):
    """Every source the benchmark binary is compiled from; exits if the
    program under test is absent."""
    main = os.path.join(checkout, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"e2ebench: missing input {main} (the program under test is "
                 "not in this checkout)")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"e2ebench: missing input {SPARK_JARS} (Spark jars)")
    return _scala_sources(main) + _scala_sources(os.path.join(bench_dir, "src"))


def build(checkout, bench_dir, out_root):
    """Returns the class directory, compiling it first if the tree changed."""
    srcs = sources(checkout, bench_dir)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, checkout).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:20])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    for stale in os.listdir(out_root) if os.path.isdir(out_root) else []:
        if stale.startswith("classes-"):
            shutil.rmtree(os.path.join(out_root, stale), ignore_errors=True)
    os.makedirs(classes)
    cp = SPARK_JARS + "/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", classes, "-cp", cp] + srcs
    print(f"e2ebench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit(f"e2ebench: compilation failed (exit {res.returncode})")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes
