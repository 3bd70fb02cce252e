"""Builds the program and the benchmark harness from source with scalac.

The program's own build (sbt) is not used: the classes compile straight
from `src/main/scala` of the checkout against the Spark distribution the
program targets (`$SPARK_HOME/jars`, the same jars `build.sbt` names),
together with `perfbench/src`. Output goes to
`.bench_build/perfbench/classes-<hash of every input>`, so a checkout
builds once and a changed source builds again.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _resources(root):
    return os.path.join(root, "src", "main", "resources")


def classpath(root):
    """Build if needed; return the runtime classpath string."""
    srcs = _sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        _compile(srcs, classes, base)
    return os.pathsep.join([classes, _resources(root),
                            os.path.join(spark_jars(), "*")])


def _compile(srcs, classes, base):
    jars = spark_jars()
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):  # builds of other sources
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(base, old))
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA_VERSION}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", os.path.join(jars, "*"), "-nowarn",
           "-Ybackend-parallelism", "4", "@" + argfile]
    print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)


if __name__ == "__main__":
    print(classpath(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
