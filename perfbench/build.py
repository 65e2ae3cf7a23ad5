"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala`) together with the benchmark program under
`perfbench/src` into one class directory, with the Scala compiler that
ships among Spark's jars: `$SPARK_HOME/jars`, else the jar directory the
repository's `build.sbt` names as `unmanagedBase`. Skipped when the
sources are unchanged since the last build.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".perfbench")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return m.group(1)


def sources():
    dirs = [os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src")]
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        raise SystemExit(f"perfbench: source directory missing: {missing[0]} "
                         "(run from a checkout of the graft repository)")
    return sorted(glob.glob(os.path.join(dirs[0], "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(dirs[1], "**", "*.scala"), recursive=True))


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs,
                   check=True, timeout=800)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
    sys.exit(0)
