"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala sources with the Scala compiler shipped among the Spark
jars, into a directory keyed by a hash of every input. A build whose
directory already holds a finished mark is reused.

    python3 perfbench/build.py        # build (or reuse), print the classes dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars(root=ROOT):
    """The Spark jar directory the project builds against: `unmanagedBase`
    in the root build.sbt, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("cannot find the Spark jars: set SPARK_HOME")


def sources(root=ROOT):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"no Scala sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(work, root=ROOT):
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    dest = os.path.join(work, "build-" + h.hexdigest()[:16])
    classes = os.path.join(dest, "classes")
    if os.path.exists(os.path.join(dest, "done")):
        return classes, jars
    os.makedirs(classes, exist_ok=True)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("compile failed")
    open(os.path.join(dest, "done"), "w").close()
    for old in glob.glob(os.path.join(work, "build-*")):
        if old != dest:
            shutil.rmtree(old, ignore_errors=True)
    return classes, jars


if __name__ == "__main__":
    print(build(os.path.join(ROOT, ".perfbench"))[0])
