"""Build file of the benchmark.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) with the Scala compiler that ships in the
Spark distribution, into ``.bench_build/perfbench/classes-<digest>`` under the
checkout root. The digest covers every source file, so an unchanged tree is
not compiled again. Run it from the checkout root::

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def spark_jars(root):
    """``$SPARK_HOME/jars``, else the ``unmanagedBase`` jar directory that the
    project's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")
    return m.group(1)


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Returns the classpath of the built benchmark; raises SystemExit when
    the program's sources are missing or do not compile."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jars at " + jars)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classpath

    os.makedirs(out, exist_ok=True)
    for old in os.listdir(out):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(out, old))
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(classes)
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(classes, ".complete"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))
