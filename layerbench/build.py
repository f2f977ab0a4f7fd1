"""Build file of the layer benchmark: compiles the engine and the harness.

The engine (`src/main/scala` at the repository root) is compiled with the
Scala compiler that ships in Spark's jar directory (the one build.sbt
uses), then the harness (`harness/*.scala`) is compiled against the
engine's classes. sbt is not involved. Outputs go to `.work/build/` under
this directory, keyed by a hash of the sources, so an unchanged tree is
built once per checkout.

Usage: python3 build.py   (prints the runtime classpath on success)
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
WORK = os.path.join(HERE, ".work")


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` build.sbt compiles
    against, else $SPARK_HOME/jars. It also ships the Scala compiler.
    """
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else jars
    except OSError:
        pass
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars!r}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    return engine, harness


def _scalac(jars, classpath, out, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed ({r.returncode}) for {out}")


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Returns the runtime classpath, building first when the sources changed."""
    jars = spark_jars()
    engine, harness = sources()
    root = os.path.join(WORK, "build")
    classes = os.path.join(root, "engine-" + _digest(engine))
    harness_out = os.path.join(root, "harness-" + _digest(engine + harness))
    for d in glob.glob(os.path.join(root, "*")):
        if d not in (classes, harness_out):
            shutil.rmtree(d, ignore_errors=True)
    if not os.path.exists(os.path.join(classes, "ok")):
        _scalac(jars, jars, classes, engine)
        open(os.path.join(classes, "ok"), "w").close()
    if not os.path.exists(os.path.join(harness_out, "ok")):
        _scalac(jars, os.pathsep.join([classes, jars]), harness_out, harness)
        open(os.path.join(harness_out, "ok"), "w").close()
    return os.pathsep.join([harness_out, classes, jars])


if __name__ == "__main__":
    print(build())
