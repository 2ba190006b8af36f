"""Build file of the benchmark: compiles the engine sources
(``src/main/scala``) together with the benchmark's own Scala sources
(``perfbench/src``) into one class directory, with scalac from the Spark
distribution's jars: ``$SPARK_HOME/jars`` when set, else the
``unmanagedBase`` directory that the repo's ``build.sbt`` compiles
against.

The class directory is ``.bench_build/classes-<hash>``, keyed by the
content of every source file, so an unchanged tree is built once.

Usage: ``python3 perfbench/build.py`` prints the class directory.
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
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def jars_dir():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is None:
        raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def jars():
    found = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    if not found:
        raise BuildError(f"no Spark jars under {jars_dir()}")
    return found


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found next to perfbench/")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile if needed; returns the class directory."""
    srcs, cp = sources(), jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in cp).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    classpath = os.pathsep.join(cp)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", classpath] + srcs,
                       capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-6000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
