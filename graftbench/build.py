"""Builds the graft benchmark harness.

    python3 graftbench/build.py      (from the root of a graft checkout)

Compiles the harness (graftbench/src) together with the engine sources
it drives (src/main/scala) with the Scala compiler that ships among the
Spark installation's jars, so the build needs neither sbt nor a
dependency cache. The classes land in .bench_build/graftbench/classes
with a stamp of the sources; a later build with the same sources does
nothing. The Spark installation is $SPARK_HOME or, when that is unset,
the jar directory the engine's own build.sbt compiles against.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory of the Spark installation to build and run on."""
    home = os.environ.get("SPARK_HOME", "")
    if os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark installation: set SPARK_HOME")


def java():
    """The java launcher: $JAVA_HOME's, else the one on PATH."""
    home = os.environ.get("JAVA_HOME", "")
    exe = os.path.join(home, "bin", "java")
    if home and os.access(exe, os.X_OK):
        return exe
    exe = shutil.which("java")
    if not exe:
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def sources(root):
    return sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
                  + glob.glob(f"{HERE}/src/**/*.scala", recursive=True))


def build(root, out, log=lambda *a: None):
    """Compile unless the classes in `out` are current; returns the
    harness's classpath."""
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    current = (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
               and os.path.isdir(os.path.join(classes, "graftbench")))
    if not current:
        log("graftbench: building the harness and the engine")
        fresh = os.path.join(out, "classes.new")
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
        cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={out}/tmp", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", fresh] + srcs
        with open(os.path.join(out, "build.log"), "w") as logf:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=840)
        if r.returncode != 0 or not os.path.isdir(os.path.join(fresh, "graftbench")):
            raise BuildError(f"build failed, see {out}/build.log")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(fresh, classes)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return f"{classes}:{os.path.join(jars, '*')}"


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(build(root, os.path.join(root, ".bench_build", "graftbench"),
                    log=lambda *a: print(*a, file=sys.stderr)))
    except BuildError as e:
        sys.exit(f"graftbench: {e}")
