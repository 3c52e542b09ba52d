"""Build step of the benchmark: compiles the engine and the harness.

The engine's own sources (`src/main/scala`) and the harness
(`perfbench/harness`) are compiled together with the Scala compiler that
ships among the Spark jars the repository builds against (the directory
named by `unmanagedBase` in `build.sbt`). No
dependency is resolved and nothing is written outside the checkout: the
classes go to `.bench_build/perfbench/classes`, stamped with a hash of
every source, so an unchanged checkout is not rebuilt.

Run alone as `python3 perfbench/build.py` to build, or import `ensure()`.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")

# Matches build.sbt's JDK 17 module openings (what spark-submit injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir() -> str:
    """The Spark jar directory the repository compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.isfile(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources() -> list:
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    return engine + sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))


def classpath() -> str:
    return CLASSES + os.pathsep + os.path.join(jar_dir(), "*")


def ensure(log=sys.stderr) -> str:
    """Compiles if any source changed since the last build; returns the classpath."""
    srcs = sources()
    jars = jar_dir()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classpath()
        print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(BUILD, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(f'"{s}"' for s in srcs))
        tmpdir = os.path.join(BUILD, "tmp")
        os.makedirs(tmpdir, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
               "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            raise BuildError("scalac failed:\n" + p.stdout[-4000:])
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
