"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own Scala sources into one class directory.

The compiler, the Scala library and Spark come from the jar directory the
repository's `build.sbt` names in `unmanagedBase` (or `$SPARK_HOME/jars`),
so the benchmark builds against exactly what the repository builds
against, offline and without sbt. The output is reused while a digest of
every source and of the jar listing is unchanged.

    python3 graftbench/build.py      # build (or confirm) and print the class dir
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no repository sources under {os.path.relpath(main, ROOT)}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return found


def source_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compiler_jars(jars):
    found = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, name + "-2.*.jar")))
        if not hits:
            raise BuildError(f"{name} jar missing from {jars}")
        found.append(hits[-1])
    return found


def build(log=sys.stderr):
    """Compile if needed; return (class dir, jar dir, source digest)."""
    jars = jar_dir()
    srcs = sources()
    digest = source_digest(srcs)
    stamp_key = digest + "\n" + "\n".join(sorted(os.listdir(jars)))
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == stamp_key:
                return classes, jars, digest
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler_jars(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[graftbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp_key)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
