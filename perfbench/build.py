#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) with the Scala compiler that
ships among Spark's jars, into .bench_build/ of the checkout.

    python3 perfbench/build.py          # from the root of a checkout

The output directory is keyed by a hash of every source and resource, so
an unchanged tree is built once. Exits non-zero when the checkout holds
no program sources.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")
HARNESS_SOURCES = os.path.join("perfbench", "scala")


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the repo build's
    `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    build_sbt = os.path.join(root, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("Spark jars not found: set SPARK_HOME")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def _files(root, rel, suffix=None):
    base = os.path.join(root, rel)
    out = []
    for d, _, names in os.walk(base):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def ensure_built(root):
    """Compile if needed; returns the runtime classpath."""
    sources = _files(root, PROGRAM_SOURCES, ".scala")
    if not sources:
        raise BuildError(
            f"no program sources under {PROGRAM_SOURCES}: run from the root "
            "of a geckospark checkout")
    harness = _files(root, HARNESS_SOURCES, ".scala")
    resources = _files(root, PROGRAM_RESOURCES)
    jars = spark_jars(root)

    h = hashlib.sha256()
    for p in sources + harness + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]

    build = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build, "classes-" + key)
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classpath

    for old in glob.glob(os.path.join(build, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(sources + harness) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(sources)} program and {len(harness)} "
          "harness sources", file=sys.stderr)
    # run inside the build directory: the compiler's default classpath is
    # ".", and the checkout root holds a perfbench/scala directory
    r = subprocess.run(cmd, cwd=build, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    res_base = os.path.join(root, PROGRAM_RESOURCES)
    for p in resources:
        dest = os.path.join(classes, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    open(os.path.join(classes, ".complete"), "w").close()
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
