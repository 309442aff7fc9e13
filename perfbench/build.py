"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` plus ``src/main/resources``) and
the benchmark (``perfbench/src``, ``perfbench/test``) with the Scala
compiler that ships among the program's own Spark jars, into
``.bench_build/perfbench/classes``. The jar directory is the one the
program's ``build.sbt`` names as ``unmanagedBase``, so the benchmark builds
the program the way the program's build does, without sbt and without
writing outside the build directory.

A stamp of every source byte makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py            # build, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = [os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "test")]


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, ".bench_build", "perfbench")


def jar_dir():
    """The program's jar directory, as its build.sbt declares it."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: build.sbt names no existing unmanagedBase")


def _sources(dirs, suffix):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(suffix))
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(jar_dir(), "*")])


def build(log=sys.stderr):
    """Compile when stale; return the classpath for running the benchmark."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {os.path.relpath(PROGRAM_SRC, ROOT)}")
    program = _sources([PROGRAM_SRC], ".scala")
    bench = _sources(BENCH_SRC, ".scala")
    if not program or not bench:
        raise BuildError("no Scala sources to build")
    resources = _sources([PROGRAM_RES], "") if os.path.isdir(PROGRAM_RES) else []
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = _stamp(program + bench + resources)
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isfile(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classpath(classes)
    jars = jar_dir()
    os.makedirs(out, exist_ok=True)
    staging = os.path.join(out, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    print(f"perfbench: compiling {len(program)} program and {len(bench)} benchmark sources",
          file=log, flush=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(program + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout, file=log)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    for res in resources:
        dest = os.path.join(staging, os.path.relpath(res, PROGRAM_RES))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(res, dest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath(classes)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
