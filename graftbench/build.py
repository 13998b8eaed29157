#!/usr/bin/env python3
"""Build file of the graftbench package.

Compiles graft (src/main/scala) and the benchmark driver (graftbench/src)
with the Scala compiler that ships among the build's unmanaged jars, into
.bench_build/graftbench/ at the repository root. Everything it needs is
read from the repository's build.sbt, which it does not change: the Scala
version, the unmanaged jar directory (Spark), and the JVM options that
`run / fork` uses. A build whose inputs are unchanged is skipped.

    python3 graftbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def _build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("build.sbt not found at the repository root")
    with open(path, encoding="utf-8") as f:
        return f.read()


def settings():
    """Scala version, jar directory and fork JVM options from build.sbt."""
    sbt = _build_sbt()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not version or not base:
        raise BuildError("build.sbt has no scalaVersion or unmanagedBase setting")
    jars = base.group(1)
    if not os.path.isabs(jars):
        jars = os.path.join(ROOT, jars)
    opens = re.findall(r'"(java\.base/[^"]+)"', sbt)
    defines = re.findall(r'"(-D[^"$]+)"', sbt)
    jvm = [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + defines
    return version.group(1), jars, jvm


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(version, jars, files):
    h = hashlib.sha256(f"{version}\n{jars}\n".encode())
    h.update(_build_sbt().encode())
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _stale(dest, stamp):
    path = dest + ".stamp"
    if not os.path.isfile(path):
        return True
    with open(path) as f:
        return f.read() != stamp


def _scalac(jars, classpath, dest, files, stamp):
    """Compile into a fresh `dest`; its stamp is written only on success."""
    for stale in (dest, dest + ".stamp"):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
        elif os.path.exists(stale):
            os.remove(stale)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-cp", classpath]
    res = subprocess.run(cmd + files, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac failed with code {res.returncode}")
    with open(dest + ".stamp", "w") as f:
        f.write(stamp)


def ensure_built():
    """Build if stale. Returns (classpath, jvm_options, built_now)."""
    version, jars, jvm = settings()
    compiler = os.path.join(jars, f"scala-compiler-{version}.jar")
    if not os.path.isfile(compiler):
        raise BuildError(f"no scala-compiler-{version}.jar in {jars}")
    graft_files, bench_files = _sources(GRAFT_SRC), _sources(BENCH_SRC)
    if not graft_files or not bench_files:
        raise BuildError("graft or graftbench sources missing")
    graft_cls = os.path.join(OUT, "graft-classes")
    bench_cls = os.path.join(OUT, "bench-classes")
    classpath = os.pathsep.join([bench_cls, graft_cls, os.path.join(jars, "*")])
    graft_stamp = _stamp(version, jars, graft_files)
    bench_stamp = _stamp(version, jars, graft_files + bench_files)
    built = False
    if _stale(graft_cls, graft_stamp):
        print(f"[graftbench] compiling {len(graft_files)} graft sources", file=sys.stderr, flush=True)
        _scalac(jars, None, graft_cls, graft_files, graft_stamp)
        built = True
    if _stale(bench_cls, bench_stamp):
        print(f"[graftbench] compiling {len(bench_files)} benchmark sources", file=sys.stderr, flush=True)
        _scalac(jars, graft_cls, bench_cls, bench_files, bench_stamp)
        built = True
    return classpath, jvm, built


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
