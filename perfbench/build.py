#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

    python3 perfbench/build.py            # engine + harness
    python3 perfbench/build.py --tests    # also the harness self-tests

The engine's main sources (`src/main/scala`) and the harness
(`perfbench/src/main/scala`) are compiled with the Scala compiler that
ships in the Spark distribution's jar directory (`$SPARK_HOME/jars`, or
found from `spark-submit` on the PATH), against those same jars,
into `.bench_build/perfbench/` at the repository root. A stamp of every
source file's content skips the compile when nothing changed. Nothing is
written outside the repository.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("[perfbench] no Spark distribution: set SPARK_HOME")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def classpath(*extra):
    return os.pathsep.join(list(extra) + [os.path.join(SPARK_JARS, "*")])


def engine_sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))


def engine_resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def harness_sources(kind):
    return sorted(glob.glob(os.path.join(HERE, "src", kind, "scala", "**", "*.scala"),
                            recursive=True))


def _stamp(files, deps):
    h = hashlib.sha256()
    for d in deps:  # a dependency's rebuild invalidates its dependants
        h.update(open(d + ".stamp").read().encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, files, cp_extra, resources=(), resource_root=None):
    """Compile `files` into OUT/<name> and copy `resources` (relative to
    `resource_root`) beside the classes, unless the stamp says it is current."""
    dest = os.path.join(OUT, name)
    stamp_path = dest + ".stamp"
    stamp = _stamp(list(files) + list(resources), cp_extra)
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath(*cp_extra)] + files
    print(f"[perfbench] compiling {name}: {len(files)} files", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for r in resources:
        target = os.path.join(dest, os.path.relpath(r, resource_root))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(r, target)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return dest


def build(tests=False):
    """Return the classpath entries (engine, harness[, tests]) after building."""
    src = engine_sources()
    if not src or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("[perfbench] no engine sources next to the benchmark "
                         f"(looked for {ROOT}/build.sbt and src/main/scala)")
    engine = _compile("engine", src, [], engine_resources(),
                      os.path.join(ROOT, "src", "main", "resources"))
    harness = _compile("harness", harness_sources("main"), [engine])
    dirs = [harness, engine]
    if tests:
        dirs.insert(0, _compile("tests", harness_sources("test"), [harness, engine]))
    return dirs


if __name__ == "__main__":
    build(tests="--tests" in sys.argv[1:])
