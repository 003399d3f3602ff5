"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala program (perfbench/scala) with the Scala compiler that ships in
the Spark distribution, into the build directory of the checkout.

A build is redone only when the sources change (a content stamp is kept
next to the classes). Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution with a
    `spark-submit` on the PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler*.jar")):
            return jars
    return os.path.join(homes[0], "jars")


SPARK_JARS = _spark_jars()
BUILD = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


class BuildError(Exception):
    pass


def _sources(pattern):
    return sorted(glob.glob(pattern, recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, srcs, classpath, dep_stamp=""):
    out = os.path.join(BUILD, name)
    stamp = _stamp(srcs) + dep_stamp
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jtmp = os.path.join(BUILD, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={jtmp}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd + srcs, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {name} (exit {r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, stamp


def classpath():
    """Build if needed; return the run classpath entries."""
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars at {SPARK_JARS}")
    graft_srcs = _sources("src/main/**/*.scala")
    if not graft_srcs:
        raise BuildError("no graft sources under src/main — run from the repository root")
    bench_srcs = _sources("perfbench/scala/*.scala")
    if not bench_srcs:
        raise BuildError("no benchmark sources under perfbench/scala")
    os.makedirs(BUILD, exist_ok=True)
    graft, graft_stamp = _compile("graft-classes", graft_srcs, [])
    bench, _ = _compile("bench-classes", bench_srcs, [graft], graft_stamp)
    return [graft, bench, os.path.join(SPARK_JARS, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(classpath()))
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
