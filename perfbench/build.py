"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` of the checkout) together with the
benchmark harness (``perfbench/harness``) with the Scala compiler that ships
in the Spark distribution's jars, into ``<build dir>/classes``. The build is
skipped when a stamp of every source file's path and content matches the
last build.

Run it alone with ``python3 perfbench/build.py``; ``run.py`` calls it first.
"""

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler under {home}")
    return os.path.join(jars, "*")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_digest():
    """Digest of the program sources alone: the commit stand-in when the
    checkout is not a git repository."""
    return stamp([f for f in sources() if not f.startswith(HERE)])


def build(quiet=False):
    """Returns the runtime classpath. Concurrent callers build once: the
    first holds the lock, the others then find the stamp current."""
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(quiet)


def _build(quiet):
    files = sources()
    out = os.path.join(build_dir(), "classes")
    jars = spark_jars()
    cp = out + os.pathsep + jars
    want = stamp(files)
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(build_dir(), "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(build_dir(), "tmp"), "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("scalac failed")
    if not quiet:
        sys.stderr.write(r.stdout[-2000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
