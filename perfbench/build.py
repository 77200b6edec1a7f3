"""Builds the program and the benchmark's own classes from source.

    python3 perfbench/build.py

Compiles `src/main/scala` together with `perfbench/scala` with the Scala
compiler that ships in the Spark distribution's jars, into
`<build>/classes` (`<build>` is $CARGO_TARGET_DIR, default `.bench_build`).
A digest of every source file is stored beside the classes, so an unchanged
tree is not compiled again.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    srcs = []
    for top in ("src/main/scala", "perfbench/scala"):
        srcs += sorted(glob.glob(os.path.join(ROOT, top, "**", "*.scala"), recursive=True))
    return srcs


def digest(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Returns (classes dir, source digest); raises SystemExit on failure."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/**/*.scala"), recursive=True):
        raise SystemExit("build: no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    srcs = sources()
    want = digest(srcs)
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    listing = os.path.join(build_dir(), "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", tmp, "@" + listing]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


if __name__ == "__main__":
    print(build()[0])
