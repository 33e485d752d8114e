"""Build file of the benchmark: compiles the graft library sources together
with the harness under perfbench/src into one class directory.

It calls the Scala compiler that ships with the Spark distribution
(`$SPARK_HOME/jars`) directly, so a build needs no network and writes nothing
outside the build directory. A build is skipped when the content hash of
every source file matches the stamp of the last one.

    python3 perfbench/build.py            # builds into .bench_build/classes
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns (classes dir, source hash); raises on a failed build."""
    if not os.path.isdir(LIB_SRC):
        raise RuntimeError(f"library sources not found under {LIB_SRC}")
    jars = spark_jars()
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        raise RuntimeError(f"no scala-compiler jar in {jars}")
    files = sources()
    digest = source_hash(files)
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    version = os.path.basename(compiler[0])[len("scala-compiler-"):-len(".jar")]
    cp = [compiler[0]] + [os.path.join(jars, f"scala-{m}-{version}.jar")
                          for m in ("library", "reflect")]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(cp), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
