"""Build graft and the benchmark into one class directory.

Compiles every Scala file under `src/main/scala` (graft itself) together
with `graftbench/src` (the benchmark) with the Scala compiler that ships
in Spark's jar directory, so no build tool or network is needed. The
output is keyed by a digest of all sources: an unchanged tree is not
rebuilt.

    python3 graftbench/build.py            # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("graftbench: SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit("graftbench: no jars directory under SPARK_HOME")
    return jars


def sources():
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise SystemExit("graftbench: src/main/scala not found; run from a graft checkout")
    out = []
    for top in (graft_src, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (class directory, source digest), compiling if needed."""
    files = sources()
    digest = source_digest(files)
    out = os.path.join(build_dir(), "classes-" + digest[:16])
    stamp = os.path.join(out, ".complete")
    if os.path.exists(stamp):
        return out, digest
    os.makedirs(out, exist_ok=True)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", cp, "-d", out] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit("graftbench: compilation failed")
    open(stamp, "w").close()
    # older builds of other source trees are never used again
    for d in os.listdir(build_dir()):
        if d.startswith("classes-") and os.path.join(build_dir(), d) != out:
            shutil.rmtree(os.path.join(build_dir(), d), ignore_errors=True)
    return out, digest


if __name__ == "__main__":
    print(build()[0])
