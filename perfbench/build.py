"""Build file of the benchmark package: compiles graft's main sources and
the benchmark's own Scala sources (`perfbench/src`) with the Scala compiler
that ships in Spark's jars, into `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`). A content hash of every source skips rebuilds
of unchanged trees.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the ones pyspark ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars: set SPARK_HOME")
    return jars


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise SystemExit(f"graft sources not found at {graft}")
    files = []
    for top in (graft, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if any source changed; return the runtime classpath."""
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(jars),
                           "-d", classes] + files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp",
                        os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("scalac failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
