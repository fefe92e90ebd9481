#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`perfbench/src`) using the Scala compiler that ships
in the Spark distribution's jar directory, so no build tool, network or home
directory cache is involved. Classes land in `perfbench/.build/<digest>/`,
keyed by a digest of every source file, so an unchanged tree is built once.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """SPARK_HOME, else the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALA = "2.13.17"


def sources():
    """Engine and benchmark sources, plus the engine's resources."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(f"perfbench: no engine sources under {engine}")
    found = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(res):
        out += [os.path.join(d, f) for f in files]
    return res, sorted(out)


def build():
    srcs = sources()
    res_root, res = resources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, "done"), "w").close()
    for stale in os.listdir(os.path.dirname(out)):
        if stale != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), stale), ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
