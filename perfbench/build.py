"""Build the engine and the benchmark harness from source.

The engine's Scala sources (`src/main/scala` of the checkout) and the
harness (`perfbench/src`) compile in one `scalac` pass against the Spark
distribution's jars, into `.bench_build/` at the checkout root. A stamp
over every source file's path and bytes skips the compile when nothing
changed, so only the first run in a checkout pays for it.

Run directly (`python3 perfbench/build.py`) to build ahead of time.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else
    the one beside `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        d = os.path.join(h, "jars")
        if h and os.path.isdir(d):
            return d
    raise SystemExit("perfbench: no Spark distribution found "
                     "(set SPARK_HOME)")


def classpath_jars():
    d = spark_jars()
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".jar"))


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source tree {r}")
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    jars = classpath_jars()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(files)
    have = open(stamp_file).read() if os.path.isfile(stamp_file) else ""
    if have != want:
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.pathsep.join(jars)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    build()
    print("built", OUT)
