"""Build file of the benchmark: compiles the program and the benchmark.

The program is compiled as build.sbt describes it: every Scala file under
src/main/scala, against the jars of the Spark distribution (build.sbt's
`unmanagedBase`, or $SPARK_HOME/jars), with src/main/resources on the
class path at run time. The benchmark's sources under perfbench/src are
then compiled against the program. Both go to .bench_build/ at the root of
the checkout and are rebuilt only when their sources change.

    python3 perfbench/build.py        # prints the run-time class path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars, which holds the Scala compiler too."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler (looked in: %s)"
                     % ", ".join(candidates or ["nothing: no build.sbt and no SPARK_HOME"]))


def sources(*dirs, suffix=""):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, files, dest, log):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = dest + ".args"
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + argfile]
    with open(log, "w", encoding="utf-8") as out:
        rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log, encoding="utf-8") as f:
            tail = f.read()[-4000:]
        raise BuildError("scalac failed for %s:\n%s" % (os.path.basename(dest), tail))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def step(name, files, stamp_extra, jars, classpath):
    """Compiles `files` into .bench_build/<name> unless its stamp is current."""
    dest = os.path.join(OUT, name)
    stamp = digest(files, stamp_extra)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.isfile(stamp_file):
        with open(stamp_file, encoding="utf-8") as f:
            if f.read().strip() == stamp:
                return dest, stamp
    print("perfbench: compiling %s (%d files)" % (name, len(files)), file=sys.stderr)
    scalac(jars, classpath, files, dest, dest + ".log")
    with open(stamp_file, "w", encoding="utf-8") as f:
        f.write(stamp + "\n")
    return dest, stamp


def build():
    """Builds what is stale; returns the run-time class path."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BuildError("no program to build: %s needs build.sbt and src/main/scala" % ROOT)
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    main_files = sources(main_src, suffix=".scala")
    main_dir, main_stamp = step("main", main_files, "", jars, spark_cp)
    bench_files = sources(os.path.join(HERE, "src"), suffix=".scala")
    bench_dir, _ = step("bench", bench_files, main_stamp, jars,
                        os.pathsep.join([main_dir, spark_cp]))
    return os.pathsep.join([bench_dir, main_dir, resources, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
