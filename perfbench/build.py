"""Builds the engine and the benchmark driver from source with scalac.

Two class directories under the build dir, each rebuilt only when the
sources it depends on change (a content hash is kept next to it):
  classes/main   the engine: src/main/scala + src/main/resources
  classes/bench  the driver: perfbench/src, compiled against classes/main

Spark and Scala come from the Spark distribution's jars directory,
$SPARK_HOME/jars; without SPARK_HOME it is the directory build.sbt
compiles the engine against.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_VERSION = "2.13.17"


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        # the jar directory build.sbt compiles the engine against
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                              open(sbt).read())
        if not m:
            raise SystemExit("no SPARK_HOME and no unmanagedBase in build.sbt")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {d}; set SPARK_HOME")
    return d, jars


def _files(*patterns):
    out = []
    for p in patterns:
        out += glob.glob(os.path.join(ROOT, p), recursive=True)
    return sorted(f for f in out if os.path.isfile(f))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jar_dir, classpath, out, sources, log):
    compiler = ":".join(os.path.join(jar_dir, f"{n}-{SCALA_VERSION}.jar")
                        for n in ("scala-compiler", "scala-library", "scala-reflect"))
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(classpath), "@" + argfile]
    with open(log, "ab") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        raise SystemExit(f"scalac failed (rc={rc}); see {log}")


def build(build_dir):
    """Returns the runtime classpath, compiling what is stale."""
    jar_dir, jars = spark_jars()
    log = os.path.join(build_dir, "build.log")
    os.makedirs(build_dir, exist_ok=True)
    main_out = os.path.join(build_dir, "classes", "main")
    bench_out = os.path.join(build_dir, "classes", "bench")

    main_src = _files("src/main/scala/**/*.scala")
    resources = _files("src/main/resources/**/*")
    if not main_src:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    main_key = _digest(main_src + resources)
    stamp = main_out + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == main_key):
        shutil.rmtree(main_out, ignore_errors=True)
        _scalac(jar_dir, jars, main_out, main_src, log)
        res_root = os.path.join(ROOT, "src", "main", "resources")
        for f in resources:
            dst = os.path.join(main_out, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        with open(stamp, "w") as fh:
            fh.write(main_key)

    bench_src = _files("perfbench/src/*.scala")
    bench_key = _digest(bench_src, main_key)
    stamp = bench_out + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == bench_key):
        shutil.rmtree(bench_out, ignore_errors=True)
        _scalac(jar_dir, [main_out] + jars, bench_out, bench_src, log)
        with open(stamp, "w") as fh:
            fh.write(bench_key)
    return [bench_out, main_out, os.path.join(jar_dir, "*")]


if __name__ == "__main__":
    print(":".join(build(sys.argv[1] if len(sys.argv) > 1 else
                         os.path.join(ROOT, ".bench_build"))))
