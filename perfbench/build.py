"""Build file of the benchmark: compiles the program (`src/main/scala`) and the
benchmark's JVM side (`perfbench/scala`) with the Scala compiler that ships in
the Spark jars the repository builds against, straight into `.bench_build/`. No sbt: the
build reads only the sources and the toolchain, and writes only under
`.bench_build/`. A build is reused while the hash of its sources is unchanged.

Usage: python3 perfbench/build.py   (run.py calls `build()` itself)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def spark_jars(repo):
    """The Spark jar directory the repository builds against (build.sbt's
    `unmanagedBase`); it also holds the Scala compiler."""
    with open(os.path.join(repo, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(jars_dir, srcs, classpath, out, stamp, log):
    if os.path.exists(stamp):
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars_dir, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build failed ({os.path.basename(out)}), see {log}")
    open(stamp, "w").close()
    return True


def build(repo="."):
    """Compile program + benchmark if their sources changed; return the
    runtime classpath and the build's source hash."""
    src = os.path.join(repo, "src", "main", "scala")
    if not os.path.isdir(src):
        raise SystemExit(f"no program sources at {src}: run from the root of the repository")
    jars_dir = spark_jars(repo)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jars_dir}")
    out = os.path.join(repo, ".bench_build")
    os.makedirs(out, exist_ok=True)
    prog_srcs, bench_srcs = _sources(src), _sources(os.path.join(HERE, "scala"))
    prog_hash = _digest(prog_srcs)
    bench_hash = _digest(bench_srcs, prog_hash)
    prog_out, bench_out = os.path.join(out, "classes"), os.path.join(out, "bench-classes")
    spark_cp = os.pathsep.join(jars)
    rebuilt = _compile(jars_dir, prog_srcs, spark_cp, prog_out,
                       os.path.join(out, f"classes-{prog_hash[:16]}.ok"),
                       os.path.join(out, "build-classes.log"))
    if rebuilt:
        for old in glob.glob(os.path.join(out, "bench-classes-*.ok")):
            os.remove(old)
    _compile(jars_dir, bench_srcs, os.pathsep.join([prog_out, spark_cp]), bench_out,
             os.path.join(out, f"bench-classes-{bench_hash[:16]}.ok"),
             os.path.join(out, "build-bench.log"))
    for old in glob.glob(os.path.join(out, "classes-*.ok")):
        if prog_hash[:16] not in old:
            os.remove(old)
    return os.pathsep.join([bench_out, prog_out, os.path.join(jars_dir, "*")]), bench_hash


if __name__ == "__main__":
    print(build()[0])
