"""Build file of the benchmark: compiles the library and the harness.

The library (``src/main/scala``, plus ``src/main/resources``) and the
benchmark harness (``perfbench/harness``) are compiled with the Scala
compiler that ships among the Spark jars the repository builds against
(the directory ``build.sbt`` names as ``unmanagedBase``, or
``$SPARK_HOME/jars``). Output goes to ``.bench_build/classes`` and is
reused while a digest of every source file is unchanged.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "classes")


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    raise RuntimeError("no Spark jars: build.sbt's unmanagedBase and "
                       "$SPARK_HOME/jars are both missing")


def _sources(d, ext=".scala"):
    return sorted(glob.glob(os.path.join(d, "**", "*" + ext), recursive=True))


def _digest(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, dest, files, log):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd += files
    with open(log, "ab") as lf:
        if subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT) != 0:
            raise RuntimeError(f"scalac failed; see {log}")


def build():
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    lib = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib:
        raise RuntimeError("no library sources under src/main/scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    res = [f for f in glob.glob(os.path.join(res_dir, "**", "*"), recursive=True)
           if os.path.isfile(f)]
    harness = _sources(os.path.join(HERE, "harness"))
    digest = _digest(lib + res + harness, jars)
    main_dir, bench_dir = os.path.join(OUT, "main"), os.path.join(OUT, "harness")
    stamp = os.path.join(OUT, "STAMP")
    classpath = os.pathsep.join([bench_dir, main_dir, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    log = os.path.join(OUT, "build.log")
    _scalac(jars, None, main_dir, lib, log)
    for f in res:
        dest = os.path.join(main_dir, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    _scalac(jars, main_dir, bench_dir, harness, log)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report and fail
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
