"""Build file of the benchmark: compiles the library sources, then the
benchmark's own Scala sources against them.

The Scala compiler and every dependency come from the Spark distribution
(`$SPARK_HOME/jars`, or the one holding `spark-submit` on PATH). Output
goes to `<checkout>/.bench_build/perfbench/{lib,bench}-<hash>`, keyed by
the content of the sources, so a checkout compiles the library once.

    python3 perfbench/build.py        # prints the classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _scala(pattern_root):
    return sorted(glob.glob(os.path.join(pattern_root, "**", "*.scala"), recursive=True))


def _compile(srcs, classpath, out, log):
    """scalac `srcs` into `out` (content-keyed: skipped when present)."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4",
           *(["-classpath", classpath] if classpath else []), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, out)
    return out


def _digest(paths, seed=b""):
    h = hashlib.sha256(seed)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compiles the library, then the benchmark against it; returns the
    classpath of both."""
    lib = _scala(os.path.join(ROOT, "src", "main", "scala"))
    if not lib:
        raise SystemExit("perfbench: library sources (src/main/scala) not found")
    lib_key = _digest(lib)
    lib_out = _compile(lib, "", os.path.join(BUILD, "lib-" + lib_key), log)
    own = _scala(os.path.join(HERE, "src"))
    own_out = _compile(own, lib_out, os.path.join(BUILD, "bench-" + _digest(own, lib_key.encode())), log)
    return own_out + os.pathsep + lib_out


if __name__ == "__main__":
    print(build())
