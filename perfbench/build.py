"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) into `.bench_build/classes` with the Scala 2.13 compiler
that Spark ships in its `jars` directory, against the same jars the program
runs on. No sbt and no dependency resolution. The compile is skipped when
the sources are unchanged since the last build in this checkout.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: neither SPARK_HOME nor spark-submit found")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", cp] + srcs,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
