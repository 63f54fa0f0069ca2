#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
harness (perfbench/src) into .bench_build/perfbench/classes-<hash>.

It uses the Scala compiler that ships with the Spark distribution
($SPARK_HOME/jars, or the first spark-submit on PATH that sits in a
distribution), so the build needs no sbt and no network. The output directory
is keyed by a hash of every source file, so an unchanged tree is built once
and a changed tree is rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (pathlib.Path(d) / "spark-submit").resolve().parent.parent
        if (home / "jars").is_dir():
            return home
    raise SystemExit("no Spark distribution: set SPARK_HOME")


SPARK_JARS = spark_home() / "jars"


def sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return lib, bench


def build():
    """Return the classes directory, compiling first if the sources changed."""
    lib, bench = sources()
    if not lib:
        raise SystemExit(f"no library sources under {ROOT / 'src/main/scala'}")
    if not bench or not SPARK_JARS.is_dir():
        raise SystemExit(f"missing harness sources or Spark jars at {SPARK_JARS}")
    digest = hashlib.sha256()
    for p in lib + bench:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    subprocess.run(cmd + [str(p) for p in lib + bench], check=True,
                   stdout=sys.stderr)
    (tmp / ".complete").touch()
    for old in BUILD.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
