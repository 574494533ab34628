#!/usr/bin/env python3
"""Builds the engine and the benchmark from source, only when a source changed.

Usage: python3 perfbench/build.py   (from the repository root)

The engine (src/main/scala) and the benchmark (perfbench/src) are compiled
with plain scalac, run from the scala-compiler jar that ships among the
Spark jars build.sbt names as `unmanagedBase`; no sbt and no network are
involved. Classes land under $CARGO_TARGET_DIR (default `.bench_build`),
each tree with a stamp holding the digest of the sources it was built from.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys


def out_root(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars(root):
    """The Spark jar directory: build.sbt's unmanagedBase."""
    sbt = (root / "build.sbt").read_text()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return pathlib.Path(m.group(1))


def jvm_opens(root):
    """build.sbt's jdk17AddOpens flags, which Spark needs outside spark-submit."""
    sbt = (root / "build.sbt").read_text()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    if not m:
        raise SystemExit("build.sbt defines no jdk17AddOpens")
    flags = []
    for pkg in re.findall(r'"([^"]+)"', m.group(1)):
        flags += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return flags


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(out, srcs, classpath, jars, stamp):
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return False
    tmp = out.parent / (out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compilation of {out.name} failed")
    argfile.unlink()
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return True


def build(root):
    """Compiles what changed; returns (engine classes, bench classes, jar dir)."""
    root = pathlib.Path(root).resolve()
    main_dir = root / "src" / "main" / "scala"
    if not main_dir.is_dir() or not (root / "build.sbt").is_file():
        raise SystemExit("no engine sources here: run from the repository root")
    jars = spark_jars(root)
    out = out_root(root)
    main_srcs = sorted(main_dir.rglob("*.scala"))
    bench_srcs = sorted((root / "perfbench" / "src").rglob("*.scala"))
    main_stamp = _digest(main_srcs)
    classes, bench = out / "classes", out / "bench-classes"
    _compile(classes, main_srcs, f"{jars}/*", jars, main_stamp)
    _compile(bench, bench_srcs, f"{classes}:{jars}/*", jars, _digest(bench_srcs, main_stamp))
    return classes, bench, jars


if __name__ == "__main__":
    for p in build(pathlib.Path.cwd()):
        print(p)
