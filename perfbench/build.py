#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and
the benchmark program (perfbench/src) with the Scala compiler that ships
in $SPARK_HOME/jars, into .bench_build/ (or $CARGO_TARGET_DIR).

A stamp over every source file's path and content lets repeat runs skip
the compile. Run it alone with
`python3 perfbench/build.py`; run.py calls it before every run.
"""
import hashlib
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
GRAFT_SRC = ROOT / "src" / "main" / "scala"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("build: SPARK_HOME must point at a Spark 4 install (with jars/)")
    return pathlib.Path(home) / "jars"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    p = pathlib.Path(d)
    return p if p.is_absolute() else ROOT / p


def sources(root):
    files = sorted(root.rglob("*.scala"))
    if not files:
        raise SystemExit(f"build: no Scala sources under {root}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def scalac(files, out, classpath):
    jars = spark_jars()
    compiler = ":".join(str(jars / f"scala-{n}-2.13.17.jar")
                        for n in ("compiler", "library", "reflect"))
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".sources")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {out.name}")


def build():
    """Compile what changed; returns the runtime classpath string."""
    jars = spark_jars()
    base = build_dir()
    spark_cp = str(jars / "*")
    graft_files, bench_files = sources(GRAFT_SRC), sources(BENCH_SRC)
    graft_out, bench_out = base / "graft-classes", base / "perfbench-classes"
    graft_stamp = stamp(graft_files)
    bench_stamp = stamp(bench_files) + graft_stamp
    for files, out, st, cp in (
            (graft_files, graft_out, graft_stamp, spark_cp),
            (bench_files, bench_out, bench_stamp, f"{graft_out}:{spark_cp}")):
        marker = out.parent / (out.name + ".stamp")
        if marker.exists() and marker.read_text() == st:
            continue
        if marker.exists():
            marker.unlink()
        subprocess.run(["rm", "-rf", str(out)], check=True)
        scalac(files, out, cp)
        marker.write_text(st)
    return f"{bench_out}:{graft_out}:{spark_cp}"


if __name__ == "__main__":
    print(build())
