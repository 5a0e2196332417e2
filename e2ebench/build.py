#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (e2ebench/src) into one class directory with
the Scala compiler that ships among the Spark jars.

    python3 e2ebench/build.py [BUILD_DIR]

Run from the repository root. BUILD_DIR defaults to $CARGO_TARGET_DIR or
.bench_build. A build is skipped when the sources, the jar set and this
file are unchanged since the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars(root):
    """The jar directory build.sbt names as unmanagedBase, else $SPARK_HOME/jars."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else (shutil.which("java") or "java")


def sources(root):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: program sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(build_dir):
    """Digest of the current build's inputs (written by build())."""
    return (build_dir / "classes.sha256").read_text()


def build(root, build_dir):
    """Compile if needed; return (class directory, classpath for java)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    digest = h.hexdigest()

    classes = build_dir / "classes"
    stamp = build_dir / "classes.sha256"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp.is_file() and stamp.read_text() == digest and classes.is_dir():
        return classes, classpath

    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    compiler = [next(jars.glob(f"{n}-2.13.*.jar"), None)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {jars}")
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(c) for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    stamp.write_text(digest)
    return classes, classpath


if __name__ == "__main__":
    root = Path.cwd()
    out = Path(sys.argv[1] if len(sys.argv) > 1
               else os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    out.mkdir(parents=True, exist_ok=True)
    print(build(root, out)[0])
