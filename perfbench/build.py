#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft (src/main/scala plus its resources) and the benchmark
harness (perfbench/src) into one class directory with the Scala compiler
that ships in the Spark distribution's jars, so no build tool and no
network are needed. The build is skipped when a stamp of every source's
content matches the last build.

    python3 perfbench/build.py [BUILD_DIR]

BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build, relative to
the repository root (the current directory).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def build_dir(root):
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else root / d


def _files(d, pattern):
    return sorted(p for p in d.rglob(pattern) if p.is_file()) if d.is_dir() else []


def build(root):
    """Returns (classpath, built_now). Raises SystemExit if the sources
    are missing or do not compile."""
    scala = _files(root / "src" / "main" / "scala", "*.scala")
    harness = _files(BENCH / "src", "*.scala")
    resources = root / "src" / "main" / "resources"
    if not scala or not harness:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found; "
                         "run from the repository root")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in scala + harness + _files(resources, "*"):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    key = h.hexdigest()

    out = build_dir(root) / "perfbench"
    classes = out / "classes"
    stamp = out / "stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if stamp.exists() and stamp.read_text() == key and classes.is_dir():
        return cp, False

    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala + harness) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    stamp.write_text(key)
    return cp, True


if __name__ == "__main__":
    root = Path.cwd()
    if len(sys.argv) > 1:
        os.environ["CARGO_TARGET_DIR"] = sys.argv[1]
    classpath, built = build(root)
    print(("built " if built else "up to date ") + classpath)
