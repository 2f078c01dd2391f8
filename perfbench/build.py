#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft library sources
(`src/main/scala`) together with the harness (`perfbench/src`) into
`perfbench/out/classes`, with the Scala compiler that ships in the Spark
jars (`$SPARK_HOME/jars`). Skips the compile when the sources are unchanged
since the last build (content digest in `perfbench/out/classes.stamp`).

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = BENCH / "out"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the `jars` beside a Spark `bin/` on PATH."""
    path_dirs = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME", "")] + [str(Path(d).parent) for d in path_dirs if d]
    for home in homes:
        jars = Path(home) / "jars"
        if home and list(jars.glob("spark-core_*.jar")):
            return jars
    sys.exit("build: no Spark jars found; set SPARK_HOME or put Spark's bin/ on PATH")


def sources() -> list:
    if not LIB_SRC.is_dir():
        sys.exit(f"build: library sources not found at {LIB_SRC}")
    lib = sorted(LIB_SRC.rglob("*.scala"))
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not lib or not bench:
        sys.exit("build: no Scala sources to compile")
    return lib + bench


def digest(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    return h.hexdigest()


def source_digest() -> str:
    """Digest of the library sources alone, recorded as provenance."""
    h = hashlib.sha256()
    for f in sorted(LIB_SRC.rglob("*.scala")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> Path:
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text().strip() == want:
        return CLASSES
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"classes.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / f"sources.{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, timeout=840).returncode
    finally:
        argfile.unlink(missing_ok=True)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: compile failed (exit {rc})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
