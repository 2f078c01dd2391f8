#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the classes if the sources changed (perfbench/build.py), writes the
fixed input tables once per checkout, then runs one benchmark JVM. Its
stdout is relayed; the last line is the JSON result. Every run also writes
a full record (provenance, per-operation latencies, spans) to a new file
under perfbench/out/records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
OUT = build.OUT
DATA = OUT / "data"
RECORDS = OUT / "records"
WORKLOADS = ("batch_pipeline", "serve_refit")
HEAP = "3g"
# a run must end within 180 s
JVM_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (the root build passes
# the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def java_cmd(classes: Path, scratch: Path, main: str, args: list) -> list:
    jars = build.spark_jars()
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opts,
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", main, *args]


def run_jvm(cmd: list, scratch: Path, timeout: float) -> subprocess.CompletedProcess:
    """Runs one JVM to completion (killed at the timeout), then removes its
    scratch directory."""
    scratch.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch))
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=timeout)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def ensure_data(classes: Path) -> Path:
    """Writes the fixed input tables once per checkout, and again whenever
    the generator's source changes."""
    done = DATA / "_COMPLETE"
    want = hashlib.sha256((BENCH / "src" / "graftbench" / "DataGen.scala").read_bytes()).hexdigest()
    if done.exists() and done.read_text().strip() == want:
        return DATA
    tmp = OUT / f"data.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    scratch = OUT / "tmp" / f"gen-{os.getpid()}"
    p = run_jvm(java_cmd(classes, scratch, "graftbench.Main", ["gen", str(tmp), str(nproc())]),
                scratch, 600)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"run: data generation failed (exit {p.returncode})")
    shutil.rmtree(DATA, ignore_errors=True)
    tmp.rename(DATA)
    done.write_text(want + "\n")
    return DATA


def git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "none"
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the harness self-tests and exit")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    classes = build.build()
    if a.selftest:
        scratch = OUT / "tmp" / f"selftest-{os.getpid()}"
        p = run_jvm(java_cmd(classes, scratch, "graftbench.SelfTest", []), scratch, 120)
        sys.stdout.write(p.stdout)
        return p.returncode

    data = ensure_data(classes)
    RECORDS.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    record = RECORDS / f"{stamp}_{a.workload}_seed{a.seed}_trace{a.trace}_{os.getpid()}.json"
    scratch = OUT / "tmp" / f"run-{os.getpid()}"
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(data), "--cores", str(nproc()),
            "--record", str(record), "--commit", git_commit(),
            "--source-digest", build.source_digest()]
    try:
        p = run_jvm(java_cmd(classes, scratch, "graftbench.Main", args), scratch,
                    JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run: benchmark JVM exceeded {JVM_TIMEOUT_S} s and was stopped",
              file=sys.stderr)
        return 1
    lines = p.stdout.splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
        print(f"run: benchmark JVM failed (exit {p.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(f"record {record.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
