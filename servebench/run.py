#!/usr/bin/env python3
"""Serving benchmark entry point.

    python3 servebench/run.py --workload render_dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the benchmark (its own sbt build,
which compiles the engine's sources next to the benchmark's) when the
sources changed since the last build, then runs one workload in a fresh
JVM and relays its report. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Everything the run writes
stays under .bench_build/ in the repository root.
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

WORKLOADS = ("render_dashboard", "corpus_refresh_search")
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
YOUNG = "512m"

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    OUT.mkdir(exist_ok=True)
    home = Path.home()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={home / '.sbt' / 'repositories'}",
           "-Dsbt.offline=true",
           f"-Dsbt.global.base={OUT / 'sbt-global'}",
           f"-Dsbt.ivy.home={OUT / 'ivy'}",
           "compile", "export Compile/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in r.stdout.splitlines() if "/classes:" in ln or ln.endswith("/classes")]
    if not cp:
        fail("build printed no classpath")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(want)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    cp = build()
    cores = min(4, os.cpu_count() or 1)
    work = OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed heap and young generation, not pre-touched: peak RSS then
    # follows what the old generation and native memory actually touch,
    # not the collector's choice of young size
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        java += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java += ["-cp", cp, "servebench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", str(work), "--cores", str(cores)]
    log = work / "jvm.log"
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.strip().splitlines()
        result = None
        if p.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except json.JSONDecodeError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(out[-4000:])
            sys.stderr.write(log.read_text()[-6000:])
            fail(f"run failed (exit {p.returncode})")
        for kind in ("spans", "counts"):
            f = work / f"{kind}.jsonl"
            if f.exists():
                keep = OUT / "traces"
                keep.mkdir(exist_ok=True)
                shutil.move(str(f), keep / f"{a.workload}-seed{a.seed}.{kind}.jsonl")
        print("\n".join(lines[:-1]))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
