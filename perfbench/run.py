#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --capture    # rewrite perfbench/expected/digests.tsv

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt (the `perfbench` build
depends on the root build); later runs reuse the build while the sources
are unchanged. The benchmark itself runs in one JVM, `perfbench.Main`.
Every file it writes stays under `.bench_build/` in the checkout.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Everything else goes to
standard error. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SNAPSHOT = BUILD / "snapshot"
TMP = BUILD / "tmp"
WORKLOADS = ("etl_convert", "llm_pipeline")
RUN_LIMIT_S = 170      # one run, build excluded
BUILD_LIMIT_S = 700    # the first run of a checkout also builds
HEAP = "4g"

# What sbt compiles: a change to any of these rebuilds.
SOURCES = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
           BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src" / "main"]

# Spark 4 on JDK 17 outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for src in SOURCES:
        files = sorted(p for p in src.rglob("*") if p.is_file()) if src.is_dir() else [src]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_child(cmd, cwd, limit_s, stdout):
    """Runs cmd in its own process group; kills the group on timeout, or
    when this process is told to stop, and waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)

    def stop(signum, _frame):
        kill_group(proc)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        log(f"{cmd[0]} exceeded {limit_s} s and was stopped")
        return None, None
    finally:
        if proc.poll() is None:
            kill_group(proc)
    return proc.returncode, out


def java(cp, main_args, cwd, stdout):
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={TMP}", f"-Dperfbench.home={BENCH}",
              "-cp", cp, "perfbench.Main", "--snapshot", str(SNAPSHOT)] + main_args)
    return run_child(cmd, cwd, RUN_LIMIT_S, stdout)


def build():
    """The run classpath. Builds first, and writes the corpus snapshot,
    when the sources changed since the last build."""
    cp_file = BENCH / "target" / "classpath.txt"
    stamp_file = BUILD / "build.stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the engine and the benchmark with sbt")
    rc, _ = run_child(["sbt", "-batch", "writeClasspath"], BENCH, BUILD_LIMIT_S, sys.stderr)
    if rc != 0 or not cp_file.is_file():
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp = cp_file.read_text().strip()
    TMP.mkdir(parents=True, exist_ok=True)
    rc, _ = java(cp, ["--write-snapshot"], BUILD, sys.stderr)
    if rc != 0:
        raise SystemExit(f"writing the corpus snapshot failed (exit {rc})")
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--capture", action="store_true",
                    help="write the query ops' digests on the corpus snapshot as the expectations")
    args = ap.parse_args()
    if not args.capture and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit(f"no engine sources beside {BENCH.name}/: run from a checkout of the repository")

    cp = build()
    work = BUILD / "work" / (args.workload or "capture")
    work.mkdir(parents=True, exist_ok=True)
    if args.capture:
        main_args = ["--capture", str(BENCH / "expected" / "digests.tsv")]
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace)]
    launch_ms = time.time() * 1000
    rc, out = java(cp, main_args + ["--work", str(work), "--launch-ms", repr(launch_ms)],
                   work, subprocess.PIPE)
    if args.capture:
        raise SystemExit(rc)
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    lines = [l for l in out.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("benchmark JVM printed no result")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
