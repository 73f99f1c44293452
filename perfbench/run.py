#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

  python3 perfbench/run.py --workload <ingest_dashboard|olap_warm|store_cold>
      --seed <n> --seconds <s> --trace <0|1>
      [--scale full|tiny] [--corrupt-expected <query>] [--reuse-cold-path]

Builds the engine and the benchmark from source on first use (see
build.py), then runs graftbench.Main in one JVM on local[<nproc>] with the
heap pinned as the engine's tier-1 tests pin it: half of RAM, at least 2g,
at most 8g. Everything the run writes stays under .bench_build/ and is
removed when the run ends. The last line of stdout is the JSON result.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def heap_gb():
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["ingest_dashboard", "olap_warm", "store_cold"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--scale", default="full", choices=["full", "tiny"])
    p.add_argument("--corrupt-expected")
    p.add_argument("--reuse-cold-path", action="store_true")
    a = p.parse_args()
    try:
        classes, jars = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(build.BUILD, "runs", str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    heap = heap_gb()
    cores = os.cpu_count()
    print(f"[machine] nproc={cores} heap={heap}g", flush=True)
    cmd = (["java", f"-Xmx{heap}g", "-Xss8m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JDK17_OPENS]
           + ["-cp", build.classpath(classes, jars), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--run-dir", run_dir, "--scale", a.scale,
              "--expected", os.path.join(HERE, "expected.tsv")]
           + (["--corrupt-expected", a.corrupt_expected] if a.corrupt_expected else [])
           + (["--reuse-cold-path"] if a.reuse_cold_path else []))
    # a TERM to this process ends the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd)
    code = 4
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
