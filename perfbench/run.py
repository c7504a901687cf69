#!/usr/bin/env python3
"""Repository benchmark: three seeded workloads on the engine's public API.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is etl_full_load, etl_daily_merge, corpus_prep, or all (each in turn). Builds the engine and
the benchmark from source (perfbench/build.py), generates W's inputs from
the seed, and runs one local[4] JVM. --trace 0 prints the end-to-end
metrics, --trace 1 the per-layer ones (see perfbench/README.md). Every
run's output is checked against the truth the generator planted; a
mismatch sets "correct": false and the exit code to 1. The last stdout
line is the JSON result. Everything is written under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the package directory free of build output
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_full_load", "etl_daily_merge", "corpus_prep")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def heap() -> str:
    """Half of MemTotal in whole GiB, clamped to 2..8 (as the tier-1 tests size it)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def jvm(cp: str, work: Path, args: list, deadline: float) -> dict:
    """Run graft.bench.Main; return its result JSON (last stdout line)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # -Xms = -Xmx: ParallelGC does not resize the heap through the first runs,
    # so the timed runs start nearer a settled JVM.
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           ADD_OPENS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.bench.Main",
            "--work", str(work)] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("bench: time budget exceeded")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"bench: JVM failed (exit {p.returncode})")
    return json.loads(lines[-1])


def one(cp: str, workload: str, a: argparse.Namespace, deadline: float) -> dict:
    """One workload in its own JVM; the work directory is removed afterwards."""
    work = build.OUT / "work" / f"{workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = jvm(cp, work, ["--workload", workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", a.trace], deadline)
        if a.trace == "1":
            traces = build.OUT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(work / "spans.json", traces / f"{workload}-seed{a.seed}-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, m in res["metrics"].items():
        print(f"{workload} {k} {m['value']:.4f} {m['unit']}")
    print(f"{workload} fail_share {res['failed'] / res['attempted']:.4f} "
          f"({res['failed']} of {res['attempted']} runs)")
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t0 = time.monotonic()
    built = not (build.OUT / "classes.stamp").is_file()
    cp = build.build()
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for w in workloads:
        # a fresh checkout's first run also pays for the build
        deadline = time.monotonic() + (880 - (time.monotonic() - t0) if built else 170)
        built = False
        results[w] = one(cp, w, a, deadline)
    if len(results) == 1:
        res = results[a.workload]
    else:
        res = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()}}
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
