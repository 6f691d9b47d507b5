#!/usr/bin/env python3
"""Pipeline benchmark of graft: one workload, one seed, one JVM.

    python3 pipebench/run.py --workload stream_cdc|lake_cdc_mv \\
        --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source on first use (build.py), runs
the workload in a fresh JVM with a local Spark master of at most 4 threads,
and prints the workload's metrics by name. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run that finds an untraced result of the same
workload and seed prints the tracing overhead (traced - untraced) of every
end-to-end metric. Exits non-zero when the build fails, the JVM fails, or
an output does not match the generator's ledger.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("stream_cdc", "lake_cdc_mv")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    t_start = time.monotonic()
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.OUT / "work" / name
    # keyed by the build, so the tracing overhead never compares two builds
    results = build.OUT / "results" / build.STAMP.read_text()[:12]
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--cores", str(cores),
           "--benchmark", str(build.ROOT / "BENCHMARK.json")]
    (work / "tmp").mkdir()
    log = open(work / "stderr.log", "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         cwd=str(work), start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"run: {name} did not finish within {DEADLINE_S} s", file=sys.stderr)
        return 3
    finally:
        log.close()
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stderr.write(out)
        sys.stderr.write((work / "stderr.log").read_text()[-4000:])
        print(f"run: {name} printed no result (exit {p.returncode})", file=sys.stderr)
        return p.returncode or 4
    for line in lines[:-1]:
        print(line)

    e2e = work / "e2e.json"
    if e2e.exists():
        shutil.copy(e2e, results / f"{name}.e2e.json")
    if (work / "trace.json").exists():
        shutil.copy(work / "trace.json", results / f"{name}.trace.json")
    untraced = results / f"{a.workload}-s{a.seed}-t0.e2e.json"
    if a.trace == 1 and untraced.exists() and e2e.exists():
        base, traced = ({**d["e2e"], **d["named"]} for d in
                        (json.loads(f.read_text()) for f in (untraced, e2e)))
        for k, v in traced.items():
            if k in base:
                d = v["value"] - base[k]["value"]
                print(f"tracing overhead {k:<28} {d:+.6f} {v['unit']}")
    if p.returncode == 0:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
