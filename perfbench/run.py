"""Run one benchmark workload end to end.

    python3 perfbench/run.py --workload dhs_warehouse --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source if needed (build.py), runs a
box-health probe, runs the workload in one JVM (local[nproc], one client
thread), runs the probe again, and prints `metric <name> <value> <unit>`
lines followed, as the last line, by the result JSON object. With --trace 1
the metrics are the per-layer ones, plus `trace.overhead_pct`: the traced
loop's wall against that of an untraced twin JVM run of the same seed right
after it. The exit code is the JVM's: 0 when every output check passed,
non-zero otherwise. Every run's result and probe values are also kept under
<build dir>/results/.
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

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dhs_warehouse", "gate_stream")
# every JVM of one run (two for a traced run) must end this long after the build
DEADLINE_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def box_probe(scratch):
    """Fixed-work CPU probe (hashing 64 MiB) and small-I/O probe (32 x 4 KiB
    files written with fsync, read back, deleted). Values are seconds and
    milliseconds; a slow-box window shows as a jump in either."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    cpu_s = time.perf_counter() - t0
    scratch.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    for i in range(32):
        p = scratch / f"probe{i}"
        with open(p, "wb") as f:
            f.write(buf[:4096])
            f.flush()
            os.fsync(f.fileno())
    for i in range(32):
        (scratch / f"probe{i}").read_bytes()
        (scratch / f"probe{i}").unlink()
    io_ms = (time.perf_counter() - t0) * 1000
    return {"cpu_probe_s": round(cpu_s, 6), "io_probe_ms": round(io_ms, 4)}


def jvm_cmd(classpath, work):
    """The java command line up to the main class: heap, module opens, and
    every scratch location (temp, Spark local dirs, Derby) inside `work`."""
    for sub in ("tmp", "spark-local", "derby"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # class-data sharing: the first run of a build dumps the classes it
    # loaded, later runs map them instead of loading and verifying them again
    jsa = build.archive_path(classpath)
    cds = f"-XX:SharedArchiveFile={jsa}" if jsa.exists() else f"-XX:ArchiveClassesAtExit={jsa}"
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    return ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", cds,
            "-Xlog:disable", "-Xlog:all=error:stderr"] + [
        f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
        f"-Dderby.system.home={work / 'derby'}",
        f"-Dderby.stream.error.file={work / 'derby' / 'derby.log'}",
        f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath,
    ]


def run_jvm(classpath, out_dir, args, trace, timeout):
    """One JVM run of the workload; returns (exit code, stdout lines before
    the result, result object), or None when it timed out or printed no
    result."""
    work = out_dir / "work" / f"{args.workload}-{args.seed}-trace{trace}"
    cmd = jvm_cmd(classpath, work) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--cpus", str(len(os.sched_getaffinity(0))), "--work", str(work),
        # output hashes of earlier runs (of any build), for the same-seed checks
        "--state", str(out_dir / "state"),
    ]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        print(f"[perfbench] JVM exceeded {timeout:.0f} s", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        sys.stderr.write(proc.stdout)
        print(f"[perfbench] no result line (exit {proc.returncode})", file=sys.stderr)
        return None
    return proc.returncode, lines[:-1], result


def metric_line(lines, name):
    """The value of a `metric <name> <value> <unit>` line."""
    for line in lines:
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric" and parts[1] == name:
            return float(parts[2])
    raise KeyError(name)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.ensure()
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    out_dir = build.build_dir()
    shutil.rmtree(out_dir / "work", ignore_errors=True)
    probe_dir = out_dir / "work" / "probe"
    before = box_probe(probe_dir)
    run = run_jvm(classpath, out_dir, args, args.trace, DEADLINE_S - (time.monotonic() - t0))
    if run is None:
        return 3
    code, lines, result = run
    if args.trace:
        # the tracing overhead: this traced loop against the same seed's
        # fixed work in an untraced twin JVM, started from the same state
        twin = run_jvm(classpath, out_dir, args, 0, DEADLINE_S - (time.monotonic() - t0))
        if twin is None:
            return 3
        twin_code, twin_lines, twin_result = twin
        overhead = 100.0 * (metric_line(lines, "loop_s") / metric_line(twin_lines, "loop_s") - 1.0)
        result["metrics"]["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
        lines.append(f"metric {'untraced_loop_s':<28} {metric_line(twin_lines, 'loop_s'):.6f} s")
        if not twin_result["correct"]:
            result["correct"] = False
            result["failed"] += max(1, twin_result["failed"])
            result["attempted"] = max(result["attempted"], result["failed"])
        code = code or twin_code
    after = box_probe(probe_dir)
    shutil.rmtree(out_dir / "work", ignore_errors=True)
    for line in lines:
        print(line)
    health = {"box_health": {"before": before, "after": after}}
    print(json.dumps(health))
    results = out_dir / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json").write_text(
        json.dumps({"args": vars(args), "result": result, **health}, indent=1))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
