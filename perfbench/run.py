#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <ingest|graph_rounds> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if their sources changed (see
build.py), then runs the workload in one JVM at local[<cores>], where
<cores> is the number of CPUs this process may use (nproc), with a fixed
heap. The last stdout line is the result JSON:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only if
every output check passed. Inputs, Spark's temporary files and results stay
under .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "graph_rounds")
HEAP = "2g"
# a run must end within 180 s once built; leave room for JVM exit and cleanup
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    doc = json.loads(spec.read_text())
    return {m["name"] for m in doc["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--write-pins", help="write the query checksums of this run to a file")
    args = ap.parse_args()

    try:
        classpath, source_digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = build.OUT
    work = base / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + str(work / "tmp"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + str(work / "tmp"),
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", str(work), "--results", str(base / "results"),
        "--cores", str(cores), "--heap", HEAP,
        "--commit", git_commit(), "--source-digest", source_digest,
        "--pins", str(Path(__file__).resolve().parent / "pins.json"),
    ]
    if args.write_pins:
        cmd += ["--write-pins", str(Path(args.write_pins).resolve())]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    # a terminated run.py still stops and waits for its JVM (finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} did not finish within {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        return 4
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
        else:
            print(line)
    if result is None:
        print(f"perfbench: no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 5
    parsed = json.loads(result)
    declared = declared_metrics(args.trace == "1")
    if declared is not None and set(parsed["metrics"]) != declared:
        print("perfbench: reported metrics differ from BENCHMARK.json: "
              f"{sorted(set(parsed['metrics']) ^ declared)}", file=sys.stderr)
        return 6
    print(json.dumps(parsed, separators=(",", ":")), flush=True)
    if proc.returncode != 0 or not parsed["correct"]:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
