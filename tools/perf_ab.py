#!/usr/bin/env python3
"""Alternating A/B of the repo benchmark: a parent revision against the
working tree.

    python3 tools/perf_ab.py --parent <rev> --workload <ingest|graph_rounds> \
        [--seeds 10] [--seconds 10] [--trace 0]

Clones the repository at <rev> into a temporary directory, then for each
seed 1..N runs `perfbench/run.py` once in the parent clone and once in the
working tree, alternating which side goes first from seed to seed. Prints
each run's metrics as it lands, then per metric:

- the median of each side and the change/parent ratio of the medians;
- `won`: of the seeds both sides measured, how many the change won in the
  metric's `better` direction from BENCHMARK.json (ties count for neither
  side; `-` where the file names no direction);
- `parent IQR`: the distance between the parent's quartiles;
- `unresolved` when the parent's IQR/median exceeds the metric's `bound`
  in BENCHMARK.json: its own spread is wider than the bound it is judged
  by, so no verdict can be read from the medians.

Then every run that failed (non-zero exit, no result line, or `correct`
false). Exits 1 if any run failed. BENCHMARK.json is only read.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_bench(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`; returns (result dict or None, exit code,
    the last lines of its output)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    tail = "\n".join((proc.stdout + proc.stderr).strip().splitlines()[-5:])
    return result, proc.returncode, tail


def declared_metrics():
    """BENCHMARK.json's metrics by name: (better, bound or None)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: (m.get("better"), m.get("bound"))
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs):
    """(q1, q3) of `xs`, or None below two values."""
    if len(xs) < 2:
        return None
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=("ingest", "graph_rounds"))
    ap.add_argument("--seeds", type=int, default=10, help="seeds 1..N, one pair each")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()

    tmp = Path(tempfile.mkdtemp(prefix="perf_ab-"))
    try:
        parent = tmp / "parent"
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", str(ROOT), str(parent)],
                       check=True)
        subprocess.run(["git", "checkout", "--quiet", args.parent], cwd=parent, check=True)
        trees = {"parent": parent, "change": ROOT}
        metrics = {"parent": {}, "change": {}}
        failed = []
        for seed in range(1, args.seeds + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            for side in order:
                result, code, tail = run_bench(trees[side], args.workload, seed,
                                               args.seconds, args.trace)
                ok = code == 0 and result is not None and result.get("correct")
                if not ok:
                    failed.append(f"{side} seed {seed}: exit {code}\n{tail}")
                if result is not None:
                    for name, m in result["metrics"].items():
                        metrics[side].setdefault(name, {})[seed] = m["value"]
                shown = (" ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
                         if result else "no result")
                print(f"seed {seed} {side}: exit {code} {shown}", flush=True)

        print(f"\n{args.workload}, seeds 1..{args.seeds}, --trace {args.trace}: "
              "medians")
        declared = declared_metrics()
        print(f"{'metric':34} {'parent':>12} {'change':>12} {'change/parent':>14}"
              f" {'won':>7} {'parent IQR':>11}")
        fmt = lambda v: "-" if v is None else f"{v:.4g}"
        for name in sorted(set(metrics["parent"]) | set(metrics["change"])):
            p = metrics["parent"].get(name, {})
            c = metrics["change"].get(name, {})
            mp = statistics.median(p.values()) if p else None
            mc = statistics.median(c.values()) if c else None
            ratio = f"{mc / mp:.3f}" if mp and mc is not None else "-"
            better, bound = declared.get(name, (None, None))
            pairs = [(p[k], c[k]) for k in sorted(p.keys() & c.keys())]
            won = "-"
            if better in ("lower", "higher"):
                sign = 1 if better == "lower" else -1
                won = f"{sum(sign * (a - b) > 0 for a, b in pairs)}/{len(pairs)}"
            q = quartiles(list(p.values()))
            iqr = q[1] - q[0] if q else None
            flag = ("unresolved" if bound is not None and iqr is not None and mp
                    and iqr / abs(mp) > bound else "")
            print(f"{name:34} {fmt(mp):>12} {fmt(mc):>12} {ratio:>14}"
                  f" {won:>7} {fmt(iqr):>11} {flag}".rstrip())
        for f in failed:
            print(f"FAILED {f}")
        return 1 if failed else 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
