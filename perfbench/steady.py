"""Steadiness proof and summary table for the benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--trace] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), one process at a time,
and prints for every end-to-end metric its median, quartiles and spread
(the distance between the quartiles over the median, from
``statistics.quantiles(values, n=4)``) against the metric's bound; the
workloads' paper-facing figures (``ingest_rows_per_s``, ``dashboard_p50_s``
and ``_p90_s``, ``maintenance_s``, ``registry_s``,
``lake_bytes_per_raw_byte``, ``ops_failed_ratio``) with their sample
counts; and a pass/fail count of the output checks. With ``--trace`` it
adds one traced run per workload and reports its overhead: the traced
operation median over the untraced one.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HEADLINE = re.compile(r"^# (\w+) = (\S+) (\S+) \((.*)\)$")
FAILED_RATIO = re.compile(r"^# ops_failed_ratio = (\d+)/(\d+)")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace))]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["headline"] = {}
    out["checks"] = [line for line in lines if line.startswith("# check ")]
    for line in lines[:-1]:
        if m := HEADLINE.match(line):
            out["headline"][m[1]] = (float(m[2]), m[3], m[4])
        elif m := FAILED_RATIO.match(line):
            out["headline"]["ops_failed_ratio"] = (int(m[1]) / int(m[2]), "ratio", f"{m[1]}/{m[2]} ops")
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--trace", action="store_true", help="add one traced run per workload")
    p.add_argument("--out", help="also write every run's result here as JSON")
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report, steady = {}, True
    for workload in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            runs.append(run_once(workload, seed, args.seconds, trace=False))
            print(f"{workload} seed {seed}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in runs[-1]["metrics"].items()}), flush=True)
        report[workload] = {"runs": runs}
        print(f"\n== {workload}: {len(runs)} runs of {args.seconds} s")
        print(f"{'metric':<26}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        for name, bound in bounds.items():
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
            unit = runs[0]["metrics"][name]["unit"]
            ok = name == "setup_s" or sp <= bound / 3
            steady &= ok
            print(f"{name:<26}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bound:>7.2f} {unit}"
                  + ("" if ok else "  NOT STEADY"))
        for name in runs[0]["headline"]:
            values = [r["headline"][name][0] for r in runs]
            _, unit, note = runs[0]["headline"][name]
            print(f"{name:<26}{statistics.median(values):>12.6g} {unit}  median of {len(runs)} runs;"
                  f" per run: {note}")
        checks = [c for r in runs for c in r["checks"]]
        failed = sum(1 for c in checks if not c.endswith("PASS"))
        print(f"output checks: {len(checks) - failed} PASS, {failed} FAIL"
              f"; runs correct: {sum(r['correct'] for r in runs)}/{len(runs)}")
        if args.trace:
            traced = run_once(workload, seeds(args.seeds)[0], args.seconds, trace=True)
            base = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in runs)
            over = traced["metrics"]["trace.op_p50_s"]["value"] / base - 1
            report[workload]["traced"] = traced
            print(f"traced run: op median {traced['metrics']['trace.op_p50_s']['value']:.4f} s,"
                  f" overhead {over:+.1%} against the untraced median")
        print(flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    print("steady" if steady else "NOT steady: a spread above a third of its bound")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
