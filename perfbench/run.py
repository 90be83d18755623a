"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed (cached under ``.perfbench/inputs``), starts
Spark at ``local[nproc]`` with an explicit driver memory, sets up, runs the
workload's operation in a closed loop for ``--seconds``, checks every
operation's output against DuckDB, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from
a run with spans, a streaming listener, job groups and the Spark event log
turned on. Lines before the last one start with ``#`` and record the
environment, the output checks and the workload's paper-facing figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "enterprise_iot_bigdata_pipeline_spark"
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_engine(work: Path, trace: bool, app: str):
    """A fresh driver JVM and session, with every file it writes kept
    under ``work``."""
    from enterprise_iot_bigdata_pipeline_spark.session import get_spark
    from perfbench.trace import EVENT_LOG_CONF

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = (work / "eventlog").as_uri()
    return get_spark(app_name=app, master=f"local[{nproc()}]", extra_conf=conf)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_engine(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway server exits on stdin EOF
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(pid: int) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def env_record(spark) -> dict:
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.sql.", "spark.driver.memory", "spark.master", "spark.eventLog.")
    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "driver_memory": conf.get("spark.driver.memory"),
        "confs": {k: v for k, v in sorted(conf.items())
                  if k.startswith(keep) and "dir" not in k.lower()},
    }


# The engine probe: a fixed Spark job that uses no package code. Its time
# tracks how fast this host runs Spark at the moment; on a shared host that
# swings by up to 2x within minutes. The end-to-end times are reported at
# the speed where the probe takes PROBE_REF_S.
PROBE_REF_S = 0.1


def probe(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 3_000_000, numPartitions=4).selectExpr("sum(hash(id, id * 7))").collect()
    return time.perf_counter() - t0


def measure(w, run, seconds: float):
    """Closed loop: the next operation starts when the previous one ends,
    until ``seconds`` have passed and at least ``w.min_ops`` ran. Untimed
    per-operation staging (``before_op``) and an engine probe sit between
    operations; each operation's speed factor is the mean of the probes
    before and after it."""
    times, factors, records, windows, attempted, failed = [], [], [], [], 0, 0
    spent, before = 0.0, probe(run.spark)
    while spent < seconds or attempted < w.min_ops:
        w.before_op(run, attempted)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            rec = w.op(run, attempted)
        except Exception:
            traceback.print_exc()
            rec = None
        dt = time.perf_counter() - t0
        spent += dt
        windows.append((wall0, time.time()))
        after = probe(run.spark)
        attempted += 1
        if rec is None:
            failed += 1
        else:
            times.append(dt)
            factors.append(PROBE_REF_S / ((before + after) / 2))
            records.append(rec)
        before = after
    return times, factors, records, windows, attempted, failed


def result(failed: int, attempted: int, values: dict, catalogue: dict) -> dict:
    """The last line of stdout: every metric of ``catalogue``, 0 where the
    workload never enters that layer. registry_hot is not in BENCHMARK.json;
    its per-row metrics ride along."""
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": spec[0]}
               for k, spec in catalogue.items()}
    metrics.update({k: {"value": float(v), "unit": "s" if k.endswith("_s") else "count"}
                    for k, v in values.items() if k.startswith("registry.")})
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: the package {PACKAGE}/ is not next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    from perfbench import gen, trace as tr, workloads
    from perfbench.metrics import END_TO_END, PER_LAYER

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    state = ROOT / ".perfbench"
    work = state / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Python workers are children of the driver JVM: they import the
    # package from the checkout and keep their temporary files in it.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Every JVM spark-submit starts, the launcher's too, keeps its
    # temporary files in the checkout and writes no perf-data file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"

    w = workloads.WORKLOADS[args.workload]()
    clock = {"begin": time.perf_counter()}
    inputs, manifest = gen.inputs(args.workload, args.seed, state / "inputs")
    clock["inputs"] = time.perf_counter()
    trace = bool(args.trace)
    spans = tr.Spans() if trace else None
    try:
        t0 = time.perf_counter()
        with spans.span("session.get_spark") if trace else contextlib.nullcontext():
            spark = start_engine(work, trace, f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        try:
            run = workloads.Run(spark, work, inputs, manifest, args.seed, spans)
            if trace:
                run.listener = tr.ProgressListener()
                spark.streams.addListener(run.listener)
            w.prepare(run)
            t1 = time.perf_counter()
            w.setup(run)
            setup_s = start_s + time.perf_counter() - t1
            for _ in range(5):  # the probe's own warm-up, outside setup_s
                probe(spark)
            clock["setup"] = time.perf_counter()
            if trace:
                spans.phase = "measure"
            with w.tracing(run) if trace else contextlib.nullcontext():
                times, factors, records, windows, attempted, failed = measure(w, run, args.seconds)
            if trace:
                spans.phase = "after"
            rss = peak_rss_mb(jvm_pid())
            clock["measure"] = time.perf_counter()
            verdicts = w.check(run, records)
            clock["check"] = time.perf_counter()
            layers = w.layers(run, records) if trace and records else {}
            headline = w.headline(run, times, records) if records else {}
            env = env_record(spark)
        finally:
            stop_engine(spark)
        if trace:
            spans.dump(work.parent / f"spans-{args.workload}-{args.seed}.json")
            (log,) = (work / "eventlog").iterdir()
            ledger = tr.engine_ledger(log, windows)
            n = max(1, len(records))
            layers.update({f"spark.{k}": (v if k == "task_skew" else v / n) for k, v in ledger.items()
                           if k != "files_read"})
            layers.update(w.engine_layers(ledger, n))
            layers["session.start_s"] = start_s
            layers["memory.peak_rss_mb"] = rss
            layers["trace.op_p50_s"] = statistics.median(
                [t * f for t, f in zip(times, factors)]) if times else 0.0
            layers["engine.probe_s"] = PROBE_REF_S / statistics.median(factors) if factors else 0.0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    clock["end"] = time.perf_counter()
    # Verdicts beyond the measured operations are for staging operations
    # the set-up ran (the nightly maintenance job before the dashboard).
    attempted += max(0, len(verdicts) - len(records))
    failed += sum(1 for _, errors in verdicts if errors)
    print("# env " + json.dumps(env, sort_keys=True))
    print(f"# workload {args.workload}: {manifest['why']}")
    marks = list(clock.items())
    print("# wall seconds: " + ", ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(marks, marks[1:])))
    for label, errors in verdicts:
        print(f"# check {label}: " + ("PASS" if not errors else "FAIL " + "; ".join(errors)))
    for name, (value, unit, note) in headline.items():
        print(f"# {name} = {value:.6g} {unit} ({note})")
    print(f"# ops_failed_ratio = {failed}/{attempted} = {failed / attempted:.4g}")
    print(f"# peak_rss_mb = {rss:.1f} MB (driver JVM VmHWM plus this process's ru_maxrss)")
    if not times:
        print("error: no operation succeeded", file=sys.stderr)
        return 1
    scaled = [t * f for t, f in zip(times, factors)]
    print(f"# op seconds n={len(times)}: " + " ".join(f"{t:.3f}" for t in times))
    print(f"# engine probe: median {PROBE_REF_S / statistics.median(factors):.4f} s;"
          f" unscaled setup_s {setup_s:.3f}, op_p50_s {statistics.median(times):.4f},"
          f" op_p90_s {workloads.percentile(times, 90):.4f}")
    if trace:
        values, catalogue = layers, PER_LAYER
    else:
        values = {"setup_s": setup_s * statistics.median(factors),
                  "op_p50_s": statistics.median(scaled),
                  "op_p90_s": workloads.percentile(scaled, 90)}
        catalogue = END_TO_END
    print(json.dumps(result(failed, attempted, values, catalogue)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
