"""The benchmark's workloads.

Each workload has the same shape:

* ``setup``: warm-up and any staging the program does (inside ``setup_s``);
* ``op``: one operation of the closed loop, timed by the caller;
* ``check``: output checks, after the timed region: one labelled verdict
  per operation, plus one per staging operation the set-up ran;
* ``headline``: the workload's paper-facing metrics, printed for reading;
* ``layers``: per-layer metrics of the traced run.

Layer spans are recorded here, around calls into the package's public
functions, and only when the run is traced.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.dataset as pads
from pyspark.sql import SparkSession

from enterprise_iot_bigdata_pipeline_spark.operators import compaction, dashboard
from enterprise_iot_bigdata_pipeline_spark.sources import lake as lake_io
from enterprise_iot_bigdata_pipeline_spark.sources.ndjson import CORRUPT_COL, read_ndjson
from enterprise_iot_bigdata_pipeline_spark.streaming import ingest
from perfbench import checks, gen
from perfbench.trace import ProgressListener, Spans, wrapped


@dataclass
class Run:
    """What one benchmark process shares with its workload."""

    spark: SparkSession
    work: Path
    inputs: Path
    manifest: dict
    seed: int
    spans: Spans | None = None
    listener: ProgressListener | None = None
    state: dict = field(default_factory=dict)

    def span(self, name: str):
        return self.spans.span(name) if self.spans else contextlib.nullcontext()

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Tag the jobs an operation submits, to count them afterwards
        through the status tracker (traced runs only)."""
        sc = self.spark.sparkContext
        if self.spans:
            sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if self.spans:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def parquet_files(root: Path) -> dict[str, int]:
    """Data files under a lake root → size in bytes."""
    return {str(p): p.stat().st_size for p in root.rglob("*.parquet")}


def files_per_partition(root: Path) -> float:
    files = list(root.rglob("*.parquet"))
    return len(files) / max(1, len({p.parent for p in files}))


def lake_rows(root: Path) -> int:
    """Rows committed to a lake, counted from the parquet footers."""
    return pads.dataset(str(root), format="parquet", partitioning="hive").count_rows()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive method), or the only value."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Workload:
    """Defaults for the optional steps."""

    name = ""
    min_ops = 1

    def prepare(self, run: Run) -> None:
        """Untimed staging by the benchmark itself, before ``setup``."""

    def before_op(self, run: Run, i: int) -> None:
        """Untimed staging by the benchmark itself, before operation ``i``."""

    def tracing(self, run: Run):
        """Extra instrumentation active during the traced loop."""
        return contextlib.nullcontext()

    def engine_layers(self, ledger: dict, n_ops: int) -> dict:
        """Per-layer metrics derived from the event-log ledger."""
        return {}


class IngestBacklog(Workload):
    """``stream_compact(availableNow)`` drains a landed gzip NDJSON backlog,
    one stream per district, into a fresh epoch-partitioned lake."""

    name = "ingest_backlog"
    files_per_trigger = 1  # several micro-batches per drain
    min_ops = 3

    def drain(self, run: Run, out: Path) -> dict:
        lake, ids = out / "lake", []
        for district in gen.DISTRICTS:
            with run.span("streaming.ingest.stream_compact"):
                q = ingest.stream_compact(
                    run.spark, str(run.inputs / "raw" / district), str(lake),
                    str(out / "checkpoint" / district), gen.stream_schema(), district,
                    max_files_per_trigger=self.files_per_trigger)
                q.awaitTermination()
            ids.append(str(q.id))
            if run.listener:
                run.listener.wait_terminated(str(q.id))
        return {"lake": lake, "queries": ids}

    def setup(self, run: Run) -> None:
        # The first drain in a JVM pays class loading and code generation,
        # and drains keep speeding up until about the fourth (the JIT).
        # With two warm-up drains the op spread across seeds was 0.13,
        # with three 0.07.
        for i in range(3):
            self.drain(run, run.work / f"warmup-{i}")

    def op(self, run: Run, i: int) -> dict:
        return self.drain(run, run.work / f"drain-{i}")

    def check(self, run: Run, records: list[dict]) -> list[tuple[str, list[str]]]:
        con = checks.connect()
        raw = checks.raw_partition_counts(con, run.inputs / "raw")
        m = run.manifest
        return [(f"drain {i}", checks.check_ingest(con, r["lake"], raw, m["lines"], m["malformed"]))
                for i, r in enumerate(records)]

    def headline(self, run: Run, times: list[float], records: list[dict]) -> dict:
        lake = records[0]["lake"]
        rows = lake_rows(lake)
        return {
            "ingest_rows_per_s": (rows / _median(times), "rows/s", f"{rows} lake rows, n={len(times)} drains"),
            "lake_bytes_per_raw_byte": (sum(parquet_files(lake).values()) / run.manifest["gz_bytes"],
                                        "ratio", "lake parquet bytes over landed gzip bytes"),
        }

    def layers(self, run: Run, records: list[dict]) -> dict:
        n = len(records)
        ids = {q for r in records for q in r["queries"]}
        progress = [p for p in run.listener.progress if p["id"] in ids]
        lake_total = sum(lake_rows(r["lake"]) for r in records)
        written = [parquet_files(r["lake"]) for r in records]
        out = {
            "stream.batches": len(progress) / n,
            "stream.input_rows_per_lake_row": sum(p["rows"] for p in progress) / lake_total,
            "stream.write_epoch_batch_s": run.spans.total("streaming.ingest.write_epoch_batch") / n,
            "lake.files_written": sum(len(w) for w in written) / n,
            "lake.bytes_written": sum(sum(w.values()) for w in written) / n,
            "lake.files_per_partition": _median([files_per_partition(r["lake"]) for r in records]),
        }
        for phase in ("addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets",
                      "latestOffset"):
            out[f"stream.{phase}_ms"] = sum(p["ms"].get(phase, 0) for p in progress) / n
        out.update(self.parse_layers(run))
        return out

    def parse_layers(self, run: Run) -> dict:
        """``read_ndjson`` alone, then with ``enrich``, through the noop
        sink: parse time and the epoch ladder's share of a drain."""
        schema = gen.stream_schema()
        parse, both = [], []
        for _ in range(2):
            for district in gen.DISTRICTS:
                src = str(run.inputs / "raw" / district)
                t0 = time.perf_counter()
                with run.span("sources.ndjson.read_ndjson"):
                    read_ndjson(run.spark, src, schema=schema).write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                with run.span("operators.compaction.enrich"):
                    compaction.enrich(read_ndjson(run.spark, src, schema=schema), district) \
                        .write.format("noop").mode("overwrite").save()
                parse.append(t1 - t0)
                both.append(time.perf_counter() - t1)
        k = len(gen.DISTRICTS)
        raw = read_ndjson(run.spark, [str(run.inputs / "raw" / d) for d in gen.DISTRICTS],
                          schema=schema)
        # Spark refuses a raw-JSON query that references only the corrupt
        # column, so count a data column alongside it.
        counts = raw.selectExpr("count(*)", f"count({CORRUPT_COL})", "count(heartbeat)").first()
        return {
            "ndjson.parse_s": _median(parse) * k,
            "enrich.s": max(0.0, _median(both) - _median(parse)) * k,
            "ndjson.rows": counts[0],
            "ndjson.malformed_rows": counts[1],
            "ndjson.gz_bytes": run.manifest["gz_bytes"],
        }

    def tracing(self, run: Run):
        return wrapped(run.spans, ingest, "write_epoch_batch", "streaming.ingest.write_epoch_batch")


class LakeMaintenance(Workload):
    """The nightly job on a fresh copy of the misfiled small-file lake:
    ``audit_misfiled`` → ``repair_misfiled`` → ``compact_partitions``."""

    name = "lake_maintenance"
    min_ops = 2

    def cycle(self, run: Run, lake: Path) -> dict:
        rec: dict = {"lake": lake}
        with run.span("operators.compaction.audit_misfiled"):
            rec["audit"] = sorted(
                [str(r[0]), r[1], str(r[2])]
                for r in compaction.audit_misfiled(lake_io.read_lake(run.spark, str(lake))).collect())
        before = parquet_files(lake) if run.spans else {}
        with run.span("operators.compaction.repair_misfiled"):
            rec["repaired_rows"] = compaction.repair_misfiled(run.spark, str(lake))
        if run.spans:
            after = parquet_files(lake)
            rec["repair_bytes"] = sum(v for k, v in after.items() if k not in before)
            rec["files_before_compact"] = len(after)
        with run.span("operators.compaction.compact_partitions"):
            compaction.compact_partitions(run.spark, str(lake))
        if run.spans:
            final = parquet_files(lake)
            rec["files_after_compact"] = len(final)
            rec["written"] = {k: v for k, v in final.items() if k not in before}
        return rec

    def fresh_copy(self, run: Run, name: str) -> Path:
        lake = run.work / name
        shutil.copytree(run.inputs / "lake", lake)
        return lake

    def prepare(self, run: Run) -> None:
        run.state["warmup"] = self.fresh_copy(run, "warmup")

    def setup(self, run: Run) -> None:
        self.cycle(run, run.state["warmup"])

    def before_op(self, run: Run, i: int) -> None:
        run.state["next"] = self.fresh_copy(run, f"cycle-{i}")

    def op(self, run: Run, i: int) -> dict:
        return self.cycle(run, run.state.pop("next"))

    def check_cycle(self, run: Run, con, rec: dict) -> list[str]:
        """Audit found the generator's misfiled partitions; afterwards
        nothing is misfiled (DuckDB and ``audit_misfiled`` agree) and the
        row multiset is the generated one."""
        columns = list(run.manifest["columns"]) + ["dstrct_code"]
        if "fingerprint" not in run.state:
            run.state["fingerprint"] = checks.lake_fingerprint(con, run.inputs / "lake", columns)
        errors = checks.check_maintenance(con, rec["lake"], columns, run.state["fingerprint"])
        if rec["audit"] != run.manifest["misfiled"]:
            errors.append(f"audit_misfiled found {rec['audit']}, expected {run.manifest['misfiled']}")
        left = compaction.audit_misfiled(lake_io.read_lake(run.spark, str(rec["lake"]))).count()
        if left:
            errors.append(f"audit_misfiled after repair found {left} partitions")
        return errors

    def check(self, run: Run, records: list[dict]) -> list[tuple[str, list[str]]]:
        con = checks.connect()
        return [(f"cycle {i}", self.check_cycle(run, con, r)) for i, r in enumerate(records)]

    def headline(self, run: Run, times: list[float], records: list[dict]) -> dict:
        return {
            "maintenance_s": (_median(times), "s",
                              f"n={len(times)} audit+repair+compact cycles over "
                              f"{run.manifest['rows']} rows in {run.manifest['files']} files"),
        }

    def cycle_layers(self, run: Run, records: list[dict], phase: str) -> dict:
        n = len(records)
        return {
            "audit.s": run.spans.total("operators.compaction.audit_misfiled", phase) / n,
            "repair.s": run.spans.total("operators.compaction.repair_misfiled", phase) / n,
            "compact.s": run.spans.total("operators.compaction.compact_partitions", phase) / n,
            "repair.rows_rewritten_per_misfiled_row":
                _median([r["repaired_rows"] for r in records]) / run.manifest["misfiled_rows"],
            "repair.bytes_rewritten": _median([r["repair_bytes"] for r in records]),
            "compact.files_before": _median([r["files_before_compact"] for r in records]),
            "compact.files_after": _median([r["files_after_compact"] for r in records]),
            "lake.files_written": _median([len(r["written"]) for r in records]),
            "lake.bytes_written": _median([sum(r["written"].values()) for r in records]),
            "lake.files_per_partition": _median([files_per_partition(r["lake"]) for r in records]),
        }

    def layers(self, run: Run, records: list[dict]) -> dict:
        return self.cycle_layers(run, records, "measure")


class DashboardDay(Workload):
    """The night's maintenance job, then a day of dashboard use: set-up runs
    ``audit_misfiled`` → ``repair_misfiled`` → ``compact_partitions`` on a
    misfiled small-file lake, then one closed-loop client runs
    ``speed_analysis`` (every sixth query a ``unit_list``) against it."""

    name = "dashboard_day"
    min_ops = 12
    block = 6  # five speed_analysis queries, one per unit count, then a unit_list
    hours = (4, 7)  # the WITA hours the lake holds
    hours_span = 2
    nightly = LakeMaintenance()

    def queries(self, seed: int, n: int, manifest: dict) -> list[dict]:
        """Date, district, units and the start hour come from the seed. Each
        block of six holds one query per unit count 1-5 in seeded order, so
        every run sees the same mix of query sizes."""
        rng = random.Random(seed)
        out = []
        while len(out) < n:
            counts = list(range(1, self.block))
            rng.shuffle(counts)
            for k in counts:
                district = rng.choice(gen.DISTRICTS)
                lo = rng.randint(self.hours[0], self.hours[1] - self.hours_span)
                out.append({"kind": "speed_analysis", "date": rng.choice(manifest["dates"]),
                            "district": district,
                            "units": sorted(rng.sample(manifest["units"][district], k)),
                            "hours": (lo, lo + self.hours_span)})
            out.append({"kind": "unit_list"})
        return out[:n]

    def run_query(self, run: Run, q: dict):
        df = lake_io.read_lake(run.spark, str(run.state["lake"]))
        if q["kind"] == "unit_list":
            return dashboard.unit_list(df)
        return dashboard.speed_analysis(df, q["date"], q["district"], q["units"], q["hours"])

    def prepare(self, run: Run) -> None:
        run.state["lake"] = self.nightly.fresh_copy(run, "lake")

    def setup(self, run: Run) -> None:
        t0 = time.perf_counter()
        run.state["nightly"] = self.nightly.cycle(run, run.state["lake"])
        run.state["nightly_s"] = time.perf_counter() - t0
        # Queries drawn from another seed warm the read path.
        for q in self.queries(run.seed + 1_000_003, self.block, run.manifest):
            self.run_query(run, q).collect()
        run.state["queries"] = self.queries(run.seed, 10_000, run.manifest)

    def op(self, run: Run, i: int) -> dict:
        q = run.state["queries"][i]
        with run.job_group(f"query-{i}"), run.span("operators.dashboard." + q["kind"]):
            rows = [tuple(r) for r in self.run_query(run, q).collect()]
        return {"query": q, "rows": rows, "group": f"query-{i}"}

    def check(self, run: Run, records: list[dict]) -> list[tuple[str, list[str]]]:
        con = checks.connect()
        lake = run.state["lake"]
        out = [("nightly maintenance", self.nightly.check_cycle(run, con, run.state["nightly"]))]
        for i, r in enumerate(records):
            q = r["query"]
            if q["kind"] == "unit_list":
                want = con.sql(checks.unit_list_sql(lake)).fetchall()
                out.append((f"query {i}", checks.compare_rows(r["rows"], want, ordered=False)))
            else:
                sql = checks.dashboard_sql(lake, q["date"], q["district"], q["units"], q["hours"])
                want = con.sql(sql).fetchall()
                out.append((f"query {i}", checks.compare_rows(r["rows"], want, ordered=True)))
        return out

    def headline(self, run: Run, times: list[float], records: list[dict]) -> dict:
        n = len(times)
        return {
            "dashboard_p50_s": (_median(times), "s", f"n={n} queries"),
            "dashboard_p90_s": (percentile(times, 90), "s", f"n={n} queries"),
            "maintenance_s": (run.state["nightly_s"], "s",
                              f"the nightly audit+repair+compact in set-up, cold, n=1, over "
                              f"{run.manifest['rows']} rows in {run.manifest['files']} files"),
        }

    def layers(self, run: Run, records: list[dict]) -> dict:
        out = self.nightly.cycle_layers(run, [run.state["nightly"]], "setup")
        out["dashboard.jobs_per_query"] = (sum(run.jobs_in(r["group"]) for r in records)
                                           / len(records))
        return out

    def engine_layers(self, ledger: dict, n_ops: int) -> dict:
        # DataFrame.inputFiles() lists the unpruned relation, so the pruned
        # count comes from the scans' own metric.
        return {"dashboard.files_scanned_per_query": ledger["files_read"] / n_ops}


class RegistryHot(Workload):
    """The registry's slowest rows, warm, through the ``noop`` sink over a
    fixed corpus directory (``PERFBENCH_CORPUS``). One operation is one
    pass over every row."""

    name = "registry_hot"
    rows = ("flagship_minute_resample", "dedup_incremental_lsh", "text_setsim_prefix_join",
            "bpe_train_merges", "bpe_encode_apply", "streaming_sink_parquet_epoch",
            "pipeline_curate_corpus", "graph_pagerank_nations", "streaming_click_purchase_join",
            "streaming_rollup_merge", "timeseries_anomaly_chunked", "graph_kcore_parts",
            "graph_triangle_count", "text_containment_join", "basket_part_pairs_lift",
            "streaming_sessionize_state")

    def prepare(self, run: Run) -> None:
        from enterprise_iot_bigdata_pipeline_spark.plans import all_oracles, all_queries

        run.state["queries"], run.state["oracles"] = all_queries(), all_oracles()

    def one_pass(self, run: Run, tag: str) -> dict:
        times = {}
        for name in self.rows:
            with run.job_group(f"{tag}-{name}"), run.span(f"plans.{name}"):
                t0 = time.perf_counter()
                run.state["queries"][name](run.spark, str(run.inputs)) \
                    .write.format("noop").mode("overwrite").save()
                times[name] = time.perf_counter() - t0
        return times

    def setup(self, run: Run) -> None:
        self.one_pass(run, "warmup")  # the cold pass

    def op(self, run: Run, i: int) -> dict:
        return {"times": self.one_pass(run, f"pass-{i}"), "tag": f"pass-{i}"}

    def check(self, run: Run, records: list[dict]) -> list[tuple[str, list[str]]]:
        """Every row's result hash against its DuckDB oracle, once; a wrong
        row makes every pass that ran it wrong."""
        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))
        from oracle_compare import compare, duck_connection

        con = duck_connection(str(run.inputs))
        errors = []
        for name in self.rows:
            try:
                compare(run.state["queries"][name](run.spark, str(run.inputs)),
                        run.state["oracles"][name], con, name)
            except Exception as exc:  # a row that fails here is a wrong row, not a crash
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        return [(f"pass {i}", errors) for i in range(len(records))]

    def row_medians(self, records: list[dict]) -> dict:
        return {n: _median([r["times"][n] for r in records]) for n in self.rows}

    def headline(self, run: Run, times: list[float], records: list[dict]) -> dict:
        return {"registry_s": (sum(self.row_medians(records).values()), "s",
                               f"sum of {len(self.rows)} warm per-row medians, n={len(records)} passes")}

    def layers(self, run: Run, records: list[dict]) -> dict:
        out = {}
        for name, t in self.row_medians(records).items():
            out[f"registry.{name}_s"] = t
            out[f"registry.{name}_jobs"] = run.jobs_in(f"{records[-1]['tag']}-{name}")
        return out


WORKLOADS = {w.name: w for w in (IngestBacklog, DashboardDay, LakeMaintenance, RegistryHot)}
