"""Tests of the benchmark itself: generator determinism, that every output
check catches one dropped or altered row, that printed metric names match
``BENCHMARK.json``, and the event-log arithmetic. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, run, trace  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


def tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def small_backlog(root: Path, seed: int) -> dict:
    return gen.write_backlog(root, seed, device_hours=2, rows=1200)


def small_lake(root: Path, seed: int, misfiled_share: float = 0.0) -> dict:
    return gen.write_small_file_lake(root, seed, days=2, units=1, hours=range(14, 20),
                                     rows_per_hour=300, misfiled_share=misfiled_share)


# -- generator -----------------------------------------------------------------

def test_generator_is_deterministic_per_seed(tmp_path):
    assert small_backlog(tmp_path / "a", 7) == small_backlog(tmp_path / "b", 7)
    assert tree_bytes(tmp_path / "a") == tree_bytes(tmp_path / "b")
    assert small_lake(tmp_path / "c", 7, 0.2) == small_lake(tmp_path / "d", 7, 0.2)
    assert tree_bytes(tmp_path / "c") == tree_bytes(tmp_path / "d")
    small_backlog(tmp_path / "e", 8)
    assert tree_bytes(tmp_path / "a") != tree_bytes(tmp_path / "e")


def test_backlog_shape(tmp_path):
    m = small_backlog(tmp_path, 3)
    assert m["lines"] == 2400 and m["malformed"] >= 2
    first = json.loads(gen.gzip.decompress((tmp_path / m["files"][0]).read_bytes()).splitlines()[0])
    assert len(first) == gen.RECORD_FIELDS + 1  # device 0 carries the drift field
    con = checks.connect()
    hb = {r[0] for r in con.sql(
        f"SELECT heartbeat FROM read_json('{tmp_path}/*/*.json.gz', columns = {{'heartbeat': 'BIGINT'}},"
        " ignore_errors = true)").fetchall()}
    assert set(gen.BOUNDARY_HEARTBEATS) <= hb


def test_lake_misfiles_the_requested_share(tmp_path):
    m = small_lake(tmp_path, 5, misfiled_share=0.25)
    assert m["files"] == 24 and m["misfiled_rows"] == 6 * 300
    assert checks.misfiled_rows(checks.connect(), tmp_path) == m["misfiled_rows"]


# -- output checks -------------------------------------------------------------

def ingested_lake(con, raw: Path, out: Path, malformed: int) -> None:
    """What a correct ingest writes, built with DuckDB: every well-formed
    line under its WITA date, every truncated line as a null row."""
    table = con.sql(f"""
        SELECT heartbeat, unitno, {checks._WITA_DATE} AS hiveperiod,
               regexp_extract(filename, '/([^/]+)/[^/]+$', 1) AS dstrct_code
        FROM read_json('{raw}/*/*.json.gz', columns = {{'heartbeat': 'BIGINT', 'unitno': 'VARCHAR'}},
                       ignore_errors = true, filename = true)
        WHERE heartbeat IS NOT NULL
    """).arrow()
    nulls = pa.table({"heartbeat": pa.nulls(malformed, pa.int64()),
                      "unitno": pa.nulls(malformed, pa.string()),
                      "hiveperiod": pa.nulls(malformed, pa.date32()),
                      "dstrct_code": pa.array(["DISTRICTB"] * malformed)})
    pq.write_to_dataset(pa.concat_tables([table, nulls]), out,
                        partition_cols=["hiveperiod", "dstrct_code"])


def rewrite(lake: Path, edit) -> None:
    """Apply ``edit`` to the first data file of a lake."""
    f = sorted(lake.rglob("*.parquet"))[0]
    pq.write_table(edit(pq.read_table(f)), f)


def drop_row(t: pa.Table) -> pa.Table:
    return t.slice(1)


def test_ingest_check_catches_dropped_and_altered_rows(tmp_path):
    con = checks.connect()
    m = small_backlog(tmp_path / "raw", 11)
    expected = checks.raw_partition_counts(con, tmp_path / "raw")
    ingested_lake(con, tmp_path / "raw", tmp_path / "good", m["malformed"])
    assert checks.check_ingest(con, tmp_path / "good", expected, m["lines"], m["malformed"]) == []

    shutil.copytree(tmp_path / "good", tmp_path / "dropped")
    rewrite(tmp_path / "dropped", drop_row)
    assert checks.check_ingest(con, tmp_path / "dropped", expected, m["lines"], m["malformed"])

    # A row moved to a partition its heartbeat does not belong to.
    shutil.copytree(tmp_path / "good", tmp_path / "moved")
    src = sorted((tmp_path / "moved").rglob("*.parquet"))
    first = next(f for f in src if "__HIVE_DEFAULT_PARTITION__" not in str(f))
    other = next(f for f in src if f.parent != first.parent and "__HIVE" not in str(f))
    t = pq.read_table(first)
    pq.write_table(t.slice(1), first)
    pq.write_table(pa.concat_tables([pq.read_table(other), t.slice(0, 1)]), other)
    assert checks.check_ingest(con, tmp_path / "moved", expected, m["lines"], m["malformed"])


def test_dashboard_check_catches_dropped_and_altered_rows(tmp_path):
    con = checks.connect()
    m = small_lake(tmp_path, 4)
    units = m["units"]["DISTRICTB"]
    want = con.sql(checks.dashboard_sql(tmp_path, "2025-12-11", "DISTRICTB", units, (0, 23))).fetchall()
    assert len(want) > 10
    got = [tuple(r) for r in want]
    assert checks.compare_rows(got, want, ordered=True) == []
    assert checks.compare_rows(got[1:], want, ordered=True)
    altered = list(got)
    altered[3] = altered[3][:3] + (altered[3][3] + 0.5,) + altered[3][4:]
    assert checks.compare_rows(altered, want, ordered=True)
    # Tolerance covers only summation order, not a changed value.
    jitter = list(got)
    jitter[3] = jitter[3][:3] + (jitter[3][3] * (1 + 1e-13),) + jitter[3][4:]
    assert checks.compare_rows(jitter, want, ordered=True) == []
    units_want = con.sql(checks.unit_list_sql(tmp_path)).fetchall()
    assert checks.compare_rows(list(reversed(units_want)), units_want, ordered=False) == []
    assert checks.compare_rows(units_want[1:], units_want, ordered=False)


def repaired_lake(con, src: Path, out: Path) -> None:
    """What a correct repair writes, built with DuckDB: every row under the
    WITA date of its heartbeat."""
    table = con.sql(f"""
        SELECT * EXCLUDE (hiveperiod), {checks._WITA_DATE} AS hiveperiod
        FROM {checks._lake(src)}
    """).arrow()
    pq.write_to_dataset(table, out, partition_cols=["hiveperiod", "dstrct_code"])


def test_maintenance_check_catches_misfiled_dropped_and_altered_rows(tmp_path):
    con = checks.connect()
    m = small_lake(tmp_path / "src", 9, misfiled_share=0.25)
    columns = m["columns"] + ["dstrct_code"]
    before = checks.lake_fingerprint(con, tmp_path / "src", columns)
    assert checks.check_maintenance(con, tmp_path / "src", columns, before)  # still misfiled
    repaired_lake(con, tmp_path / "src", tmp_path / "good")
    assert checks.check_maintenance(con, tmp_path / "good", columns, before) == []

    shutil.copytree(tmp_path / "good", tmp_path / "dropped")
    rewrite(tmp_path / "dropped", drop_row)
    assert checks.check_maintenance(con, tmp_path / "dropped", columns, before)

    shutil.copytree(tmp_path / "good", tmp_path / "altered")
    speed = "gpsspeed"
    rewrite(tmp_path / "altered", lambda t: t.set_column(
        t.schema.get_field_index(speed), speed,
        pa.concat_arrays([pa.array([123.25]), t[speed].combine_chunks().slice(1)])))
    assert checks.check_maintenance(con, tmp_path / "altered", columns, before)


# -- metric names and the result line -----------------------------------------

def benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_catalogue_matches_benchmark_json():
    spec = benchmark_json()
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WHY)


def test_printed_metric_names_match_benchmark_json():
    spec = benchmark_json()
    e2e = run.result(0, 3, {"setup_s": 1.0, "op_p50_s": 2.0, "op_p90_s": 3.0},
                     END_TO_END)
    assert list(e2e) == ["correct", "attempted", "failed", "metrics"]
    assert [*e2e["metrics"]] == [m["name"] for m in spec["end_to_end"]]
    assert all(e2e["metrics"][m["name"]]["unit"] == m["unit"] for m in spec["end_to_end"])
    layers = run.result(1, 3, {"audit.s": 0.5}, PER_LAYER)
    assert [*layers["metrics"]] == [m["name"] for m in spec["per_layer"]]
    assert layers["metrics"]["audit.s"]["value"] == 0.5 and layers["correct"] is False


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dashboard_day",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


# -- event-log arithmetic --------------------------------------------------------

def test_engine_ledger_counts_only_jobs_inside_the_window(tmp_path):
    def task(stage, run_ms, shuffle_w=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}}

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Submission Time": 10_500, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 500, "Completion Time": 900}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 11_000, "Completion Time": 12_000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 11_500, "Completion Time": 13_000}},
        task(0, 999), task(1, 100, 7), task(1, 300), task(2, 200),
        # Partition pruning: the scan inside the window read 1 file.
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 10_400, "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of files read", "accumulatorId": 77}], "children": []}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 2, "time": 400, "sparkPlanInfo": {"metrics": [
             {"name": "number of files read", "accumulatorId": 66}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[77, 1], [78, 4096]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 2, "accumUpdates": [[66, 6]]},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    ledger = trace.engine_ledger(log, [(10.0, 15.0)])
    assert ledger["jobs"] == 1 and ledger["stages"] == 2
    assert ledger["driver_s"] == pytest.approx(5.0 - 2.0)  # stages 1 and 2 overlap
    assert ledger["executor_run_s"] == pytest.approx(0.6)
    assert ledger["shuffle_write_bytes"] == 7 and ledger["shuffle_read_bytes"] == 9
    assert ledger["spill_bytes"] == 15
    assert ledger["task_skew"] == pytest.approx(300 / 200)
    assert ledger["files_read"] == 1
