"""Output checks, run after the timed region against DuckDB.

Each check returns a list of failure strings (empty when the output is
right), so a caller counts a failed operation without dropping it. The
oracles are independent of Spark: DuckDB reads the raw NDJSON and the
parquet the program wrote, and the epoch ladder comes from the package's
own ``NORMALIZE_EPOCH_SQL`` reference normalizer.
"""

from __future__ import annotations

import datetime as dt
import math
from pathlib import Path

import duckdb

from enterprise_iot_bigdata_pipeline_spark.functions.epoch import NORMALIZE_EPOCH_SQL

_WITA_DATE = f"CAST(({NORMALIZE_EPOCH_SQL.format(col='heartbeat')}) + INTERVAL 8 HOURS AS DATE)"


def _lake(lake: Path) -> str:
    return f"read_parquet('{lake}/**/*.parquet', hive_partitioning = true)"


def raw_partition_counts(con, raw_dir: Path) -> dict:
    """(hiveperiod, dstrct_code) → rows, from the raw gzip NDJSON. The
    district is the landing directory's name; truncated lines are skipped
    here and checked separately as null-heartbeat rows."""
    rows = con.sql(f"""
        SELECT {_WITA_DATE} AS hiveperiod,
               regexp_extract(filename, '/([^/]+)/[^/]+$', 1) AS dstrct_code,
               count(*) AS n
        FROM read_json('{raw_dir}/*/*.json.gz', format = 'newline_delimited',
                       columns = {{'heartbeat': 'BIGINT'}}, ignore_errors = true,
                       filename = true)
        WHERE heartbeat IS NOT NULL
        GROUP BY ALL
    """).fetchall()
    return {(str(p), d): n for p, d, n in rows}


def check_ingest(con, lake: Path, raw_counts: dict, lines: int, malformed: int) -> list[str]:
    """Raw lines = lake rows; truncated lines landed as null-heartbeat rows;
    per-partition counts equal the DuckDB oracle's."""
    got = con.sql(f"""
        SELECT CAST(hiveperiod AS VARCHAR), dstrct_code, count(*) AS n,
               count(*) FILTER (WHERE heartbeat IS NULL) AS nulls
        FROM {_lake(lake)} GROUP BY ALL
    """).fetchall()
    errors = []
    total = sum(r[2] for r in got)
    if total != lines:
        errors.append(f"lake rows {total} != raw lines {lines}")
    nulls = sum(r[3] for r in got)
    if nulls != malformed:
        errors.append(f"null-heartbeat rows {nulls} != truncated lines {malformed}")
    counts = {(p, d): n - z for p, d, n, z in got if n - z}
    if counts != raw_counts:
        diff = sorted(set(counts.items()) ^ set(raw_counts.items()))[:4]
        errors.append(f"per-partition counts differ from DuckDB read_json: {diff}")
    return errors


def dashboard_sql(lake: Path, hiveperiod: str, district: str, units: list[str] | None,
                  hours: tuple[int, int]) -> str:
    """DuckDB form of ``operators.dashboard.speed_analysis``."""
    unit_filter = ("AND unitno IN (" + ", ".join(f"'{u}'" for u in units) + ")") if units else ""
    return f"""
        WITH c AS (
            SELECT datetime_wita, unitno, dstrct_code,
                   CASE WHEN gpsspeed = -9999 THEN -1 ELSE gpsspeed END AS gpsspeed,
                   CASE WHEN VehicleSpeed = -9999 THEN -1 ELSE VehicleSpeed END AS VehicleSpeed,
                   CASE WHEN gpslat < -8880 THEN 'false' ELSE 'true' END AS gpsstatus
            FROM {_lake(lake)}
            WHERE hiveperiod = DATE '{hiveperiod}' AND dstrct_code = '{district}' {unit_filter}
              AND hour(datetime_wita) BETWEEN {hours[0]} AND {hours[1]}
        )
        SELECT date_trunc('minute', datetime_wita) AS minute, unitno, dstrct_code,
               avg(gpsspeed) AS gpsspeed, avg(VehicleSpeed) AS VehicleSpeed,
               avg(abs(gpsspeed - VehicleSpeed)) AS error_rate,
               min(gpsstatus) AS gpsstatus, count(*) AS n_rows
        FROM c GROUP BY ALL ORDER BY minute, unitno
    """


def unit_list_sql(lake: Path) -> str:
    """DuckDB form of ``operators.dashboard.unit_list``."""
    return f"SELECT DISTINCT dstrct_code, unitno FROM {_lake(lake)} ORDER BY ALL"


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def compare_rows(got: list[tuple], want: list[tuple], ordered: bool) -> list[str]:
    """Row-by-row equality with a 1e-9 relative tolerance on floats (the two
    engines may sum doubles in different orders)."""
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return [f"row {i}: {g} != oracle {w}"]
    return []


def lake_fingerprint(con, lake: Path, columns: list[str]) -> tuple[int, int]:
    """(rows, sum of row hashes) over ``columns``: a multiset fingerprint
    that ignores file layout, row order and the excluded columns."""
    cols = ", ".join(f'"{c}"' for c in columns)
    n, h = con.sql(f"SELECT count(*), sum(hash({cols}))::HUGEINT FROM {_lake(lake)}").fetchone()
    return n, int(h or 0)


def misfiled_rows(con, lake: Path) -> int:
    """Rows stored under a hiveperiod other than their WITA date."""
    return con.sql(f"""
        SELECT count(*) FROM {_lake(lake)}
        WHERE heartbeat IS NOT NULL AND hiveperiod IS DISTINCT FROM {_WITA_DATE}
    """).fetchone()[0]


def check_maintenance(con, lake: Path, columns: list[str], before: tuple[int, int]) -> list[str]:
    """After repair and compaction: nothing misfiled, and the row multiset
    (every column but hiveperiod) unchanged."""
    errors = []
    bad = misfiled_rows(con, lake)
    if bad:
        errors.append(f"{bad} rows still misfiled")
    after = lake_fingerprint(con, lake, columns)
    if after != before:
        errors.append(f"row multiset changed: (rows, hash) {before} -> {after}")
    return errors


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con
