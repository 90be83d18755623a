"""Seeded load generator for the benchmark.

Everything here runs before any timed region and outside ``setup_s``. The
program under test only ever sees the files this module writes:

* ``write_backlog``: the landed backlog of the reference's edge devices,
  one gzip NDJSON object per device-hour at 1 row/s, 179 fields per
  record, the four epoch scales rotating per device (with the ladder's
  boundary values 1e10-1, 1e10, 1e13 and 1e16 planted in one file), a
  drift field in every third device's files and a truncated line at a
  fixed rate.
* ``write_small_file_lake``: a hive-partitioned ``hiveperiod=/dstrct_code=``
  lake of one small parquet file per device-hour, written with pyarrow (not
  Spark). A share of the device-hours is filed under its UTC date instead
  of its WITA date, the reference's v1 bug.

``inputs`` caches each (workload, seed) under the cache directory, so a
repeated seed costs nothing. Run as a script it builds one workload:
``python3 -m perfbench.gen <workload> <seed> <out_dir>``.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DISTRICTS = ("DISTRICTB", "DISTRICTG")
WITA_HOURS = 8
ROWS_PER_DEVICE_HOUR = 3600  # 1 row/s/device (BASELINE.md)
RECORD_FIELDS = 179
MALFORMED_EVERY = 997  # one truncated line per this many lines
DRIFT_FIELD = "extra_v2_field"
BOUNDARY_HEARTBEATS = (10**10 - 1, 10**10, 10**13, 10**16)
CACHED_SEEDS = 4  # generated inputs kept per workload
# The telemetry day the lakes cover starts here (UTC).
EPOCH0 = int(dt.datetime(2025, 12, 10, tzinfo=dt.timezone.utc).timestamp())

# The queried fields (FIXTURES.md §1), then padding up to 179.
CORE_FIELDS = (
    ("heartbeat", "long"),
    ("unitno", "string"),
    ("deviceid", "string"),
    ("camcabinstatus", "string"),
    ("camfrontstatus", "string"),
    ("gpsspeed", "double"),
    ("gpsnumsat", "double"),
    ("VehicleSpeed", "double"),
    ("speedsource", "string"),
    ("gpslat", "double"),
    ("gpslong", "double"),
)
_PAD_TYPES = ("double", "long", "string")
PAD_FIELDS = tuple(
    (f"sensor_{i:03d}", _PAD_TYPES[i % 3])
    for i in range(1, RECORD_FIELDS - len(CORE_FIELDS) + 1)
)
FIELDS = CORE_FIELDS + PAD_FIELDS + ((DRIFT_FIELD, "double"),)
_STATUS = ("00", "01", "10", "11")
_PAD_CODES = ("OK", "WARN", "FAULT", "IDLE")

_ARROW = {"long": pa.int64(), "double": pa.float64(), "string": pa.string()}


def stream_schema() -> str:
    """The pinned DDL schema the streaming file source reads with."""
    return ", ".join(f"`{n}` {t}" for n, t in FIELDS)


def _scale(device: int) -> int:
    """Epoch scale of a device: 0=s, 1=ms, 2=µs, 3=ns, rotating."""
    return device % 4


def _heartbeat(utc_s: np.ndarray, frac: np.ndarray, scale: int) -> np.ndarray:
    mult = (1, 1_000, 1_000_000, 1_000_000_000)[scale]
    return utc_s.astype(np.int64) * mult + (frac * mult).astype(np.int64) % mult


def device_hour(rng: np.random.Generator, device: int, district: str, utc_hour_start: int,
                n_rows: int = ROWS_PER_DEVICE_HOUR) -> dict[str, np.ndarray]:
    """Columns of one device-hour of telemetry (before JSON encoding)."""
    utc_s = utc_hour_start + np.arange(n_rows, dtype=np.int64)
    cols: dict[str, np.ndarray] = {
        "heartbeat": _heartbeat(utc_s, rng.random(n_rows), _scale(device)),
        "unitno": np.full(n_rows, f"{district[-1]}U{device:03d}"),
        "deviceid": np.full(n_rows, f"SLS30I{device:03d}"),
        "camcabinstatus": np.asarray(_STATUS)[rng.integers(0, 4, n_rows)],
        "camfrontstatus": np.asarray(_STATUS)[rng.integers(0, 4, n_rows)],
    }
    speed = np.round(np.abs(np.cumsum(rng.normal(0, 1.5, n_rows))) % 60, 2)
    gps = np.where(rng.random(n_rows) < 0.03, -9999.0, speed)
    veh = np.where(rng.random(n_rows) < 0.03, -9999.0,
                   np.round(speed + rng.normal(0, 0.8, n_rows), 2))
    lat = np.round(-2.5 + rng.normal(0, 0.01, n_rows), 6)
    cols.update(
        gpsspeed=gps,
        gpsnumsat=rng.integers(3, 14, n_rows).astype(np.float64),
        VehicleSpeed=veh,
        speedsource=np.asarray(("can", "gps", "obd"))[rng.integers(0, 3, n_rows)],
        gpslat=np.where(rng.random(n_rows) < 0.02, -8888.0, lat),
        gpslong=np.round(115.5 + rng.normal(0, 0.01, n_rows), 6),
    )
    # Padding sensors move slowly, like real telemetry: a per-device base
    # plus a small per-row wobble.
    for name, typ in PAD_FIELDS:
        if typ == "double":
            cols[name] = np.round(rng.normal(50, 20) + rng.normal(0, 0.5, n_rows), 1)
        elif typ == "long":
            cols[name] = rng.integers(0, 4, n_rows) + int(rng.integers(0, 1000))
        else:
            cols[name] = np.asarray(_PAD_CODES)[(rng.random(n_rows) < 0.05).astype(int)
                                                + int(rng.integers(0, 3))]
    has_drift = device % 3 == 0
    cols[DRIFT_FIELD] = (np.round(rng.normal(0, 1, n_rows), 3) if has_drift
                         else np.full(n_rows, np.nan))
    return cols


def _json_lines(cols: dict[str, np.ndarray], has_drift: bool) -> list[str]:
    names = [n for n, _ in FIELDS if has_drift or n != DRIFT_FIELD]
    parts = []
    for n in names:
        typ = dict(FIELDS)[n]
        parts.append(f'"{n}":' + ('"%s"' if typ == "string" else "%r"))
    tmpl = "{" + ",".join(parts) + "}"
    rows = zip(*(cols[n].tolist() for n in names))
    return [tmpl % r for r in rows]


def write_backlog(root: Path, seed: int, device_hours: int,
                  rows: int = ROWS_PER_DEVICE_HOUR) -> dict:
    """Landed gzip NDJSON, one file per device-hour, under
    ``root/<district>/``. Returns the manifest the output checks use."""
    rng = np.random.default_rng([seed, 1])
    manifest = {"files": [], "lines": 0, "malformed": 0, "gz_bytes": 0, "json_bytes": 0}
    for k in range(device_hours):
        district = DISTRICTS[k % len(DISTRICTS)]
        device = k // len(DISTRICTS)
        # Consecutive hours from 14:00 UTC, so a night's backlog spans the
        # WITA midnight (16:00 UTC) and lands in two hiveperiods.
        hour0 = EPOCH0 + (14 + device) * 3600
        cols = device_hour(rng, device, district, hour0, rows)
        lines = _json_lines(cols, has_drift=device % 3 == 0)
        if k == 0:
            for i, hb in enumerate(BOUNDARY_HEARTBEATS):
                lines[100 + i] = lines[100 + i].replace(
                    f'"heartbeat":{cols["heartbeat"][100 + i]}', f'"heartbeat":{hb}', 1)
        # Truncated uploads: cut inside the first key so no field survives
        # (PERMISSIVE parsing yields an all-null row).
        offset = int(rng.integers(0, MALFORMED_EVERY))
        bad = range(offset, len(lines), MALFORMED_EVERY)
        for i in bad:
            lines[i] = lines[i][:7]
        body = ("\n".join(lines) + "\n").encode()
        path = root / district / f"{cols['unitno'][0]}_{hour0}.json.gz"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(gzip.compress(body, compresslevel=6, mtime=0))
        manifest["files"].append(str(path.relative_to(root)))
        manifest["lines"] += len(lines)
        manifest["malformed"] += len(bad)
        manifest["gz_bytes"] += path.stat().st_size
        manifest["json_bytes"] += len(body)
    return manifest


def _wita_date(utc_s: int) -> str:
    return dt.datetime.fromtimestamp(utc_s + WITA_HOURS * 3600, dt.timezone.utc).date().isoformat()


def _utc_date(utc_s: int) -> str:
    return dt.datetime.fromtimestamp(utc_s, dt.timezone.utc).date().isoformat()


def _arrow_table(cols: dict[str, np.ndarray], source: str) -> pa.Table:
    """One device-hour as the enriched lake row shape (partition columns
    live in the directory names, as Spark writes them)."""
    arrays, names = [], []
    for n, typ in FIELDS:
        v = cols[n]
        mask = np.isnan(v) if typ == "double" else None
        arrays.append(pa.array(v, type=_ARROW[typ], mask=mask))
        names.append(n)
    hb = cols["heartbeat"]
    scale = np.select([hb < 10**10, hb < 10**13, hb < 10**16], [10**6, 10**3, 1], 0)
    micros = np.where(scale > 0, hb * np.maximum(scale, 1), np.round(hb / 1000).astype(np.int64))
    wita = micros + WITA_HOURS * 3600 * 10**6
    arrays += [pa.array(np.full(len(hb), source)), pa.array(wita.astype("datetime64[us]"))]
    names += ["source_file", "datetime_wita"]
    return pa.Table.from_arrays(arrays, names=names)


def write_small_file_lake(root: Path, seed: int, days: int, units: int, hours: range,
                          rows_per_hour: int, misfiled_share: float = 0.0) -> dict:
    """Hourly small files under ``root/hiveperiod=…/dstrct_code=…/``, one per
    device-hour; ``hours`` are UTC hours of day. ``misfiled_share`` of all
    device-hours, drawn from those whose UTC and WITA dates differ (UTC
    hour ≥ 16), is stored under the UTC date."""
    rng = np.random.default_rng([seed, 2])
    slots = [(d, district, u, h) for d in range(days) for district in DISTRICTS
             for u in range(units) for h in hours]
    candidates = [i for i, (d, _, _, h) in enumerate(slots)
                  if _wita_date(EPOCH0 + d * 86400 + h * 3600) != _utc_date(EPOCH0 + d * 86400 + h * 3600)]
    n_bad = round(misfiled_share * len(slots))
    bad = set(rng.choice(candidates, size=n_bad, replace=False).tolist()) if n_bad else set()
    manifest = {"rows": 0, "files": 0, "misfiled_rows": 0, "misfiled": [], "partitions": [],
                "dates": sorted({_wita_date(EPOCH0 + d * 86400 + h * 3600) for d, _, _, h in slots}),
                "units": {d: [f"{d[-1]}U{u:03d}" for u in range(units)] for d in DISTRICTS},
                "columns": [n for n, _ in FIELDS] + ["source_file", "datetime_wita"]}
    parts = set()
    for i, (d, district, u, h) in enumerate(slots):
        hour0 = EPOCH0 + d * 86400 + h * 3600
        cols = device_hour(rng, u, district, hour0, rows_per_hour)
        wita, utc = _wita_date(hour0), _utc_date(hour0)
        period = utc if i in bad else wita
        name = f"{cols['unitno'][0]}_{hour0}.parquet"
        table = _arrow_table(cols, f"landing/{district}/{name}")
        out = root / f"hiveperiod={period}" / f"dstrct_code={district}" / name
        out.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, out, compression="snappy")
        parts.add((period, district))
        manifest["rows"] += table.num_rows
        manifest["files"] += 1
        if i in bad:
            manifest["misfiled_rows"] += table.num_rows
            manifest["misfiled"].append([period, district, wita])
    manifest["partitions"] = sorted(parts)
    manifest["misfiled"] = sorted(map(list, {tuple(m) for m in manifest["misfiled"]}))
    return manifest


WHY = {
    "ingest_backlog": "gzip NDJSON backlog drained by the checkpointed stream: time goes to "
                      "sources.ndjson, the epoch ladder, streaming.ingest and the lake write; "
                      "no dashboard reads",
    "dashboard_day": "nightly audit, repair and compaction of a misfiled small-file lake in "
                     "set-up, then closed-loop dashboard queries bound by driver planning, "
                     "job scheduling and pruning",
    "lake_maintenance": "the nightly audit, repair and compaction alone, warm, in a loop "
                        "over fresh copies of a misfiled small-file lake",
    "registry_hot": "the registry's slowest rows through the noop sink, so the plans "
                    "layer is measured",
}


def build(workload: str, seed: int, out: Path) -> dict:
    """Write one workload's inputs for ``seed`` under ``out``."""
    if workload == "ingest_backlog":
        manifest = write_backlog(out / "raw", seed, device_hours=4)
    elif workload == "dashboard_day":
        # UTC 20-23 h is WITA 4-7 h of the next day, so 5% of the
        # device-hours can be misfiled under the UTC date.
        manifest = write_small_file_lake(out / "lake", seed, days=1, units=5,
                                         hours=range(20, 24), rows_per_hour=300,
                                         misfiled_share=0.05)
    elif workload == "lake_maintenance":
        manifest = write_small_file_lake(out / "lake", seed, days=2, units=2,
                                         hours=range(14, 20), rows_per_hour=300,
                                         misfiled_share=0.05)
    else:
        raise ValueError(f"no generated inputs for workload {workload!r}")
    manifest["workload"], manifest["seed"], manifest["why"] = workload, seed, WHY[workload]
    return manifest


def inputs(workload: str, seed: int, cache_dir: Path) -> tuple[Path, dict]:
    """The cached inputs for (workload, seed), generating them first in a
    separate process when missing, so generator memory and time stay out
    of the measured process. A half-written build never becomes visible:
    it is published by renaming a finished temporary directory."""
    if workload == "registry_hot":
        # A fixed corpus, not generated: the seed does not change it.
        corpus = os.environ.get("PERFBENCH_CORPUS")
        if not corpus or not Path(corpus, "lineitem.parquet").exists():
            raise SystemExit("registry_hot needs PERFBENCH_CORPUS=<dir of the corpus tables>")
        return Path(corpus), {"workload": workload, "seed": seed, "why": WHY[workload]}
    final = cache_dir / f"{workload}-{seed}"
    manifest_path = final / "MANIFEST.json"
    if not manifest_path.exists():
        subprocess.run([sys.executable, "-m", "perfbench.gen", workload, str(seed), str(final)],
                       cwd=Path(__file__).resolve().parents[1], check=True)
        # Keep the cache small: only the newest few seeds of a workload.
        older = sorted(cache_dir.glob(f"{workload}-*"), key=lambda p: p.stat().st_mtime)
        for stale in older[:-CACHED_SEEDS]:
            shutil.rmtree(stale, ignore_errors=True)
    return final, json.loads(manifest_path.read_text())


def main(argv: list[str] | None = None) -> None:
    workload, seed, final = (argv or sys.argv[1:])[:3]
    final = Path(final)
    tmp = final.with_name(f"{final.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    manifest = build(workload, int(seed), tmp)
    (tmp / "MANIFEST.json").write_text(json.dumps(manifest, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)


if __name__ == "__main__":
    main()
