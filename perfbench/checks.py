"""Output checks.  None of them runs inside a timed region.

Each check returns a list of problems (empty = pass) so the caller can
count failed operations against attempted ones.
"""

from __future__ import annotations

import io
import math
import os
from collections import Counter

import duckdb
import pandas as pd

from tools.oracle_check import compare  # the oracle gate's own comparison

AQI_LABELS = (
    (12.0, "Good"),
    (35.0, "Moderate"),
    (55.0, "Unhealthy for Sensitive Groups"),
    (150.0, "Unhealthy"),
    (250.0, "Very Unhealthy"),
)


def duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def query_vs_oracle(name: str, spark_pdf: pd.DataFrame, con, oracle_sql: str | None) -> list[str]:
    """A registry query's rows against its DuckDB twin."""
    if oracle_sql is None:
        return [f"{name}: no oracle_sql() twin"]
    return [f"{name}: {p}" for p in compare(name, spark_pdf, con.sql(oracle_sql).df())]


def ingest_accounting(files, table_ids, dead_ids) -> tuple[int, list[str]]:
    """Every generated record is in the table or dead-lettered, exactly
    once, and the dead letters are exactly the corrupt payloads.

    Returns (records that failed, problems)."""
    good = {int(i) for f in files for i, bad in zip(f.event_ids, f.corrupt) if not bad}
    corrupt = {int(i) for f in files for i, bad in zip(f.event_ids, f.corrupt) if bad}
    problems = []
    table_count = Counter(int(i) for i in table_ids)
    dead_count = Counter(int(i) for i in dead_ids)
    dup = sum(c - 1 for c in table_count.values() if c > 1)
    if dup:
        problems.append(f"{dup} duplicate event ids in the table")
    missing = good - table_count.keys()
    if missing:
        problems.append(f"{len(missing)} good records missing from the table")
    lost = corrupt - dead_count.keys()
    if lost:
        problems.append(f"{len(lost)} corrupt records not dead-lettered")
    extra = (table_count.keys() - good) | (dead_count.keys() - corrupt)
    if extra:
        problems.append(f"{len(extra)} records landed in the wrong place or were never generated")
    if len(table_ids) + len(dead_ids) != len(good) + len(corrupt):
        problems.append(
            f"table {len(table_ids)} + dead letters {len(dead_ids)} != "
            f"generated {len(good) + len(corrupt)}"
        )
    failed = len(missing) + len(lost) + len(extra) + dup
    return failed, problems


def aqi_label(pm25: float) -> str:
    for edge, label in AQI_LABELS:
        if pm25 <= edge:
            return label
    return "Hazardous"


def expected_dashboard(records: list[dict], members, k: int) -> dict:
    """The widgets' answers recomputed in Python from the good rows."""
    locs = {r["location"] for r in records}
    n = len(records)
    tiles = {
        "record_count": n,
        "distinct_location": len(locs),
        "avg_temp_c": math.fsum(r["temp_c"] for r in records) / n,
        "avg_pm2_5": math.fsum(r["pm2_5"] for r in records) / n,
        "avg_humidity": math.fsum(r["humidity"] for r in records) / n,
        "range_humidity": max(r["humidity"] for r in records) - min(r["humidity"] for r in records),
    }
    latest = {}
    for r in records:
        key = (r["timestamp"], r["event_id"])
        if r["location"] not in latest or key > latest[r["location"]][0]:
            latest[r["location"]] = (key, r["event_id"])
    top = sorted(
        (r for r in records if r["location"] in members),
        key=lambda r: (-r["pm2_5"], r["event_id"]),
    )[:k]
    return {
        "tiles": tiles,
        "aqi": Counter(aqi_label(r["pm2_5"]) for r in records),
        "current": {loc: eid for loc, (_, eid) in latest.items()},
        "top": [r["event_id"] for r in top],
    }


def widget_sanity(name: str, out, members, locations, k: int, csv_limit: int) -> list[str]:
    """Shape checks that hold on any snapshot of the growing table."""
    if name == "aqi_distribution":
        labels = {lbl for _, lbl in AQI_LABELS} | {"Hazardous"}
        bad = [r["air_quality_index"] for r in out if r["air_quality_index"] not in labels]
        return [f"aqi_distribution: unknown bands {bad}"] if bad else []
    if name == "current_readings":
        locs = [r["location"] for r in out]
        if len(locs) != len(set(locs)) or not set(locs) <= set(locations):
            return [f"current_readings: bad locations {locs}"]
        return []
    if name == "explore_top_k":
        vals = [r["pm2_5"] for r in out]
        if len(out) > k or vals != sorted(vals, reverse=True) or any(
            r["location"] not in members for r in out
        ):
            return ["explore_top_k: not a top-k of the member rows"]
        return []
    if name == "download_csv":
        rows = pd.read_csv(io.StringIO(out)) if out.strip() else pd.DataFrame()
        if not 1 <= len(rows) <= csv_limit or "event_id" not in rows.columns:
            return [f"download_csv: {len(rows)} rows, columns {list(rows.columns)[:4]}"]
        return []
    return []


def final_dashboard(got: dict, want: dict) -> list[str]:
    """Widgets on the finished table against the recomputation.  The
    engine rounds averages to two decimals; a recomputation may differ
    from that by one unit in the last place (summation order)."""
    problems = []
    tiles = got["tiles"]
    for key, exp in want["tiles"].items():
        val = tiles[key]
        if key.startswith("avg_"):
            if abs(val - exp) > 0.01 + 1e-9:
                problems.append(f"tiles {key}: {val} vs {exp}")
        elif val != exp:
            problems.append(f"tiles {key}: {val} vs {exp}")
    if dict(got["aqi"]) != dict(want["aqi"]):
        problems.append(f"aqi_distribution: {dict(got['aqi'])} vs {dict(want['aqi'])}")
    if got["current"] != want["current"]:
        problems.append("current_readings: latest row per location differs")
    if got["top"] != want["top"]:
        problems.append("explore_top_k: top rows differ")
    return problems


def files_and_bytes(table_dir: str) -> tuple[int, int]:
    """Data files in a parquet table directory and their total bytes."""
    n = size = 0
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size

