"""Output checks, run after the timer stops.

The reference silver table is rebuilt here from the generated bronze files
with plain ``json`` and Python: nulls pad short arrays, a trailing ``Z`` is
dropped from times, and for each (city, hour) the last accepted write
wins. The gold mart is recomputed by DuckDB from that reference, and both
are compared with what the program wrote. Each function returns a list of
problems; an empty list means the check passed.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

MEASURES = ("temperature_2m", "precipitation", "wind_speed_10m")
#: Relative tolerance for mart averages: Spark and DuckDB sum in different
#: orders, so the last bits of an AVG may differ.
AVG_RTOL = 1e-9

Key = tuple[str, dt.datetime]
Values = tuple[float | None, float | None, float | None]


def payload_rows(payload: dict) -> list[tuple[dt.datetime, Values]]:
    """(hour, measures) pairs of one payload, nulls padding short arrays."""
    hourly = payload.get("hourly") or {}
    times = hourly.get("time") or []
    cols = [hourly.get(m) or [] for m in MEASURES]
    out = []
    for i, t in enumerate(times):
        if t is None:
            continue
        ts = dt.datetime.fromisoformat(t[:-1] if t.endswith("Z") else t)
        out.append((ts, tuple(c[i] if i < len(c) else None for c in cols)))
    return out


def read_bronze_dir(root: str) -> dict[Key, Values]:
    """Every (city, hour) in a bronze tree; later files win on repeats."""
    rows: dict[Key, Values] = {}
    for dirpath, _dirs, files in sorted(os.walk(root)):
        city = next(
            (p[5:] for p in dirpath.split(os.sep) if p.startswith("city=")), None
        )
        for name in sorted(files):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    for ts, vals in payload_rows(json.loads(line)):
                        rows[(city, ts)] = vals
    return rows


def hourly_reference(root: str, manifest: dict, cycles_run: int) -> dict[Key, Values]:
    """Silver as it must be after the preload, ``cycles_run`` hourly cycles
    (planted rejections skipped) and the backfill of the planted gaps."""
    ref = read_bronze_dir(os.path.join(root, "preload"))
    rejected = set(manifest["rejected_cycles"])
    for i in range(cycles_run):
        if i not in rejected:
            ref.update(read_bronze_dir(os.path.join(root, "landing", f"cycle_{i:04d}")))
    with open(os.path.join(root, "backfill.json")) as f:
        served = json.load(f)["hours"]
    for city, hours in served.items():
        for t, vals in hours.items():
            ref[(city, dt.datetime.fromisoformat(t))] = tuple(vals)
    return ref


def _close(a, b, rtol: float = 0.0) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return a == b or abs(a - b) <= rtol * max(1.0, abs(a), abs(b))


def _diff(label: str, got: dict, want: dict, rtol: float) -> list[str]:
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{label}: {len(missing)} keys missing, e.g. {min(missing)}")
    if extra:
        problems.append(f"{label}: {len(extra)} unexpected keys, e.g. {min(extra)}")
    wrong = sorted(
        k for k in want.keys() & got.keys()
        if not all(_close(a, b, rtol) for a, b in zip(got[k], want[k]))
    )
    if wrong:
        k = wrong[0]
        problems.append(
            f"{label}: {len(wrong)} rows differ, e.g. {k}: got {got[k]} want {want[k]}"
        )
    return problems


def silver_problems(con, silver_path: str, ref: dict[Key, Values]) -> list[str]:
    """One row per (city, timestamp), holding the last accepted write."""
    rows = con.sql(
        f"""SELECT city, "timestamp"::TIMESTAMP, {", ".join(MEASURES)}
            FROM read_parquet('{silver_path}/*/*.parquet', hive_partitioning = true)"""
    ).fetchall()
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    problems = []
    if len(got) != len(rows):
        problems.append(f"silver: {len(rows) - len(got)} duplicate (city, timestamp) rows")
    return problems + _diff("silver", got, ref, 0.0)


def mart_reference(con, ref: dict[Key, Values]) -> dict:
    """fct_city_day as DuckDB computes it over the reference silver rows."""
    import pandas as pd

    frame = pd.DataFrame(
        [(c, t, *v) for (c, t), v in ref.items()],
        columns=["city", "ts", *MEASURES],
    )
    con.register("reference_silver", frame)
    try:
        rows = con.sql(
            f"""SELECT city, date_trunc('day', ts)::TIMESTAMP AS day,
                       {", ".join(f"avg({m})" for m in MEASURES)}
                FROM reference_silver GROUP BY ALL"""
        ).fetchall()
    finally:
        con.unregister("reference_silver")
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def gold_problems(con, gold_path: str, want: dict) -> list[str]:
    """The gold mart equals ``want`` (from :func:`mart_reference`)."""
    rows = con.sql(
        f"""SELECT city, day::TIMESTAMP, {", ".join(MEASURES)}
            FROM read_parquet('{gold_path}/*/*.parquet', hive_partitioning = true)"""
    ).fetchall()
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    problems = []
    if len(got) != len(rows):
        problems.append(f"gold: {len(rows) - len(got)} duplicate (city, day) rows")
    return problems + _diff("gold", got, want, AVG_RTOL)


def count_problems(label: str, planted, observed) -> list[str]:
    """The program's rejections / missing hours equal what was planted."""
    planted, observed = set(planted), set(observed)
    if planted == observed:
        return []
    missed, unexpected = sorted(planted - observed), sorted(observed - planted)
    return [f"{label}: {len(missed)} planted not seen {missed[:3]}, "
            f"{len(unexpected)} seen not planted {unexpected[:3]}"]
