"""Seeded, deterministic input generator for the benchmark.

Everything the program under test reads is written here, from ``seed``
alone: the same seed gives byte-identical files. The generator also writes
``manifest.json`` beside the inputs with what it planted (rejected
batches, missing hours), so the output checks compare against planted
counts instead of trusting the program.

Weather inputs follow the Open-Meteo payload shape the pipeline reads
(``schemas.RAW_OPENMETEO_SCHEMA``) in the Hive ``city=/ds=/hour=`` bronze
layout. A fixed share of payloads carries a ragged (empty) measure array
and a fixed share of times ends in ``Z``.

The analyst tables mirror the repository's synthetic star schema
(region … lineitem, events, documents, embeddings) at scale factor 0.001:
the same row counts, and value distributions matched column by column to
the provisioned sf0.001 tables (vocabulary and length of documents,
near-duplicate share, unit-norm Gaussian embeddings, events per user), so
every declared query does the work it does there (README.md compares the
two per plan module).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np

CITIES = (
    "Warsaw", "Berlin", "Paris", "London", "Madrid", "Rome", "Vienna", "Prague",
    "Budapest", "Lisbon", "Dublin", "Oslo", "Stockholm", "Helsinki", "Copenhagen",
    "Amsterdam", "Brussels", "Athens", "Bucharest", "Sofia", "Zagreb", "Riga",
    "Vilnius", "Tallinn",
)

#: Share of landed payloads whose precipitation array is empty (ragged).
RAGGED_SHARE = 0.05
#: Share of hourly time strings written with a trailing ``Z``.
Z_SHARE = 0.3
#: Every REJECT_EVERY-th hourly cycle (counting from REJECT_OFFSET) lands one
#: payload with an out-of-range temperature, which the DQ gate must reject.
#: The offset is elt_hourly's first timed cycle, after its warm-up cycles.
REJECT_EVERY = 8
REJECT_OFFSET = 3
#: Replay window of one hourly cycle: each cycle lands this many hours.
LOOKBACK_HOURS = 6
#: Start of every generated weather timeline (UTC).
EPOCH = dt.datetime(2025, 1, 1)


def _hour_str(t: dt.datetime, z: bool) -> str:
    return t.strftime("%Y-%m-%dT%H:%M") + ("Z" if z else "")


def _measures(rng: np.random.Generator, n: int, base: float) -> tuple[list, list, list]:
    """n hourly (temperature, precipitation, wind) triples, 1-decimal exact."""
    temp = np.round(base + rng.normal(0.0, 6.0, n), 1)
    rain = np.round(np.where(rng.random(n) < 0.8, 0.0, rng.gamma(1.5, 1.2, n)), 1)
    wind = np.round(rng.gamma(2.0, 6.0, n), 1)
    return temp.tolist(), rain.tolist(), np.minimum(wind, 150.0).tolist()


def _payload(coords, times, temp, rain, wind, z_flags, ragged: bool) -> dict:
    return {
        "latitude": coords[0],
        "longitude": coords[1],
        "timezone": "UTC",
        "hourly": {
            "time": [_hour_str(t, z) for t, z in zip(times, z_flags)],
            "temperature_2m": temp,
            "precipitation": [] if ragged else rain,
            "wind_speed_10m": wind,
        },
    }


def _write_lines(path: str, payloads: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for p in payloads:
            f.write(json.dumps(p, separators=(",", ":")) + "\n")


def _bronze_file(root: str, city: str, t: dt.datetime) -> str:
    return os.path.join(
        root, f"city={city}", f"ds={t:%Y-%m-%d}", f"hour={t:%H}", "part-00000.json"
    )


def _fresh(root: str) -> None:
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)


def _city_coords(rng: np.random.Generator, n: int) -> list[tuple[float, float]]:
    lat = np.round(rng.uniform(35.0, 65.0, n), 2)
    lon = np.round(rng.uniform(-10.0, 30.0, n), 2)
    return list(zip(lat.tolist(), lon.tolist()))


def hourly_inputs(
    root: str, seed: int, n_cities: int, preload_days: int, n_cycles: int, n_gaps: int
) -> dict:
    """Inputs of the hourly ELT workload under ``root``.

    - ``preload/``: one multi-hour payload per city per day, ``preload_days``
      days ending at ``t_end`` (exclusive), minus ``n_gaps`` planted
      city-hours in the final week (never in the last LOOKBACK_HOURS, which
      the first cycle replays).
    - ``landing/cycle_NNNN/``: cycle ``i`` lands one single-hour payload per
      city for each hour of [t_end + i - 5h, t_end + i]; replayed hours
      carry revised values, so last-write-wins is observable.
    - ``backfill.json``: the values the backfill fetch stub serves for the
      planted gaps.
    Returns the manifest (also written to ``manifest.json``).
    """
    _fresh(root)
    rng = np.random.default_rng([seed, 1])
    cities = list(CITIES[:n_cities])
    coords = dict(zip(cities, _city_coords(rng, n_cities)))
    base = {c: float(np.round(rng.uniform(-2.0, 18.0), 1)) for c in cities}
    t_end = EPOCH + dt.timedelta(days=preload_days)
    n_hours = preload_days * 24

    week = [t_end - dt.timedelta(hours=h) for h in range(LOOKBACK_HOURS, 24 * 7)]
    pool = [(c, t) for c in cities for t in week]
    pick = random.Random(seed).sample(range(len(pool)), n_gaps)
    gaps = sorted(pool[i] for i in pick)
    gap_set = set(gaps)

    backfill: dict[str, dict[str, list]] = {c: {} for c in cities}
    for c in cities:
        crng = np.random.default_rng([seed, 2, cities.index(c)])
        temp, rain, wind = _measures(crng, n_hours, base[c])
        zf = (crng.random(n_hours) < Z_SHARE).tolist()
        payloads = []
        for d in range(preload_days):
            idx = [
                i for i in range(d * 24, d * 24 + 24)
                if (c, EPOCH + dt.timedelta(hours=i)) not in gap_set
            ]
            for i in range(d * 24, d * 24 + 24):
                t = EPOCH + dt.timedelta(hours=i)
                if (c, t) in gap_set:
                    backfill[c][t.strftime("%Y-%m-%dT%H:%M")] = [temp[i], rain[i], wind[i]]
            payloads.append(
                _payload(
                    coords[c],
                    [EPOCH + dt.timedelta(hours=i) for i in idx],
                    [temp[i] for i in idx],
                    [rain[i] for i in idx],
                    [wind[i] for i in idx],
                    [zf[i] for i in idx],
                    ragged=False,
                )
            )
        _write_lines(_bronze_file(os.path.join(root, "preload"), c, EPOCH), payloads)

    rejected = []
    for i in range(n_cycles):
        crng = np.random.default_rng([seed, 3, i])
        cycle_root = os.path.join(root, "landing", f"cycle_{i:04d}")
        bad = i % REJECT_EVERY == REJECT_OFFSET
        bad_city = cities[int(crng.integers(n_cities))] if bad else None
        bad_hour = int(crng.integers(LOOKBACK_HOURS)) if bad else None
        if bad:
            rejected.append(i)
        for c in cities:
            temp, rain, wind = _measures(crng, LOOKBACK_HOURS, base[c])
            ragged = crng.random(LOOKBACK_HOURS) < RAGGED_SHARE
            zf = crng.random(LOOKBACK_HOURS) < Z_SHARE
            for k in range(LOOKBACK_HOURS):
                t = t_end + dt.timedelta(hours=i - (LOOKBACK_HOURS - 1) + k)
                tk = 75.0 if (c == bad_city and k == bad_hour) else temp[k]
                _write_lines(
                    _bronze_file(cycle_root, c, t),
                    [_payload(coords[c], [t], [tk], [rain[k]], [wind[k]],
                              [bool(zf[k])], bool(ragged[k]))],
                )

    with open(os.path.join(root, "backfill.json"), "w") as f:
        json.dump({"coords": coords, "hours": backfill}, f, sort_keys=True)
    manifest = {
        "cities": cities,
        "t_start": EPOCH.isoformat(),
        "t_end": t_end.isoformat(),
        "n_cycles": n_cycles,
        "rejected_cycles": rejected,
        "gaps": [[c, t.isoformat()] for c, t in gaps],
        "gap_window": [(t_end - dt.timedelta(days=7)).isoformat(),
                       (t_end - dt.timedelta(hours=1)).isoformat()],
    }
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


# --- analyst tables --------------------------------------------------------

_VOCAB = (
    "a the scan column window order sort part agg value line key join merge "
    "group query vector hash slow stream filter fast batch spark table small "
    "data big customer row"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")


def _days(rng: np.random.Generator, lo: dt.datetime, span_days: int, n: int) -> np.ndarray:
    d = rng.integers(0, span_days, n)
    return np.datetime64(lo, "us") + d.astype("timedelta64[D]").astype("timedelta64[us]")


def analyst_tables(root: str, seed: int) -> dict:
    """The ten analyst tables as ``<root>/<name>.parquet`` (one file each,
    one row group), about scale factor 0.001. Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _fresh(root)
    rng = np.random.default_rng([seed, 6])
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_vec = (
        150, 10, 200, 1500, 6000, 1000, 500, 500
    )
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        },
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": (rng.choice(_SEGMENTS, n_cust).tolist(), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.choice(25, n_supp, replace=False), i32),
            "s_acctbal": (money(-999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": ([f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                        for _ in range(n_part)], s),
            "p_brand": ([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], s),
            "p_type": (rng.choice(_PART_TYPES, n_part).tolist(), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900.0 + np.arange(n_part) * 0.1, 1), f64),
        },
    }
    o_date = _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord)
    tables["orders"] = {
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (rng.choice(("F", "O", "P"), n_ord).tolist(), s),
        "o_totalprice": (money(1000.0, 500000.0, n_ord), f64),
        "o_orderdate": (o_date, ts),
        "o_orderpriority": (rng.choice(_PRIORITIES, n_ord).tolist(), s),
    }
    l_ord = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = {
        "l_orderkey": (l_ord, i64),
        "l_partkey": (l_part, i64),
        "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": (rng.integers(1, 8, n_line), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (money(900.0, 105000.0, n_line), f64),
        "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": (rng.choice(("A", "N", "R"), n_line).tolist(), s),
        "l_linestatus": (rng.choice(("F", "O"), n_line).tolist(), s),
        "l_shipdate": (_days(rng, dt.datetime(1995, 1, 2), 2499, n_line), ts),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = {
        "event_id": (np.arange(n_ev), i64),
        "ts": (np.datetime64(dt.datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, 15, n_ev), i64),
        "event_type": (rng.choice(_EVENT_TYPES, n_ev).tolist(), s),
        "value": (np.round(np.minimum(rng.exponential(50.0, n_ev), 330.0), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # planted near-duplicate
            src = texts[int(rng.integers(0, i))]
            texts.append(src + (" dup" if rng.random() < 0.5 else " dup dup"))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64),
    }
    vec = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": (np.arange(n_vec), i64),
        "embedding": (pa.array(list(vec), type=pa.list_(pa.float32())), None),
        "label": (rng.integers(0, 10, n_vec), i32),
    }
    counts = {}
    for name, cols in tables.items():
        arrays = {
            c: (v if typ is None else pa.array(v, type=typ)) for c, (v, typ) in cols.items()
        }
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
