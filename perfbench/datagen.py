"""Seeded inputs for the benchmark.

``write_catalog_tables`` writes the ten parquet tables the query catalog
reads (``sources.tables.TABLE_NAMES``) with the same columns, types and
value domains as the catalog's reference test data, scaled by ``sf``
(sf=1 → 6M lineitem rows). ``WeatherGenerator`` produces the raw
``{"readings": [...]}`` envelopes the streaming pipeline and the daily
runner ingest. The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2498),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = pa.table(_documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents; 5% are an earlier document plus " dup"
    (near duplicates) and a handful are exact copies, so the dedup and
    near-dup queries have work to find."""
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Weather envelopes
# --------------------------------------------------------------------------

#: The five reference stations (FIXTURES.md §1).
STATIONS = [
    ("STATION_001", "Mumbai", 19.076090, 72.877426),
    ("STATION_002", "Delhi", 28.704060, 77.102493),
    ("STATION_003", "Bangalore", 12.971599, 77.594566),
    ("STATION_004", "Chennai", 13.082680, 80.270721),
    ("STATION_005", "Kolkata", 22.572645, 88.363892),
]
WIND_DIRS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]
DRY_SKIES = ["Clear Sky", "Partly Cloudy", "Cloudy", "Haze"]
CRITICAL_FIELDS = ("station_id", "city", "timestamp")


class WeatherGenerator:
    """Seeded reference-shaped readings, one envelope per landing file.

    Each file holds ``per_file`` readings round-robin over the five
    stations, ``step_s`` seconds of event time apart per station, all
    within one UTC day. A ``null_share`` of readings has one critical
    field nulled, and a ``replay_share`` is an exact copy of an earlier
    reading (same key, same values). ``valid_keys`` tracks the distinct
    keys the daily load should keep.
    """

    def __init__(
        self,
        seed: int,
        per_file: int,
        day: dt.date = dt.date(2025, 11, 2),
        step_s: int = 5,
        null_share: float = 0.01,
        replay_share: float = 0.02,
    ) -> None:
        self.rng = np.random.default_rng(seed)
        self.per_file = per_file
        self.start = dt.datetime.combine(day, dt.time(0, 0))
        self.step_s = step_s
        self.null_share = null_share
        self.replay_share = replay_share
        self.n_generated = 0
        self.valid_keys: set[tuple[str, str]] = set()
        self._history: list[dict] = []
        self._seq = 0

    def _reading(self) -> dict:
        rng = self.rng
        sid, city, lat, lon = STATIONS[self._seq % len(STATIONS)]
        ts = self.start + dt.timedelta(
            seconds=(self._seq // len(STATIONS)) * self.step_s,
            microseconds=int(rng.integers(0, 1_000_000)),
        )
        self._seq += 1
        hour = ts.hour
        temp = round(25 + 10 * np.sin((hour - 6) * np.pi / 12)
                     + rng.uniform(-3, 3), 1)
        hum = round(float(np.clip(
            65 - 15 * np.sin((hour - 6) * np.pi / 12) + rng.uniform(-10, 10),
            20, 100)), 1)
        precip = 0.0 if rng.random() < 0.7 else round(rng.uniform(0.1, 30), 1)
        if precip > 10:
            cond = "Heavy Rain"
        elif precip > 5:
            cond = "Moderate Rain"
        elif precip > 0:
            cond = "Light Rain"
        else:
            cond = DRY_SKIES[int(rng.integers(0, 4))]
        vis = round(rng.uniform(1, 5) if precip > 5 else rng.uniform(8, 15), 1)
        if 10 <= hour <= 16:
            uv = int(rng.integers(6, 12))
        elif 8 <= hour <= 18:
            uv = int(rng.integers(3, 8))
        else:
            uv = int(rng.integers(0, 3))
        return {
            "station_id": sid,
            "city": city,
            "country": "India",
            "latitude": lat,
            "longitude": lon,
            "timestamp": ts.isoformat(timespec="microseconds"),
            "temperature_celsius": temp,
            "humidity_percent": hum,
            "pressure_hpa": round(rng.uniform(1005, 1025), 1),
            # a 5% share of storm readings drives the wind alert tiers
            "wind_speed_kmh": round(rng.uniform(40, 90) if rng.random() < 0.05
                                    else rng.uniform(5, 25), 1),
            "wind_direction": WIND_DIRS[int(rng.integers(0, 8))],
            "precipitation_mm": precip,
            "weather_condition": cond,
            "visibility_km": vis,
            "uv_index": uv,
            "heat_index_celsius": round(temp + max(0.0, hum - 60) / 10, 1),
        }

    def envelope(self) -> dict:
        readings = []
        for _ in range(self.per_file):
            r = self.rng.random()
            if self._history and r < self.replay_share:
                reading = dict(
                    self._history[int(self.rng.integers(0, len(self._history)))]
                )
            else:
                reading = self._reading()
                if r > 1 - self.null_share:
                    reading[CRITICAL_FIELDS[int(self.rng.integers(0, 3))]] = None
                else:
                    self._history.append(reading)
            if all(reading[f] is not None for f in CRITICAL_FIELDS):
                self.valid_keys.add((reading["station_id"], reading["timestamp"]))
            readings.append(reading)
        self.n_generated += len(readings)
        return {"readings": readings}

    def last_event_time(self) -> dt.datetime:
        return self.start + dt.timedelta(
            seconds=(self._seq // len(STATIONS) + 1) * self.step_s
        )


def land_atomically(landing_dir: str, staging_dir: str, name: str,
                    envelope: dict) -> str:
    """Write ``envelope`` under ``staging_dir`` and rename it into
    ``landing_dir``, so the stream never lists a half-written file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as fh:
        json.dump(envelope, fh)
    final = os.path.join(landing_dir, name)
    os.rename(tmp, final)
    return final
