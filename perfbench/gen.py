"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)`` and writes into a
cache directory keyed by both, so a repeated run reuses the files and
generation never falls inside a timed region. The engine only ever sees
the files written here.

- :func:`taxi_inputs`: the dirty historic trips CSV (money as ``$1,234.56``
  strings, 12-hour AM/PM timestamps, ~10% duplicate ``trip_id`` rows,
  ~5% null community areas, ~8% null companies, a few malformed rows,
  seven months of 2017) plus the 77-row areas CSV.
- :func:`star_schema`: the star-schema parquet tables the registry
  queries read (``region`` … ``embeddings``), at a chosen scale.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

N_AREAS = 77
COMPANIES = [
    "Flash Cab", "Taxi Affiliation Services", "Yellow Cab", "Blue Diamond",
    "Chicago Carriage", "City Service", "Sun Taxi", "Star North",
    "Medallion Leasing", "Top Cab", "Globe Taxi", "Patriot Taxi",
]
PAYMENT_TYPES = ["Cash", "Credit Card", "Prcard", "Unknown"]
CSV_HEADER = [
    "Trip ID", "Taxi ID", "Trip Start Timestamp", "Trip End Timestamp",
    "Trip Seconds", "Trip Miles", "Pickup Census Tract", "Dropoff Census Tract",
    "Pickup Community Area", "Dropoff Community Area", "Fare", "Tips", "Tolls",
    "Extras", "Trip Total", "Payment Type", "Company",
    "Pickup Centroid Latitude", "Pickup Centroid Longitude",
    "Pickup Centroid Location", "Dropoff Centroid Latitude",
    "Dropoff Centroid Longitude", "Dropoff Centroid Location",
]
# field names of the wire format, in CSV column order
WIRE_FIELDS = [
    "trip_id", "taxi_id", "trip_start_timestamp", "trip_end_timestamp",
    "trip_seconds", "trip_miles", "pickup_census_tract", "dropoff_census_tract",
    "pickup_community_area", "dropoff_community_area", "fare", "tips", "tolls",
    "extras", "trip_total", "payment_type", "company",
    "pickup_centroid_latitude", "pickup_centroid_longitude",
    "pickup_centroid_location", "dropoff_centroid_latitude",
    "dropoff_centroid_longitude", "dropoff_centroid_location",
]
EPOCH_2017 = datetime(2017, 1, 1)
TRIP_DAYS = 212  # January through July 2017
N_MALFORMED = 7
N_TAXIS = 500


@dataclass(frozen=True)
class TaxiCounts:
    """What the generator knows about the CSV it wrote: the expected
    ``ingest_historic`` counters."""

    rows: int             # well-formed data rows, duplicates included
    malformed: int        # rows DROPMALFORMED must reject
    null_pickup_areas: int


class _Tables:
    """String lookup tables, so formatting is an index, not a per-row
    ``strftime``/format call."""

    def __init__(self) -> None:
        days = [EPOCH_2017 + timedelta(days=d) for d in range(TRIP_DAYS + 1)]
        self.date = np.array([d.strftime("%m/%d/%Y ") for d in days], dtype=object)
        tod = [f"{(s // 3600) % 12 or 12:02d}:{s // 60 % 60:02d}:{s % 60:02d} "
               f"{'AM' if s < 43200 else 'PM'}" for s in range(86400)]
        self.tod = np.array(tod, dtype=object)
        self.money = np.array([f"${c / 100:,.2f}" for c in range(210_000)], dtype=object)
        self.area = np.array([None] + [str(a) for a in range(1, N_AREAS + 1)], dtype=object)
        self.lat = np.array([None] + [f"41.8{a:02d}" for a in range(1, N_AREAS + 1)], dtype=object)
        self.lon = np.array([None] + [f"-87.6{a:02d}" for a in range(1, N_AREAS + 1)], dtype=object)
        self.point = np.array([None] + [f"POINT (-87.6{a:02d} 41.8{a:02d})"
                                        for a in range(1, N_AREAS + 1)], dtype=object)

    def ampm(self, secs: np.ndarray) -> np.ndarray:
        """Seconds since 2017-01-01 → ``MM/dd/yyyy hh:mm:ss a``."""
        return self.date[secs // 86400] + self.tod[secs % 86400]


@functools.cache
def _tables() -> _Tables:
    return _Tables()


def trip_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` distinct trips as wire-format strings (None for absent)."""
    t = _tables()
    start = rng.integers(0, TRIP_DAYS * 96, n) * 900
    secs = rng.integers(60, 7200, n)
    null_secs = rng.random(n) < 0.03
    # area index 0 stands for a null area
    pick = np.where(rng.random(n) < 0.05, 0, rng.integers(1, N_AREAS + 1, n))
    drop = np.where(rng.random(n) < 0.05, 0, rng.integers(1, N_AREAS + 1, n))
    fare = rng.integers(325, 8000, n)
    big = rng.random(n) < 0.1
    fare[big] = rng.integers(100_000, 200_000, int(big.sum()))  # comma territory
    tips = rng.integers(0, 2000, n)
    tolls = np.where(rng.random(n) < 0.9, 0, rng.integers(50, 500, n))
    extras = rng.choice(np.array([0, 0, 100, 150, 200]), n)
    company = np.array(COMPANIES, dtype=object)[rng.integers(0, len(COMPANIES), n)]
    company[rng.random(n) < 0.08] = None
    seconds = secs.astype(str).astype(object)
    seconds[null_secs] = None
    return pd.DataFrame({
        "trip_id": np.char.zfill(np.char.mod("%x", np.arange(n)), 40).astype(object),
        "taxi_id": rng.integers(1, N_TAXIS + 1, n).astype(str).astype(object),
        "trip_start_timestamp": t.ampm(start),
        "trip_end_timestamp": t.ampm(start + np.where(null_secs, 0, secs)),
        "trip_seconds": seconds,
        "trip_miles": (rng.integers(0, 301, n) / 10).astype(str).astype(object),
        "pickup_census_tract": None,
        "dropoff_census_tract": None,
        "pickup_community_area": t.area[pick],
        "dropoff_community_area": t.area[drop],
        "fare": t.money[fare],
        "tips": t.money[tips],
        "tolls": t.money[tolls],
        "extras": t.money[extras],
        "trip_total": t.money[fare + tips + tolls + extras],
        "payment_type": np.array(PAYMENT_TYPES, dtype=object)[rng.integers(0, 4, n)],
        "company": company,
        "pickup_centroid_latitude": t.lat[pick],
        "pickup_centroid_longitude": t.lon[pick],
        "pickup_centroid_location": t.point[pick],
        "dropoff_centroid_latitude": t.lat[drop],
        "dropoff_centroid_longitude": t.lon[drop],
        "dropoff_centroid_location": t.point[drop],
    })


def write_areas_csv(path: str) -> None:
    lines = ["area_number,community,area_centroid_latitude,area_centroid_longitude,the_geom"]
    lines += [f"{a},COMMUNITY_{a},41.8{a:02d},-87.6{a:02d},MULTIPOLYGON (({a} {a}))"
              for a in range(1, N_AREAS + 1)]
    _atomic_write(path, "\n".join(lines) + "\n")


def _atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def taxi_inputs(cache: str, seed: int, n_trips: int) -> tuple[str, str, TaxiCounts]:
    """Write (or reuse) the dirty trips CSV and the areas CSV for
    ``(seed, n_trips)``. Returns ``(csv_dir, areas_csv, counts)``."""
    root = os.path.join(cache, f"taxi_s{seed}_n{n_trips}")
    csv_dir, areas = os.path.join(root, "raw"), os.path.join(root, "areas.csv")
    meta = os.path.join(root, "counts.json")
    if not os.path.exists(meta):
        rng = np.random.default_rng([seed, 1])
        trips = trip_frame(rng, n_trips)
        dup = trips.iloc[rng.choice(n_trips, n_trips // 10, replace=False)]
        rows = pd.concat([trips, dup]).iloc[rng.permutation(n_trips + len(dup))]
        os.makedirs(csv_dir, exist_ok=True)
        rows.columns = CSV_HEADER
        path = os.path.join(csv_dir, "trips_2017.csv")
        pacsv.write_csv(pa.Table.from_pandas(rows, preserve_index=False), path + ".tmp",
                        pacsv.WriteOptions(quoting_style="needed"))
        with open(path + ".tmp", "a") as f:
            f.writelines(
                f"bad{i:037d},42,not-a-timestamp,also-bad,x,y,,,1,2,$1.00,$0.00,"
                f"$0.00,$0.00,$1.00,Cash,Flash Cab,,,,,,\n" for i in range(N_MALFORMED))
        os.replace(path + ".tmp", path)
        write_areas_csv(areas)
        counts = TaxiCounts(
            rows=len(rows), malformed=N_MALFORMED,
            null_pickup_areas=int(rows["Pickup Community Area"].isna().sum()))
        _atomic_write(meta, json.dumps(counts.__dict__))
    with open(meta) as f:
        return csv_dir, areas, TaxiCounts(**json.load(f))


WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big customer query "
         "order group filter stream").split()


def _write_parquet(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def star_schema(cache: str, seed: int, scale: float) -> str:
    """Write (or reuse) the star-schema tables at ``scale`` (1.0 =
    600k lineitem rows) with the column names and parquet types the
    registry queries read. Returns the directory."""
    root = os.path.join(cache, f"star_s{seed}_x{scale}")
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_vec = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write_parquet(root, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write_parquet(root, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write_parquet(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    _write_parquet(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    adj = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    noun = ["ring", "widget", "gear", "bolt", "panel", "valve", "spring", "cable"]
    _write_parquet(root, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10, f64)})
    day = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(86_400_000_000, "us")
    _write_parquet(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(day + rng.integers(0, 2400, n_ord) * one_day, ts),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write_parquet(root, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(day + rng.integers(1, 2500, n_line) * one_day, ts)})
    jan = np.datetime64("2024-01-01", "us")
    _write_parquet(root, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(jan + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                       .astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.uniform(0.01, 490, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 90))])
             for _ in range(n_doc)]
    # ~10% exact and ~10% near duplicates, so the dedup and clustering
    # queries have groups to find
    for i in rng.choice(n_doc, n_doc // 5, replace=False):
        src = texts[rng.integers(0, n_doc)]
        texts[i] = src if rng.random() < 0.5 else src + " " + WORDS[rng.integers(0, len(WORDS))]
    _write_parquet(root, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vec = centers[label] + rng.normal(scale=1.5, size=(n_vec, 64))
    dup = rng.choice(n_vec, n_vec // 10, replace=False)
    vec[dup] = vec[rng.integers(0, n_vec, len(dup))] + rng.normal(scale=0.01, size=(len(dup), 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    open(done, "w").close()
    return root
