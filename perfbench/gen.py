"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy`` seed and an output directory and writes
plain files (parquet, gzip JSONL) whose bytes depend only on the seed and
the size arguments: the same seed gives byte-identical files.  Nothing here
imports Spark or the engine package, so the program under test only ever
sees the generated files.

- ``fixture_tables``: the fixture tables the batch query mix reads
  (``region``, ``nation``, ``customer``, ``orders``, ``lineitem``,
  ``events``, ``documents``, ``embeddings``) with the column types of the
  engine's fixture tables, at a stated scale factor.
- ``telemetry_delivery``: one ``locations/t=<offset>/`` delivery of ride
  telemetry (the reference's replay layout), ``rides x rows`` events.
- ``routes_jsonl``: nested ``schemas.ROUTES`` records as JSONL.gz,
  clustered over a stated number of airports.
"""

from __future__ import annotations

import gzip
import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data spark query table join window hash scan filter column value "
    "line order part key batch stream merge sort group agg row vector fast "
    "slow big small customer index shard event ride route delay signal "
    "sensor metric trace cache"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def fixture_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each mix table at scale
    factor ``sf`` (customer = 150,000 x sf rows, orders 10x, lineitem 40x,
    events 1,000,000 x sf, documents 50,000 x sf, embeddings as documents).
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_ord = 10 * n_cust
    n_li = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(20, int(50_000 * sf))
    n_users = max(5, n_cust // 10)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, 2000, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, 100, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(
                _EPOCH_1995_US + _DAY_US + rng.integers(0, 2500, n_li) * _DAY_US
            ),
        }
    )
    # Distinct, increasing event timestamps over 30 days; exponential values
    # with a sprinkle of spikes so the anomaly queries flag something.
    ev_ts = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False))
    value = np.round(rng.exponential(50.0, n_ev) + 0.01, 2)
    spikes = rng.random(n_ev) < 0.005
    value[spikes] = np.round(value[spikes] * 20 + 500.0, 2)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(_EPOCH_2024_US + ev_ts),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Documents: random word sequences; one in ten is a near-copy of an
    # earlier document (a few words swapped) so MinHash-LSH finds pairs.
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            toks = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_doc)
    emb = (centers[label] + rng.normal(0.0, 0.3, (n_doc, 64))).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype="int64"),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": label.astype("int32"),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Telemetry replay layout
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Telemetry:
    """Shape of the telemetry stream: ``rides`` keys, ``deliveries``
    ``t=`` partitions, ``rows`` events per ride per delivery."""

    rides: int
    deliveries: int
    rows: int

    @property
    def events_per_delivery(self) -> int:
        return self.rides * self.rows


def delivery_offsets(seed: int, n: int) -> list[float]:
    """Relative seconds of ``n`` deliveries: gaps of 2.8-4.8 s, the
    envelope of the reference's producer log, rounded to 0.1 s."""
    rng = np.random.default_rng([seed, 1])
    gaps = np.round(rng.uniform(2.8, 4.8, n), 1)
    gaps[0] = 0.0
    return [round(float(x), 1) for x in np.cumsum(gaps)]


def telemetry_delivery(seed: int, shape: Telemetry, index: int) -> pa.Table:
    """Rows of delivery ``index``: per ride, ``rows`` events with a
    ride-global ``seq``; speeds scatter around a per-ride base, with 1%
    spikes of +-60."""
    rng = np.random.default_rng([seed, 2, index])
    base = np.random.default_rng([seed, 3]).uniform(20.0, 90.0, shape.rides)
    ride = np.repeat(np.arange(shape.rides), shape.rows)
    seq = index * shape.rows + np.tile(np.arange(shape.rows), shape.rides)
    speed = base[ride] + rng.normal(0.0, 5.0, ride.size)
    spike = rng.random(ride.size) < 0.01
    speed[spike] += rng.choice([-1.0, 1.0], int(spike.sum())) * 60.0
    return pa.table(
        {
            "ride_id": [f"ride{r:05d}" for r in ride],
            "ts_offset": np.round(seq * 0.1, 1),
            "seq": seq.astype("int32"),
            "lat": np.round(40.0 + rng.normal(0.0, 0.05, ride.size), 6),
            "lon": np.round(-74.0 + rng.normal(0.0, 0.05, ride.size), 6),
            "speed": np.round(speed, 3),
        }
    )


def land_delivery(table: pa.Table, root: str, offset: float, stage_dir: str) -> str:
    """Write one delivery as ``<root>/t=<offset>/part-00000.parquet``,
    atomically: the partition dir is built under ``stage_dir`` and renamed
    into place, so a stream never lists a half-written file."""
    name = f"t={offset:07.1f}"
    stage = os.path.join(stage_dir, name)
    _write(table, os.path.join(stage, "part-00000.parquet"))
    os.makedirs(root, exist_ok=True)
    final = os.path.join(root, name)
    os.rename(stage, final)
    return final


# ---------------------------------------------------------------------------
# Route records
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Routes:
    """Route input shape: ``routes`` records over ``airports`` airports,
    ``probes`` nearest-airport lookups."""

    routes: int
    airports: int
    probes: int


def airports(seed: int, n: int) -> list[dict]:
    """``n`` airports with unique 3-letter IATA codes; latitudes in
    [-60, 70], longitudes in [-180, 180)."""
    rng = np.random.default_rng([seed, 4])
    codes = rng.choice(26**3, n, replace=False)
    out = []
    for i, c in enumerate(codes):
        iata = "".join(chr(65 + (int(c) // 26**k) % 26) for k in (2, 1, 0))
        out.append(
            {
                "airport_id": i + 1,
                "name": f"Airport {iata}",
                "city": f"City{i % 97}",
                "country": f"Country{i % 41}",
                "iata": iata,
                "icao": "K" + iata,
                "latitude": round(float(rng.uniform(-60.0, 70.0)), 6),
                "longitude": round(float(rng.uniform(-180.0, 180.0)), 6),
                "altitude": int(rng.integers(0, 3000)),
                "timezone": float(int(rng.integers(-11, 13))),
                "dst": "A",
                "tz_id": f"Zone/{i % 24}",
                "type": "airport",
                "source": "OurAirports",
            }
        )
    return out


@dataclass(frozen=True)
class RouteFile:
    path: str
    rows: int
    valid: int
    corrupt: int


def routes_jsonl(seed: int, out_path: str, shape: Routes) -> RouteFile:
    """Write ``shape.routes`` JSONL.gz lines: nested ``ROUTES`` records whose
    source airport is drawn from ``airports(seed, shape.airports)``.  One
    line in 1,000 is truncated JSON (a corrupt row); 2% of records have no
    source airport (invalid, kept and flagged)."""
    rng = np.random.default_rng([seed, 5])
    ports = airports(seed, shape.airports)
    lines: list[str] = []
    valid = corrupt = 0
    for i in range(shape.routes):
        src = ports[int(rng.integers(0, len(ports)))]
        dst = ports[int(rng.integers(0, len(ports)))]
        rec = {
            "airline": {
                "airline_id": int(rng.integers(1, 600)),
                "name": f"Airline {i % 587}",
                "alias": None,
                "iata": f"{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}",
                "icao": None,
                "callsign": None,
                "country": f"Country{i % 41}",
                "active": bool(rng.random() < 0.9),
            },
            "src_airport": None if rng.random() < 0.02 else src,
            "dst_airport": dst,
            "codeshare": bool(rng.random() < 0.2),
            "equipment": [f"E{int(x)}" for x in rng.integers(100, 999, int(rng.integers(0, 4)))],
            "geohash": None,
        }
        line = json.dumps(rec, separators=(",", ":"), sort_keys=True)
        if rng.random() < 0.001:
            lines.append(line[: len(line) // 2])
            corrupt += 1
        else:
            lines.append(line)
            valid += rec["src_airport"] is not None
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    # mtime=0 keeps the gzip header free of the write time.
    with open(out_path, "wb") as raw, gzip.GzipFile(
        fileobj=raw, mode="wb", mtime=0, filename=""
    ) as gz:
        gz.write(("\n".join(lines) + "\n").encode())
    return RouteFile(out_path, shape.routes, valid, corrupt)


def probe_points(seed: int, ports: list[dict], n: int) -> list[tuple[float, float]]:
    """``n`` lookup points, each within 3 degrees of a random airport of
    ``ports``, so most resolve in the first geohash neighbourhoods."""
    rng = np.random.default_rng([seed, 6])
    out = []
    for i in rng.integers(0, len(ports), n):
        p = ports[int(i)]
        la = float(np.clip(p["latitude"] + rng.uniform(-3.0, 3.0), -89.0, 89.0))
        lo = float((p["longitude"] + rng.uniform(-3.0, 3.0) + 180.0) % 360.0 - 180.0)
        out.append((round(la, 6), round(lo, 6)))
    return out


def haversine_m(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle distance in meters (R = 6,371,000 m)."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = p2 - p1, math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * 6_371_000.0 * math.asin(math.sqrt(a))
