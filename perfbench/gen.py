"""Seeded input generators for the benchmark.

Everything a workload reads is made here from the workload seed, before any
timed phase, so the program under test receives only generated inputs:

- ``write_tables`` writes the ten registry tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) as one parquet file each, with
  the column types of ``schemas.TESTDATA`` and row counts fixed per scale.
- ``gps_payloads`` renders NDJSON files in the reference producer's record
  shape (``schemas.GPS_EVENT``); ``land_files`` writes them into a landing
  directory, and ``OpenLoopLander`` lands them one by one at a fixed rate by
  atomic rename, recording each file's due time and how late it landed.

Sizes never depend on the seed, only values do, so two seeds cost the same.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0; the benchmark uses small scales (see registry.py).
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_USERS_PER_EVENT = 0.015
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "fr", "zh", "de", "es"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
_ADJ = ["large", "hot", "cold", "blue", "old", "small", "new", "red"]
_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in _ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _PTYPES[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": start + ts.astype("timedelta64[us]"),
            "user_id": pa.array(
                rng.integers(0, max(1, int(ne * _USERS_PER_EVENT)), ne), i64
            ),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd: int) -> pa.Table:
    """Bag-of-words docs over a 30-word vocabulary; one doc in twenty is an
    earlier doc plus a trailing ``dup`` token, so near-duplicate detection
    has true positives."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": _LANGS[rng.choice(5, nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, nv: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((nv, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# -- GPS landing -------------------------------------------------------------
_DIRECTIONS = np.array(["N", "S", "E", "W", "NE", "NW", "SE", "SW"])


def gps_payloads(seed: int, n_files: int, rows_per_file: int) -> list[bytes]:
    """NDJSON payloads in the reference producer's record shape: a pool of
    20 vehicles, uniform positions and speeds, ``fuel_level`` null for
    electric vehicles, and a string timestamp."""
    rng = np.random.default_rng([seed, 2])
    pool = ["".join(rng.choice(list("abcdef0123456789"), 8)) for _ in range(20)]
    electric = rng.random(20) < 0.3
    n = n_files * rows_per_file
    veh = rng.integers(0, 20, n)
    lat = rng.uniform(-90, 90, n)
    lon = rng.uniform(-180, 180, n)
    speed = rng.uniform(0, 120, n)
    direction = _DIRECTIONS[rng.integers(0, 8, n)]
    fuel = rng.uniform(5, 100, n)
    battery = rng.uniform(10, 100, n)
    belt = np.where(rng.random(n) < 0.5, "Fastened", "Unfastened")
    collision = np.where(rng.random(n) < 1 / 6, "true", "false")
    braking = np.where(rng.random(n) < 0.25, "true", "false")
    base = np.datetime64("2024-06-01T00:00:00", "s")
    stamps = np.datetime_as_string(base + np.sort(rng.integers(0, 86_400, n)), unit="s")
    out = []
    for f in range(n_files):
        lines = []
        for i in range(f * rows_per_file, (f + 1) * rows_per_file):
            v = veh[i]
            fl = "null" if electric[v] else f"{fuel[i]:.1f}"
            lines.append(
                f'{{"vehicle_id": "{pool[v]}", "latitude": {lat[i]:.6f}, '
                f'"longitude": {lon[i]:.6f}, "speed_kmh": {speed[i]:.2f}, '
                f'"direction": "{direction[i]}", "fuel_level": {fl}, '
                f'"battery_level": {battery[i]:.1f}, '
                f'"seat_belt_status": "{belt[i]}", '
                f'"collision_detected": {collision[i]}, '
                f'"sudden_braking": {braking[i]}, '
                f'"timestamp": "{stamps[i].replace("T", " ")}"}}\n'
            )
        out.append("".join(lines).encode())
    return out


def file_name(i: int) -> str:
    return f"gps-{i:05d}.json"


def land_files(landing: str, payloads: list[bytes]) -> None:
    os.makedirs(landing, exist_ok=True)
    for i, p in enumerate(payloads):
        with open(os.path.join(landing, file_name(i)), "wb") as f:
            f.write(p)


class OpenLoopLander(threading.Thread):
    """Lands ``payloads`` into ``landing`` at ``rate`` files per second.

    Each payload is written under a hidden name first (the file source skips
    names starting with ``.``), then renamed into place at its due time, so
    a reader never sees a partial file. ``due[name]`` is the due wall time
    and ``lateness_s`` the largest delay between a due time and its rename."""

    def __init__(self, landing: str, payloads: list[bytes], rate: float, first: int):
        super().__init__(daemon=True)
        self.rate = rate
        self.staged = []
        for i, p in enumerate(payloads, start=first):
            tmp = os.path.join(landing, f".{file_name(i)}.tmp")
            with open(tmp, "wb") as f:
                f.write(p)
            self.staged.append((tmp, os.path.join(landing, file_name(i))))
        self.due: dict[str, float] = {}
        self.lateness_s = 0.0

    def run(self) -> None:
        t0 = time.time()
        for k, (tmp, final) in enumerate(self.staged):
            due = t0 + k / self.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(tmp, final)
            self.lateness_s = max(self.lateness_s, time.time() - due)
            self.due[os.path.basename(final)] = due
