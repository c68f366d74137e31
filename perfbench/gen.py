"""Seeded input generation for the engine benchmark.

Everything the library receives is made here from one numpy Generator, so
the same seed gives the same rows.  The exact answers the checks compare
against are computed from the same arrays.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# far from the epoch: a row at 1970-01-01 equals the initial streaming
# watermark and would be late-dropped
T_BASE = 1_700_000_000_000
# small value domain: membership/frequency probes hit real members
VALUE_DOMAIN = 1000


def clamp_after(last: int | None, ts: np.ndarray) -> np.ndarray:
    """The engine's strictly-increasing ingest clamp, ts'_i =
    max(ts_i, ts'_{i-1} + 1), continued from ``last`` (None = empty
    stream).  Closed form: ts'_i - i is the running max of ts_j - j."""
    if len(ts) == 0:
        return ts.copy()
    k = np.arange(1, len(ts) + 1, dtype=np.int64)
    shifted = ts.astype(np.int64) - k
    if last is not None:
        shifted = np.maximum(shifted, int(last))
    return np.maximum.accumulate(shifted) + k


def event_block(
    rng: np.random.Generator, n: int, t_start: int, disorder: float = 0.0
) -> tuple[np.ndarray, np.ndarray]:
    """n events with distinct timestamps after ``t_start`` and integer
    values; a ``disorder`` share of adjacent pairs is swapped so they
    arrive out of order."""
    ts = t_start + np.cumsum(rng.integers(1, 20, n, dtype=np.int64))
    vals = rng.integers(0, VALUE_DOMAIN, n).astype(np.float64)
    if disorder > 0 and n > 1:
        idx = rng.choice(n - 1, size=max(1, int(n * disorder)), replace=False)
        for i in np.sort(idx):
            ts[i], ts[i + 1] = ts[i + 1], ts[i]
    return ts, vals


class StreamTruth:
    """The events one stream holds after the engine's clamp, in arrival
    order, plus exact range answers over them."""

    def __init__(self) -> None:
        self.ts = np.empty(0, dtype=np.int64)
        self.vals = np.empty(0, dtype=np.float64)

    @property
    def n(self) -> int:
        return int(len(self.ts))

    @property
    def last(self) -> int | None:
        return int(self.ts[-1]) if len(self.ts) else None

    def add_sorted_batch(self, ts: np.ndarray, vals: np.ndarray) -> None:
        """Bulk ``Stream.append``: the batch is ordered by ts, then
        clamped after the stream's last timestamp."""
        order = np.argsort(ts, kind="stable")
        self._push(clamp_after(self.last, ts[order]), vals[order])

    def add_pairs(self, ts: np.ndarray, vals: np.ndarray) -> None:
        """``append_pairs``: arrival order kept, clamped one by one."""
        self._push(clamp_after(self.last, ts), vals)

    def _push(self, ts: np.ndarray, vals: np.ndarray) -> None:
        self.ts = np.concatenate([self.ts, ts])
        self.vals = np.concatenate([self.vals, vals])

    def select(self, t0: int, t1: int) -> np.ndarray:
        lo = np.searchsorted(self.ts, t0, side="left")
        hi = np.searchsorted(self.ts, t1, side="right")
        return self.vals[lo:hi]

    def exact(self, op: str, t0: int, t1: int) -> float:
        v = self.select(t0, t1)
        if op == "count":
            return float(len(v))
        if op == "sum":
            return float(v.sum())
        if op == "max":
            return float(v.max()) if len(v) else float("nan")
        if op == "min":
            return float(v.min()) if len(v) else float("nan")
        raise ValueError(op)


def query_ranges(
    rng: np.random.Generator, truth: StreamTruth, k: int
) -> list[tuple[int, int]]:
    """k [t0, t1] ranges over a stream: half over the newest 2% of its
    events (near-raw windows), half over old spans (coarse windows)."""
    n = truth.n
    out = []
    for i in range(k):
        if i % 2 == 0:
            a = int(rng.integers(int(n * 0.98), n - 1))
            b = int(rng.integers(a, n))
        else:
            a = int(rng.integers(0, int(n * 0.5)))
            b = int(rng.integers(a + 1, min(n, a + max(2, n // 4))))
        out.append((int(truth.ts[a]), int(truth.ts[b])))
    return out


# -- relational tables for the register slice ---------------------------

_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "green", "large", "shiny", "dark", "pale"]
_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "plate"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _ts_us(base_s: int, offsets_s: np.ndarray) -> pa.Array:
    return pa.array(
        (base_s + offsets_s).astype(np.int64) * 1_000_000, type=pa.timestamp("us")
    )


def _day_ts(rng, n, y0_s: int, days: int) -> pa.Array:
    return _ts_us(y0_s, rng.integers(0, days, n) * 86_400)


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the register's relational tables (the testdata schema) at
    ``scale`` (1.0 = 60k lineitem rows) under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(30, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(40, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_line = max(400, int(60000 * scale))
    n_ev = max(200, int(10000 * scale))
    n_users = max(10, int(150 * scale))
    d1995 = 788_918_400  # 1995-01-01
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([n for n, _ in _NATIONS]),
            "n_regionkey": pa.array([r for _, r in _NATIONS], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": _day_ts(rng, n_ord, d1995, 7 * 365),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 100000, n_line), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _day_ts(rng, n_line, d1995, 7 * 365),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            # 2024-01-01 onward, strictly increasing like the testdata
            "ts": _ts_us(
                1_704_067_200,
                np.cumsum(rng.integers(1, 2 * 30 * 86_400 // n_ev, n_ev)),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.uniform(0, 20, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
