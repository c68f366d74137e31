"""Answer checks.  Each returns a list of problems; empty means correct."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from perfbench.gen import StreamTruth

REL = 1e-9


def close(a: float, b: float, rel: float = REL) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def agg_answer(
    op: str, res, truth: StreamTruth, t0: int, t1: int, coverage: list | None = None
) -> list[str]:
    """count/sum: the exact answer lies in the hard [lower_bound,
    upper_bound]; max/min: the answer brackets the exact extreme (the
    covering windows can only widen the range)."""
    exact = truth.exact(op, t0, t1)
    tag = f"{op}[{t0},{t1}]"
    if op in ("count", "sum"):
        lo, hi = float(res["lower_bound"]), float(res["upper_bound"])
        slack = REL * max(1.0, abs(exact))
        if coverage is not None:
            coverage.append(
                float(res["lower_ci"]) - slack <= exact <= float(res["upper_ci"]) + slack
            )
        if not (lo - slack <= exact <= hi + slack):
            return [f"{tag}: exact {exact} outside [{lo}, {hi}]"]
        return []
    value = float(res["value"])
    if math.isnan(exact):
        return []
    if op == "max" and value < exact - REL * max(1.0, abs(exact)):
        return [f"{tag}: max {value} below exact {exact}"]
    if op == "min" and value > exact + REL * max(1.0, abs(exact)):
        return [f"{tag}: min {value} above exact {exact}"]
    return []


def as_dict(agg) -> dict:
    """AggResult -> the same field names a query_many row carries."""
    return {
        "value": agg.value,
        "lower_ci": agg.lower_ci,
        "upper_ci": agg.upper_ci,
        "lower_bound": agg.lower_bound,
        "upper_bound": agg.upper_bound,
    }


def sketch_answer(row, truth: StreamTruth) -> list[str]:
    """Hard sketch guarantees over the covering windows (a superset of
    the range): a present member is never reported absent, a count-min
    estimate never undercounts; distinct and quantile stay in range."""
    op, t0, t1, value = row["op"], row["t0"], row["t1"], float(row["value"])
    vals = truth.select(t0, t1)
    tag = f"{op}[{t0},{t1}]"
    if op == "membership":
        if row["arg"] in vals and value != 1.0:
            return [f"{tag}: present member {row['arg']} reported absent"]
    elif op == "frequency":
        exact = float(np.count_nonzero(vals == row["arg"]))
        if value < exact - REL:
            return [f"{tag}: frequency {value} below exact {exact}"]
    elif op == "distinct":
        if not value >= 1.0:
            return [f"{tag}: distinct {value}"]
    elif op == "quantile":
        if not (0.0 <= value <= float(truth.vals.max())):
            return [f"{tag}: quantile {value} out of range"]
    return []


def window_count(sid: int, got: int, want: int) -> list[str]:
    if got != want:
        return [f"stream {sid}: {got} windows, canonical {want}"]
    return []


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_frame(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive table equality; floats to 1e-9 relative."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
            aa, bb = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            if not np.allclose(aa, bb, rtol=REL, atol=REL, equal_nan=True):
                return [f"{name}: column {c} differs"]
        elif not (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all():
            return [f"{name}: column {c} differs"]
    return []
