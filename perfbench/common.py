"""State shared by the workloads: the run context, the operation
ledger and value normalization for oracle comparisons."""

from __future__ import annotations

import datetime as _dt
import math
import statistics
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Ledger:
    """Operations attempted and failed. A result that differs from its
    oracle counts as a failed operation."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    cpus: int
    trace: bool
    smoke: bool
    ledger: Ledger = field(default_factory=Ledger)
    # headline metrics: name -> (value, unit)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    # per-layer metrics filled by the traced run: name -> (value, unit)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    # set-up intervals, time.time() seconds (the session start is added by run.py)
    setup: list[tuple[float, float]] = field(default_factory=list)


def norm(v):
    """Normalize a cell for exact engine-vs-oracle comparison across
    Spark rows, pandas and DuckDB frames."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (_dt.datetime, _dt.date)) or type(v).__name__ == "Timestamp":
        return str(v)[:19].replace("T", " ")
    try:
        import pandas as pd

        if v is pd.NA or v is pd.NaT:
            return None
    except ImportError:
        pass
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def rows_of(records, cols: list[str]) -> list[tuple]:
    """Sorted, normalized tuples of ``cols`` from dict-like records."""
    return sorted((tuple(norm(r[c]) for c in cols) for r in records), key=repr)


def pct(values: list[float], q: int) -> float:
    """Linear-interpolated q-th percentile, 1 <= q <= 99."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
