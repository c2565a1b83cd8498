"""Output checks: canonical digests of query results and the tally that
feeds ``fail_ratio``.

A digest is independent of row order, column order and the engine's
numeric representation (an integral double and a bigint of the same
value agree), so a Spark result and its DuckDB oracle digest equal
exactly when the local oracle comparison (``tests/oracle_util.py``)
would pass on values.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import time
from collections.abc import Callable

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(df: pd.DataFrame) -> str:
    """sha256 over the sorted canonical rows under sorted column names."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in zip(*(df[c].tolist() for c in cols))
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


class Tally:
    """Operations attempted and failed; an operation is one suite pass or
    one query execution. A failure is an exception or a failed check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, list[float]] = {}

    def run(self, name: str, op: Callable[[], object], check: Callable[[object], str | None]):
        """Run ``op``; ``check(result)`` returns None when the output is
        right, else a reason. Returns the result, or None on failure."""
        self.attempted += 1
        try:
            t0 = time.monotonic()
            out = op()
            self.walls.setdefault(name, []).append(time.monotonic() - t0)
            reason = check(out)
        except Exception as e:  # noqa: BLE001 - any raise is a failed operation
            out, reason = None, f"{type(e).__name__}: {e}"
        if reason is not None:
            self.failed += 1
            self.errors.append(f"{name}: {reason}")
            return None
        return out

    @property
    def fail_ratio(self) -> float:
        return self.failed / max(1, self.attempted)
