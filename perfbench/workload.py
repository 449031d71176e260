"""Pieces shared by the workloads: operation records, directory sizes
and the result comparison used against DuckDB."""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal


@dataclass
class Op:
    """One closed-loop operation: a message, a request or a query."""

    kind: str  # podcast: ingest/refresh/load/request; curation: query
    name: str
    seconds: float = 0.0
    error: str | None = None  # raised, or failed its correctness check
    extra: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        self.error = self.error or why

    @contextmanager
    def timed(self):
        """Measure the block's wall time."""
        t = time.perf_counter()
        try:
            yield self
        finally:
            self.seconds = time.perf_counter() - t


def guarded(op: Op, fn, *args):
    """Run ``fn`` for ``op``; an exception marks the op failed and is
    reported on stderr instead of ending the run."""
    try:
        return fn(*args)
    except Exception:  # a failed op is a measured outcome, not a crash
        op.fail("raised")
        print(f"[perfbench] {op.kind} {op.name} raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return None


def tree_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def same_rows(
    got: list[tuple], want: list[tuple], ordered: bool, tol: float = 0.0
) -> str | None:
    """None when the two row lists agree, else a short reason.  Rows
    are compared in order, or as multisets sorted on their non-float
    values; floats must agree within ``tol``."""
    got = [tuple(_norm(v) for v in r) for r in got]
    want = [tuple(_norm(v) for v in r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if not ordered:
        def key(r):
            return tuple(
                (0, round(v, 3)) if isinstance(v, float) else (1, repr(v)) for v in r
            )

        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if not _close(g, w, tol):
            return f"row {g} != oracle {w}"
    return None
