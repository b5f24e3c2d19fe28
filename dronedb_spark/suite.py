"""Registry of (named query, DuckDB oracle SQL) pairs — the driver contract.

Each operator module registers its parity checks here via the ``check``
decorator.  ``load_all()`` discovers those modules by walking the
package, so a new module registers its checks without being listed
anywhere.  ``__spark_entry__.py`` exposes the registry to the driver,
which gates the first checks in registry order under a fixed budget.
The order comes from the driver's ``CORRECTNESS_r<N>.json`` ledgers
beside the package: checks gated longest ago (never-gated first) lead,
so each round's window rotates onto the least recently gated checks.

The oracle comparison (``rows_key`` / ``compare_rows``) lives here too,
shared by ``tests/test_parity.py`` and ``tools/simcheck.py``.
"""

from __future__ import annotations

import decimal
import importlib
import json
import math
import os
import pkgutil
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Check:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    small: bool = False  # bench collects the result instead of a noop write


REGISTRY: dict[str, Check] = {}


def check(name: str, oracle: str | None = None, small: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Check(name, fn, oracle, small)
        return fn

    return deco


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LEDGER = re.compile(r"CORRECTNESS_r(\d+)\.json")


def last_gated(root: str = _ROOT) -> dict[str, int]:
    """Check name -> newest round N whose ``CORRECTNESS_r<N>.json`` in
    ``root`` holds it.  A ledger that is not a JSON object keyed by
    check name raises ``ValueError`` naming the file."""
    last: dict[str, int] = {}
    for fn in sorted(os.listdir(root)):
        m = _LEDGER.fullmatch(fn)
        if m is None:
            continue
        path = os.path.join(root, fn)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except ValueError as e:
            raise ValueError(f"malformed gate ledger {path}: {e}") from e
        if not isinstance(rows, dict):
            raise ValueError(f"malformed gate ledger {path}: not an object keyed by check name")
        rnd = int(m.group(1))
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


def load_all() -> dict[str, Check]:
    """Import every module of the ``dronedb_spark`` package so its checks
    register, then order the registry by (last gated round, name), with
    never-gated checks as round 0.  The driver walks the registry in
    order under its ~50-check budget, so the checks that waited longest
    for a CORRECTNESS row come first."""
    import dronedb_spark

    for mod in pkgutil.walk_packages(dronedb_spark.__path__, "dronedb_spark."):
        importlib.import_module(mod.name)
    last = last_gated()
    ordered = sorted(REGISTRY.values(), key=lambda c: (last.get(c.name, 0), c.name))
    REGISTRY.clear()
    REGISTRY.update((c.name, c) for c in ordered)
    return REGISTRY


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def rows_key(rows, cols: Sequence[str]) -> list[tuple]:
    """Order-free form of a result: each row's values normalized (floats
    and decimals rounded to 9 places, NaN made comparable) and taken in
    column-name order, then the rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare_rows(s_cols, s_rows, d_cols, d_rows) -> None:
    """Raise ``AssertionError`` unless the Spark result (``s_*``) equals
    the oracle's (``d_*``): the same column names in the same order, the
    same row count and the same values regardless of row order.  A value
    mismatch lists the first 5 differing rows."""
    if list(s_cols) != list(d_cols):
        raise AssertionError(f"columns {list(s_cols)} vs {list(d_cols)}")
    if len(s_rows) != len(d_rows):
        raise AssertionError(f"rowcount {len(s_rows)} vs {len(d_rows)}")
    sk, dk = rows_key(s_rows, s_cols), rows_key(d_rows, d_cols)
    if sk != dk:
        diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:5]
        raise AssertionError(f"value mismatch, first diffs: {diffs}")
