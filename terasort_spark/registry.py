"""Query registry: the single source of truth for the engine's declared
operator inventory (SURVEY.md §2b).

Every operator registers a callable ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, a DuckDB oracle string. ``__spark_entry__.py`` is a
thin shim over this module; the driver compares each pair at sf0.01
(row-count + schema + order-insensitive value-hash).

Determinism conventions enforced by every registered query (D1–D6):
  D1 round floating outputs to 4dp on both sides (exact decimal sums where
     magnitudes make double-summation order observable at 4dp);
  D2 UTC session timezone;
  D3 materialize order as row_number with unique tie-breaks;
  D4 LIMIT only over a total order;
  D5 sort collected arrays;
  D6 identical column aliases on both sides.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with an optional DuckDB
    oracle. ``oracle=None`` → driver records a weaker rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


def _load() -> None:
    """Import every module of the package once; operators register on
    import. ``__main__`` is the CLI, not an operator module."""
    global _loaded
    if _loaded:
        return
    _loaded = True
    import terasort_spark

    for info in pkgutil.walk_packages(terasort_spark.__path__, "terasort_spark."):
        if not info.name.endswith(".__main__"):
            importlib.import_module(info.name)


# The driver grades registry entries in dict order with a bounded
# per-round budget (~50). One rule spreads that budget: queries without a
# current green CORRECTNESS row come first, in registration order; the
# rest follow with the oldest green evidence first.
_graded_cache: dict | None = None


def _graded_rounds() -> dict:
    """name -> round number of the query's LATEST CORRECTNESS row, for
    queries whose latest row is green. A rows-only row (err ==
    "no_oracle") counts as green only while the query has no oracle.

    Files are ordered by PARSED round number, not filename sort: an
    unpadded name (CORRECTNESS_r2.json vs _r10.json) would otherwise
    let a stale row override a newer one and mask a later FAILED grade."""
    global _graded_cache
    if _graded_cache is not None:
        return _graded_cache
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            paths.append((int(m.group(1)), path))
    latest: dict[str, tuple[int, dict]] = {}
    for rnum, path in sorted(paths):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, row in data.items():
                if isinstance(row, dict):
                    latest[name] = (rnum, row)
    _graded_cache = {
        name: rnum
        for name, (rnum, row) in latest.items()
        if row.get("hash_match")
        or (row.get("err") == "no_oracle" and name not in _ORACLES)
    }
    return _graded_cache


def _graded_last(d: dict) -> dict:
    rounds = _graded_rounds()
    ungraded = [k for k in d if k not in rounds]
    graded = sorted((k for k in d if k in rounds), key=lambda k: (rounds[k], k))
    return {k: d[k] for k in ungraded + graded}


def queries() -> dict[str, QueryFn]:
    _load()
    return _graded_last(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load()
    return _graded_last(_ORACLES)
