"""Correctness-gate query registry: every implemented operator exposed as
a (spark_fn, duckdb_oracle_sql) pair over the driver test tables.

Each Spark query exercises the REAL operator implementation
(logstash_spark.operators.*); each oracle re-derives the same result in
ANSI SQL for DuckDB. Column names and types are aligned on both sides
(the driver hash-compares values after sorting columns by name).

Float discipline: money aggregates go through DECIMAL and are rounded
before the final cast to DOUBLE so both engines emit identical values;
counts are BIGINT on both sides (DuckDB sum() yields HUGEINT otherwise).

The gates live in one module per operator family (`GATE_MODULES`) and
carry the side-effect-free `queries_common.query` marker. The registry
is assembled here, in one place and always in the same order:

1. `collect` walks `GATE_MODULES` module by module, in definition order,
   and keeps the marked functions each module defines itself;
2. `queries_folds.register` folds sub-gates into combined gates;
3. `driver_order` sorts the names once by the driver's records;
4. `QUERIES` and `ORACLES` hold the result.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable
from types import FunctionType, ModuleType

from logstash_spark import (
    queries_aggregate,
    queries_codec,
    queries_dedup,
    queries_enrich,
    queries_eval,
    queries_folds,
    queries_multimodal,
    queries_parse,
    queries_retrieval,
    queries_sampling,
    queries_streaming,
    queries_text,
    queries_tokenize,
    queries_training,
)
from logstash_spark.queries_common import QueryFn

GATE_MODULES: tuple[ModuleType, ...] = (
    queries_parse,
    queries_codec,
    queries_enrich,
    queries_aggregate,
    queries_streaming,
    queries_dedup,
    queries_retrieval,
    queries_text,
    queries_tokenize,
    queries_training,
    queries_eval,
    queries_sampling,
    queries_multimodal,
)


def collect(
    modules: Iterable[ModuleType],
) -> tuple[dict[str, QueryFn], dict[str, str]]:
    """The `@query`-marked functions of `modules`, in registration order:
    module by module, each in definition order. A gate function a module
    only imports is skipped; it registers from its own module."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        for fn in vars(mod).values():
            if not (isinstance(fn, FunctionType) and hasattr(fn, "gate")):
                continue
            if fn.__module__ != mod.__name__:
                continue
            name, oracle = fn.gate
            if name in queries:
                raise ValueError(f"gate {name} is defined twice")
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
    return queries, oracles


def _driver_history(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """Scan the repo root's CORRECTNESS_r{N}.json driver records and return
    {query: (latest_round_sampled, passed_all_checks_that_round)}. Missing
    or unreadable files are simply skipped; with no records the registry
    keeps its registration order."""
    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            ok = (
                rec.get("err") in (None, "")
                and rec.get("rows_match") is not False
                and rec.get("schema_match") is not False
                and rec.get("hash_match") is not False
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, ok)
    return hist


def driver_order(
    names: Iterable[str], hist: dict[str, tuple[int, bool]]
) -> list[str]:
    """Order gate `names` (given in registration order) so the driver's
    bounded per-round sample covers the verification frontier first and
    then rotates through the greens:

    0. failed their latest sample, most recent failure first;
    1. never sampled (new gates land here);
    2. green only in an older round, oldest round first;
    3. green in the latest round.

    Ties keep registration order; an empty history gives that order."""
    latest = max((rnd for rnd, _ok in hist.values()), default=0)

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        pos, name = item
        rec = hist.get(name)
        if rec is None:
            return (1, 0, pos)
        rnd, ok = rec
        if not ok:
            return (0, -rnd, pos)
        if rnd < latest:
            return (2, rnd, pos)
        return (3, 0, pos)

    return [name for _pos, name in sorted(enumerate(names), key=key)]


def _assemble() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries, oracles = collect(GATE_MODULES)
    queries_folds.register(queries, oracles)
    order = driver_order(queries, _driver_history())
    return (
        {n: queries[n] for n in order},
        {n: oracles[n] for n in order if n in oracles},
    )


QUERIES, ORACLES = _assemble()
