"""Operator library: each function is `(df, **conf) -> df`, composable.

Mirrors the Logstash plugin inventory (SURVEY.md §2) re-expressed as
DataFrame transformations. Registry `OPS` maps logstash-style names to
implementations for the declarative pipeline spec (plans.spec); it is
complete once this package is imported, because the package imports every
module that registers ops.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

OPS: dict[str, Callable[..., DataFrame]] = {}


def op(name: str) -> Callable[[Callable[..., Any]], Callable[..., Any]]:
    """Register an operator under its logstash-equivalent name."""

    def deco(fn: Callable[..., Any]) -> Callable[..., Any]:
        OPS[name] = fn
        return fn

    return deco


# each of these registers its ops with `@op` when imported
from logstash_spark.operators import aggregate, codec, enrich, lookup  # noqa: E402, F401
from logstash_spark.operators import multiplicity, mutate, parse, wire  # noqa: E402, F401
import logstash_spark.functions  # noqa: E402, F401
