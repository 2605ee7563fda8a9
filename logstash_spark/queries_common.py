"""The `@query` gate marker and the helpers several gate modules share.

This is a leaf module: it imports no other `queries*` module, so every
gate module can be the first module a process imports. `@query` only
tags the function; `queries` walks the gate modules and builds the
registry from the tags.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D

QueryFn = Callable[[SparkSession, str], DataFrame]


def query(name: str, oracle: str | None = None):
    """Mark a function as the correctness gate `name`, with the DuckDB
    `oracle` SQL that re-derives its result."""

    def deco(fn: QueryFn) -> QueryFn:
        fn.gate = (name, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (`events`, `documents`, ...)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The deterministic 32-bit hash both engines replay (dataprep
# portable_hash32): int(md5(s)[:8], 16). Two spellings of it sit in the
# oracles: `_H32` formats `{x}`, `_H32U` formats `{s}` through UBIGINT.
_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"
_H32U = "CAST(('0x' || substr(md5({s}), 1, 8))::UBIGINT AS BIGINT)"

# Synthetic token ids per document: (doc_id % 37) + 3 of them.
_TOK_N = "(doc_id % 37) + 3"
_TOK_SQL = (
    f"list_transform(range(0, {_TOK_N}), "
    "i -> CAST((doc_id * 7 + i * 13) % 50000 AS INTEGER))"
)

# Oracle helpers more than one gate family builds on.
_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (p, q) -> p + q)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)}))"
    )


_PLANE_TERMS = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({v}, range(1, len({v}) + 1)), "
    "z -> CAST(z[1] AS DOUBLE) * ((({p}*31 + z[2]*17) % 7) - 3))), (p, q) -> p + q)"
)


def _bucket_sql(v: str, n_planes: int = 6, offset: int = 0) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_PLANE_TERMS.format(v=v, p=p + offset)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"({bits})"


_STOPS_SQL = "['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it']"

# `_tok_docs2`: md5-mixed token ids (so windows are unique by default)
# with a PLANTED 10-token motif at positions [2, 12) of every
# doc_id % 5 == 0 doc, the cross-doc duplicated span the window dedup
# must find. `_TOK2_SQL` reproduces it exactly in the DuckDB oracles.
_TOK2_N = "(doc_id % 29) + 6"
_TOK2_SQL = (
    f"list_transform(range(0, {_TOK2_N}), i -> CAST("
    "CASE WHEN doc_id % 5 = 0 AND i >= 2 AND i < 12 THEN "
    + _H32.format(x="CAST(777000 + i AS VARCHAR)")
    + " % 50000 ELSE "
    + _H32.format(x="CAST(doc_id * 1000003 + i AS VARCHAR)")
    + " % 50000 END AS INTEGER))"
)


def _tok_docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 29 + 6).cast("int")
    motif = (F.col("doc_id") % 5 == 0)

    def tokval(i):
        base = D.portable_hash32(F.col("doc_id") * 1000003 + i.cast("long")) % 50000
        mot = D.portable_hash32(F.lit(777000) + i.cast("long")) % 50000
        return F.when(motif & (i >= 2) & (i < 12), mot).otherwise(base).cast("int")

    toks = F.transform(F.sequence(F.lit(0), n - 1), tokval)
    return d.select("doc_id", "source", n.alias("n_tok"), toks.alias("tokens"))
