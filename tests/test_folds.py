"""Registry fold mechanism (logstash_spark/queries_folds.py):
index-join folds must be exactly as strong as running their sub-gates
separately — every sub value appears in the fold output, alignment is
deterministic, and a drifted sub schema fails loudly.
"""

from __future__ import annotations

import pytest

from logstash_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"


def _fold_items():
    out = []
    for name, fn in QUERIES.items():
        d = fn.__defaults__
        if (
            d
            and isinstance(d[0], list)
            and d[0]
            and isinstance(d[0][0], tuple)
            and len(d[0][0]) == 5
        ):
            out.append((name, d[0]))
    return out


FOLDS = _fold_items()


def test_fold_inventory_and_registry_consistency():
    assert len(FOLDS) == 34
    sub_names = [s for _, subs in FOLDS for (s, *_rest) in subs]
    assert len(sub_names) == len(set(sub_names)) == 78
    # subs were popped: never both a member and a live registry entry
    for s in sub_names:
        assert s not in QUERIES and s not in ORACLES, s
    # every fold has an oracle and unique prefixes within itself
    for name, subs in FOLDS:
        assert name in ORACLES
        pfx = [p for (_s, _f, _sql, p, _c) in subs]
        assert len(set(pfx)) == len(pfx), (name, pfx)


def test_fold_oracle_mentions_every_sub_column():
    for name, subs in FOLDS:
        sql = ORACLES[name]
        for _s, _f, _sub_sql, pfx, cols in subs:
            for c in cols:
                assert f"{pfx}{c}" in sql, (name, pfx, c)


def test_fold_contains_exact_sub_values(spark):
    """The fold output must hold the sub-result's full value multiset
    under the prefix rename (index-join folds summarize nothing)."""
    name, subs = next(f for f in FOLDS if f[0] == "vocab_scaling_laws")
    fold_df = QUERIES[name](spark, SF)
    for _s, fn, _sql, pfx, cols in subs:
        sub_rows = sorted(
            tuple(r[c] for c in cols) for r in fn(spark, SF).collect()
        )
        got = sorted(
            tuple(r[pfx + c] for c in cols)
            for r in fold_df.collect()
            if r["seq"] <= len(sub_rows)
        )
        assert got == sub_rows, (name, _s)


def test_register_folds_the_dicts_it_is_given():
    """`register` works on the dicts passed in: a fresh collection of the
    gate modules folds to the registry's names and oracle SQL, and the
    global registry is left alone."""
    from logstash_spark.queries import GATE_MODULES, collect
    from logstash_spark.queries_folds import register

    before = list(QUERIES)
    queries, oracles = collect(GATE_MODULES)
    assert "image_header_meta" in queries
    register(queries, oracles)
    assert set(queries) == set(QUERIES)
    assert oracles == {n: ORACLES[n] for n in oracles}
    assert list(QUERIES) == before


def test_fold_schema_drift_fails_loudly(spark):
    from logstash_spark.queries_folds import fold

    queries = {"_drift_probe": lambda s, d: s.range(1),
               "_drift_probe2": lambda s, d: s.range(1)}
    oracles = {"_drift_probe": "SELECT 1 AS id",
               "_drift_probe2": "SELECT 1 AS id"}
    fold(
        queries, oracles,
        "_drift_fold",
        [("_drift_probe", "a_", ["wrong_col"]),
         ("_drift_probe2", "b_", ["id"])],
        "test",
    )
    assert list(queries) == list(oracles) == ["_drift_fold"]
    with pytest.raises(ValueError, match="_drift_probe.*wrong_col"):
        queries["_drift_fold"](spark, SF)


def test_fold_schema_guard_survives_optimize_flag():
    """`python -O` strips `assert`; the drift guard must still raise.
    The sub-gates return stand-in frames (only `.columns` is read before
    the guard), so the child process needs no Spark session, and it
    imports `queries_folds` alone: `fold` needs no registry module."""
    import subprocess
    import sys

    probe = """
import sys, types
from logstash_spark.queries_folds import fold
queries, oracles = {}, {}
for sub, cols in (("_o_a", ["id", "extra"]), ("_o_b", ["id"])):
    queries[sub] = lambda s, d, _c=cols: types.SimpleNamespace(columns=_c)
    oracles[sub] = "SELECT 1 AS id"
fold(queries, oracles, "_o_fold",
     [("_o_a", "a_", ["id"]), ("_o_b", "b_", ["id"])], "probe")
if "logstash_spark.queries" in sys.modules:  # `assert` is stripped here
    sys.exit("fold imported the registry")
try:
    queries["_o_fold"](None, "")
except ValueError as e:
    print("guarded:", e)
"""
    out = subprocess.run(
        [sys.executable, "-O", "-c", probe],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "guarded:" in out.stdout and "_o_a" in out.stdout, out.stdout
