"""`when`-gated filter compilation (DatasetCompiler §splitDataset analog):
row-wise ops must compile to ONE conditional projection (single source
scan), multiplicity ops fall back to filter+union over a persisted input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_spark.plans.runner import apply_filters
from logstash_spark.plans.spec import FilterSpec, PipelineSpec


def _spec(filters):
    return PipelineSpec(name="t", filters=filters, routes={})


def _scan_count(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")


def test_gated_rowwise_op_scans_source_once(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha beta", "app"), (2, "gamma delta", "web"), (3, "x", "app")],
        ["id", "msg", "source"],
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = _spec([
        FilterSpec(
            op="mutate", conf={"uppercase": ["msg"]}, when='[source] == "app"'
        )
    ])
    out = apply_filters(df, spec)
    assert _scan_count(out) == 1  # single projection, no split+union re-scan
    rows = {r["id"]: r["msg"] for r in out.collect()}
    assert rows == {1: "ALPHA BETA", 2: "gamma delta", 3: "X"}


def test_gated_op_new_columns_null_on_false_branch(spark):
    df = spark.createDataFrame(
        [("a=1 b=2", "app"), ("a=9 b=8", "web")], ["m", "source"]
    )
    spec = _spec([
        FilterSpec(
            op="kv", conf={"field": "m", "include_keys": ["a", "b"]},
            when='[source] == "app"',
        )
    ])
    out = apply_filters(df, spec).collect()
    by_src = {r["source"]: r for r in out}
    assert by_src["app"]["a"] == "1" and by_src["app"]["b"] == "2"
    assert by_src["web"]["a"] is None and by_src["web"]["b"] is None


def test_gate_condition_frozen_before_op_overwrites_field(spark):
    """The gate must evaluate against the PRE-op value even when the op
    overwrites the very column the condition references."""
    df = spark.createDataFrame([("app",), ("web",)], ["source"])
    spec = _spec([
        FilterSpec(
            op="mutate", conf={"replace": {"source": "SEEN"}},
            when='[source] == "app"',
        )
    ])
    vals = sorted(r["source"] for r in apply_filters(df, spec).collect())
    assert vals == ["SEEN", "web"]


def test_gated_multiplicity_op_filter_union_semantics(spark):
    """Row-multiplicity ops (clone) cannot be a projection: the fallback
    filter+union path must persist the input and produce correct rows."""
    df = spark.createDataFrame(
        [(1, "app"), (2, "web")], ["id", "source"]
    ).withColumn("type", F.lit("orig"))
    tracker = []
    spec = _spec([
        FilterSpec(op="clone", conf={"types": ["copy"]}, when='[source] == "app"')
    ])
    out = apply_filters(df, spec, tracker).collect()
    assert len(tracker) == 1  # input persisted before the split
    for t in tracker:
        t.unpersist()
    got = sorted((r["id"], r["type"]) for r in out)
    assert got == [(1, "copy"), (1, "orig"), (2, "orig")]


def test_gated_rename_keeps_old_column_for_false_branch(spark):
    """mutate rename under a gate: renamed column for matching rows, the
    ORIGINAL column survives (null on the true branch) for the rest —
    exactly what the filter+union split would produce."""
    df = spark.createDataFrame([(1, "app", "x"), (2, "web", "y")],
                               ["id", "source", "old"])
    spec = _spec([
        FilterSpec(op="mutate", conf={"rename": {"old": "new"}},
                   when='[source] == "app"')
    ])
    rows = {r["id"]: r for r in apply_filters(df, spec).collect()}
    assert rows[1]["new"] == "x" and rows[1]["old"] is None
    assert rows[2]["new"] is None and rows[2]["old"] == "y"


def test_nested_gates_still_single_scan(spark, tmp_path):
    src = str(tmp_path / "src2")
    spark.createDataFrame(
        [(i, f"m{i}", "app" if i % 2 else "web") for i in range(10)],
        ["id", "msg", "source"],
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = _spec([
        FilterSpec(op="mutate", conf={"uppercase": ["msg"]}, when='[source] == "app"'),
        FilterSpec(op="mutate", conf={"add_field": {"tier": "hot"}}, when='[id] > 5'),
        FilterSpec(op="fingerprint", conf={"source": "msg"}, when='[source] == "web"'),
    ])
    out = apply_filters(df, spec)
    assert _scan_count(out) == 1
    assert out.count() == 10


def test_fileless_input_run_id_tracks_content(spark):
    """A generator input with a different count must get a different
    run_id (file-less inputs hash the normalized analyzed plan), while
    identical rebuilds map to the same id (resume key)."""
    from logstash_spark.plans.runner import _input_fingerprint
    from logstash_spark.sources.gen import input_sequences

    spec = _spec([])
    a1 = _input_fingerprint(input_sequences(spark, 100), spec)
    a2 = _input_fingerprint(input_sequences(spark, 100), spec)
    b = _input_fingerprint(input_sequences(spark, 200), spec)
    assert a1 == a2
    assert a1 != b


def _lookup(spark, build, rows, names):
    import pyarrow as pa

    from logstash_spark.operators.enrich import static_lookup_df

    if build == "static_lookup_df":
        return static_lookup_df(spark, rows, names)
    if build == "arrow_table":
        return spark.createDataFrame(
            pa.Table.from_pylist([dict(zip(names, r)) for r in rows])
        )
    return spark.createDataFrame(rows, names)  # a parallelized LogicalRDD


_EVEN_ODD = [("0", "even"), ("1", "odd")]


@pytest.mark.parametrize("build", ["static_lookup_df", "arrow_table", "rdd"])
def test_fileless_input_joined_to_local_lookup_warns(spark, build):
    """A LocalRelation canonicalizes without its rows, so the run_id
    hashes each LocalRelation's rows: a file-less input joined to a
    `static_lookup_df` dictionary (or any Arrow-built frame) gets an id
    that follows the dictionary's contents, with no warning. An RDD of
    local rows exposes no rows to hash, so that case still warns that
    resume cannot see its data."""
    import warnings

    from logstash_spark.plans.runner import _input_fingerprint

    names = ["k", "parity"]
    ids = spark.range(10).withColumn("k", (F.col("id") % 2).cast("string"))

    def run_id(rows):
        return _input_fingerprint(
            ids.join(_lookup(spark, build, rows, names), "k"), _spec([])
        )

    if build == "rdd":
        with pytest.warns(UserWarning, match="cannot see the DATA"):
            run_id(_EVEN_ODD)
        return
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        a1, a2 = run_id(_EVEN_ODD), run_id(list(_EVEN_ODD))
        b = run_id([("0", "even"), ("1", "ODD")])
    assert a1 == a2
    assert a1 != b


def test_file_backed_input_run_id_keys_on_lookup_contents(spark, tmp_path):
    """The flagship shape: file-backed events joined to an in-memory
    dictionary before `run_pipeline`. A changed dictionary over the same
    files must change the run_id, or a rerun resumes against sinks
    written with the old mappings."""
    from logstash_spark.plans.runner import _input_fingerprint

    src = str(tmp_path / "events")
    spark.range(10).withColumn(
        "k", (F.col("id") % 2).cast("string")
    ).write.parquet(src)

    def run_id(rows):
        events = spark.read.parquet(src)
        lookup = _lookup(spark, "static_lookup_df", rows, ["k", "parity"])
        return _input_fingerprint(events.join(lookup, "k"), _spec([]))

    assert run_id(_EVEN_ODD) == run_id(list(_EVEN_ODD))
    assert run_id(_EVEN_ODD) != run_id([("0", "even"), ("1", "ODD")])


def test_gated_grok_skips_false_branch_rows(spark):
    """Under a `when` gate the op reads `CASE WHEN gate THEN src END`, so
    grok's regexp_replace sees null (and does no regex work) on rows the
    gate rejects; the restore from the snapshots keeps results equal."""
    import re

    df = spark.createDataFrame(
        [(1, "a", "GET /x 200"), (2, "b", "GET /y 404"), (3, "a", "junk")],
        ["id", "type", "message"],
    )
    spec = _spec([
        FilterSpec(
            op="grok",
            conf={"match": {"message": "%{WORD:verb} %{NOTSPACE:path} %{INT:code:int}"}},
            when='[type] == "a"',
        ),
        FilterSpec(
            op="dissect", conf={"field": "message", "mapping": "%{v} %{rest}"},
            when='[type] == "b"',
        ),
    ])
    out = apply_filters(df, spec)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    read = re.search(r"regexp_replace\((message#\d+),", plan).group(1)
    assert re.search(
        r"CASE WHEN _when_gate#\d+ THEN message#\d+ END AS " + read + r"\b", plan
    ), plan
    rows = {r["id"]: r.asDict() for r in out.collect()}
    assert rows[1] == {
        "id": 1, "type": "a", "message": "GET /x 200", "tags": [],
        "verb": "GET", "path": "/x", "code": 200, "v": None, "rest": None,
    }
    assert rows[2] == {
        "id": 2, "type": "b", "message": "GET /y 404", "tags": [],
        "verb": None, "path": None, "code": None, "v": "GET", "rest": "/y 404",
    }
    assert rows[3]["message"] == "junk"
    assert rows[3]["tags"] == ["_grokparsefailure"]
    assert rows[3]["verb"] is None and rows[3]["v"] is None


def test_gated_type_changing_op_falls_back_to_split(spark):
    """A gated op that rewrites an existing column's TYPE (date with
    target==field, string→timestamp) must not compile to the conditional
    projection — the when/otherwise restore would cast the false branch's
    original string to timestamp (ANSI runtime error / silent nulls).
    The filter+union fallback coerces to the common type instead."""
    df = spark.createDataFrame(
        [(1, "app", "2024-01-02 03:04:05"), (2, "web", "not a date at all!")],
        ["id", "source", "ts"],
    )
    tracker = []
    spec = _spec([
        FilterSpec(
            op="date",
            conf={"field": "ts", "formats": ["yyyy-MM-dd HH:mm:ss"], "target": "ts"},
            when='[source] == "app"',
        )
    ])
    rows = {r["id"]: r for r in apply_filters(df, spec, tracker).collect()}
    assert len(tracker) == 1  # fell back to the persisted split path
    for t in tracker:
        t.unpersist()
    assert str(rows[1]["ts"]).startswith("2024-01-02 03:04:05")
    # false branch keeps the original value verbatim (no cast, no null)
    assert rows[2]["ts"] == "not a date at all!"


def test_gated_de_dot_on_dotted_columns(spark):
    """The de_dot-under-a-gate case end-to-end: dotted column renamed on
    the true branch, original survives for the false branch; the
    positional _pre_ snapshots are immune to de_dot's name rewriting."""
    df = spark.createDataFrame([(1, "app", "x"), (2, "web", "y")],
                               ["id", "source", "a.b"])
    spec = _spec([
        FilterSpec(op="de_dot", conf={}, when='[source] == "app"')
    ])
    rows = {r["id"]: r for r in apply_filters(df, spec).collect()}
    assert rows[1]["a_b"] == "x" and rows[1]["a.b"] is None
    assert rows[2]["a_b"] is None and rows[2]["a.b"] == "y"
