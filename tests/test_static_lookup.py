"""`static_lookup_df`: driver-side dictionaries built from Python rows
are Arrow-backed LocalRelations with exactly the schema and rows of
`createDataFrame(list)`, so broadcasting them runs no Python worker."""

from __future__ import annotations

import pytest

from logstash_spark.operators.enrich import geoip_blocks, static_lookup_df, translate
from logstash_spark.plans.flagship import build_flagship
from logstash_spark.sources.gen import input_sequences


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan


def test_flagship_plan_holds_local_relation_not_rdd(spark):
    _assert_local(build_flagship(input_sequences(spark, 100)))


def test_translate_mapping_plan_holds_local_relation_not_rdd(spark):
    df = spark.range(10).selectExpr("cast(id % 3 as string) AS code")
    out = translate(df, "code", "label", {"0": "zero", "1": "one"}, fallback="other")
    _assert_local(out)
    got = {r["code"]: r["label"] for r in out.distinct().collect()}
    assert got == {"0": "zero", "1": "one", "2": "other"}


def test_translate_dictionary_path_plan_holds_local_relation(spark, tmp_path):
    path = tmp_path / "codes.csv"
    path.write_text("0,zero\n1,one\n")
    df = spark.range(4).selectExpr("cast(id as string) AS code")
    out = translate(df, "code", "label", None, dictionary_path=str(path))
    _assert_local(out)
    assert sorted(out.collect()) == sorted(
        [("0", "zero"), ("1", "one"), ("2", None), ("3", None)]
    )


def test_geoip_blocks_is_local_relation(spark):
    blocks = geoip_blocks(spark, [("10.0.0.0/8", {"country_code2": "US", "asn": 7})])
    _assert_local(blocks)
    row = blocks.collect()[0]
    assert (row["net_start"], row["net_end"]) == (167772160, 184549375)
    assert row["country_code2"] == "US" and row["asn"] == 7 and row["latitude"] is None


@pytest.mark.parametrize(
    "rows",
    [
        [("web", "edge", 1), ("app", "service", 2)],  # strings + long
        [("a", None), ("b", "x")],  # a None-holding column
        [("a", 1.5), ("b", -2.0)],  # double
        [("a", [1, 2]), ("b", [])],  # array
        [("a", {"x": 1}), ("b", {"y": 2, "z": None})],  # dict → map
    ],
    ids=["string", "none", "float", "list", "map"],
)
def test_schema_and_rows_match_create_dataframe(spark, rows):
    names = ["k", "v", "w"][: len(rows[0])]
    want = spark.createDataFrame(list(rows), schema=list(names))
    got = static_lookup_df(spark, rows, names)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_explicit_schema_rows_are_verified(spark):
    # createDataFrame rejects a string in a long column; so does the helper
    with pytest.raises(Exception, match="LongType"):
        static_lookup_df(spark, [("x",)], "a long")
