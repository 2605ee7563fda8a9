"""Golden tests for mutate / date / kv / dissect / translate / routing
conditionals — behaviors ported from the respective plugin spec suites
(mutate_spec.rb, date_spec.rb, kv_spec.rb, dissect tests, translate
spec — SURVEY.md §5.1, FIXTURES.md F4).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import Row

from logstash_spark.operators import mutate as M
from logstash_spark.operators.parse import date, dissect, kv
from logstash_spark.operators.enrich import translate
from logstash_spark.operators.multiplicity import clone, drop_events, split_events
from logstash_spark.operators.route import compile_condition


# --- mutate ---------------------------------------------------------------


def test_convert_matrix(spark):
    df = spark.createDataFrame(
        [Row(i="42", f="3.5", b="yes", b2="F", arr=["1", "2"])]
    )
    out = M.mutate(
        df, convert={"i": "integer", "f": "float", "b": "boolean", "b2": "boolean", "arr": "integer"}
    ).collect()[0]
    assert out["i"] == 42 and out["f"] == 3.5
    assert out["b"] is True and out["b2"] is False
    assert out["arr"] == [1, 2]  # element-wise array convert


def test_convert_integer_truncates_like_ruby_to_i(spark):
    df = spark.createDataFrame([Row(x="1.9")])
    assert M.convert(df, {"x": "integer"}).collect()[0]["x"] == 1


def test_gsub_split_join_roundtrip(spark):
    df = spark.createDataFrame([Row(s="a,b,,c")])
    out = M.mutate(df, gsub=[("s", ",,", ",")], split={"s": ","})
    assert out.collect()[0]["s"] == ["a", "b", "c"]
    back = M.join_field(out, "s", "-").collect()[0]["s"]
    assert back == "a-b-c"


def test_rename_copy_coerce_strip_case(spark):
    df = spark.createDataFrame([("  HeLLo  ", None)], "a string, b string")
    out = M.mutate(
        df,
        coerce={"b": "dflt"},
        strip=["a"],
        lowercase=["a"],
        copy={"a": "a2"},
    ).collect()[0]
    assert out["a"] == "hello"
    assert out["a2"] == "hello"
    assert out["b"] == "dflt"


def test_mutate_fixed_order_rename_makes_later_ops_noop(spark):
    """Logstash mutate executes in a FIXED op order (rename before
    lowercase); ops on now-missing fields are silent no-ops."""
    df = spark.createDataFrame([("ABC",)], "a string")
    out = M.mutate(df, rename={"a": "renamed"}, lowercase=["a"]).collect()[0]
    assert out["renamed"] == "ABC"  # lowercase ran after rename → no-op


def test_update_only_existing(spark):
    df = spark.createDataFrame([("old", None)], "x string, y string")
    out = M.mutate(df, update={"x": "new", "y": "filled", "zzz": "ignored"}).collect()[0]
    assert out["x"] == "new"
    assert out["y"] is None  # update leaves null (unset) fields alone
    assert "zzz" not in out.asDict()


def test_add_tag_and_sprintf_add_field(spark):
    df = spark.createDataFrame([Row(host="h1", n=3)])
    out = M.mutate(
        df, add_field={"label": "host=%{host} n=%{n}"}, add_tag=["seen"]
    ).collect()[0]
    assert out["label"] == "host=h1 n=3"
    assert out["tags"] == ["seen"]


# --- date ------------------------------------------------------------------


def test_date_multi_format_first_wins(spark):
    df = spark.createDataFrame(
        [
            Row(t="10/Oct/2000:13:55:36 -0700"),
            Row(t="2026-01-02T03:04:05Z"),
            Row(t="1700000000123"),
            Row(t="garbage"),
        ]
    )
    out = date(
        df, "t", ["dd/MMM/yyyy:HH:mm:ss Z", "ISO8601", "UNIX_MS"], target="@timestamp"
    )
    rows = {r["t"]: r for r in out.collect()}
    assert rows["10/Oct/2000:13:55:36 -0700"]["@timestamp"] == datetime(2000, 10, 10, 20, 55, 36)
    assert rows["2026-01-02T03:04:05Z"]["@timestamp"] == datetime(2026, 1, 2, 3, 4, 5)
    assert rows["1700000000123"]["@timestamp"] == datetime(
        2023, 11, 14, 22, 13, 20, 123000
    )
    assert rows["garbage"]["@timestamp"] is None
    assert rows["garbage"]["tags"] == ["_dateparsefailure"]
    assert rows["2026-01-02T03:04:05Z"]["tags"] == []


# --- kv ---------------------------------------------------------------------


def test_kv_include_keys(spark):
    df = spark.createDataFrame([Row(m="a=1 b=2 c=x y")])
    out = kv(df, "m", include_keys=["a", "b"]).collect()[0]
    assert out["a"] == "1" and out["b"] == "2"
    assert "c" not in out.asDict()


def test_kv_target_map_and_trim(spark):
    df = spark.createDataFrame([Row(m="k1=' v1';k2='v2 '")])
    out = kv(df, "m", field_split=";", target="kvmap", trim_value="' ").collect()[0]
    assert out["kvmap"]["k1"] == "v1" and out["kvmap"]["k2"] == "v2"


# --- dissect -----------------------------------------------------------------


def test_dissect_append_and_skip(spark):
    df = spark.createDataFrame([Row(m="apr 12 INFO hello world")])
    out = dissect(df, "m", "%{ts} %{+ts} %{level} %{msg}").collect()[0]
    assert out["ts"] == "apr 12"
    assert out["level"] == "INFO"
    assert out["msg"] == "hello world"
    assert out["tags"] == []


def test_dissect_failure_tag(spark):
    df = spark.createDataFrame([Row(m="no-delimiters-here")])
    out = dissect(df, "m", "%{a}|%{b}").collect()[0]
    assert out["a"] is None
    assert out["tags"] == ["_dissectfailure"]


def test_dissect_skip_field(spark):
    df = spark.createDataFrame([Row(m="x y z")])
    out = dissect(df, "m", "%{?skip} %{keep} %{rest}").collect()[0]
    assert "skip" not in out.asDict()
    assert out["keep"] == "y" and out["rest"] == "z"


def test_dissect_into_its_source_is_not_tagged(spark):
    """The match flag comes from the pack, read before the capture
    overwrites the source field."""
    df = spark.createDataFrame([Row(message="x y")])
    out = dissect(df, "message", "%{a} %{message}").collect()[0]
    assert (out["a"], out["message"], out["tags"]) == ("x", "y", [])


def test_dissect_failure_keeps_existing_fields(spark):
    """A failed dissect passes the event on untouched: every column it
    captures into keeps its value; a capture new to the frame is null."""
    df = spark.createDataFrame(
        [Row(message="nospace", a="before"), Row(message=None, a="before")]
    )
    rows = dissect(df, "message", "%{a} %{message} %{new}").collect()
    assert [(r["message"], r["a"], r["new"]) for r in rows] == [
        ("nospace", "before", None), (None, "before", None),
    ]
    assert [r["tags"] for r in rows] == [["_dissectfailure"]] * 2


# --- translate ----------------------------------------------------------------


def test_translate_exact_hit_miss_fallback(spark):
    df = spark.createDataFrame([Row(code="a"), Row(code="zz")])
    out = {
        r["code"]: r["label"]
        for r in translate(
            df, "code", "label", {"a": "alpha", "b": "bravo"}, fallback="unknown"
        ).collect()
    }
    assert out == {"a": "alpha", "zz": "unknown"}


def test_translate_regex_mode(spark):
    df = spark.createDataFrame([Row(ua="Mozilla/5.0 Chrome"), Row(ua="curl/8.0")])
    out = {
        r["ua"]: r["class"]
        for r in translate(
            df,
            "ua",
            "class",
            {"Chrome": "browser", "curl": "cli"},
            regex=True,
            fallback="other",
        ).collect()
    }
    assert out["Mozilla/5.0 Chrome"] == "browser"
    assert out["curl/8.0"] == "cli"


# --- multiplicity ---------------------------------------------------------------


def test_clone_multiplicity(spark):
    df = spark.createDataFrame([Row(id=1, type="orig")])
    out = clone(df, ["copyA", "copyB"])
    assert out.count() == 3
    assert sorted(r["type"] for r in out.collect()) == ["copyA", "copyB", "orig"]


def test_split_events(spark):
    df = spark.createDataFrame([Row(id=1, items=["a", "b", "c"]), Row(id=2, items=[])])
    out = split_events(df, "items")
    assert out.count() == 3  # empty-array row cancelled, like logstash


def test_drop_deterministic_percentage(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    n1 = drop_events(df, percentage=50, key="k").count()
    n2 = drop_events(df, percentage=50, key="k").count()
    assert n1 == n2  # deterministic, not rand()
    assert 350 < n1 < 650


# --- conditionals (truth-table fixtures, FIXTURES.md F4) -------------------------


@pytest.mark.parametrize(
    "expr,expected",
    [
        ('[level] == "ERROR"', [True, False]),
        ('[level] != "ERROR"', [False, True]),
        ("[n] > 5", [True, False]),
        ("[n] <= 3", [False, True]),
        ('[msg] =~ /wor.d/', [True, False]),
        ('[msg] =~ "worl?d"', [True, False]),
        ('"ERR" in [level]', [True, False]),  # substring on string field
        ('"x" in [tags]', [True, False]),  # membership on array field
        ('[level] in ["ERROR", "FATAL"]', [True, False]),
        ('[level] == "ERROR" and [n] > 5', [True, False]),
        ('[level] == "ERROR" or [n] == 2', [True, True]),
        ('[level] == "ERROR" nand [n] > 5', [False, True]),
        ('[level] == "ERROR" xor [n] == 2', [True, True]),
        ('!([level] == "ERROR")', [False, True]),
        ("[missing_field]", None),  # truthiness of absent → error at compile? no: null col
    ],
)
def test_condition_truth_table(spark, expr, expected):
    df = spark.createDataFrame(
        [
            Row(level="ERROR", n=10, msg="world", tags=["x"]),
            Row(level="INFO", n=2, msg="mars", tags=[]),
        ]
    )
    if expected is None:
        import pyspark.errors

        with pytest.raises(Exception):
            df.select(compile_condition(expr, df)).collect()
        return
    got = [bool(r[0]) for r in df.select(compile_condition(expr, df).alias("c")).collect()]
    assert got == expected, expr


def test_kv_duplicates_modes(spark):
    """logstash-filter-kv allow_duplicate_values analog: 'array' collects
    every value in order, 'unique_array' dedupes, 'last' is last-wins —
    all duplicate-key-safe (str_to_map would throw DUPLICATED_MAP_KEY)."""
    df = spark.createDataFrame([("a=1 b=2 a=3 a=1 junk",)], ["line"])
    last = kv(df, "line", target="m").collect()[0]["m"]
    assert last == {"a": "1", "b": "2"} or last["a"] == "1"  # last dup value is 1
    arr = kv(df, "line", duplicates="array", target="m").collect()[0]["m"]
    assert arr["a"] == ["1", "3", "1"] and arr["b"] == ["2"]
    uniq = kv(df, "line", duplicates="unique_array", target="m").collect()[0]["m"]
    assert uniq["a"] == ["1", "3"]
    assert "junk" not in arr  # tokens without a separator are skipped


def test_kv_transform_and_exclude(spark):
    df = spark.createDataFrame([("Key=VaLue other=x",)], ["line"])
    m = kv(
        df, "line", transform_key="lowercase", transform_value="capitalize",
        exclude_keys=["other"], target="m",
    ).collect()[0]["m"]
    assert m == {"key": "Value"}


def test_kv_recursive_one_level(spark):
    """recursive=True re-parses pair-shaped values one level and flattens
    with dotted parent keys (relational analog of the nested-hash form)."""
    df = spark.createDataFrame([("top=1 child=x=9",)], ["line"])
    m = kv(df, "line", recursive=True, target="m").collect()[0]["m"]
    assert m == {"top": "1", "child.x": "9"}
    import pytest as _pt

    with _pt.raises(ValueError):
        kv(df, "line", recursive=True, duplicates="array")


class TestDatePerEventTimezone:
    def test_sprintf_timezone_named_zones(self, spark):
        from logstash_spark.operators.parse import date as date_op

        df = spark.createDataFrame(
            [
                (1, "2026-01-15 12:00:00", "America/New_York"),  # EST -5
                (2, "2026-01-15 12:00:00", "Asia/Tokyo"),        # +9
                (3, "2026-01-15 12:00:00", "UTC"),
            ],
            "id long, dstr string, tz string",
        )
        out = date_op(
            df, "dstr", ["yyyy-MM-dd HH:mm:ss"], timezone="%{tz}", target="p"
        )
        got = {
            r["id"]: r["epoch"]
            for r in out.selectExpr("id", "unix_timestamp(p) AS epoch").collect()
        }
        base = got[3]
        assert got[1] == base + 5 * 3600    # NY noon is 5h later in UTC
        assert got[2] == base - 9 * 3600    # Tokyo noon is 9h earlier

    def test_static_timezone_still_string_path(self, spark):
        from logstash_spark.operators.parse import date as date_op

        df = spark.createDataFrame([(1, "2026-06-01 00:00:00")], "id long, dstr string")
        out = date_op(df, "dstr", ["yyyy-MM-dd HH:mm:ss"], timezone="+03:00", target="p")
        epoch = out.selectExpr("unix_timestamp(p) AS e").first()["e"]
        utc = date_op(df, "dstr", ["yyyy-MM-dd HH:mm:ss"], target="p")
        assert epoch == utc.selectExpr("unix_timestamp(p) AS e").first()["e"] - 3 * 3600


def test_truncate_byte_semantics(spark):
    from logstash_spark.functions import truncate

    df = spark.createDataFrame(
        [
            (1, "hello world"),      # ASCII: plain char cap
            (2, "héllo"),            # é = 2 bytes; cut lands mid-char
            (3, "日本語テスト"),      # 3 bytes/char
            (4, None),
        ],
        "id bigint, msg string",
    )
    got = {r.id: r.msg for r in truncate(df, ["msg"], 7).collect()}
    assert got[1] == "hello w"
    # h(1) é(2) l l o = 6 bytes ≤ 7 — whole string survives
    assert got[2] == "héllo"
    # 7 bytes = 2 complete chars (6 bytes) + 1 dangling byte → snapped
    assert got[3] == "日本"
    assert got[4] is None


def test_truncate_cut_inside_multibyte(spark):
    from logstash_spark.functions import truncate

    df = spark.createDataFrame([(1, "aaéz")], "id bigint, msg string")
    # bytes: a a c3 a9 z — cap 3 cuts é in half → snap back to "aa"
    got = truncate(df, ["msg"], 3).collect()[0].msg
    assert got == "aa"
