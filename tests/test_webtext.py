"""Unit tests for operators/webtext.py (HTML→text, mojibake repair)."""

import pytest
from pyspark.sql import functions as F

from logstash_spark.operators import webtext as W

SF = "/root/testdata/sf0.001"


def _one(spark, html, col):
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_html_basic_extraction(spark):
    html = (
        "<html><head><title>T &amp; t</title><style>a{b}</style>"
        '<script>var x="<p>hidden</p>";</script></head>'
        "<body><!-- no --><h1>Head</h1><p>one &lt;two&gt;</p>"
        "<div>three</div></body></html>"
    )
    text = _one(spark, html, W.html_to_text("html"))
    assert text == "T & t\n\nHead\n\none <two>\n\nthree"
    assert _one(spark, html, W.extract_title("html")) == "T & t"


def test_html_unclosed_and_nested_tags(spark):
    html = "<p>a <b>bold <i>ital</b> tail<br>next"
    text = _one(spark, html, W.html_to_text("html"))
    assert text == "a bold ital tail\nnext"


def test_html_entities_single_pass(spark):
    # &amp;lt; decodes to the TEXT "&lt;", not to "<"
    assert _one(spark, "&amp;lt;", W.html_to_text("html")) == "&lt;"
    assert _one(spark, "x&nbsp;y&#39;s", W.html_to_text("html")) == "x y's"


def test_html_links_and_ratio(spark):
    html = '<a href="a.htm">x</a><a href=\'b.htm\'>y</a><A HREF="c.htm">z</A>'
    links = _one(spark, html, W.extract_links("html"))
    assert links == ["a.htm", "c.htm"]  # single-quoted href not counted
    bp = _one(spark, html, W.markup_ratio_bp("html", W.html_to_text("html")))
    assert 0 < bp < 10000
    assert _one(spark, "plain", W.markup_ratio_bp("html", W.html_to_text("html"))) == 0


def test_html_whitespace_discipline(spark):
    html = "<p>  a   b  </p>\n\n\n<p>c</p><br><br><br><br>d"
    text = _one(spark, html, W.html_to_text("html"))
    assert text == "a b\n\nc\n\nd"  # collapsed runs, capped breaks, no edge \n


def test_mojibake_fix_roundtrip(spark):
    clean = "It’s a “café” — naïve… «über» façade • ™ €5 señora"
    # single-pass corruption (sequential replaces would cascade)
    import re

    inv = {ch: bad for bad, ch in W.MOJIBAKE_PAIRS}
    inv["«"] = "Â«"
    inv["»"] = "Â»"
    rx = re.compile("|".join(re.escape(c) for c in sorted(inv, key=len, reverse=True)))
    dirty = rx.sub(lambda m: inv[m.group(0)], clean)
    assert dirty != clean
    df = spark.createDataFrame([(dirty,)], "t string")
    row = df.select(
        W.fix_mojibake("t").alias("f"), W.mojibake_count("t").alias("n")
    ).collect()[0]
    assert row["f"] == clean
    assert row["n"] >= 10


def test_mojibake_clean_text_untouched(spark):
    clean = "Ordinary prose with é, ü, ñ, “quotes” and em—dash. Ça va?"
    df = spark.createDataFrame([(clean,)], "t string")
    row = df.select(
        W.fix_mojibake("t").alias("f"), W.mojibake_count("t").alias("n")
    ).collect()[0]
    assert row["f"] == clean
    assert row["n"] == 0


def test_mojibake_table_is_byte_algebra():
    # the table must equal the real utf8→cp1252 byte round trip
    for bad, ch in W.MOJIBAKE_PAIRS:
        try:
            assert ch.encode("utf-8").decode("cp1252") == bad
        except UnicodeDecodeError:
            assert len(bad) == len(ch.encode("utf-8"))


def test_webtext_plan_is_pure_catalyst(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.select(
        "doc_id", F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("html")
    )
    out = W.html_extract(pages, "html").select("text", "markup_bp")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_gate_repaired_ok_all_rows(spark):
    # mojibake_fix is driver-folded into html_clean_pipeline (round 5);
    # the sub-gate function remains the direct unit surface.
    from logstash_spark.queries_text import mojibake_fix

    rows = mojibake_fix(spark, SF).agg(
        F.min("repaired_ok").alias("mn"), F.count("*").alias("c")
    ).collect()[0]
    assert rows["mn"] == 1 and rows["c"] > 0


# ---------------------------------------------------------------------------
# anchor extraction / census
# ---------------------------------------------------------------------------


def test_extract_anchors_markup_and_whitespace(spark):
    html = ('<a href="/a"> <b>read</b>  more </a>'
            "<a href='/skip'>s</a>"
            '<A HREF="/b">plain</A>')
    df = spark.createDataFrame([(html,)], "html string")
    rows = df.select(F.explode(W.extract_anchors("html")).alias("a")).collect()
    got = [(r["a"]["href"], r["a"]["text"]) for r in rows]
    assert got == [("/a", "read more"), ("/b", "plain")]


def test_anchor_stats_counts_and_top(spark):
    pages = spark.createDataFrame(
        [
            ('<a href="/t">read more</a><a href="/t">read more</a>',),
            ('<a href="/t">alpha</a><a href="/u">solo</a>',),
        ],
        "html string",
    )
    rows = {r["href"]: r for r in W.anchor_stats(pages, "html").collect()}
    assert rows["/t"]["n_refs"] == 3
    assert rows["/t"]["top_text"] == "read more"
    assert rows["/u"]["n_refs"] == 1 and rows["/u"]["top_text"] == "solo"


def test_anchor_stats_tie_breaks_lexicographically(spark):
    pages = spark.createDataFrame(
        [('<a href="/t">zzz</a><a href="/t">aaa</a>',)], "html string"
    )
    row = W.anchor_stats(pages, "html").collect()[0]
    assert row["top_text"] == "aaa" and row["n_refs"] == 2
