"""Golden grok tests, ported behaviors from logstash-filter-grok's spec
suite (grok_spec.rb — SURVEY.md §5.1): apache combined log, syslog line,
failure tagging, break_on_match, type casts. The single-pass native path
is checked against Python `re` over the same compiled pattern, including
sources that hold the path's own pack sentinels. Each golden case runs
twice: `native` checks the golden values, `pandas` also checks every
capture and the tags, row by row, against a pandas `Series.str.extract`
reference over the same compiled patterns.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Row

from logstash_spark.grok import compile_pattern, to_python_regex
from logstash_spark.operators.parse import grok

APACHE = (
    '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" '
    '200 2326 "http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
)
SYSLOG = "Mar 16 00:01:25 evita postfix/smtpd[1713]: connect from camomile.cloud9.net[168.100.1.3]"


def _pandas_reference(
    pdf: pd.DataFrame,
    field=None,
    match=None,
    *,
    pattern_definitions=None,
    break_on_match=True,
    max_input_length=None,
    tag_on_failure="_grokparsefailure",
    tag_on_timeout="_groktimeout",
):
    """Grok over a pandas frame: a search-anchored `str.match` for the
    match flag and one `str.extract` per (field, pattern) pair. A capture takes the
    first non-empty value, in pair then group order, from the pairs that
    bind it: the first matching pair under break_on_match, every
    matching pair otherwise; a capture that names an existing column
    keeps the column's value on rows no pair binds it. Returns
    ({capture: values}, tags)."""
    if isinstance(match, dict):
        pairs = [
            (f, p) for f, ps in match.items()
            for p in ([ps] if isinstance(ps, str) else ps)
        ]
    else:
        pairs = [(field, p) for p in ([match] if isinstance(match, str) else match)]
    caps: dict[str, pd.Series] = {}
    casts: dict[str, str | None] = {}
    any_hit = pd.Series(False, index=pdf.index)
    over = pd.Series(False, index=pdf.index)
    bound: dict[str, pd.Series] = {}
    for f, pat in pairs:
        c = compile_pattern(pat, pattern_definitions)
        rx = to_python_regex(c)
        src = pdf[f]
        if max_input_length is not None:
            big = src.str.len() > max_input_length
            over |= big
            src = src.where(~big)
        hit = src.str.match(f"(?s:.*?)(?:{rx})", na=False)
        bind = hit & ~any_hit if break_on_match else hit
        ext = src.str.extract(rx) if c.captures else None
        for cap in c.captures:
            col = caps.setdefault(cap.name, pd.Series(None, index=pdf.index, dtype=object))
            casts.setdefault(cap.name, cap.cast)
            bound[cap.name] = bound.get(cap.name, False) | bind
            vals = ext[cap.group].where(ext[cap.group] != "")
            fill = bind & col.isna() & vals.notna()
            col[fill] = vals[fill]
        any_hit |= hit
    for n, col in caps.items():  # an existing field no match binds keeps its value
        if n in pdf:
            col[~bound[n]] = pdf[n][~bound[n]]
    tags = []
    for i in pdf.index:
        t = list(pdf.at[i, "tags"]) if "tags" in pdf and pdf.at[i, "tags"] is not None else []
        if over[i]:
            t.append(tag_on_timeout)
        elif not any_hit[i]:
            t.append(tag_on_failure)
        tags.append(list(dict.fromkeys(t)))
    to = {"int": int, "float": float}
    return {
        n: [None if pd.isna(v) else to.get(casts[n], str)(v) for v in col]
        for n, col in caps.items()
    }, tags


def _grok(method, df, field=None, match=None, **kw):
    """grok(df, ...); under `pandas` its captures and tags must also
    equal `_pandas_reference` on the same rows."""
    out = grok(df, field, match, **kw)
    if method == "pandas":
        want, want_tags = _pandas_reference(df.toPandas(), field, match, **kw)
        rows = out.collect()
        assert [list(r["tags"]) for r in rows] == want_tags
        for name, vals in want.items():
            assert [r[name] for r in rows] == vals, name
    return out


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_combined_apache_log(spark, method):
    df = spark.createDataFrame([Row(message=APACHE)])
    out = _grok(method, df, "message", "%{COMBINEDAPACHELOG}").collect()[0]
    assert out["clientip"] == "127.0.0.1"
    assert out["auth"] == "frank"
    assert out["verb"] == "GET"
    assert out["request"] == "/apache_pb.gif"
    assert out["response"] == 200  # :int cast
    assert out["bytes"] == 2326
    assert out["timestamp"] == "10/Oct/2000:13:55:36 -0700"
    assert out["tags"] == []


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_syslog_line(spark, method):
    df = spark.createDataFrame([Row(message=SYSLOG)])
    out = _grok(method, df, "message", "%{SYSLOGLINE}").collect()[0]
    assert out["logsource"] == "evita"
    assert out["program"] == "postfix/smtpd"
    assert out["pid"] == 1713
    # the SYSLOGLINE `message` capture overwrites the source field
    # (logstash grok `overwrite` semantics, our default)
    assert out["message"] == "connect from camomile.cloud9.net[168.100.1.3]"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_grok_failure_tag(spark, method):
    df = spark.createDataFrame([Row(message="not an ip at all")])
    out = _grok(method, df, "message", "%{IP:ip} %{WORD:w}").collect()[0]
    assert out["ip"] is None
    assert out["tags"] == ["_grokparsefailure"]


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_break_on_match_first_wins(spark, method):
    df = spark.createDataFrame(
        [Row(message="code=42"), Row(message="name=bob"), Row(message="???")]
    )
    out = {
        r["message"]: r
        for r in _grok(
            method,
            df,
            "message",
            [r"code=%{INT:code:int}", r"name=%{WORD:name}"],
        ).collect()
    }
    assert out["code=42"]["code"] == 42 and out["code=42"]["name"] is None
    assert out["name=bob"]["name"] == "bob" and out["name=bob"]["code"] is None
    assert out["???"]["tags"] == ["_grokparsefailure"]
    assert out["code=42"]["tags"] == []


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_custom_pattern_definitions(spark, method):
    df = spark.createDataFrame([Row(message="order ab-123 shipped")])
    out = _grok(
        method,
        df,
        "message",
        "order %{ORDERID:oid} shipped",
        pattern_definitions={"ORDERID": r"[a-z]{2}-\d+"},
    ).collect()[0]
    assert out["oid"] == "ab-123"


def test_paths_agree_on_fixture(spark):
    """The native path equals Python `re` over the same compiled pattern
    (`to_python_regex`) on the 500-row flagship fixture: every capture,
    the :int casts and the failure tag, row by row."""
    import re

    from logstash_spark.grok import compile_pattern, to_python_regex
    from logstash_spark.plans.flagship import GROK_PATTERN
    from logstash_spark.sources.gen import input_sequences

    c = compile_pattern(GROK_PATTERN)
    rx = re.compile(to_python_regex(c))

    def cast(v, to):
        if v in (None, ""):
            return None
        return int(v) if to == "int" else v

    df = input_sequences(spark, 500)
    names = [cap.name for cap in c.captures]
    got = grok(df, "raw", GROK_PATTERN).select("raw", *names, "tags").collect()
    assert len(got) == 500
    n_fail = 0
    for r in got:
        m = rx.search(r["raw"]) if r["raw"] is not None else None
        want = {
            cap.name: cast(m.group(cap.group), cap.cast) if m else None
            for cap in c.captures
        }
        assert {n: r[n] for n in names} == want, r["raw"]
        assert r["tags"] == ([] if m else ["_grokparsefailure"]), r["raw"]
        n_fail += m is None
    assert 0 < n_fail < 500  # the fixture holds both outcomes


def test_dotall_scoped_to_wrapper_only(spark):
    """GREEDYDATA/DATA must not cross embedded newlines (Oniguruma default
    '.' semantics) — only the wrapper is DOTALL. Multi-line input (e.g.
    multiline-codec output) stops at the newline on the pack path and on
    the exact path a sentinel character sends a row to."""
    df = spark.createDataFrame(
        [("lvl=ERROR msg=first line\nsecond line",),
         ("lvl=ERROR msg=first line\x01\nsecond line",)],
        ["message"],
    )
    out = grok(df, "message", r"lvl=%{WORD:lvl} msg=%{GREEDYDATA:msg}").collect()
    assert sorted((r["lvl"], r["msg"]) for r in out) == [
        ("ERROR", "first line"), ("ERROR", "first line\x01"),
    ]


def test_sentinel_chars_in_source_do_not_mis_split(spark):
    """The pack/split path joins captures with \\x01 behind a \\x02 match
    marker. A source holding either character must still parse exactly
    as Python `re` does: no mis-split capture, no invented match."""
    df = spark.createDataFrame(
        [(1, "k=a\x01b v=1"), (2, "\x02\x01x\x01y"), (3, "junk\x01 k=z v=3")],
        "id int, m string",
    )
    out = {
        r["id"]: (r["k"], r["v"], r["tags"])
        for r in grok(df, "m", r"k=%{NOTSPACE:k} v=%{INT:v:int}").collect()
    }
    assert out == {
        1: ("a\x01b", 1, []),
        2: (None, None, ["_grokparsefailure"]),
        3: ("z", 3, []),
    }
    lone = spark.createDataFrame([("\x02",)], "m string")
    r = grok(lone, "m", r"^%{INT:n}$").collect()[0]
    assert (r["n"], r["tags"]) == (None, ["_grokparsefailure"])


def test_sentinel_chars_match_python_re_on_random_lines(spark):
    """Random short lines over an alphabet rich in \\x01/\\x02 and in
    pattern fragments: captures, casts and the failure tag equal Python
    `re` for capture-less, anchored and multi-capture patterns."""
    import random
    import re

    from logstash_spark.grok import compile_pattern, to_python_regex

    rnd = random.Random(7)
    alphabet = ["a", "=", " ", "1", "2", "\x01", "\x02", "k=", " v="]
    lines = ["".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 12)))
             for _ in range(400)]
    df = spark.createDataFrame(list(enumerate(lines)), "id int, m string")
    for pat in (r"k=%{NOTSPACE:k} v=%{INT:v:int}", r"^%{INT:n}$", r"%{INT}",
                r"%{WORD:w}=%{DATA:d}"):
        c = compile_pattern(pat)
        rx = re.compile(to_python_regex(c))
        for r in grok(df, "m", pat).collect():
            m = rx.search(lines[r["id"]])
            for cap in c.captures:
                v = m.group(cap.group) if m else None
                v = None if not v else int(v) if cap.cast == "int" else v
                assert r[cap.name] == v, (pat, lines[r["id"]], cap.name)
            want_tags = [] if m else ["_grokparsefailure"]
            assert r["tags"] == want_tags, (pat, lines[r["id"]])


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_match_map_multi_field(spark, method):
    """match => {fieldA => pat, fieldB => pat}: strict break semantics —
    the first matching (field, pattern) pair binds, later pairs stay
    null (logstash-filter-grok multi-field golden case)."""
    df = spark.createDataFrame(
        [
            ("verb=GET", "status=200"),   # both match -> only fa binds
            ("nope", "status=404"),       # only fb matches -> fb binds
            ("nope", "zilch"),            # neither -> failure tag
        ],
        ["fa", "fb"],
    )
    out = _grok(
        method,
        df,
        match={"fa": r"verb=%{WORD:verb}", "fb": r"status=%{NONNEGINT:status:int}"},
    ).collect()
    r0, r1, r2 = out
    assert r0["verb"] == "GET" and r0["status"] is None
    assert r1["verb"] is None and r1["status"] == 404
    assert r2["verb"] is None and r2["status"] is None
    assert "_grokparsefailure" in r2["tags"]
    assert "_grokparsefailure" not in (r0["tags"] or [])


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_break_on_match_false_accumulates(spark, method):
    """break_on_match=false applies EVERY pattern; captures accumulate
    (later patterns fill holes, never overwrite)."""
    df = spark.createDataFrame(
        [("lvl=INFO code=7 lvl=WRONG",)], ["message"]
    )
    out = _grok(
        method,
        df,
        "message",
        [r"lvl=%{WORD:lvl}", r"code=%{NONNEGINT:code:int}", r"lvl=%{WORD:lvl}"],
        break_on_match=False,
    ).collect()[0]
    assert out["lvl"] == "INFO"  # first binding wins, not overwritten
    assert out["code"] == 7      # second pattern also applied


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_break_on_match_false_multi_field(spark, method):
    df = spark.createDataFrame([("verb=GET", "status=200")], ["fa", "fb"])
    out = _grok(
        method,
        df,
        match={"fa": r"verb=%{WORD:verb}", "fb": r"status=%{NONNEGINT:status:int}"},
        break_on_match=False,
    ).collect()[0]
    assert out["verb"] == "GET" and out["status"] == 200


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_max_input_length_timeout_tag(spark, method):
    """Bounded-work analog of timeout_millis: oversized lines are never
    fed to the regex and get _groktimeout, not _grokparsefailure."""
    df = spark.createDataFrame(
        [("verb=GET",), ("verb=" + "A" * 500,), ("zilch",)], ["message"]
    )
    out = _grok(
        method,
        df, "message", r"verb=%{WORD:verb}", max_input_length=100
    ).collect()
    ok, big, bad = out
    assert ok["verb"] == "GET" and not ok["tags"]
    assert big["verb"] is None and "_groktimeout" in big["tags"]
    assert "_grokparsefailure" not in big["tags"]
    assert "_grokparsefailure" in bad["tags"]


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_timeout_tag_when_capture_overwrites_source(spark, method):
    """The over-limit check must read the PRE-capture source even when a
    capture overwrites the source field itself."""
    df = spark.createDataFrame([("ok",), ("A" * 500,)], ["message"])
    out = _grok(
        method,
        df, "message", r"%{GREEDYDATA:message}", max_input_length=100
    ).collect()
    ok, big = out
    assert ok["message"] == "ok" and not ok["tags"]
    assert "_groktimeout" in big["tags"] and "_grokparsefailure" not in big["tags"]


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_time_pattern_zero_width_guards(spark, method):
    """%{TIME} must not swallow an adjacent non-digit char into the
    capture (upstream uses zero-width guards, not consuming ones)."""
    df = spark.createDataFrame([("T14:30:00",)], ["message"])
    out = _grok(method, df, "message", r"%{TIME:t}").collect()[0]
    assert out["t"] == "14:30:00"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_httpd_errorlog_alternation_duplicate_names(spark, method):
    """%{HTTPD_ERRORLOG} is a 2.4|2.0 alternation whose branches reuse
    the same semantic names (timestamp/loglevel/message) — the op must
    bind each name from whichever branch matched (Oniguruma duplicate-
    name semantics), not just the first branch's group."""
    l24 = (
        "[Fri Oct 06 10:11:12 2023] [core:error] [pid 1234:tid 5678]"
        " [client 10.0.0.9:51234] File does not exist: /var/www/x"
    )
    l20 = "[Fri Oct 06 10:11:12 2023] [error] [client 10.0.0.9] denied by rule"
    df = spark.createDataFrame([(l24,), (l20,)], ["message"])
    out = _grok(method, df, "message", r"%{HTTPD_ERRORLOG}").collect()
    r24, r20 = out
    assert r24["loglevel"] == "error" and r24["module"] == "core"
    assert r24["pid"] == 1234 and r24["tid"] == 5678
    assert r24["clientip"] == "10.0.0.9" and r24["clientport"] == 51234
    assert r24["message"] == "File does not exist: /var/www/x"
    assert r20["loglevel"] == "error" and r20["clientip"] == "10.0.0.9"
    assert r20["message"] == "denied by rule"
    assert r20["timestamp"] == "Fri Oct 06 10:11:12 2023"
    assert not r24["tags"] and not r20["tags"]


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_java_stacktrace_and_mac(spark, method):
    df = spark.createDataFrame(
        [
            ("    at org.example.Foo$Bar.doWork(Foo.java:42)", "00:1a:2b:3c:4d:5e"),
            ("    at com.x.Init.<init>(Init.java)", "0011.2233.4455"),
        ],
        ["trace", "hw"],
    )
    out = _grok(
        method,
        df,
        match={
            "trace": r"%{JAVASTACKTRACEPART}",
            "hw": r"^%{MAC:mac}$",
        },
        break_on_match=False,
    ).collect()
    a, b = out
    assert a["class"] == "org.example.Foo$Bar" and a["method"] == "doWork"
    assert a["file"] == "Foo.java" and a["line"] == 42
    assert a["mac"] == "00:1a:2b:3c:4d:5e"
    assert b["class"] == "com.x.Init" and b["method"] == "<init>"
    assert b["line"] is None and b["mac"] == "0011.2233.4455"


REDIS = "[4018] 14 Nov 07:01:22.119 * Background saving started by pid 5710"
REDISMON = '1470637867.953466 [0 127.0.0.1:52500] "SET" "mykey" "myvalue"'
MONGO3 = (
    "2015-01-24T01:09:49.038+0000 I NETWORK  [initandlisten] "
    "waiting for connections on port 27017"
)
CATALINA = (
    "Jan 09, 2014 7:13:13 AM org.apache.catalina.startup.Catalina start "
    "INFO: Server startup in 2017 ms"
)
TOMCAT = (
    "2014-01-09 20:03:28,269 -0800 | ERROR | "
    "com.example.service.ExampleService - something completely failed"
)
CISCO = (
    "<164>Jun 21 2016 14:02:19 ASA-FW : %ASA-4-106023: "
    "Deny tcp src outside:10.1.1.1/51880"
)


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_redis_patterns(spark, method):
    df = spark.createDataFrame([Row(message=REDIS)])
    out = _grok(method, df, "message", "%{REDISLOG}").collect()[0]
    assert out["pid"] == "4018" and out["timestamp"] == "14 Nov 07:01:22.119"
    df = spark.createDataFrame([Row(message=REDISMON)])
    out = _grok(method, df, "message", "%{REDISMONLOG}").collect()[0]
    assert (out["database"], out["client"], out["command"]) == ("0", "127.0.0.1", "SET")


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_mongo3_log(spark, method):
    df = spark.createDataFrame([Row(message=MONGO3)])
    out = _grok(method, df, "message", "%{MONGO3_LOG}").collect()[0]
    assert out["severity"] == "I"
    assert out["component"] == "NETWORK"
    assert out["context"] == "initandlisten"
    assert out["message"] == "waiting for connections on port 27017"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_catalina_and_tomcat_logs(spark, method):
    df = spark.createDataFrame([Row(message=CATALINA)])
    out = _grok(method, df, "message", "%{CATALINALOG}").collect()[0]
    assert out["timestamp"] == "Jan 09, 2014 7:13:13 AM"
    assert out["class"] == "org.apache.catalina.startup.Catalina"
    assert out["method"] == "start"
    assert out["message"] == "INFO: Server startup in 2017 ms"
    df = spark.createDataFrame([Row(message=TOMCAT)])
    out = _grok(method, df, "message", "%{TOMCATLOG}").collect()[0]
    assert out["timestamp"] == "2014-01-09 20:03:28,269 -0800"
    assert out["level"] == "ERROR"
    assert out["class"] == "com.example.service.ExampleService"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_cisco_tagged_syslog(spark, method):
    df = spark.createDataFrame([Row(message=CISCO)])
    out = _grok(method, df, "message", "%{CISCO_TAGGED_SYSLOG}").collect()[0]
    assert out["syslog_pri"] == "164"
    assert out["timestamp"] == "Jun 21 2016 14:02:19"
    assert out["sysloghost"] == "ASA-FW"
    assert out["ciscotag"] == "ASA-4-106023"


ELB = (
    "2015-05-13T23:39:43.945958Z my-loadbalancer 192.168.131.39:2817 "
    "10.0.0.1:80 0.000073 0.001048 0.000057 200 200 0 29 "
    '"GET http://www.example.com:80/?a=1 HTTP/1.1"'
)
S3 = (
    "79a59df900b949e55d96a1e698fb awsexamplebucket1 "
    "[06/Feb/2019:00:00:38 +0000] 192.0.2.3 79a59df900b949e55d96a1e698fb "
    "3E57427F3EXAMPLE REST.GET.VERSIONING - "
    '"GET /awsexamplebucket1?versioning HTTP/1.1" 200 - 113 - 7 - "-" '
    '"S3Console/0.4" -'
)
RUBY = "I, [2020-03-10T14:23:51.338083 #11116]  INFO -- app: hello world"
PG = "01/02/2015 12:00:01 EST alice db=prod,client=10.0.0.1 9876"
SQUID = (
    "1426235101.405    85 192.168.1.100 TCP_MISS/200 1015 GET "
    "http://example.com/page.html - DIRECT/93.184.216.34 text/html"
)


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_elb_access_log(spark, method):
    df = spark.createDataFrame([Row(message=ELB)])
    out = _grok(method, df, "message", "%{ELB_ACCESS_LOG}").collect()[0]
    assert out["elb"] == "my-loadbalancer"
    assert out["clientip"] == "192.168.131.39" and out["clientport"] == 2817
    assert out["backendip"] == "10.0.0.1" and out["backendport"] == 80
    assert out["response"] == 200 and out["bytes"] == 29
    assert out["backend_processing_time"] == pytest.approx(0.001048)
    assert out["verb"] == "GET" and out["urihost"] == "www.example.com:80"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_s3_access_log(spark, method):
    df = spark.createDataFrame([Row(message=S3)])
    out = _grok(method, df, "message", "%{S3_ACCESS_LOG}").collect()[0]
    assert out["bucket"] == "awsexamplebucket1"
    assert out["clientip"] == "192.0.2.3"
    assert out["operation"] == "REST.GET.VERSIONING"
    assert out["response"] == 200 and out["bytes"] == 113
    assert out["request_time_ms"] == 7
    assert out["agent"] == '"S3Console/0.4"'


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_ruby_logger_line(spark, method):
    df = spark.createDataFrame([Row(message=RUBY)])
    out = _grok(method, df, "message", "%{RUBY_LOGGER}").collect()[0]
    assert out["pid"] == 11116
    assert out["loglevel"] == "INFO"
    assert out["progname"] == "app"
    assert out["log_message"] == "hello world"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_postgresql_and_squid(spark, method):
    df = spark.createDataFrame([Row(message=PG)])
    out = _grok(method, df, "message", "%{POSTGRESQL}").collect()[0]
    assert out["tz"] == "EST" and out["pid"] == 9876
    assert out["user_id"] == "alice"

    df2 = spark.createDataFrame([Row(message=SQUID)])
    out2 = _grok(method, df2, "message", "%{SQUID3}").collect()[0]
    assert out2["cache_result"] == "TCP_MISS" and out2["status_code"] == 200
    assert out2["squid_bytes"] == 1015
    assert out2["request_method"] == "GET"
    assert out2["server"] == "93.184.216.34"
    assert out2["content_type"] == "text/html"


CISCO_BUILT = (
    "Built inbound TCP connection 9 for outside:192.168.1.7/1025 "
    "(192.168.1.7/1025) to inside:10.0.0.1/443 (10.0.0.1/443)"
)
CISCO_TEARDOWN = (
    "Teardown TCP connection 9 for outside:192.168.1.7/1025 "
    "to inside:10.0.0.1/443 duration 0:00:30 bytes 12345 TCP FINs"
)
CISCO_DENY = (
    "Deny tcp src outside:192.168.1.50/53638 dst inside:10.0.0.187/8080 "
    'by access-group "OUTSIDE" [0x5063b82f, 0x0]'
)


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_ciscofw_built_teardown(spark, method):
    df = spark.createDataFrame(
        [Row(message=CISCO_BUILT), Row(message=CISCO_TEARDOWN)]
    )
    rows = _grok(
        method,
        df, "message", "%{CISCOFW302013_302014_302015_302016}"
    ).orderBy("action").collect()
    built, down = rows
    assert built["action"] == "Built" and built["direction"] == "inbound"
    assert built["connection_id"] == 9
    assert built["src_ip"] == "192.168.1.7" and built["src_port"] == 1025
    assert built["dst_ip"] == "10.0.0.1" and built["dst_port"] == 443
    assert built["src_mapped_ip"] == "192.168.1.7"
    assert down["action"] == "Teardown" and down["direction"] is None
    assert down["duration"] == "0:00:30" and down["bytes"] == 12345


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_ciscofw_deny_acl(spark, method):
    df = spark.createDataFrame([Row(message=CISCO_DENY)])
    out = _grok(method, df, "message", "%{CISCOFW106023}").collect()[0]
    assert out["action"] == "Deny" and out["protocol"] == "tcp"
    assert out["src_interface"] == "outside" and out["src_port"] == 53638
    assert out["dst_ip"] == "10.0.0.187" and out["dst_port"] == 8080
    assert out["policy_id"] == "OUTSIDE"
    assert out["hashcode1"] == "0x5063b82f"


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_mongo_lines(spark, method):
    df = spark.createDataFrame(
        [Row(message="Aug 17 10:00:01 [initandlisten] connection accepted "
                     "from 127.0.0.1:52049")]
    )
    out = _grok(method, df, "message", "%{MONGO_LOG}").collect()[0]
    assert out["component"] == "initandlisten"

    slow = (
        "query testdb.users query: { a: { b: 1 } } ntoreturn:5 ntoskip:0 "
        "nscanned:100 keyUpdates:0 locks(micros) r:111 nreturned:1 "
        "reslen:127 120ms"
    )
    df2 = spark.createDataFrame([Row(message=slow)])
    out2 = _grok(method, df2, "message", "%{MONGO_SLOWQUERY}").collect()[0]
    # backtracking balances the nested braces up to the ' ntoreturn:' anchor
    assert out2["query"] == "{ a: { b: 1 } }"
    assert out2["database"] == "testdb" and out2["collection"] == "users"
    assert out2["ntoreturn"] == 5 and out2["nscanned"] == 100
    assert out2["duration"] == 120


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_nagios_alternation(spark, method):
    lines = [
        "[1472121300] SERVICE ALERT: myhost;http;CRITICAL;HARD;3;refused",
        "[1472121301] CURRENT HOST STATE: myhost;UP;HARD;1;PING OK",
        "[1472121302] SERVICE NOTIFICATION: admin;h2;disk;WARNING;by-email;85%",
    ]
    df = spark.createDataFrame([Row(message=m) for m in lines])
    rows = _grok(method, df, "message", "%{NAGIOSLOGLINE}") \
        .orderBy("nagios_epoch").collect()
    alert, state, notif = rows
    assert alert["nagios_state"] == "CRITICAL" and alert["nagios_attempt"] == 3
    assert alert["nagios_service"] == "http"
    assert state["nagios_state"] == "UP" and state["nagios_message"] == "PING OK"
    assert notif["nagios_notifyname"] == "admin"
    assert notif["nagios_contact"] == "by-email"
    assert "_grokparsefailure" not in (alert["tags"] or [])


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_cron_and_pam_session(spark, method):
    df = spark.createDataFrame(
        [Row(message="Aug 17 10:00:01 web-1 CRON[1234]: (root) CMD "
                     "(/usr/bin/backup --daily)")]
    )
    out = _grok(method, df, "message", "%{CRONLOG}").collect()[0]
    assert out["user"] == "root" and out["action"] == "CMD"
    assert out["command"] == "/usr/bin/backup --daily"

    df2 = spark.createDataFrame(
        [Row(message="Aug 17 10:00:01 web-1 sshd[999]: pam_unix(sshd:session): "
                     "session opened for user alice by (uid=0)"),
         Row(message="Aug 17 10:00:02 web-1 sshd[999]: pam_unix(sshd:session): "
                     "session closed for user alice")]
    )
    rows = _grok(method, df2, "message", "%{SYSLOGPAMSESSION}") \
        .orderBy("timestamp").collect()
    assert rows[0]["pam_session_state"] == "opened"
    assert rows[0]["username"] == "alice" and rows[0]["pam_by"] == "(uid=0)"
    assert rows[1]["pam_session_state"] == "closed" and rows[1]["pam_by"] is None


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_netscreen_session(spark, method):
    line = (
        "Jun  2 14:53:31 fire00 aka1: NetScreen device_id=aka1  "
        "[Root]system-notification-00257(traffic): "
        'start_time="2006-06-02 14:53:30" duration=0 policy_id=120 '
        "service=udp/port:17210 proto=17 src zone=Trust dst zone=DMZ "
        "action=Deny sent=0 rcvd=0 src=192.168.2.2 dst=10.0.0.1 "
        "src_port=53 dst_port=17210"
    )
    df = spark.createDataFrame([Row(message=line)])
    out = _grok(method, df, "message", "%{NETSCREENSESSIONLOG}").collect()[0]
    assert out["device_id"] == "aka1" and out["policy_id"] == 120
    assert out["severity"] == "notification" and out["event_type"] == 257
    assert out["src_zone"] == "Trust" and out["action"] == "Deny"
    assert out["src_port"] == 53 and out["dst_port"] == 17210


@pytest.mark.parametrize("method", ["native", "pandas"])
def test_failed_match_keeps_existing_fields(spark, method):
    """A failed grok passes the event on untouched: every column the
    pattern captures into keeps its value (cast to the capture's type);
    a capture new to the frame is null."""
    df = spark.createDataFrame(
        [("x 7 rest", "before", "1"), ("nospace", "before", "2")],
        ["message", "a", "n"],
    )
    out = _grok(
        method, df, "message", "%{WORD:a} %{INT:n:int} %{GREEDYDATA:message}"
    ).collect()
    assert [(r["message"], r["a"], r["n"]) for r in out] == [
        ("rest", "x", 7), ("nospace", "before", 2),
    ]
    assert [r["tags"] for r in out] == [[], ["_grokparsefailure"]]
