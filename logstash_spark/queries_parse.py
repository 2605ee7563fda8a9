"""Correctness gates for parse filters (grok, dissect, kv, json, date, xml)
and `.conf` pipelines. Each `@query` pairs a Spark query over the driver
test tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators.parse import dissect, grok, json_filter, kv, syslog_pri
from logstash_spark.operators.parse import date as date_op
from logstash_spark.queries_common import _t, query


_GROK_RX = r"^(\w+)\[(\d+)\]: event=(\d+) value=(\w+)$"


@query(
    "grok_parse",
    f"""
    SELECT event_id,
           regexp_extract(m, '{_GROK_RX}', 1) AS verb,
           CAST(regexp_extract(m, '{_GROK_RX}', 2) AS BIGINT) AS uid,
           CAST(regexp_extract(m, '{_GROK_RX}', 3) AS BIGINT) AS eid,
           regexp_extract(m, '{_GROK_RX}', 4) AS status
    FROM (SELECT event_id,
                 event_type || '[' || CAST(user_id AS VARCHAR) || ']: event='
                 || CAST(event_id AS VARCHAR) || ' value=ok' AS m
          FROM events)
    """,
)
def grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-grok over a log line synthesized from `events`
    (single-pass regexp_replace pack/split, pure codegen)."""
    ev = _t(spark, sf_dir, "events")
    msg = F.concat(
        F.col("event_type"), F.lit("["), F.col("user_id").cast("string"),
        F.lit("]: event="), F.col("event_id").cast("string"), F.lit(" value=ok"),
    )
    df = ev.withColumn("message", msg)
    pat = r"^%{WORD:verb}\[%{NONNEGINT:uid:int}\]: event=%{NONNEGINT:eid:int} value=%{WORD:status}$"
    return grok(df, "message", pat).select("event_id", "verb", "uid", "eid", "status")


@query(
    "dissect_parse",
    """
    SELECT event_id,
           split_part(m, '|', 1) AS verb,
           split_part(m, '|', 2) AS uid,
           split_part(m, '|', 3) AS status
    FROM (SELECT event_id,
                 event_type || '|' || CAST(user_id AS VARCHAR) || '|ok' AS m
          FROM events)
    """,
)
def dissect_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-dissect positional tokenizer."""
    ev = _t(spark, sf_dir, "events")
    df = ev.withColumn(
        "m",
        F.concat(F.col("event_type"), F.lit("|"), F.col("user_id").cast("string"), F.lit("|ok")),
    )
    d = dissect(df, "m", "%{verb}|%{uid}|%{status}")
    return d.select("event_id", "verb", "uid", "status")


@query(
    "json_props",
    """
    SELECT event_id, CAST(props->>'k' AS BIGINT) AS k
    FROM events
    """,
)
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-json: parse the `props` JSON string field."""
    ev = _t(spark, sf_dir, "events")
    out = json_filter(ev, "props", schema="k bigint", target="pj")
    return out.select("event_id", F.col("pj.k").alias("k"))


@query(
    "kv_parse",
    """
    SELECT event_id,
           split_part(split_part(m, ' ', 1), '=', 2) AS uid,
           split_part(split_part(m, ' ', 2), '=', 2) AS etype
    FROM (SELECT event_id,
                 'uid=' || CAST(user_id AS VARCHAR) || ' etype=' || event_type AS m
          FROM events)
    """,
)
def kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-kv via native str_to_map."""
    ev = _t(spark, sf_dir, "events")
    df = ev.withColumn(
        "m",
        F.concat(F.lit("uid="), F.col("user_id").cast("string"),
                 F.lit(" etype="), F.col("event_type")),
    )
    out = kv(df, "m", include_keys=["uid", "etype"])
    return out.select("event_id", "uid", "etype")


@query(
    "date_parse",
    """
    SELECT event_id,
           strftime(strptime(strftime(ts, '%d/%b/%Y:%H:%M:%S'),
                             '%d/%b/%Y:%H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM events
    """,
)
def date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-date: apache-style timestamp round-trip."""
    ev = _t(spark, sf_dir, "events")
    df = ev.withColumn("raw_ts", F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"))
    out = date_op(df, "raw_ts", ["dd/MMM/yyyy:HH:mm:ss"], target="parsed")
    return out.select(
        "event_id", F.date_format("parsed", "yyyy-MM-dd HH:mm:ss").alias("parsed_ts")
    )


@query(
    "grok_multi_field",
    r"""
    SELECT event_id,
           CASE WHEN m_fa THEN regexp_extract(fa, 'verb=(\w+)', 1) END AS verb,
           CASE WHEN NOT m_fa AND m_fb
                THEN CAST(regexp_extract(fb, 'uid=([0-9]+)', 1) AS BIGINT) END AS uid
    FROM (SELECT event_id, fa, fb,
                 regexp_matches(fa, 'verb=\w+') AS m_fa,
                 regexp_matches(fb, 'uid=[0-9]+') AS m_fb
          FROM (SELECT event_id,
                       CASE WHEN event_id % 2 = 0
                            THEN 'verb=' || event_type ELSE '-' END AS fa,
                       'uid=' || CAST(user_id AS VARCHAR) AS fb
                FROM events))
    """,
)
def grok_multi_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok match map {field_a: ..., field_b: ...} with strict break
    semantics: the first matching (field, pattern) pair binds; later
    pairs stay null (logstash-filter-grok multi-field match)."""
    ev = _t(spark, sf_dir, "events")
    df = ev.withColumns(
        {
            "fa": F.when(
                F.col("event_id") % 2 == 0,
                F.concat(F.lit("verb="), F.col("event_type")),
            ).otherwise(F.lit("-")),
            "fb": F.concat(F.lit("uid="), F.col("user_id").cast("string")),
        }
    )
    g = grok(
        df,
        match={"fa": r"verb=%{WORD:verb}", "fb": r"uid=%{NONNEGINT:uid:int}"},
    )
    return g.select("event_id", "verb", "uid")


@query(
    "grok_no_break",
    """
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN event_type END AS lvl,
           CAST(user_id AS BIGINT) AS val
    FROM events
    """,
)
def grok_no_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok break_on_match=false: every pattern applies, captures
    accumulate (lvl only present on even rows, val on all rows)."""
    ev = _t(spark, sf_dir, "events")
    msg = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit("lvl="), F.col("event_type"),
                 F.lit(" val="), F.col("user_id").cast("string")),
    ).otherwise(F.concat(F.lit("val="), F.col("user_id").cast("string")))
    df = ev.withColumn("m", msg)
    g = grok(
        df, "m", [r"lvl=%{WORD:lvl}", r"val=%{NONNEGINT:val:int}"],
        break_on_match=False,
    )
    return g.select("event_id", "lvl", "val")


_LSCL_CONF = """
filter {
  if [value] > 100 { mutate { add_field => { "tier" => "high" } } }
  else { mutate { add_field => { "tier" => "low" } } }
}
output {
  if [event_type] == "error" { file { id => "s_err" } }
  else if [tier] == "high" { file { id => "s_high" } }
  else { file { id => "s_rest" } }
}
"""


@query(
    "lscl_conf_pipeline",
    """
    SELECT * FROM (
      SELECT 's_err' AS sink, CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT 's_high', CAST(count(*) AS BIGINT)
        FROM events WHERE event_type != 'error' AND value > 100
      UNION ALL
      SELECT 's_rest', CAST(count(*) AS BIGINT)
        FROM events WHERE event_type != 'error' AND value <= 100
    ) WHERE cnt > 0  -- groupBy omits empty sinks; so must the oracle
    """,
)
def lscl_conf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash .conf text end-to-end: parse LSCL (sections, if/else-if/
    else, attribute hashes) → PipelineSpec → gated filters + route
    fan-out → per-sink counts."""
    from logstash_spark.plans.lscl import compile_conf
    from logstash_spark.plans.runner import build_plan

    spec, _ = compile_conf(_LSCL_CONF, name="lscl_gate")
    ev = _t(spark, sf_dir, "events")
    routed = build_plan(ev, spec)
    return (
        routed.select(F.explode("routes").alias("sink"))
        .groupBy("sink")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "syslog_pri_decode",
    """
    SELECT CAST(pri % 8 AS BIGINT) AS syslog_severity_code,
           CAST(pri // 8 AS BIGINT) AS syslog_facility_code,
           (['emergency','alert','critical','error','warning','notice',
             'informational','debug'])[(pri % 8) + 1] AS syslog_severity,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT user_id % 192 AS pri FROM events)
    GROUP BY 1, 2, 3
    """,
)
def syslog_pri_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-syslog_pri: <PRI> → facility/severity (pure math)."""
    ev = _t(spark, sf_dir, "events").withColumn("syslog_pri", F.col("user_id") % 192)
    out = syslog_pri(ev, "syslog_pri")
    return out.groupBy(
        F.col("syslog_severity_code").cast("long").alias("syslog_severity_code"),
        F.col("syslog_facility_code").cast("long").alias("syslog_facility_code"),
        "syslog_severity",
    ).agg(F.count("*").alias("cnt"))


@query(
    "urldecode_field",
    """
    SELECT event_id, 'q ' || event_type || '=' || CAST(user_id AS VARCHAR) AS q
    FROM events
    """,
)
def urldecode_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-urldecode via native url_decode: the encoded input
    is synthesized (%20, %3D), the oracle states the decoded expectation."""
    from logstash_spark.functions import urldecode

    ev = _t(spark, sf_dir, "events")
    enc = F.concat(
        F.lit("q%20"), F.col("event_type"), F.lit("%3D"), F.col("user_id").cast("string")
    )
    out = urldecode(ev.withColumn("q", enc), "q")
    return out.select("event_id", "q")


@query(
    "xml_xpath",
    """
    SELECT event_id, event_type AS t, CAST(user_id AS VARCHAR) AS u
    FROM events
    """,
)
def xml_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-xml: XPath extraction via Spark's native xpath_*
    SQL functions over a synthesized document (oracle states the
    round-trip expectation directly — DuckDB has no xpath)."""
    ev = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"), F.col("event_type"), F.lit("</t><u>"),
        F.col("user_id").cast("string"), F.lit("</u></e>"),
    )
    df = ev.withColumn("xml", xml)
    return df.select(
        "event_id",
        F.expr("xpath_string(xml, '/e/t')").alias("t"),
        F.expr("xpath_string(xml, '/e/u')").alias("u"),
    )


@query(
    "parse_failure_tags",
    """
    SELECT 'grok' AS op, (event_id % 7 = 0) AS has_fail,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT 'date', (event_id % 5 = 0), CAST(count(*) AS BIGINT)
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT 'json', (event_id % 11 = 0), CAST(count(*) AS BIGINT)
    FROM events GROUP BY 1, 2
    """,
)
def parse_failure_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failure-is-data across all three parse filters in one gate
    (folded from the r01 grok/date/json_failure_tag queries): malformed
    input → `_grokparsefailure` / `_dateparsefailure` / `_jsonparsefailure`
    tag, row passes through — never an exception."""
    ev = _t(spark, sf_dir, "events")

    line = F.when(
        F.col("event_id") % 7 == 0, F.lit("!!corrupt!!")
    ).otherwise(F.concat(F.lit("type="), F.col("event_type")))
    g = grok(ev.withColumn("line", line), "line", r"^type=%{WORD:etype}$")
    grok_agg = (
        g.select(F.array_contains("tags", "_grokparsefailure").alias("has_fail"))
        .groupBy("has_fail")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("grok").alias("op"), "has_fail", "cnt")
    )

    raw = F.when(F.col("event_id") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    d = date_op(
        ev.withColumn("raw_ts", raw), "raw_ts", ["yyyy-MM-dd HH:mm:ss"], target="parsed"
    )
    date_agg = (
        d.select(F.array_contains("tags", "_dateparsefailure").alias("has_fail"))
        .groupBy("has_fail")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("date").alias("op"), "has_fail", "cnt")
    )

    doc = F.when(F.col("event_id") % 11 == 0, F.lit("{broken")).otherwise(
        F.concat(F.lit('{"k": '), F.col("user_id").cast("string"), F.lit("}"))
    )
    j = json_filter(ev.withColumn("doc", doc), "doc", schema="k bigint", target="pj")
    json_agg = (
        j.select(F.array_contains("tags", "_jsonparsefailure").alias("has_fail"))
        .groupBy("has_fail")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("json").alias("op"), "has_fail", "cnt")
    )

    return grok_agg.unionByName(date_agg).unionByName(json_agg)


@query(
    "dissect_advanced",
    """
    SELECT event_id,
           split_part(m, '-', 1) AS proto,
           split_part(split_part(m, ' ', 1), '-', 2) || '_' ||
             split_part(split_part(m, ' ', 1), '-', 3) AS host_zone,
           split_part(m, ' ', 3) AS msg
    FROM (SELECT event_id,
                 'tcp-' || event_type || '-z' || CAST(user_id % 4 AS VARCHAR)
                 || ' ignored ' || CAST(event_id AS VARCHAR) AS m
          FROM events)
    """,
)
def dissect_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dissect %{+append} (joined with append_separator) and %{?skip}:
    'tcp-<type>-z<n> ignored <id>' → proto, host_zone (appended), msg."""
    from logstash_spark.operators.parse import dissect

    ev = _t(spark, sf_dir, "events")
    m = F.concat(
        F.lit("tcp-"), F.col("event_type"), F.lit("-z"),
        (F.col("user_id") % 4).cast("string"), F.lit(" ignored "),
        F.col("event_id").cast("string"),
    )
    df = ev.withColumn("m", m)
    out = dissect(
        df, "m", "%{proto}-%{host_zone}-%{+host_zone} %{?junk} %{msg}",
        append_separator="_",
    )
    return out.select("event_id", "proto", "host_zone", "msg")


@query(
    "grok_multi_pattern",
    """
    SELECT event_id,
           CASE WHEN event_id % 2 = 0
                THEN split_part(m, '=', 2)
                ELSE split_part(split_part(m, '<', 2), '>', 1) END AS etype,
           (event_id % 2 != 0) AS used_alt
    FROM (SELECT event_id,
                 CASE WHEN event_id % 2 = 0 THEN 'type=' || event_type
                      ELSE 'evt<' || event_type || '>' END AS m
          FROM events)
    """,
)
def grok_multi_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok break_on_match: pattern list, first match wins; rows alternate
    between two formats, each caught by exactly one pattern."""
    ev = _t(spark, sf_dir, "events")
    m = F.when(
        F.col("event_id") % 2 == 0, F.concat(F.lit("type="), F.col("event_type"))
    ).otherwise(F.concat(F.lit("evt<"), F.col("event_type"), F.lit(">")))
    df = ev.withColumn("m", m)
    g = grok(
        df, "m",
        [r"^type=%{WORD:etype}$", r"^evt<%{WORD:alt_type}>$"],
    )
    return g.select(
        "event_id",
        F.coalesce(F.col("etype"), F.col("alt_type")).alias("etype"),
        F.col("alt_type").isNotNull().alias("used_alt"),
    )


@query(
    "grok_apache_combined",
    """
    SELECT event_id,
           '10.' || CAST(user_id % 200 AS VARCHAR) || '.'
                 || CAST(event_id % 250 AS VARCHAR) || '.'
                 || CAST(event_id % 50 + 1 AS VARCHAR) AS clientip,
           'user' || CAST(user_id AS VARCHAR) AS auth,
           '05/Oct/2023:10:11:12 +0000' AS tstamp,
           CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END AS verb,
           '/api/items/' || CAST(event_id AS VARCHAR) AS request,
           '1.1' AS httpversion,
           CAST(CASE WHEN event_id % 5 = 0 THEN 404 ELSE 200 END AS INT) AS response,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE CAST(event_id % 9000 + 100 AS INT) END AS bytes,
           '"http://ref.example/p"' AS referrer,
           '"Mozilla/5.0 (X11; Linux x86_64)"' AS agent
    FROM events
    """,
)
def grok_apache_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%{COMBINEDAPACHELOG} end-to-end over a synthesized access log
    (reference: logstash-patterns-core grok-patterns + logstash-filter-grok
    spec apache goldens): clientip/auth/timestamp/verb/request/httpversion,
    response:int, bytes:int with the `-` (no bytes) branch → null, quoted
    referrer/agent captured with quotes (QS semantics)."""
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    ip = F.format_string(
        "10.%d.%d.%d", uid % 200, eid % 250, eid % 50 + 1
    )
    verb = F.when(eid % 2 == 0, F.lit("GET")).otherwise(F.lit("POST"))
    resp = F.when(eid % 5 == 0, F.lit(404)).otherwise(F.lit(200))
    bytes_s = F.when(eid % 7 == 0, F.lit("-")).otherwise(
        (eid % 9000 + 100).cast("string")
    )
    line = F.concat(
        ip, F.lit(" - user"), uid.cast("string"),
        F.lit(' [05/Oct/2023:10:11:12 +0000] "'), verb,
        F.lit(" /api/items/"), eid.cast("string"),
        F.lit(' HTTP/1.1" '), resp.cast("string"), F.lit(" "), bytes_s,
        F.lit(' "http://ref.example/p" "Mozilla/5.0 (X11; Linux x86_64)"'),
    )
    g = grok(ev.withColumn("message", line), "message", "%{COMBINEDAPACHELOG}")
    return g.select(
        "event_id", "clientip", "auth", F.col("timestamp").alias("tstamp"),
        "verb", "request", "httpversion", "response", "bytes",
        "referrer", "agent",
    )


@query(
    "grok_syslog5424",
    """
    SELECT event_id,
           '1' AS ver,
           '2023-10-05T10:11:12.345Z' AS ts5424,
           'host' || CAST(user_id % 50 AS VARCHAR) || '.example.com' AS host,
           event_type AS app,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE CAST(user_id + 100 AS VARCHAR) END AS proc,
           CASE WHEN event_id % 4 = 0 THEN NULL
                ELSE 'MSG' || CAST(event_id % 1000 AS VARCHAR) END AS msgid,
           CASE WHEN event_id % 6 = 0 THEN NULL
                ELSE '[ex@32473 iut="3" eid="' || CAST(event_id AS VARCHAR) || '"]'
           END AS sd,
           'User action recorded eid=' || CAST(event_id AS VARCHAR) AS msg
    FROM events
    """,
)
def grok_syslog5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%{SYSLOG5424LINE} (RFC5424 structured syslog) over synthesized
    lines: PRI/version header, ISO8601 timestamp, nil (`-`) handling for
    procid/msgid/structured-data → null captures, SD block captured
    verbatim, free-form message tail."""
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    host = F.format_string("host%d.example.com", uid % 50)
    proc = F.when(eid % 3 == 0, F.lit("-")).otherwise((uid + 100).cast("string"))
    msgid = F.when(eid % 4 == 0, F.lit("-")).otherwise(
        F.concat(F.lit("MSG"), (eid % 1000).cast("string"))
    )
    sd = F.when(eid % 6 == 0, F.lit("-")).otherwise(
        F.concat(
            F.lit('[ex@32473 iut="3" eid="'), eid.cast("string"), F.lit('"]')
        )
    )
    line = F.concat(
        F.lit("<165>1 2023-10-05T10:11:12.345Z "), host, F.lit(" "),
        F.col("event_type"), F.lit(" "), proc, F.lit(" "), msgid, F.lit(" "),
        sd, F.lit(" User action recorded eid="), eid.cast("string"),
    )
    g = grok(ev.withColumn("line", line), "line", "%{SYSLOG5424LINE}")
    return g.select(
        "event_id",
        F.col("syslog5424_ver").alias("ver"),
        F.col("syslog5424_ts").alias("ts5424"),
        F.col("syslog5424_host").alias("host"),
        F.col("syslog5424_app").alias("app"),
        F.col("syslog5424_proc").alias("proc"),
        F.col("syslog5424_msgid").alias("msgid"),
        F.col("syslog5424_sd").alias("sd"),
        F.col("syslog5424_msg").alias("msg"),
    )


@query(
    "kv_options",
    """
    SELECT event_id,
           'alpha,' || event_type AS tag_vals,
           CAST(event_id AS VARCHAR) || ',9' AS id_vals,
           CAST(user_id AS VARCHAR) AS uid_last
    FROM events
    """,
)
def kv_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv duplicate-value collection ('array' = allow_duplicate_values),
    transform_key=lowercase, exclude_keys, and last-wins over a line with
    repeated keys + a separator-less junk token (skipped)."""
    from logstash_spark.operators.parse import kv

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    line = F.concat(
        F.lit("Tag=alpha tag="), F.col("event_type"),
        F.lit(" id="), eid.cast("string"),
        F.lit(" junk id=9 drop=me uid="), uid.cast("string"),
        F.lit(" uid="), uid.cast("string"),
    )
    df = ev.withColumn("line", line)
    df = kv(
        df, "line", duplicates="array", transform_key="lowercase",
        exclude_keys=["drop"], target="m",
    )
    df = kv(df, "line", exclude_keys=["drop"], target="ml")
    return df.select(
        "event_id",
        F.concat_ws(",", F.element_at("m", "tag")).alias("tag_vals"),
        F.concat_ws(",", F.element_at("m", "id")).alias("id_vals"),
        F.element_at("ml", "uid").alias("uid_last"),
    )


_GRAPH_CONFS = {
    "up": """
      input { file { path => "<bound by caller>" } }
      filter {
        if [event_type] == "error" {
          mutate { add_field => { "sev" => "high" } }
        }
      }
      output {
        if [event_type] == "error" { pipeline { send_to => ["err"] } }
        else { pipeline { send_to => ["ok"] } }
      }
    """,
    "err_pipe": """
      input { pipeline { address => "err" } }
      filter { mutate { add_field => { "handled" => "alert" } } }
      output { pipeline { send_to => ["merged"] } }
    """,
    "ok_pipe": """
      input { pipeline { address => "ok" } }
      filter { mutate { add_field => { "handled" => "archive" } } }
      output { pipeline { send_to => ["merged"] } }
    """,
    "coll": """
      input { pipeline { address => "merged" } }
      output { file { path => "out" } }
    """,
}


@query(
    "pipeline_graph",
    """
    SELECT event_type,
           CASE WHEN event_type = 'error' THEN 'alert' ELSE 'archive' END
             AS handled,
           CASE WHEN event_type = 'error' THEN 'high' END AS sev,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def pipeline_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-to-pipeline composition (reference: logstash
    pipeline-to-pipeline docs, PipelineBus; `pipeline { send_to/address }`
    plugins): a distributor routes error events to one worker pipeline
    and the rest to another, both workers send to a collector — four
    `.conf` texts compiled by the LSCL front end and composed by
    plans.graph into ONE Catalyst plan (no inter-pipeline queue). The
    collector's output is counted per (event_type, handled, sev); `sev`
    exists only on the gated-mutate true branch, proving gate + address
    union semantics survive the graph."""
    from logstash_spark.operators.route import route_filter
    from logstash_spark.plans.graph import compose_pipelines
    from logstash_spark.plans.lscl import compile_pipelines

    specs, _ = compile_pipelines(_GRAPH_CONFS)
    routed = compose_pipelines({"up": _t(spark, sf_dir, "events")}, specs)
    out = route_filter(routed["coll"], "out")
    return out.groupBy("event_type", "handled", "sev").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "grok_haproxy",
    """
    SELECT event_id,
           '10.' || CAST(user_id % 200 AS VARCHAR) || '.'
                 || CAST(event_id % 250 AS VARCHAR) || '.1' AS client_ip,
           CAST(1024 + event_id % 60000 AS INT) AS client_port,
           '17/Aug/2026:10:11:' || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0')
               || '.345' AS accept_date,
           'fe-main' AS frontend_name,
           'be-app' AS backend_name,
           'srv' || CAST(event_id % 8 AS VARCHAR) AS server_name,
           CAST(event_id % 50 AS INT) AS time_request,
           CAST(event_id % 20 AS INT) AS time_queue,
           CAST(event_id % 30 AS INT) AS time_backend_connect,
           CAST(event_id % 400 AS INT) AS time_backend_response,
           CAST(CASE event_id % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
                                  WHEN 2 THEN 404 ELSE 503 END AS INT)
               AS http_status_code,
           CAST(event_id % 100000 AS VARCHAR) AS bytes_read,
           '----' AS termination_state,
           CAST(event_id % 100 AS INT) AS actconn,
           CAST(event_id % 64 AS INT) AS srv_queue,
           CASE WHEN event_id % 2 = 0 THEN 'GET' ELSE 'POST' END AS http_verb,
           '/api/v1/item/' || CAST(event_id % 5000 AS VARCHAR) AS http_request,
           '1.1' AS http_version
    FROM events
    """,
)
def grok_haproxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPROXYHTTPBASE stock pattern (logstash-patterns-core
    patterns/legacy/haproxy, behavioral rewrite in grok.py): full
    HTTP-mode access line — client ip:port, accept date, fe/be/server
    names, the Tq/Tw/Tc/Tr timer block, status, byte count, termination
    state, the conn-count block, queue block, and the quoted request
    (verb + path + HTTP version) — all typed via in-pattern :int casts."""
    from logstash_spark.operators.parse import grok

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    status = (
        F.when(eid % 4 == 0, 200).when(eid % 4 == 1, 301)
        .when(eid % 4 == 2, 404).otherwise(503)
    )
    line = F.concat(
        F.format_string("10.%d.%d.1:", uid % 200, eid % 250),
        (F.lit(1024) + eid % 60000).cast("string"),
        F.lit(" [17/Aug/2026:10:11:"),
        F.lpad((eid % 60).cast("string"), 2, "0"),
        F.lit(".345] fe-main be-app/srv"),
        (eid % 8).cast("string"),
        F.lit(" "),
        F.concat_ws(
            "/",
            (eid % 50).cast("string"), (eid % 20).cast("string"),
            (eid % 30).cast("string"), (eid % 400).cast("string"),
            (eid % 500).cast("string"),
        ),
        F.lit(" "),
        status.cast("string"),
        F.lit(" "),
        (eid % 100000).cast("string"),
        F.lit(" - - ---- "),
        F.concat_ws(
            "/",
            (eid % 100).cast("string"), (eid % 200).cast("string"),
            (eid % 150).cast("string"), (eid % 50).cast("string"),
            F.lit("0"),
        ),
        F.lit(" "),
        F.concat_ws("/", (eid % 64).cast("string"), (eid % 16).cast("string")),
        F.lit(' "'),
        F.when(eid % 2 == 0, F.lit("GET")).otherwise(F.lit("POST")),
        F.lit(" /api/v1/item/"),
        (eid % 5000).cast("string"),
        F.lit(' HTTP/1.1"'),
    )
    df = ev.withColumn("message", line).select("event_id", "message")
    out = grok(df, "message", r"^%{HAPROXYHTTPBASE}$")
    return out.select(
        "event_id",
        "client_ip",
        "client_port",
        "accept_date",
        "frontend_name",
        "backend_name",
        "server_name",
        "time_request",
        "time_queue",
        "time_backend_connect",
        "time_backend_response",
        "http_status_code",
        "bytes_read",
        "termination_state",
        "actconn",
        "srv_queue",
        "http_verb",
        "http_request",
        "http_version",
    )


@query(
    "extract_math_translit",
    """
    SELECT event_id,
           CAST(event_id % 1000 AS BIGINT) AS int0,
           CAST(-(event_id % 10) AS BIGINT) AS int1,
           CAST(event_id % 50 AS DOUBLE) + 0.25 AS float0,
           2 AS n_ints,
           1 AS n_floats,
           event_id + user_id AS m_add,
           user_id * 3 AS m_mul,
           (event_id + user_id) / 4.0 AS m_div,
           round((event_id + user_id) / 4.0, 0) AS m_round,
           CAST(floor(event_id / 7) AS BIGINT) AS m_fdiv,
           event_id % 9 AS m_mod,
           'cafe ' || event_type || ' AEIOU ss-ae-oe Z' AS ascii_text
    FROM events
    """,
)
def extract_math_translit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-extractnumbers + logstash-filter-math +
    logstash-filter-i18n (transliterate), folded into one driver-sample
    slot. The oracle derives every expected value INDEPENDENTLY from
    event_id arithmetic rather than replaying the extraction — a
    stronger check than mirrored machinery. Number extraction covers
    signed ints and decimals in one message; math covers
    add/mul/div/round/fdiv/mod with a chained operand (m_div reads
    m_add, reference in-order semantics); transliterate folds the fixed
    public accent table including the multi-char ß/æ/œ expansions."""
    from logstash_spark.functions import extractnumbers, math_ops, transliterate

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    msg = F.concat(
        F.lit("pid="), (eid % 1000).cast("string"),
        F.lit(" load="), (eid % 50).cast("string"),
        F.lit(".25 t=-"), (eid % 10).cast("string"),
    )
    df = ev.withColumn("message", msg)
    df = extractnumbers(df, "message", max_fields=2)
    df = math_ops(
        df,
        [
            ("add", "event_id", "user_id", "m_add"),
            ("mul", "user_id", 3, "m_mul"),
            ("div", "m_add", 4.0, "m_div"),
            ("round", "m_div", 0, "m_round"),
            ("fdiv", "event_id", 7, "m_fdiv"),
            ("mod", "event_id", 9, "m_mod"),
        ],
    )
    df = df.withColumn(
        "accented",
        F.concat(F.lit("café "), F.col("event_type"), F.lit(" ÀÉÎÕÜ ß-æ-œ Ž")),
    )
    df = transliterate(df, "accented", target="ascii_text")
    return df.select(
        "event_id",
        "int0",
        "int1",
        "float0",
        F.size("_ints").alias("n_ints"),
        F.size("_floats").alias("n_floats"),
        "m_add",
        "m_mul",
        "m_div",
        "m_round",
        "m_fdiv",
        "m_mod",
        "ascii_text",
    )


@query(
    "date_tz_per_event",
    """
    SELECT event_id,
           CASE event_id % 3 WHEN 0 THEN '+02:00'
                             WHEN 1 THEN '-05:00'
                             ELSE '+00:00' END AS tzf,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CASE event_id % 3 WHEN 0 THEN 7200
                                 WHEN 1 THEN -18000
                                 ELSE 0 END AS epoch_utc
    FROM events
    """,
)
def date_tz_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-date `timezone => "%{tzf}"` — a sprintf per-event
    zone: the wall-clock string is re-interpreted in each row's own
    zone before normalizing to UTC (`to_utc_timestamp` with a COLUMN
    tz). The oracle derives expected epochs independently by interval
    arithmetic over fixed offsets (utc = local − offset), so no
    timezone machinery has to agree across engines."""
    from logstash_spark.operators.parse import date as date_op

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    tzf = (
        F.when(eid % 3 == 0, F.lit("+02:00"))
        .when(eid % 3 == 1, F.lit("-05:00"))
        .otherwise(F.lit("+00:00"))
    )
    df = ev.select(
        "event_id",
        tzf.alias("tzf"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dstr"),
    )
    out = date_op(
        df, "dstr", ["yyyy-MM-dd HH:mm:ss"], timezone="%{tzf}", target="parsed"
    )
    return out.select(
        "event_id", "tzf", F.unix_timestamp("parsed").alias("epoch_utc")
    )


@query(
    "grok_firewall_families",
    """
    WITH base AS (
      SELECT event_id AS eid, user_id AS uid FROM events
    )
    SELECT eid AS event_id,
           -- cisco rows (eid % 3 = 0)
           CASE WHEN eid % 3 = 0 THEN
                CASE WHEN eid % 2 = 0 THEN 'Built' ELSE 'Teardown' END
           END AS action,
           CASE WHEN eid % 3 = 0 AND eid % 2 = 0 THEN 'inbound' END AS direction,
           CASE WHEN eid % 3 = 0 THEN
                CASE WHEN eid % 5 = 0 THEN 'UDP' ELSE 'TCP' END
           END AS protocol,
           CASE WHEN eid % 3 = 0 THEN CAST(eid % 100000 AS INT) END
               AS connection_id,
           CASE WHEN eid % 3 = 0 THEN
                '192.168.' || CAST(uid % 200 AS VARCHAR) || '.'
                           || CAST(eid % 250 AS VARCHAR)
           END AS src_ip,
           CASE WHEN eid % 3 = 0 THEN CAST(1024 + eid % 60000 AS INT) END
               AS src_port,
           CASE WHEN eid % 3 = 0 THEN CAST(443 AS INT) END AS dst_port,
           CASE WHEN eid % 3 = 0 AND eid % 2 = 1
                THEN CAST(eid % 100000 AS INT) END AS bytes,
           -- nagios rows (eid % 3 = 1)
           CASE WHEN eid % 3 = 1 THEN 'host-' || CAST(uid % 50 AS VARCHAR) END
               AS nagios_hostname,
           CASE WHEN eid % 3 = 1 THEN
                CASE uid % 3 WHEN 0 THEN 'CRITICAL' WHEN 1 THEN 'WARNING'
                             ELSE 'OK' END
           END AS nagios_state,
           CASE WHEN eid % 3 = 1 THEN CAST(1 + eid % 5 AS INT) END
               AS nagios_attempt,
           CASE WHEN eid % 3 = 1 THEN 'check output ' || CAST(eid AS VARCHAR) END
               AS nagios_message,
           -- pam rows (eid % 3 = 2)
           CASE WHEN eid % 3 = 2 THEN 'sshd' END AS program,
           CASE WHEN eid % 3 = 2 THEN
                CASE WHEN eid % 2 = 0 THEN 'opened' ELSE 'closed' END
           END AS pam_session_state,
           CASE WHEN eid % 3 = 2 THEN 'user' || CAST(uid % 100 AS VARCHAR) END
               AS username,
           CASE WHEN eid % 3 = 2 AND eid % 2 = 0 THEN '(uid=0)' END AS pam_by
    FROM base
    """,
)
def grok_firewall_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stock-pattern families through one grok pattern list
    (reference: logstash-patterns-core patterns/legacy/{firewalls,
    nagios,linux-syslog}, behavioral rewrites in grok.py; first-match
    break_on_match per logstash-filter-grok §match):

    * CISCOFW302013_302014_302015_302016 — ASA Built/Teardown connection
      lines, with the optional direction / duration+bytes tails;
    * NAGIOSLOGLINE — SERVICE ALERT branch of the alternation;
    * SYSLOGPAMSESSION — pam_unix session open/close with optional `by`.

    All captures are scalars (:int casts inside the patterns); the three
    families partition the corpus on event_id % 3 so the oracle can
    recompute every field exactly.
    """
    from logstash_spark.operators.parse import grok

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")

    proto = F.when(eid % 5 == 0, "UDP").otherwise("TCP")
    cisco = F.concat(
        F.when(eid % 2 == 0, F.lit("Built inbound ")).otherwise(F.lit("Teardown ")),
        proto,
        F.lit(" connection "),
        (eid % 100000).cast("string"),
        F.format_string(" for outside:192.168.%d.%d/", uid % 200, eid % 250),
        (F.lit(1024) + eid % 60000).cast("string"),
        F.format_string(" to inside:10.0.%d.%d/443", uid % 100, eid % 200),
        F.when(
            eid % 2 == 1,
            F.concat(
                F.lit(" duration 0:00:"),
                F.lpad((eid % 60).cast("string"), 2, "0"),
                F.lit(" bytes "),
                (eid % 100000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    nagios_state = (
        F.when(uid % 3 == 0, "CRITICAL").when(uid % 3 == 1, "WARNING").otherwise("OK")
    )
    nagios = F.concat(
        F.lit("[14721213"),
        F.lpad((eid % 100).cast("string"), 2, "0"),
        F.lit("] SERVICE ALERT: host-"),
        (uid % 50).cast("string"),
        F.lit(";http;"),
        nagios_state,
        F.lit(";HARD;"),
        (F.lit(1) + eid % 5).cast("string"),
        F.lit(";check output "),
        eid.cast("string"),
    )
    pam = F.concat(
        F.lit("Aug 17 10:00:01 web-"),
        (uid % 20).cast("string"),
        F.lit(" sshd["),
        (eid % 30000).cast("string"),
        F.lit("]: pam_unix(sshd:session): session "),
        F.when(eid % 2 == 0, F.lit("opened")).otherwise(F.lit("closed")),
        F.lit(" for user user"),
        (uid % 100).cast("string"),
        F.when(eid % 2 == 0, F.lit(" by (uid=0)")).otherwise(F.lit("")),
    )
    line = (
        F.when(eid % 3 == 0, cisco).when(eid % 3 == 1, nagios).otherwise(pam)
    )
    df = ev.select("event_id", "user_id", line.alias("message"))
    out = grok(
        df,
        "message",
        [
            "%{CISCOFW302013_302014_302015_302016}",
            "%{NAGIOSLOGLINE}",
            "%{SYSLOGPAMSESSION}",
        ],
    )
    return out.select(
        "event_id",
        "action",
        "direction",
        "protocol",
        F.col("connection_id").cast("int").alias("connection_id"),
        "src_ip",
        F.col("src_port").cast("int").alias("src_port"),
        F.col("dst_port").cast("int").alias("dst_port"),
        F.col("bytes").cast("int").alias("bytes"),
        "nagios_hostname",
        "nagios_state",
        F.col("nagios_attempt").cast("int").alias("nagios_attempt"),
        "nagios_message",
        "program",
        "pam_session_state",
        "username",
        "pam_by",
    )


@query(
    "punct_template_mining",
    """
    WITH msgs AS (
      SELECT event_id,
             CASE CAST(event_id % 3 AS INT)
                  WHEN 0 THEN 'GET /api/v' || CAST(user_id % 3 AS VARCHAR)
                       || '/users?id=' || CAST(event_id AS VARCHAR) || ' 200'
                  WHEN 1 THEN 'ERROR [pool-' || CAST(user_id % 10 AS VARCHAR)
                       || '-thread-' || CAST(event_id % 8 AS VARCHAR)
                       || '] timeout after ' || CAST(event_id % 500 AS VARCHAR)
                       || 'ms'
                  ELSE 'user=' || CAST(user_id AS VARCHAR) || ' action=login ok'
             END AS msg
      FROM events
    ),
    sig AS (
      SELECT event_id,
             regexp_replace(msg, '[a-zA-Z0-9 ]', '', 'g') AS punct_sig,
             CAST(length(msg) - length(replace(msg, ' ', '')) + 1 AS INT)
                 AS n_tokens
      FROM msgs
    )
    SELECT punct_sig, n_tokens,
           COUNT(*) AS template_count,
           MIN(event_id) AS canon_event_id
    FROM sig
    GROUP BY punct_sig, n_tokens
    ORDER BY punct_sig, n_tokens
    """,
)
def punct_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """punct filter + template mining (reference: logstash-filter-punct
    §filter — the gsub skeleton — used exactly as its README suggests:
    group identical skeletons to discover the printf sites emitting the
    logs; same idea as Drain/LogMine's coarse first pass). Three
    synthetic printf sites over the events table collapse to three
    (skeleton, token-count) templates; the gate checks the skeleton
    strings, per-template counts, and the canonical (min event_id)
    exemplar. Plan: pure column exprs + ONE groupBy shuffle with
    map-side partial aggregation — template count is bounded by distinct
    printf sites, not rows, so the reduce side is tiny at any corpus
    size."""
    from logstash_spark.functions import punct as _punct  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    eid, uid = F.col("event_id"), F.col("user_id")
    s = lambda c: c.cast("string")  # noqa: E731
    msg = (
        F.when(
            eid % 3 == 0,
            F.concat(
                F.lit("GET /api/v"), s(uid % 3),
                F.lit("/users?id="), s(eid), F.lit(" 200"),
            ),
        )
        .when(
            eid % 3 == 1,
            F.concat(
                F.lit("ERROR [pool-"), s(uid % 10),
                F.lit("-thread-"), s(eid % 8),
                F.lit("] timeout after "), s(eid % 500), F.lit("ms"),
            ),
        )
        .otherwise(
            F.concat(F.lit("user="), s(uid), F.lit(" action=login ok"))
        )
    )
    df = _punct(ev.withColumn("message", msg), "message", target="punct_sig")
    n_tokens = (
        F.length("message")
        - F.length(F.replace(F.col("message"), F.lit(" "), F.lit("")))
        + 1
    ).cast("int")
    return (
        df.withColumn("n_tokens", n_tokens)
        .groupBy("punct_sig", "n_tokens")
        .agg(
            F.count("*").alias("template_count"),
            F.min("event_id").alias("canon_event_id"),
        )
        .orderBy("punct_sig", "n_tokens")
    )


@query(
    "metadata_convention",
    """
    SELECT event_id,
           event_type,
           'ev-' || event_type || '-' || CAST(event_id % 4 AS VARCHAR)
               AS idx_name,
           FALSE AS meta_leaked
    FROM events
    WHERE event_type IN ('click', 'view')
    """,
)
def metadata_convention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`[@metadata]` end-to-end through a REAL pipeline run: a mutate
    writes `[@metadata][shard]` and `[@metadata][et]`, a second mutate
    sprintf-consumes them into the serialized `idx_name`, the route
    condition reads `[@metadata][et]` — and the physical sink table must
    contain NO `@metadata` column (the reference never serializes the
    metadata map; the `meta_leaked` flag pins that schema fact into the
    value hash)."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from logstash_spark.operators.common import METADATA  # noqa: PLC0415
    from logstash_spark.plans.runner import run_pipeline  # noqa: PLC0415
    from logstash_spark.plans.spec import (  # noqa: PLC0415
        FilterSpec,
        PipelineSpec,
        SinkSpec,
    )
    from logstash_spark.sources.tableio import SnapshotTable  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", (F.col("event_id") % 4).cast("string").alias("shard")
    )
    spec = PipelineSpec(
        name="meta_gate",
        filters=[
            FilterSpec(
                "mutate",
                {"add_field": {"[@metadata][shard]": "%{shard}",
                               "[@metadata][et]": "%{event_type}"}},
            ),
            FilterSpec(
                "mutate",
                {"add_field": {
                    "idx_name": "ev-%{[@metadata][et]}-%{[@metadata][shard]}"
                }},
            ),
        ],
        routes={
            "sink_ui": '[@metadata][et] == "click" or [@metadata][et] == "view"'
        },
        else_sink="sink_rest",
        sinks=[SinkSpec("sink_ui"), SinkSpec("sink_rest")],
        aggregate_dims=["event_type"],
        aggregate_sum=None,
        metrics_ts=None,
    )
    work = tempfile.mkdtemp(prefix="meta_gate_")
    try:
        run_pipeline(spark, ev, spec, work, resume=False)
        out = SnapshotTable(f"{work}/sink_ui").read(spark)
        rows = out.select(
            "event_id", "event_type", "idx_name",
            F.lit(METADATA in out.columns).alias("meta_leaked"),
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id bigint, event_type string, idx_name string, meta_leaked boolean"
    )


@query(
    "lscl_env_pipeline",
    """
    SELECT event_id, event_type,
           'staging-' || event_type AS env_tag,
           'eu-1' AS region
    FROM events
    WHERE event_type = 'click'
    """,
)
def lscl_env_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`${VAR}` / `${VAR:default}` environment substitution end-to-end
    through a REAL `.conf` pipeline run (reference: docs "Using
    environment variables"; logstash-core substitution_variables.rb):
    an add_field value mixes an unset-var DEFAULT (`${..:staging}`) with
    a sprintf, a second field and the hot sink's file path both come
    from SET env vars — compile, run, gate the hot sink's contents.
    Conditions stay literal (the reference does not substitute inside
    expressions, and neither do we)."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from logstash_spark.plans.lscl import compile_conf  # noqa: PLC0415
    from logstash_spark.plans.runner import run_pipeline  # noqa: PLC0415
    from logstash_spark.sources.tableio import SnapshotTable  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    conf = """
    filter {
      mutate { add_field => {
        "env_tag" => "${LSCL_GATE_ENV:staging}-%{event_type}"
        "region" => "${LSCL_GATE_REGION}" } }
    }
    output {
      if [event_type] == "click" { file { path => "${LSCL_GATE_SINK}" } }
      file { path => "rest" }
    }
    """
    # hermetic: env passed explicitly (no os.environ mutation — the gate
    # may run concurrently with other queries in one driver process);
    # LSCL_GATE_ENV absent so the `:staging` default must engage
    gate_env = {"LSCL_GATE_REGION": "eu-1", "LSCL_GATE_SINK": "hot"}
    work = tempfile.mkdtemp(prefix="lscl_env_gate_")
    try:
        spec, _ = compile_conf(conf, aggregate_dims=["event_type"], env=gate_env)
        assert "hot" in spec.routes, spec.routes
        run_pipeline(spark, ev, spec, f"{work}/sinks", resume=False)
        out = SnapshotTable(f"{work}/sinks/hot").read(spark)
        rows = out.select("event_id", "event_type", "env_tag", "region").collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_id bigint, event_type string, env_tag string, region string"
    )
