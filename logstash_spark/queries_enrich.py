"""Correctness gates for enrich, mutate and routing filters. Each `@query`
pairs a Spark query over the driver test tables with the DuckDB SQL that
re-derives its result; `queries` collects them.
"""

from __future__ import annotations

import atexit
import os
import sqlite3
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.functions import fingerprint, range_tag
from logstash_spark.operators import mutate as M
from logstash_spark.operators.common import sprintf
from logstash_spark.operators.dataprep import portable_hash32
from logstash_spark.operators.enrich import (
    cidr,
    geoip_range_join,
    static_lookup_df,
    translate,
)
from logstash_spark.operators.multiplicity import clone, drop_events, split_events
from logstash_spark.operators.parse import useragent
from logstash_spark.operators.route import add_routes
from logstash_spark.queries_common import _t, query


@query(
    "mutate_ops",
    """
    SELECT doc_id,
           upper(lang) AS lang_up,
           substr(regexp_replace(text, 'spark', 'SPARK', 'g'), 1, 20) AS snippet,
           md5(source) AS src_md5
    FROM documents
    """,
)
def mutate_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate gsub+uppercase+copy, truncate, fingerprint(MD5) combined."""
    docs = _t(spark, sf_dir, "documents")
    out = M.mutate(
        docs,
        copy={"lang": "lang_up", "text": "snippet"},
    )
    out = M.mutate(out, uppercase=["lang_up"], gsub=[("snippet", "spark", "SPARK")])
    from logstash_spark.functions import truncate as trunc_op

    out = trunc_op(out, ["snippet"], 20)
    out = fingerprint(out, "source", target="src_md5", method="MD5")
    return out.select("doc_id", "lang_up", "snippet", "src_md5")


@query(
    "bytes_convert",
    """
    SELECT event_id,
           CAST(CAST(regexp_extract(s, '([0-9.]+)', 1) AS DOUBLE) * 1048576 AS BIGINT) AS bytes
    FROM (SELECT event_id, CAST(user_id AS VARCHAR) || ' MB' AS s FROM events)
    """,
)
def bytes_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-bytes: '<n> MB' → byte count."""
    from logstash_spark.functions import bytes_filter

    ev = _t(spark, sf_dir, "events")
    df = ev.withColumn("s", F.concat(F.col("user_id").cast("string"), F.lit(" MB")))
    return bytes_filter(df, "s", target="bytes").select("event_id", "bytes")


_EVENT_DICT = [
    ("signup", "onboarding"),
    ("purchase", "revenue"),
    ("click", "engagement"),
    ("view", "engagement"),
]  # 'error' deliberately absent → fallback


@query(
    "translate_enrich",
    """
    SELECT e.event_id, e.event_type,
           COALESCE(d.category, 'other') AS category
    FROM events e
    LEFT JOIN (VALUES ('signup','onboarding'), ('purchase','revenue'),
                      ('click','engagement'), ('view','engagement'))
         AS d(event_type, category)
    ON e.event_type = d.event_type
    """,
)
def translate_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-translate: broadcast dict join with fallback."""
    ev = _t(spark, sf_dir, "events")
    out = translate(ev, "event_type", "category", dict(_EVENT_DICT), fallback="other")
    return out.select("event_id", "event_type", "category")


_ROUTE_CONDS = {
    "r_error": '[event_type] == "error"',
    "r_big": "[value] > 100",
    "r_purchase": '[event_type] == "purchase"',
}


@query(
    "route_fanout",
    """
    SELECT * FROM (
      SELECT 'r_error' AS sink, CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT 'r_big', CAST(count(*) AS BIGINT) FROM events WHERE value > 100
      UNION ALL
      SELECT 'r_purchase', CAST(count(*) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'r_rest', CAST(count(*) AS BIGINT) FROM events
       WHERE event_type != 'error' AND value <= 100 AND event_type != 'purchase'
    ) WHERE cnt > 0  -- groupBy omits empty sinks; so must the oracle
    """,
)
def route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional output fan-out: graph semantics (multi-sink rows) +
    else-branch, aggregated to per-sink counts."""
    ev = _t(spark, sf_dir, "events")
    routed = add_routes(ev, _ROUTE_CONDS, else_sink="r_rest")
    return (
        routed.select(F.explode("routes").alias("sink"))
        .groupBy("sink")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "script_field_pandas",
    """
    SELECT event_id, value * 2 + length(event_type) AS scored FROM events
    """,
)
def script_field_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-ruby analog: arbitrary per-event scoring as one
    Arrow-vectorized pandas UDF (script_field op)."""
    import pandas as pd

    from logstash_spark.operators.parse import script_field

    ev = _t(spark, sf_dir, "events")

    def score(v: pd.Series, t: pd.Series) -> pd.Series:
        return v * 2 + t.str.len()

    out = script_field(ev, "scored", score, "double", args=["value", "event_type"])
    return out.select("event_id", "scored")


@query(
    "clone_multiply",
    """
    SELECT type, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest([NULL, 'audit', 'archive']) AS type FROM events)
    GROUP BY type
    """,
)
def clone_multiply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-clone: original + one copy per type (3x rows)."""
    ev = _t(spark, sf_dir, "events")
    return clone(ev, ["audit", "archive"]).groupBy("type").agg(F.count("*").alias("cnt"))


@query(
    "split_explode",
    """
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-split: one event per array element (explode)."""
    docs = _t(spark, sf_dir, "documents")
    df = docs.withColumn("word", F.split(F.col("text"), " "))
    return split_events(df, "word").groupBy("word").agg(F.count("*").alias("cnt"))


@query(
    "drop_sampled",
    """
    SELECT CAST(count(*) AS BIGINT) AS kept
    FROM events
    WHERE NOT (event_type = 'click'
               AND CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80)
    """,
)
def drop_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-drop with percentage: deterministically drop 80% of
    'click' events (hash sampling, never rand())."""
    ev = _t(spark, sf_dir, "events")
    out = drop_events(
        ev,
        F.col("event_type") == "click",
        percentage=80,
        key="event_id",
        hash_fn=portable_hash32,
    )
    return out.agg(F.count("*").alias("kept"))


def _ip_col() -> Column:
    return F.concat(
        F.lit("10."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        F.floor(F.col("user_id") / 256).cast("long").__mod__(256).cast("string"),
        F.lit("."),
        (F.col("user_id") % 250).cast("string"),
    )


@query(
    "cidr_tag",
    f"""
    SELECT in_block, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT ((ipl & 4294901760) = 167837696) OR ((ipl & 4278190080) = 201326592) AS in_block
      FROM (
        SELECT 167772160 + (user_id % 256) * 65536 + ((user_id // 256) % 256) * 256
               + (user_id % 250) AS ipl
        FROM events)
    ) GROUP BY in_block
    """,
)
def cidr_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-cidr: IP-in-CIDR via int64 mask math (no UDF).
    Blocks: 10.1.0.0/16 and 12.0.0.0/8."""
    ev = _t(spark, sf_dir, "events").withColumn("ip", _ip_col())
    out = cidr(ev, "ip", ["10.1.0.0/16", "12.0.0.0/8"], target="in_block")
    return out.groupBy("in_block").agg(F.count("*").alias("cnt"))


@query(
    "geoip_enrich",
    f"""
    WITH ev AS (
      SELECT event_id,
             167772160 + (user_id % 256) * 65536 + ((user_id // 256) % 256) * 256
             + (user_id % 250) AS ipl
      FROM events),
    blocks(net_start, net_end, country, city) AS (VALUES
      (167772160, 167837695, 'US', 'nyc'),
      (167837696, 167903231, 'DE', 'ber'),
      (167903232, 168034303, 'JP', 'tyo')
    )
    SELECT country, city, CAST(count(*) AS BIGINT) AS cnt
    FROM ev LEFT JOIN blocks ON ipl >= net_start AND ipl <= net_end
    GROUP BY country, city
    """,
)
def geoip_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-geoip shape: broadcast RANGE join of IPs against
    (net_start, net_end, geo attrs) blocks; fact side never shuffles."""
    ev = _t(spark, sf_dir, "events").withColumn("ip", _ip_col())
    blocks = static_lookup_df(
        spark,
        [
            (167772160, 167837695, "US", "nyc"),
            (167837696, 167903231, "DE", "ber"),
            (167903232, 168034303, "JP", "tyo"),
        ],
        ["net_start", "net_end", "country", "city"],
    )
    out = geoip_range_join(ev, "ip", blocks, attrs=["country", "city"])
    return out.groupBy("country", "city").agg(F.count("*").alias("cnt"))


_UA_BY_TYPE = {
    "click": "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/120.0 Safari/537.36",
    "view": "Mozilla/5.0 (Macintosh; Mac OS X 13) AppleWebKit/605.1 Version/17 Safari/605.1",
    "purchase": "Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "signup": "Mozilla/5.0 (iPhone; CPU iPhone OS 17) AppleWebKit/605.1 Mobile/15E148",
    "error": "curl-bot/8.0 (+https://example.com/spider)",
}


def _ua_col() -> Column:
    """Canned UA string per event_type (shared by both useragent gates)."""
    ua: Column = F.lit(_UA_BY_TYPE["error"])
    for etype, s_ in _UA_BY_TYPE.items():
        ua = F.when(F.col("event_type") == etype, F.lit(s_)).otherwise(ua)
    return ua


@query(
    "useragent_classify",
    """
    SELECT CASE event_type
             WHEN 'click' THEN 'Chrome' WHEN 'view' THEN 'Safari'
             WHEN 'purchase' THEN 'Firefox' WHEN 'signup' THEN 'Other'
             ELSE 'bot' END AS ua_name,
           CASE event_type
             WHEN 'click' THEN 'Windows' WHEN 'view' THEN 'macOS'
             WHEN 'purchase' THEN 'Linux' WHEN 'signup' THEN 'iOS'
             ELSE 'Other' END AS ua_os,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def useragent_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-useragent (coarse classes): canned UA strings per
    event_type, classified by the ordered rlike chain."""
    ev = _t(spark, sf_dir, "events")
    df = useragent(ev.withColumn("ua", _ua_col()), "ua")
    return df.groupBy("ua_name", "ua_os").agg(F.count("*").alias("cnt"))


@query(
    "sprintf_sink_path",
    """
    SELECT 'logs-' || event_type || '-' || strftime(ts, '%Y.%m.%d') AS path,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
    """,
)
def sprintf_sink_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core sprintf templating (`logs-%{event_type}-%{+yyyy.MM.dd}`) — the
    dynamic sink-path pattern (StringInterpolation.java), as partition
    values for a partitioned write."""
    ev = _t(spark, sf_dir, "events")
    path = sprintf("logs-%{event_type}-%{+yyyy.MM.dd}", ts_col="ts")
    return ev.select(path.alias("path")).groupBy("path").agg(F.count("*").alias("cnt"))


@query(
    "mutate_convert_matrix",
    """
    SELECT event_id,
           COALESCE(CAST(CASE WHEN lower(bool_s) IN ('true','t','yes','y','1','1.0') THEN TRUE
                WHEN lower(bool_s) IN ('false','f','no','n','0','0.0') THEN FALSE
                ELSE NULL END AS VARCHAR), 'invalid') AS flag,
           CAST(TRUNC(CAST(num_s AS DOUBLE)) AS BIGINT) AS int_v,
           CAST(num_s AS DOUBLE) AS float_v
    FROM (SELECT event_id,
                 CASE event_id % 5 WHEN 0 THEN 'yes' WHEN 1 THEN 't' WHEN 2 THEN '0'
                                   WHEN 3 THEN 'no' ELSE 'maybe' END AS bool_s,
                 CAST(round(value, 3) AS VARCHAR) AS num_s
          FROM events)
    """,
)
def mutate_convert_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutate convert: Logstash boolean truth table + Ruby to_i truncation
    ('1.5' → 1) + float cast."""
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, "yes")
        .when(F.col("event_id") % 5 == 1, "t")
        .when(F.col("event_id") % 5 == 2, "0")
        .when(F.col("event_id") % 5 == 3, "no")
        .otherwise("maybe")
        .alias("flag"),
        F.round(F.col("value"), 3).cast("string").alias("int_v"),
        F.round(F.col("value"), 3).cast("string").alias("float_v"),
    )
    out = M.convert(df, {"flag": "boolean", "int_v": "integer", "float_v": "float"})
    # null-out-of-table booleans surfaced explicitly so the oracle compare
    # is null-representation-agnostic
    return out.select(
        "event_id",
        F.coalesce(F.col("flag").cast("string"), F.lit("invalid")).alias("flag"),
        "int_v",
        "float_v",
    )


@query(
    "fingerprint_sha256",
    """
    SELECT event_id,
           sha256(concat_ws('|', event_type, CAST(user_id AS VARCHAR))) AS fp
    FROM events
    """,
)
def fingerprint_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-fingerprint SHA256 with concatenate_sources."""
    ev = _t(spark, sf_dir, "events")
    out = fingerprint(ev, ["event_type", "user_id"], target="fp", method="SHA256")
    return out.select("event_id", "fp")


@query(
    "range_tagged",
    """
    SELECT CAST(count(*) AS BIGINT) AS out_of_range
    FROM events WHERE value < 10 OR value > 400
    """,
)
def range_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-range: count rows tagged outside [10, 400]."""
    ev = _t(spark, sf_dir, "events")
    out = range_tag(ev, "value", 10, 400, tag="_rangefailure")
    return out.where(F.array_contains("tags", "_rangefailure")).agg(
        F.count("*").alias("out_of_range")
    )


@query(
    "useragent_version",
    """
    SELECT CASE event_type
             WHEN 'click' THEN 'Chrome' WHEN 'view' THEN 'Safari'
             WHEN 'purchase' THEN 'Firefox' WHEN 'signup' THEN 'Other'
             ELSE 'bot' END AS ua_name,
           CASE event_type
             WHEN 'click' THEN 120 WHEN 'view' THEN 17
             WHEN 'purchase' THEN 120 END AS ua_major,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def useragent_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """useragent major-version extraction (uap precedence: Safari's
    version from the Version/ token; bots/unknowns null)."""
    ev = _t(spark, sf_dir, "events")
    df = useragent(ev.withColumn("ua", _ua_col()), "ua")
    return df.groupBy("ua_name", "ua_major").agg(F.count("*").alias("cnt"))


@query(
    "translate_regex_mode",
    """
    SELECT event_id,
           CASE WHEN event_type SIMILAR TO '(click|view).*' THEN 'engagement'
                WHEN event_type SIMILAR TO '.*(purchase|signup).*' THEN 'conversion'
                ELSE 'other' END AS category
    FROM events
    """,
)
def translate_regex_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """translate regex mode: ordered rlike chain (first matching pattern
    wins), fallback for no match."""
    ev = _t(spark, sf_dir, "events")
    out = translate(
        ev,
        "event_type",
        "category",
        {"^(click|view)": "engagement", "(purchase|signup)": "conversion"},
        regex=True,
        fallback="other",
    )
    return out.select("event_id", "category")


@query(
    "prune_projection",
    """
    SELECT event_id, event_type FROM events
    """,
)
def prune_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-prune: whitelist regex → driver-side select, so
    Catalyst prunes the parquet scan to the kept columns."""
    from logstash_spark.functions import prune

    ev = _t(spark, sf_dir, "events")
    return prune(ev, whitelist=r"^event_")


@query(
    "de_dot_rename",
    """
    SELECT event_id, event_type AS event_meta_type
    FROM events
    """,
)
def de_dot_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-de_dot: dotted field names → separator-joined
    (pure driver-side schema rename, zero data movement)."""
    from logstash_spark.functions import de_dot

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("event_type").alias("event.meta.type")
    )
    out = de_dot(ev, separator="_")
    return out.select("event_id", "event_meta_type")


@query(
    "environment_field",
    """
    SELECT event_id, 'bench' AS deploy_env FROM events
    """,
)
def environment_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-environment: env var → literal column at PLAN time
    (no per-row work; the value is a broadcast constant)."""
    import os as _os

    from logstash_spark.functions import environment

    prev = _os.environ.get("LS_DEPLOY_ENV")
    _os.environ["LS_DEPLOY_ENV"] = "bench"
    try:
        ev = _t(spark, sf_dir, "events")
        out = environment(ev, {"deploy_env": "LS_DEPLOY_ENV"})
    finally:
        # don't leak process-global state into later queries/tests
        if prev is None:
            del _os.environ["LS_DEPLOY_ENV"]
        else:
            _os.environ["LS_DEPLOY_ENV"] = prev
    return out.select("event_id", "deploy_env")


@query(
    "translate_multi_enrich",
    """
    SELECT e.event_id, e.event_type,
           COALESCE(d.category, 'other') AS category,
           COALESCE(d.weight, 0) AS weight
    FROM events e
    LEFT JOIN (VALUES ('click', 'engagement', 1), ('view', 'engagement', 1),
                      ('purchase', 'revenue', 5), ('signup', 'onboarding', 3))
         AS d(event_type, category, weight)
      ON e.event_type = d.event_type
    """,
)
def translate_multi_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jdbc_static analog: multi-column broadcast dictionary join with
    per-column fallbacks (translate_multi)."""
    from logstash_spark.operators.enrich import static_lookup_df, translate_multi

    ev = _t(spark, sf_dir, "events")
    dict_df = static_lookup_df(
        spark,
        [("click", "engagement", 1), ("view", "engagement", 1),
         ("purchase", "revenue", 5), ("signup", "onboarding", 3)],
        ["event_type", "category", "weight"],
    )
    out = translate_multi(
        ev, "event_type", dict_df, "event_type",
        fallbacks={"category": "other", "weight": 0},
    )
    return out.select("event_id", "event_type", "category", F.col("weight").cast("long").alias("weight"))


@query(
    "mutate_nested_fields",
    """
    SELECT event_id,
           event_type AS evt_type,
           'sf' AS evt_env,
           'type=' || event_type AS evt_label,
           CAST(user_id AS VARCHAR) AS evt_user,
           event_type AS flat_type
    FROM events
    """,
)
def mutate_nested_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a nested struct: rename a scalar INTO
    `[evt][type]`, add_field/copy nested targets, rename a nested entry
    back OUT to a flat column, then flatten for the oracle (the driver
    comparator hashes scalars)."""
    ev = _t(spark, sf_dir, "events")
    df = M.rename(ev, {"event_type": "[evt][type]"})
    df = M.add_field(df, {"[evt][env]": "sf", "[evt][label]": "type=%{[evt][type]}"})
    df = M.copy(df, {"user_id": "[evt][user]"})
    df = M.rename(df, {"[evt][type]": "flat_type"})
    df = M.copy(df, {"flat_type": "[evt][type]"})  # write back in
    return df.select(
        "event_id",
        F.col("evt.type").alias("evt_type"),
        F.col("evt.env").alias("evt_env"),
        F.col("evt.label").alias("evt_label"),
        F.col("evt.user").cast("string").alias("evt_user"),
        "flat_type",
    )


@query(
    "dlq_replay",
    """
    SELECT event_id,
           event_type,
           CASE WHEN event_id % 7 = 0 THEN ''
                WHEN event_id % 3 = 0 THEN 'stale'
                ELSE '' END AS leftover_tags
    FROM events
    WHERE event_id % 7 = 0 OR event_id % 3 = 0
    """,
)
def dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dead_letter_queue source semantics over a synthesized DLQ table:
    events carry `_dlq_reason` (comma-joined failure tags); replay
    selects by EXACT reason membership (grok-failures and the
    date+grok combo, not the `_grokparsefailure_x` decoy), strips the
    DLQ metadata, and clears the matched failure tag from `tags`."""
    from logstash_spark.sources.dlq import dlq_replay_frame

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    reason = (
        F.when(eid % 7 == 0, F.lit("_grokparsefailure"))
        .when(eid % 3 == 0, F.lit("_dateparsefailure,_grokparsefailure,stale"))
        .otherwise(F.lit("_grokparsefailure_x"))
    )
    dlq = ev.withColumn("_dlq_reason", reason).withColumn(
        "tags", F.split(reason, ",")
    )
    out = dlq_replay_frame(
        dlq,
        reason_filter="_grokparsefailure",
        clear_tags=["_grokparsefailure", "_dateparsefailure"],
    )
    return out.select(
        "event_id",
        "event_type",
        F.concat_ws(",", F.col("tags")).alias("leftover_tags"),
    )


@query(
    "geoip_attributes",
    """
    SELECT event_id,
           '10.' || CAST(event_id % 256 AS VARCHAR) || '.'
                 || CAST(user_id % 256 AS VARCHAR) || '.'
                 || CAST(event_id % 100 AS VARCHAR) AS ip,
           CASE WHEN event_id % 256 < 64  THEN 'US'
                WHEN event_id % 256 < 128 THEN 'DE'
                WHEN event_id % 256 < 192 THEN 'JP'
                ELSE 'BR' END AS country_code2,
           CASE WHEN event_id % 256 < 64  THEN 'NA'
                WHEN event_id % 256 < 128 THEN 'EU'
                WHEN event_id % 256 < 192 THEN 'AS'
                ELSE 'SA' END AS continent_code,
           CASE WHEN event_id % 256 < 64  THEN 'New York'
                WHEN event_id % 256 < 128 THEN 'Berlin'
                WHEN event_id % 256 < 192 THEN 'Tokyo'
                ELSE 'Sao Paulo' END AS city_name,
           CASE WHEN event_id % 256 < 64  THEN 40.71
                WHEN event_id % 256 < 128 THEN 52.52
                WHEN event_id % 256 < 192 THEN 35.68
                ELSE -23.55 END AS latitude,
           CAST(CASE WHEN event_id % 256 < 64  THEN 15169
                WHEN event_id % 256 < 128 THEN 3320
                WHEN event_id % 256 < 192 THEN 2914
                ELSE 26599 END AS BIGINT) AS asn,
           CASE WHEN event_id % 256 < 64  THEN 'America/New_York'
                WHEN event_id % 256 < 128 THEN 'Europe/Berlin'
                WHEN event_id % 256 < 192 THEN 'Asia/Tokyo'
                ELSE 'America/Sao_Paulo' END AS timezone
    FROM events
    """,
)
def geoip_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip with the full mmdb attribute set over a canned block table
    (geoip_blocks builder, GeoLite2-City-Blocks shape): 10.0.0.0/8 split
    into four /10s, each carrying country/continent/city/lat/lon/tz/ASN.
    Broadcast range join — the fact side never shuffles."""
    from logstash_spark.operators.enrich import geoip_blocks, geoip_range_join

    blocks = geoip_blocks(
        spark,
        [
            ("10.0.0.0/10", {"country_code2": "US", "country_name": "United States",
                             "continent_code": "NA", "city_name": "New York",
                             "latitude": 40.71, "longitude": -74.01,
                             "timezone": "America/New_York", "asn": 15169,
                             "as_org": "Example US"}),
            ("10.64.0.0/10", {"country_code2": "DE", "country_name": "Germany",
                              "continent_code": "EU", "city_name": "Berlin",
                              "latitude": 52.52, "longitude": 13.40,
                              "timezone": "Europe/Berlin", "asn": 3320,
                              "as_org": "Example DE"}),
            ("10.128.0.0/10", {"country_code2": "JP", "country_name": "Japan",
                               "continent_code": "AS", "city_name": "Tokyo",
                               "latitude": 35.68, "longitude": 139.69,
                               "timezone": "Asia/Tokyo", "asn": 2914,
                               "as_org": "Example JP"}),
            ("10.192.0.0/10", {"country_code2": "BR", "country_name": "Brazil",
                               "continent_code": "SA", "city_name": "Sao Paulo",
                               "latitude": -23.55, "longitude": -46.63,
                               "timezone": "America/Sao_Paulo", "asn": 26599,
                               "as_org": "Example BR"}),
        ],
    )
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    ip = F.format_string("10.%d.%d.%d", eid % 256, uid % 256, eid % 100)
    df = ev.select("event_id", ip.alias("ip"))
    out = geoip_range_join(df, "ip", blocks)
    return out.select(
        "event_id", "ip", "country_code2", "continent_code", "city_name",
        "latitude", "asn", "timezone",
    )


@query(
    "tld_extract",
    """
    WITH h AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % 3 = 0 THEN 'www.' ELSE '' END
                 || 'svc' || CAST(user_id % 50 AS VARCHAR)
                 || '.brand' || CAST(event_id % 97 AS VARCHAR) || '.'
                 || list_extract(['co.uk','com','org','com.au','co.jp','net'],
                                 CAST(event_id % 6 AS INT) + 1) AS host,
               list_extract(['co.uk','com','org','com.au','co.jp','net'],
                            CAST(event_id % 6 AS INT) + 1) AS sfx
        FROM events
    )
    SELECT event_id, host,
           sfx AS tld,
           'brand' || CAST(event_id % 97 AS VARCHAR) AS sld,
           CASE WHEN event_id % 3 = 0 THEN 'www.' ELSE '' END
             || 'svc' || CAST(user_id % 50 AS VARCHAR) AS trd,
           'brand' || CAST(event_id % 97 AS VARCHAR) || '.' || sfx AS domain
    FROM h
    """,
)
def tld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-tld over synthesized hostnames spanning multi-label
    public suffixes (co.uk/com.au/co.jp) and plain TLDs. The oracle derives
    ground truth from the synthesis recipe — an independent derivation, not
    a re-run of the parser (reference: logstash-filter-tld + public_suffix
    gem field set tld/sld/trd/domain)."""
    from logstash_spark.functions import tld as tld_op

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in ["co.uk", "com", "org", "com.au", "co.jp", "net"]]),
        (eid % 6 + 1).cast("int"),
    )
    host = F.concat(
        F.when(eid % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("svc"), (uid % 50).cast("string"),
        F.lit(".brand"), (eid % 97).cast("string"), F.lit("."), sfx,
    )
    out = tld_op(ev.withColumn("host", host), "host")
    return out.select("event_id", "host", "tld", "sld", "trd", "domain")


@query(
    "metricize_split",
    """
    SELECT event_id, 'cpu' AS metric, round(value, 3) AS value FROM events
    UNION ALL
    SELECT event_id, 'mem' AS metric, round(value * 2, 3) AS value
    FROM events WHERE event_id % 7 <> 0
    """,
)
def metricize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-metricize: one event carrying cpu+mem readings →
    one event per metric; absent (null) metrics skipped like the plugin
    skips missing fields (reference: logstash-filter-metricize)."""
    from logstash_spark.operators.multiplicity import metricize

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value"), 3).alias("cpu"),
        F.when(F.col("event_id") % 7 != 0, F.round(F.col("value") * 2, 3)).alias("mem"),
    )
    return metricize(ev, ["cpu", "mem"])


@query(
    "age_alter_tagged",
    """
    SELECT event_id,
           CAST(floor(date_diff('microsecond', ts, TIMESTAMP '2024-02-01 00:00:00')
                      / 1000000.0) AS BIGINT) AS age_s,
           date_diff('microsecond', ts, TIMESTAMP '2024-02-01 00:00:00')
             / 1000000.0 > 1209600 AS is_old,
           CASE WHEN event_type = 'error' THEN 'failure' ELSE event_type END AS etype,
           CASE WHEN event_type = 'purchase' THEN 'revenue' ELSE 'ops' END AS lane
    FROM events
    """,
)
def age_alter_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-age (pinned reference instant, 14-day max_age tag)
    composed with logstash-filter-alter (condrewrite error→failure,
    condrewriteother purchase→revenue-lane). Age floor-rounded to whole
    seconds so both engines hash identically."""
    from logstash_spark.functions import age as age_op, alter as alter_op

    ev = _t(spark, sf_dir, "events")
    a = age_op(ev, source="ts", now="2024-02-01 00:00:00", max_age=1209600.0)
    a = a.withColumn("lane", F.lit("ops"))
    a = alter_op(
        a,
        condrewrite=[("event_type", "error", "failure")],
        condrewriteother=[("event_type", "purchase", "lane", "revenue")],
    )
    return a.select(
        "event_id",
        F.floor(F.col("age")).cast("bigint").alias("age_s"),
        F.array_contains(F.col("tags"), "_agefilter").alias("is_old"),
        F.col("event_type").alias("etype"),
        F.coalesce(F.col("lane"), F.lit("ops")).alias("lane"),
    )


@query(
    "asof_enrich",
    """
    WITH dim AS (
      SELECT event_type, ts AS valid_from, event_id AS cfg_version
      FROM events WHERE event_id % 997 = 0
    )
    SELECT l.event_id, l.ts, l.event_type,
           d.cfg_version, d.valid_from AS cfg_since
    FROM events l ASOF LEFT JOIN dim d
      ON l.event_type = d.event_type AND l.ts >= d.valid_from
    """,
)
def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (`enrich.asof_join`): every event picks up the
    config version active at its timestamp (latest dim row with
    valid_from <= ts per event_type). The dim table is synthesized from
    every 997th event. Spark has no native ASOF; the op is the
    sort-merge re-expression — union + ONE window carry-forward, one
    shuffle on the key, no O(N*M) range join. DuckDB's native ASOF LEFT
    JOIN is the oracle."""
    from logstash_spark.operators.enrich import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    dim = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % 997 == 0)
        .select(
            "event_type",
            F.col("ts").alias("valid_from"),
            F.col("event_id").alias("cfg_version"),
        )
    )
    return asof_join(
        ev,
        dim,
        ["event_type"],
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["cfg_version"],
        right_tiebreak="cfg_version",
        matched_ts="cfg_since",
    )


@query(
    "anonymize_fields",
    """
    SELECT event_id,
           sha256(event_type) AS event_type,
           md5(CAST(user_id AS VARCHAR)) AS user_md5
    FROM events
    """,
)
def anonymize_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-anonymize: fields overwritten in place with their
    hex digests (SHA256 + MD5 here; SHA1 and the keyed OpenSSL-HMAC
    path are pinned against Python's hmac module in unit tests — DuckDB
    lacks sha1/hmac)."""
    from logstash_spark.functions import anonymize

    ev = _t(spark, sf_dir, "events").withColumn("user_md5", F.col("user_id"))
    out = anonymize(ev, ["event_type"], algorithm="SHA256")
    out = anonymize(out, ["user_md5"], algorithm="MD5")
    return out.select("event_id", "event_type", "user_md5")


_DB_PATH: str | None = None


def _unlink_quietly(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _geo_db() -> str:
    """Deterministic sqlite lookup table, built once per process and
    unlinked at interpreter exit: host-k → two rows (east/west) for
    k<20, one row (eu) for 20<=k<40, no rows for k>=40."""
    global _DB_PATH
    if _DB_PATH and os.path.exists(_DB_PATH):
        return _DB_PATH
    fd, path = tempfile.mkstemp(prefix="lookup_gate_", suffix=".db")
    os.close(fd)
    atexit.register(_unlink_quietly, path)
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE geo (host TEXT, code TEXT, region TEXT)")
    rows = []
    for k in range(40):
        if k < 20:
            rows.append((f"host-{k}", f"C{k}", "east"))
            rows.append((f"host-{k}", f"C{k}", "west"))
        else:
            rows.append((f"host-{k}", f"C{k}", "eu"))
    conn.executemany("INSERT INTO geo VALUES (?,?,?)", rows)
    conn.commit()
    conn.close()
    _DB_PATH = path
    return path


@query(
    "external_lookup_enrich",
    """
    WITH ev AS (
      SELECT event_id, 'host-' || CAST(event_id % 50 AS VARCHAR) AS host,
             event_id % 50 AS k
      FROM events WHERE event_id % 7 = 0
    )
    SELECT event_id,
           host,
           CASE WHEN k < 40
                THEN '10.0.' || CAST(k AS VARCHAR) || '.1'
                ELSE host END AS resolved_host,
           CASE WHEN k >= 40 THEN '_dnsfailure' ELSE '' END AS fail_tags,
           CASE WHEN k < 20 THEN 2 WHEN k < 40 THEN 1 ELSE 0 END AS n_geo_rows,
           CASE WHEN k < 40 THEN 'C' || CAST(k AS VARCHAR) END AS first_code,
           CASE WHEN k < 20 THEN 'east' WHEN k < 40 THEN 'eu' END AS first_region
    FROM ev
    """,
)
def external_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dns (replace action, DictClient) + jdbc_streaming (sqlite client,
    array<struct> target) through the shared lookup_enrich operator.
    Hosts 40-49 miss both lookups → _dnsfailure tag + empty geo. The
    oracle recomputes every value from event_id % 50 arithmetic, never
    replaying the lookup machinery."""
    from logstash_spark.operators.lookup import (
        DictClient,
        SqliteLookupClient,
        dns_filter,
        jdbc_streaming_filter,
    )

    db = _geo_db()
    mapping = {f"host-{k}": f"10.0.{k}.1" for k in range(40)}
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            F.concat(F.lit("host-"), (F.col("event_id") % 50).cast("string")).alias(
                "host"
            ),
        )
    )
    resolved = dns_filter(
        ev.withColumn("orig_host", F.col("host")),
        resolve=["host"],
        client_factory=lambda: DictClient(mapping),
        client_key="gate-dns",
    ).withColumnsRenamed({"host": "resolved_host", "orig_host": "host"})
    enriched = jdbc_streaming_filter(
        resolved,
        "host",
        "geo",
        client_factory=lambda: SqliteLookupClient(
            db, "SELECT code, region FROM geo WHERE host = ? ORDER BY region"
        ),
        client_key=f"gate-jdbc:{db}",
        value_type="array<struct<code:string,region:string>>",
        tag_on_failure=(),  # jdbc miss is data-dependent here, dns already tagged
    )
    return enriched.select(
        "event_id",
        "host",
        "resolved_host",
        F.concat_ws(",", F.coalesce("tags", F.array().cast("array<string>"))).alias(
            "fail_tags"
        ),
        F.when(F.col("geo").isNull(), F.lit(0))
        .otherwise(F.size("geo"))
        .cast("int")
        .alias("n_geo_rows"),
        F.element_at("geo", 1).getField("code").alias("first_code"),
        F.element_at("geo", 1).getField("region").alias("first_region"),
    )
