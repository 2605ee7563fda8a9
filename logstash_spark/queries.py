"""Correctness-gate query registry: every implemented operator exposed as
a (spark_fn, duckdb_oracle_sql) pair over the driver test tables.

Each Spark query exercises the REAL operator implementation
(logstash_spark.operators.*); each oracle re-derives the same result in
ANSI SQL for DuckDB. Column names and types are aligned on both sides
(the driver hash-compares values after sorting columns by name).

Float discipline: money aggregates go through DECIMAL and are rounded
before the final cast to DOUBLE so both engines emit identical values;
counts are BIGINT on both sides (DuckDB sum() yields HUGEINT otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators.aggregate import elapsed, metrics, throttle
from logstash_spark.operators.enrich import translate
from logstash_spark.operators.parse import date as date_op
from logstash_spark.operators.parse import dissect, grok, json_filter, kv
from logstash_spark.operators.route import add_routes
from logstash_spark.functions import fingerprint
from logstash_spark.operators import mutate as M

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Parse operators (grok / dissect / json / kv / date)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Mutate / scalar functions
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Enrichment / routing
# ---------------------------------------------------------------------------

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
    "line_codec_split",
    """
    SELECT event_id, 0 AS line_no, 'a=' || event_type AS message FROM events
    UNION ALL
    SELECT event_id, 1, 'b=' || CAST(user_id AS VARCHAR) FROM events
    """,
)
def line_codec_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-line: a two-line blob decodes to one event per line
    with its 0-based line number (trailing empty line dropped)."""
    from logstash_spark.operators.codec import line_codec

    ev = _t(spark, sf_dir, "events")
    blob = F.concat(
        F.lit("a="), F.col("event_type"), F.lit("\nb="),
        F.col("user_id").cast("string"), F.lit("\n"),
    )
    df = ev.select("event_id", blob.alias("blob"))
    return line_codec(df, "blob").select("event_id", "line_no", "message")


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


# ---------------------------------------------------------------------------
# Aggregations / windows
# ---------------------------------------------------------------------------


@query(
    "metrics_window",
    """
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def metrics_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-metrics: tumbling 5-minute meter counts."""
    ev = _t(spark, sf_dir, "events")
    m = metrics(ev, "ts", ["event_type"], window_duration="5 minutes", rates=False)
    return m.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
    )


@query(
    "metrics_timer_percentiles",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(value) AS BIGINT) AS cnt,
           round(min(value), 6) AS v_min,
           round(max(value), 6) AS v_max,
           round(avg(value), 6) AS v_mean,
           round(stddev(value), 6) AS v_stddev,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY 1, 2
    """,
)
def metrics_timer_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-metrics timer meters: per-(hour, event_type)
    min/max/mean/stddev + exact interpolated p90/p95 of `value`."""
    from logstash_spark.operators.aggregate import metrics_timer

    ev = _t(spark, sf_dir, "events")
    out = metrics_timer(
        ev, "ts", "value", ["event_type"], window_duration="1 hour",
        percentiles=(0.9, 0.95),
    )
    return out.withColumn(
        "window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
    )


def _ewma_sql_terms(period: int, step: int = 60, horizon: int | None = None) -> str:
    """Σ_j alpha·(1-alpha)^j · lag(inst, j) with Python-computed double
    literals (repr = 17 sig digits) so DuckDB reproduces Spark's
    arithmetic bit-for-bit, in the same left-to-right addition order.
    Default horizon mirrors the operator's per-period ewma_horizon()."""
    import math

    from logstash_spark.operators.aggregate import ewma_horizon

    if horizon is None:
        horizon = ewma_horizon(period, step)
    alpha = 1.0 - math.exp(-float(step) / float(period))
    terms = [
        f"COALESCE(lag(inst, {j}) OVER w, 0.0) * {alpha * (1.0 - alpha) ** j!r}"
        for j in range(horizon)
    ]
    return " + ".join(terms)


@query(
    "metrics_ewma",
    f"""
    WITH counts AS (
      SELECT event_type, CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS tick,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(tick) AS t0, max(tick) AS t1 FROM counts GROUP BY 1),
    grid AS (SELECT event_type, unnest(range(t0, t1 + 60, 60)) AS tick FROM span),
    dense AS (
      SELECT g.event_type, g.tick,
             CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
             CAST(COALESCE(c.cnt, 0) AS DOUBLE) / 60.0 AS inst
      FROM grid g LEFT JOIN counts c USING (event_type, tick)
    )
    SELECT tick AS tick_epoch, event_type, cnt,
           round({_ewma_sql_terms(60)}, 6) AS rate_1m,
           round({_ewma_sql_terms(300)}, 6) AS rate_5m,
           round({_ewma_sql_terms(900)}, 6) AS rate_15m
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY tick)
    """,
)
def metrics_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-metrics EWMA 1/5/15-min rates per event_type meter
    over dense 60s ticks (idle ticks decay the meter)."""
    from logstash_spark.operators.aggregate import metrics_ewma

    ev = _t(spark, sf_dir, "events")
    out = metrics_ewma(ev, "ts", ["event_type"])
    return out.select(
        F.unix_timestamp("window_start").alias("tick_epoch"),
        "event_type",
        "cnt",
        "rate_1m",
        "rate_5m",
        "rate_15m",
    )


@query(
    "rollup_agg",
    """
    SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
    FROM documents GROUP BY ROLLUP(source, lang)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grand totals) — free in Spark, absent in the
    reference (SURVEY.md §2.7)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("source", "lang").agg(
        F.count("*").alias("cnt"), F.sum("n_chars").alias("sum_n_chars")
    )


@query(
    "throttle_tag",
    """
    WITH seq AS (
      SELECT user_id,
             row_number() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts)
               ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS throttled_cnt
    FROM seq WHERE rn > 2 GROUP BY user_id
    """,
)
def throttle_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-throttle: events past the first 2 per (user, day).
    Deterministic tie-break on event_id; thresholds chosen so the gate is
    non-trivial (nonzero tagged rows) at the driver's sf0.01."""
    ev = _t(spark, sf_dir, "events")
    out = throttle(
        ev, "user_id", "ts", period_seconds=86400, max_count=2, tag="throttled",
        tiebreak="event_id",
    )
    return (
        out.where(F.array_contains("tags", "throttled"))
        .groupBy("user_id")
        .agg(F.count("*").alias("throttled_cnt"))
    )


@query(
    "elapsed_pairs",
    """
    SELECT user_id,
           CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS elapsed_us
    FROM events GROUP BY user_id
    """,
)
def elapsed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-elapsed: time between first/last event per task id."""
    ev = _t(spark, sf_dir, "events")
    return elapsed(ev, "user_id", "ts").select("user_id", "elapsed_us")


@query(
    "aggregate_pandas_state",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events)
    SELECT user_id,
           max(CASE WHEN rn = 1 THEN event_type END) AS first_type,
           max(CASE WHEN rn = n THEN event_type END) AS last_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS span_us
    FROM ordered GROUP BY user_id
    """,
)
def aggregate_pandas_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-aggregate arbitrary-code analog: custom pandas
    state logic per task (first/last event type + span) via the
    aggregate_map grouped-map escape hatch."""
    import pandas as pd

    from logstash_spark.operators.aggregate import aggregate_map

    ev = _t(spark, sf_dir, "events")

    def per_task(pdf: pd.DataFrame) -> pd.DataFrame:
        span = (pdf["ts"].iloc[-1] - pdf["ts"].iloc[0]) // pd.Timedelta(
            microseconds=1
        )
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "first_type": [pdf["event_type"].iloc[0]],
                "last_type": [pdf["event_type"].iloc[-1]],
                "n_events": [len(pdf)],
                "span_us": [span],
            }
        )

    return aggregate_map(
        ev.select("user_id", "event_type", "ts", "event_id"),
        "user_id",
        per_task,
        "user_id bigint, first_type string, last_type string, "
        "n_events bigint, span_us bigint",
        sort_by=("ts", "event_id"),
    )


@query(
    "dedupe_exact",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS copies
    FROM documents GROUP BY text
    """,
)
def dedupe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per identical text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("copies")
    ).drop("text")


# ---------------------------------------------------------------------------
# Relational sanity (TPC-H-style over the star schema)
# ---------------------------------------------------------------------------


@query(
    "lineitem_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: predicate pushdown + map-side partial agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("sum_price"),
        )
    )


@query(
    "nation_revenue",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain: orders ⨝ customer ⨝ nation (both dims tiny →
    zero-shuffle joins; only the final groupBy shuffles)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
        )
    )


def run_query(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    return QUERIES[name](spark, sf_dir)


# Register the training-data prep queries (dedup/similarity/text/multimodal)
# and the batch-2 Logstash operator queries into the same QUERIES/ORACLES
# maps (bottom imports avoid a cycle).
from logstash_spark import queries_dataprep as _qdp  # noqa: E402,F401
from logstash_spark import queries_dataprep2 as _qdp2  # noqa: E402,F401
from logstash_spark import queries_dataprep3 as _qdp3  # noqa: E402,F401
from logstash_spark import queries_logstash2 as _ql2  # noqa: E402,F401
from logstash_spark import queries_logstash3 as _ql3  # noqa: E402,F401
from logstash_spark import queries_logstash4 as _ql4  # noqa: E402,F401
from logstash_spark import queries_logstash5 as _ql5  # noqa: E402,F401
from logstash_spark import queries_logstash6 as _ql6  # noqa: E402,F401
from logstash_spark import queries_logstash7 as _ql7  # noqa: E402,F401
from logstash_spark import queries_dataprep4 as _qdp4  # noqa: E402,F401
from logstash_spark import queries_logstash8 as _ql8  # noqa: E402,F401
from logstash_spark import queries_dataprep5 as _qdp5  # noqa: E402,F401
from logstash_spark import queries_logstash9 as _ql9  # noqa: E402,F401
from logstash_spark import queries_logstash10 as _ql10  # noqa: E402,F401
from logstash_spark import queries_dataprep6 as _qdp6  # noqa: E402,F401
from logstash_spark import queries_dataprep7 as _qdp7  # noqa: E402,F401
from logstash_spark import queries_dataprep8 as _qdp8  # noqa: E402,F401
from logstash_spark import queries_logstash11 as _ql11  # noqa: E402,F401
from logstash_spark import queries_dataprep9 as _qdp9  # noqa: E402,F401
from logstash_spark import queries_dataprep10 as _qdp10  # noqa: E402,F401
from logstash_spark import queries_dataprep11 as _qdp11  # noqa: E402,F401
from logstash_spark import queries_dataprep12 as _qdp12  # noqa: E402,F401
from logstash_spark import queries_dataprep13 as _qdp13  # noqa: E402,F401
from logstash_spark import queries_logstash12 as _ql12  # noqa: E402,F401
from logstash_spark import queries_multimodal as _qmm  # noqa: E402,F401
from logstash_spark import queries_dataprep14 as _qdp14  # noqa: E402,F401
from logstash_spark import queries_dataprep15 as _qdp15  # noqa: E402,F401
from logstash_spark import queries_dataprep16 as _qdp16  # noqa: E402,F401
from logstash_spark import queries_dataprep17 as _qdp17  # noqa: E402,F401
from logstash_spark import queries_dataprep18 as _qdp18  # noqa: E402,F401
from logstash_spark import queries_dataprep19 as _qdp19  # noqa: E402,F401
from logstash_spark import queries_dataprep20 as _qdp20  # noqa: E402,F401
from logstash_spark import queries_dataprep21 as _qdp21  # noqa: E402,F401
from logstash_spark import queries_dataprep22 as _qdp22  # noqa: E402,F401
from logstash_spark import queries_dataprep23 as _qdp23  # noqa: E402,F401
from logstash_spark import queries_dataprep24 as _qdp24  # noqa: E402,F401
from logstash_spark import queries_dataprep25 as _qdp25  # noqa: E402,F401
from logstash_spark import queries_dataprep26 as _qdp26  # noqa: E402,F401
from logstash_spark import queries_dataprep27 as _qdp27  # noqa: E402,F401
from logstash_spark import queries_dataprep28 as _qdp28  # noqa: E402,F401
from logstash_spark import queries_dataprep29 as _qdp29  # noqa: E402,F401
from logstash_spark import queries_dataprep30 as _qdp30  # noqa: E402,F401
from logstash_spark import queries_dataprep31 as _qdp31  # noqa: E402,F401
from logstash_spark import queries_dataprep32 as _qdp32  # noqa: E402,F401
from logstash_spark import queries_dataprep33 as _qdp33  # noqa: E402,F401
from logstash_spark import queries_dataprep34 as _qdp34  # noqa: E402,F401
from logstash_spark import queries_dataprep35 as _qdp35  # noqa: E402,F401
from logstash_spark import queries_logstash13 as _ql13  # noqa: E402,F401
from logstash_spark import queries_folds as _qf  # noqa: E402

# ---------------------------------------------------------------------------
# Registry ordering: the correctness driver samples a bounded prefix of the
# registry per round, so queries that have never received a driver row (or
# failed last round, or are new this round) must come FIRST and queries
# green in the most recent round last. _reorder_registry derives that
# ordering AUTOMATICALLY from the CORRECTNESS_r{N}.json records the driver
# leaves in the repo root — no per-round manual promotion. The static list
# below seeds the ordering for fresh checkouts (no records yet) and breaks
# ties within a priority class; unknown names are ignored.
# ---------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    # red in CORRECTNESS_r02 — gates re-canonicalized this round
    "token_chunking",
    "sequence_packing",
    # never driver-sampled through r02
    "aggregate_salted_skew",
    "de_dot_rename",
    "dissect_advanced",
    "environment_field",
    "grok_multi_pattern",
    "metrics_rates",
    "prune_projection",
    "translate_multi_enrich",
    "useragent_version",
    # new in round 3
    "grok_apache_combined",
    "grok_syslog5424",
    "simhash_pairs",
    "mutate_nested_fields",
    "dlq_replay",
    "kv_options",
    "multiline_guards",
    "geoip_attributes",
    "parse_failure_tags",
    "embed_dup_cosine",
    "token_budget_mix",
    "pipeline_graph",
    "ngram_jaccard_inverted",
    "decontaminate_flags",
    "repetition_quality",
    "dedupe_cluster_canonical",
    "pii_redaction",
    "paragraph_dedup",
    "token_window_dedup",
    "token_decontam",
    "vocab_stats",
    "tld_extract",
    "metricize_split",
    "age_alter_tagged",
    "url_normalize_canon",
    "host_domain_stats",
    "unigram_lm_quality",
    "semantic_dedup_flags",
    "bloom_decontam",
    "ann_ivf_pq",
    "throttle_before_after",
    "stratified_sample_det",
    "quality_classifier_keep",
    "shard_assign_det",
    "asof_enrich",
    "cef_codec",
    "cipher_roundtrip",
    "json_encode_field",
    # added late in round 3 — json_lines_codec takes sample slot 50; the
    # rest (through extract_math_translit, plus the r01-only re-confirm
    # block) sit past the driver's 50-row window THIS round — displacing
    # the never-driver-verified block above would cost more. PROMOTE
    # EVERYTHING FROM HERE DOWN to the top of this list at the start of
    # round 4.
    "json_lines_codec",
    "graphite_codec",
    "es_bulk_codec",
    "anonymize_fields",
    "grok_haproxy",
    "bigram_lm_quality",
    "syslog_statsd_encode",
    "bpe_tokenize",
    "extract_math_translit",
    "date_tz_per_event",
    "dedupe_minhash_cross",
    # added after the window froze — PROMOTE in round 4 with the block above
    "external_lookup_enrich",
    "dsir_importance_resample",
    "corpus_curation_e2e",
    "keyword_blocklist_flags",
    "boilerplate_line_removal",
    "grok_firewall_families",
    "gzip_lines_codec",
    "punct_template_mining",
    # green in r01 only — re-confirm
    "fingerprint_sha256",
    "range_tagged",
    "sessionize_gap",
    "xml_xpath",
    "throttle_sliding_tag",
    "cardinality_metrics",
    "translate_regex_mode",
    "elapsed_conditional",
    # dataprep batch 6 (post-window this round; r04 frontier)
    "hll_cardinality",
    "c4_fineweb_line_rules",
    "embed_decontam_flags",
    "cms_frequency",
    # binary wire codecs (round 3, operators/wire.py)
    "netflow_codec",
    "avro_codec",
    "fluent_codec",
    "collectd_codec",
    "cloudtrail_codec",
    "pmi_phrases",
    "protobuf_codec",
    # round-4 reference-fidelity surface (verdict items 3/4 + env vars)
    "metadata_convention",
    "lscl_codec_pipeline",
    "lscl_env_pipeline",
    "fim_transform",
    # dataprep batch 10 (round 3)
    "span_corruption",
    "perplexity_terciles",
    "tokenizer_fertility",
    "temperature_mix",
    # dataprep batch 11 (round 3)
    "sft_loss_mask",
    "best_of_n_select",
    "epoch_replication",
    # dataprep batch 12 (round 3)
    "dpo_pairs",
    "hard_negative_mining",
    "incontext_pack",
    "snapshot_cdc_diff",
    "packing_position_ids",
    "chat_loss_mask",
    # streaming-runtime + storage-bucketing gates (round 3, late)
    "streaming_metrics_windows",
    "streaming_sessions_gap",
    "streaming_dedupe_keys",
    "bucketed_join_colocated",
    "bitext_mining",
    # multimodal binary layer (round 3, late)
    "image_header_meta",
    "video_frame_sample",
    "frame_block_features",
    "audio_pcm_stats",
    "streaming_enrich_fanout",
    "image_ahash_neardup",
    "image_resize_dedup",
    "text_clean_normalize",
    "kwise_pref_pairs",
    "paragraph_dedup_global",
    "char_entropy_quality",
    "ngram_overlap_score",
    "chat_template_render",
    "pass_at_k_estimator",
    "majority_vote_answers",
    "pairwise_win_rates",
    "sentence_chunking",
    "json_key_census",
    "readability_metrics",
    "taxonomy_tagging",
    "special_token_guard",
    "dedup_key_canonical",
    "sft_pipeline_e2e",
    "url_lang_pairing",
    "recency_sampling",
    "span_token_alignment",
    "corpus_data_card",
    "embedding_int8_quant",
    "ann_cosine_topk_int8",
    "field_coverage",
    "leakage_safe_split",
    "mmr_diverse_topk",
    "canary_extraction",
    "auc_exact",
    "negative_sampling",
    "pr_threshold_sweep",
    "annotator_kappa",
    "retrieval_ranking_metrics",
    "grpo_group_advantage",
    "eval_em_f1",
    "conversation_tree_sft",
    "bradley_terry_ratings",
    # dataprep batch 32 (round 3)
    "nb_classifier_train",
    "calibration_report",
    "rouge_l_eval",
    "mad_outlier_flags",
    "streaming_interval_join",
    "gale_church_align",
    "weighted_sample_k",
    "isotonic_calibration",
    "edit_distance_join",
    # dataprep batch 33 (round 3)
    "waterfill_budget",
    "quantile_normalize",
    "rank_correlation",
    "mix_divergence",
    "mix_pipeline_e2e",
    "rendezvous_sharding",
    "winsorize_clip",
    "rbo_topk_overlap",
]


def _driver_history(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """Scan the repo root's CORRECTNESS_r{N}.json driver records and return
    {query: (latest_round_sampled, passed_all_checks_that_round)}. Missing
    or unreadable files are simply skipped — ordering degrades to the
    static _DRIVER_PRIORITY list."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import re  # noqa: PLC0415

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            ok = (
                rec.get("err") in (None, "")
                and rec.get("rows_match") is not False
                and rec.get("schema_match") is not False
                and rec.get("hash_match") is not False
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, ok)
    return hist


def _reorder_registry() -> None:
    """Order the registry so the driver's bounded per-round sample always
    covers the verification frontier. Priority classes (stable within
    each): (0) sampled before and FAILED its latest sample, (1) never
    driver-sampled (new queries land here automatically), (2) green only
    in an older round (re-confirm, oldest first), (3) green in the most
    recent round. The static _DRIVER_PRIORITY list breaks ties within a
    class and is the full ordering when no CORRECTNESS files exist (e.g.
    a fresh checkout)."""
    static_rank = {n: i for i, n in enumerate(_DRIVER_PRIORITY)}
    base = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    base += [n for n in QUERIES if n not in set(base)]
    hist = _driver_history()
    if hist:
        latest = max(rnd for rnd, _ in hist.values())
        base_rank = {n: i for i, n in enumerate(base)}

        def key(name: str) -> tuple:
            rec = hist.get(name)
            tie = (static_rank.get(name, len(static_rank)), base_rank[name])
            if rec is None:
                return (1, 0, *tie)
            rnd, ok = rec
            if not ok:
                return (0, -rnd, *tie)  # most recent failure first
            if rnd < latest:
                return (2, rnd, *tie)  # oldest green re-confirms first
            return (3, 0, *tie)

        base.sort(key=key)
    for d in (QUERIES, ORACLES):
        snap = {n: d[n] for n in base if n in d}
        d.clear()
        d.update(snap)


# Folds pop sub-gates registered by the modules above and re-register them
# as combined gates (see queries_folds docstring), then the registry is
# ordered.
_qf.register()
_reorder_registry()
