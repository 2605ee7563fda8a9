"""Correctness gates for metrics, throttle, elapsed and aggregate filters,
sketches and join shapes. Each `@query` pairs a Spark query over the
driver test tables with the DuckDB SQL that re-derives its result;
`queries` collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import sketch as SK
from logstash_spark.operators.aggregate import (
    aggregate_salted,
    elapsed,
    metrics,
    sessionize,
    throttle,
)
from logstash_spark.queries_common import _t, query


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


@query(
    "sessionize_gap",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts) OVER w, ts) > 600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sess_no
      FROM g
    )
    SELECT CAST(user_id AS VARCHAR) || '#' || CAST(sess_no AS VARCHAR) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS duration_us
    FROM s GROUP BY 1
    """,
)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate-filter inactivity_timeout analog: 10-minute-gap sessions
    per user (lag + running sum), then per-session aggregates."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=600)
    return s.groupBy("session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("duration_us"),
    )


@query(
    "throttle_sliding_tag",
    """
    WITH c AS (
      SELECT user_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS cw
      FROM events)
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(count(*) AS BIGINT) AS throttled
    FROM c WHERE cw > 1 GROUP BY user_id
    """,
)
def throttle_sliding_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window throttle: events whose trailing 1h window holds >1
    event of the same user (RANGE frame, single keyed shuffle)."""
    from logstash_spark.operators.aggregate import throttle_sliding

    ev = _t(spark, sf_dir, "events")
    out = throttle_sliding(ev, "user_id", "ts", period_seconds=3600, max_count=1)
    return (
        out.where(F.array_contains("tags", "throttled"))
        .groupBy("user_id")
        .agg(F.count("*").alias("throttled"))
    )


@query(
    "cardinality_metrics",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users
    FROM events GROUP BY event_type
    """,
)
def cardinality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics side-table cardinality rollup (exact distinct here so the
    oracle matches; production uses approx_count_distinct — HLL sketches
    merge across partitions with one shuffle)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.count_distinct("user_id").alias("users")
    )


@query(
    "elapsed_conditional",
    """
    SELECT user_id,
           CAST(date_diff('microsecond',
                          min(CASE WHEN event_type = 'signup' THEN ts END),
                          max(CASE WHEN event_type = 'purchase' THEN ts END))
                AS BIGINT) AS elapsed_us
    FROM events GROUP BY user_id
    HAVING min(CASE WHEN event_type = 'signup' THEN ts END) IS NOT NULL
       AND max(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
    """,
)
def elapsed_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-elapsed with start/end conditions: first signup →
    last purchase per user, one shuffle (conditional min/max, no
    self-join)."""
    ev = _t(spark, sf_dir, "events")
    out = elapsed(
        ev,
        "user_id",
        "ts",
        start_cond=F.col("event_type") == "signup",
        end_cond=F.col("event_type") == "purchase",
    )
    return out.where(
        F.col("start_ts").isNotNull() & F.col("end_ts").isNotNull()
    ).select("user_id", "elapsed_us")


@query(
    "metrics_rates",
    """
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           round(count(*) / 300.0, 6) AS rate_per_sec
    FROM events GROUP BY 1, 2
    """,
)
def metrics_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-metrics with rates: tumbling counts + events/sec
    (the 1-min-rate meter analog, window-exact instead of EWMA)."""
    from logstash_spark.operators.aggregate import metrics

    ev = _t(spark, sf_dir, "events")
    m = metrics(ev, "ts", ["event_type"], window_duration="5 minutes", rates=True)
    return m.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
        F.round("rate_per_sec", 6).alias("rate_per_sec"),
    )


@query(
    "aggregate_salted_skew",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,3))), 3) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def aggregate_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation for skewed keys (SURVEY.md §4 skew
    handling): groupBy(key, salt) partials then merge — numerically
    identical to the plain groupBy the oracle computes (decimal sums)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,3)")
    )
    out = aggregate_salted(
        ev,
        "event_type",
        {"n": ("count", None), "sum_value": ("sum", "value_dec")},
        salt_buckets=16,
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("sum_value"), 3).cast("double").alias("sum_value"),
    )


@query(
    "throttle_before_after",
    """
    WITH seq AS (
      SELECT event_id, user_id,
             row_number() OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts)
               ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT user_id,
           CAST(count(*) FILTER (WHERE rn < 2) AS BIGINT) AS before_cnt,
           CAST(count(*) FILTER (WHERE rn > 3) AS BIGINT) AS after_cnt,
           CAST(count(*) FILTER (WHERE rn < 2 OR rn > 3) AS BIGINT) AS tagged_cnt
    FROM seq GROUP BY user_id
    """,
)
def throttle_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-filter-throttle full option surface: before_count=2
    tags the first event of each (user, day) window (sequence < 2),
    after_count=3 tags everything past the third — the reference's
    two-bound form (§before_count/after_count) over one window pass."""
    from logstash_spark.operators.aggregate import throttle

    ev = _t(spark, sf_dir, "events")
    out = throttle(
        ev, "user_id", "ts", period_seconds=86400, before_count=2,
        after_count=3, tag="throttled", tiebreak="event_id",
    )
    tagged = F.array_contains("tags", "throttled")
    # re-derive the sequence bounds for the per-bound counts (the op
    # itself only tags; the gate splits the tag by cause)
    from pyspark.sql.window import Window

    win = F.window(F.col("ts"), "86400 seconds").getField("start")
    w = Window.partitionBy("user_id", win).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    out = out.withColumn("_rn", F.row_number().over(w))
    return out.groupBy("user_id").agg(
        F.count(F.when(F.col("_rn") < 2, 1)).alias("before_cnt"),
        F.count(F.when(F.col("_rn") > 3, 1)).alias("after_cnt"),
        F.count(F.when(tagged, 1)).alias("tagged_cnt"),
    )


_HLL_LOW = SK.hll_oracle_sql(
    "user_id", "(SELECT event_type AS group_key, user_id FROM events)",
    groups=["group_key"], p=8,
)
_HLL_HIGH = SK.hll_oracle_sql(
    "event_id",
    "(SELECT '_all_event_ids' AS group_key, event_id FROM events)",
    groups=["group_key"], p=8,
)


@query(
    "hll_cardinality",
    f"""
    WITH a AS ({_HLL_LOW}),
    b AS ({_HLL_HIGH}),
    ex AS (
      SELECT event_type AS group_key, count(DISTINCT user_id) AS exact_n
      FROM events GROUP BY 1
      UNION ALL
      SELECT '_all_event_ids', count(DISTINCT event_id) FROM events
    )
    SELECT u.group_key, u.v_empty, u.s_scaled, u.est_x1e6,
           CAST(ex.exact_n AS BIGINT) AS exact_n
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b) u
    JOIN ex USING (group_key)
    """,
)
def hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL cardinality: distinct user_id per event_type (the
    small-range regime — `v_empty` ships so a consumer can apply linear
    counting) plus distinct event_id overall (the regime where the raw
    estimator is accurate). The Spark side sketches TWO shards
    (event_id parity) and merges them — registers are max-mergeable, so
    the merged sketch is bit-identical to the oracle's single pass.
    At 100 TB: each shard emits only m=256 partial rows per group; the
    global distinct count never re-scans the data."""
    ev = _t(spark, sf_dir, "events")
    s0 = SK.hll_sketch(
        ev.filter(F.col("event_id") % 2 == 0), "user_id", ["event_type"], p=8
    )
    s1 = SK.hll_sketch(
        ev.filter(F.col("event_id") % 2 == 1), "user_id", ["event_type"], p=8
    )
    low = SK.hll_estimate(SK.hll_merge(s0, s1), ["event_type"], p=8).join(
        ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_n")
        ),
        "event_type",
    ).select(
        F.col("event_type").alias("group_key"),
        "v_empty", "s_scaled", "est_x1e6", "exact_n",
    )
    allg = ev.withColumn("group_key", F.lit("_all_event_ids"))
    high = SK.hll_estimate(
        SK.hll_sketch(allg, "event_id", ["group_key"], p=8), ["group_key"], p=8
    ).crossJoin(
        ev.agg(F.countDistinct("event_id").alias("exact_n"))
    ).select("group_key", "v_empty", "s_scaled", "est_x1e6", "exact_n")
    return low.unionByName(high)


_CMS_D, _CMS_W = 4, 32  # small width → visible collisions at sf0.01

_CMS_EST = SK.cms_oracle_sql(
    "CAST(user_id AS VARCHAR)",
    "events",
    "SELECT CAST(range AS VARCHAR) AS key FROM range(10)",
    d=_CMS_D,
    w=_CMS_W,
)


@query(
    "cms_frequency",
    f"""
    WITH est AS ({_CMS_EST}),
    ex AS (
      SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
    )
    SELECT est.key, est.est, coalesce(ex.exact_n, 0) AS exact_n
    FROM est LEFT JOIN ex USING (key)
    """,
)
def cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency upper bounds for probe keys user_id 0..9,
    deliberately narrow (w=32) so collisions over-count and the gate
    exercises the min-over-rows estimate, not just exact counts. The
    Spark side sketches TWO shards and merges them (counters are
    additive → merged ≡ single-pass, which is what the oracle runs);
    the probe lookup broadcasts the ≤ d*w-row sketch."""
    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    s0 = SK.cms_sketch(
        ev.filter(F.col("event_id") % 2 == 0), key, d=_CMS_D, w=_CMS_W
    )
    s1 = SK.cms_sketch(
        ev.filter(F.col("event_id") % 2 == 1), key, d=_CMS_D, w=_CMS_W
    )
    sketch = SK.cms_merge(s0, s1)
    probes = spark.range(10).select(F.col("id").cast("string").alias("key"))
    est = SK.cms_lookup(sketch, probes, "key", d=_CMS_D, w=_CMS_W)
    exact = ev.groupBy(key.alias("key")).agg(
        F.count("*").cast("long").alias("exact_n")
    )
    return est.join(exact, "key", "left").select(
        "key", "est", F.coalesce("exact_n", F.lit(0).cast("long")).alias("exact_n")
    )


_QS_QUANTILES = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
_QS_SUB_BITS = 4
_QS_V_SQL = "CAST(floor(value * 100) AS BIGINT)"

_QS_EST = SK.quantile_oracle_sql(
    _QS_V_SQL, "events", quantiles=_QS_QUANTILES,
    groups=["event_type"], sub_bits=_QS_SUB_BITS,
)

_QS_Q_ROWS = " UNION ALL ".join(
    f"SELECT '{label}' AS q_label, CAST({num} AS BIGINT) AS q_num, "
    f"CAST({den} AS BIGINT) AS q_den"
    for label, num, den in _QS_QUANTILES
)


@query(
    "quantile_sketch",
    f"""
    WITH est AS ({_QS_EST}),
    vals AS (
      SELECT event_type, {_QS_V_SQL} AS v FROM events
    ),
    ex AS (
      SELECT event_type, array_agg(v ORDER BY v) AS vs,
             CAST(count(*) AS BIGINT) AS n
      FROM vals GROUP BY 1
    ),
    q AS ({_QS_Q_ROWS}),
    exq AS (
      SELECT event_type, q_label,
             vs[CAST((q_num * n + q_den - 1) // q_den AS INTEGER)] AS exact_v
      FROM ex, q
    )
    SELECT est.event_type, est.q_label, est.est_lb, est.est_ub, est.n,
           CAST(exq.exact_v AS BIGINT) AS exact_v,
           (est.est_lb <= exq.exact_v AND exq.exact_v <= est.est_ub) AS in_bounds
    FROM est JOIN exq USING (event_type, q_label)
    """,
)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of floor(value*100) per event_type via the mergeable
    HDR sketch: two event_id-parity shards sketched independently and
    merged (≡ the oracle's single pass), quantile bounds extracted from
    the tiny register table, and the independently computed exact
    nearest-rank value proven to lie inside [est_lb, est_ub]. At
    100 TB each shard ships only its bounded bucket table."""
    ev = _t(spark, sf_dir, "events")
    v = F.expr(_QS_V_SQL)
    s0 = SK.quantile_sketch(
        ev.filter(F.col("event_id") % 2 == 0), v, ["event_type"],
        sub_bits=_QS_SUB_BITS,
    )
    s1 = SK.quantile_sketch(
        ev.filter(F.col("event_id") % 2 == 1), v, ["event_type"],
        sub_bits=_QS_SUB_BITS,
    )
    est = SK.quantile_estimate(
        SK.quantile_merge(s0, s1), quantiles=_QS_QUANTILES,
        groups=["event_type"], sub_bits=_QS_SUB_BITS,
    )
    qlits = spark.createDataFrame(
        list(_QS_QUANTILES), "q_label string, q_num long, q_den long"
    )
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list(v)).alias("vs"),
            F.count("*").cast("long").alias("n_ex"),
        )
        .crossJoin(F.broadcast(qlits))
        .select(
            "event_type",
            "q_label",
            F.expr(
                "CAST(element_at(vs, CAST((q_num * n_ex + q_den - 1) div q_den"
                " AS INT)) AS BIGINT)"
            ).alias("exact_v"),
        )
    )
    return est.join(exact, ["event_type", "q_label"]).select(
        "event_type", "q_label", "est_lb", "est_ub", "n", "exact_v",
        ((F.col("est_lb") <= F.col("exact_v"))
         & (F.col("exact_v") <= F.col("est_ub"))).alias("in_bounds"),
    )


@query(
    "snapshot_cdc_diff",
    """
    WITH v1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
    ),
    j AS (
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             v1.text AS t1, v2.text AS t2,
             v1.doc_id IS NULL AS ins, v2.doc_id IS NULL AS del
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    ),
    c AS (
      SELECT doc_id,
             CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
                  WHEN t1 <> t2 THEN 'update'
                  ELSE 'unchanged' END AS change,
             md5(coalesce(t2, '')) AS text_md5
      FROM j
    )
    SELECT doc_id, change, text_md5 FROM c WHERE change <> 'unchanged'
    """,
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC gate (`sources.tableio.snapshot_diff`): v1 drops
    every 5th doc, v2 drops every 7th and rewrites every 3rd — the diff
    must emit exactly the insert/delete/update sets with new-side
    payload (null for deletes, md5-canonicalized). ONE full-outer join
    on the id; fingerprints computed map-side."""
    from pyspark.sql import functions as FN

    from logstash_spark.sources.tableio import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    v1 = docs.where(FN.col("doc_id") % 5 != 0).select("doc_id", "text")
    v2 = docs.where(FN.col("doc_id") % 7 != 0).select(
        "doc_id",
        FN.when(
            FN.col("doc_id") % 3 == 0, FN.concat(FN.col("text"), FN.lit("!"))
        )
        .otherwise(FN.col("text"))
        .alias("text"),
    )
    out = snapshot_diff(v1, v2, id_col="doc_id", compare_cols=["text"])
    return out.select(
        "doc_id",
        "change",
        FN.md5(FN.coalesce(FN.col("text"), FN.lit(""))).alias("text_md5"),
    )


@query(
    "skew_report_hitters",
    """
    WITH c AS (
      SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS key,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM c
    )
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS INT)
             AS rank,
           key, cnt,
           CAST(cnt * 1000000 // total AS BIGINT) AS ppm,
           total, n_keys
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, key ASC
    LIMIT 5
    """,
)
def skew_report_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic gate (`dataprep.skew_report`): top-5
    heavy hitters of documents.source with exact ppm share — the
    pre-flight read before keying a big shuffle on the column. groupBy
    partial-combine + TakeOrdered; no global sort."""
    from logstash_spark.operators.dataprep import skew_report  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return skew_report(docs, "source", top_k=5)


@query(
    "bucketed_join_colocated",
    """
    WITH a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(event_id) AS BIGINT) AS first_event,
             CAST(max(event_id) AS BIGINT) AS last_event
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_errors,
             CAST(max(event_id) AS BIGINT) AS last_error
      FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT a.user_id, n_events, first_event, last_event,
           n_errors, last_error
    FROM a JOIN b ON a.user_id = b.user_id
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-bucketing gate (`tableio.write_bucketed`): two per-user
    summary tables are WRITTEN hash-bucketed by user_id (8 buckets,
    sorted within buckets), then sort-merge joined through the catalog.
    Because both scans carry the same bucketing spec on the join key,
    the join plan has ZERO Exchange (pinned in
    tests/test_plan_shape.py) — the pay-the-shuffle-once-at-write-time
    pattern that makes every downstream join on the key free at 100 TB
    (Iceberg `bucket(N, key)` + storage-partitioned joins on a real
    cluster). The merge hint keeps the demo honest: without it a
    broadcast of the small side would also skip the exchange, but for
    the wrong (size-dependent) reason."""
    import hashlib  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyspark.sql import functions as FN  # noqa: PLC0415

    from logstash_spark.sources.tableio import write_bucketed  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    a = ev.groupBy("user_id").agg(
        FN.count("*").alias("n_events"),
        FN.min("event_id").alias("first_event"),
        FN.max("event_id").alias("last_event"),
    )
    b = (
        ev.where(FN.col("event_type") == "error")
        .groupBy("user_id")
        .agg(
            FN.count("*").alias("n_errors"),
            FN.max("event_id").alias("last_error"),
        )
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/bucketed_{tag}"
    ta = write_bucketed(
        a, f"bkt_user_stats_{tag}", f"{root}/a", buckets=8, key="user_id"
    )
    tb = write_bucketed(
        b, f"bkt_user_errors_{tag}", f"{root}/b", buckets=8, key="user_id"
    )
    return ta.hint("merge").join(tb.hint("merge"), "user_id").select(
        "user_id", "n_events", "first_event", "last_event",
        "n_errors", "last_error",
    )
