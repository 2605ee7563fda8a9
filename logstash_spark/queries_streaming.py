"""Correctness gates for Structured Streaming runs of the windowed, dedupe,
enrich and join paths. Each `@query` pairs a Spark query over the driver
test tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.queries_common import query


@query(
    "streaming_metrics_windows",
    """
    SELECT strftime(make_timestamp(epoch_us(ts) // 300000000 * 300000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(make_timestamp(epoch_us(ts) // 300000000 * 300000000
                                   + 300000000),
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_metrics_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING gate: the events table replayed through a
    real `readStream` file source into `streaming.streaming_metrics`
    (watermarked 5-minute tumbling counts by event_type), drained with
    trigger availableNow into a memory sink, returned as the batch
    result. With the full table available the watermark drops nothing,
    so the incremental answer must equal the batch GROUP BY — which is
    exactly what the oracle computes (Spark window() aligns to the unix
    epoch; the oracle mirrors it with integer epoch arithmetic). This
    puts the streaming runtime itself — source, state store, window
    eviction, sink — under the driver's cross-engine gate, not just
    unit tests."""
    from logstash_spark.streaming.pipeline import (  # noqa: PLC0415
        drain_available_now,
        replay_table_stream,
        streaming_metrics,
    )

    src = replay_table_stream(spark, sf_dir, "events", ts_col="ts")
    agg = streaming_metrics(
        src, "ts", ["event_type"], window_duration="5 minutes",
        watermark="10 minutes",
    )
    return drain_available_now(agg, output_mode="complete").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "cnt",
    )


@query(
    "streaming_sessions_gap",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts) OVER w, ts)
                          >= 600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts)
               AS sess_no
      FROM g
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 600 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess_no
    """,
)
def streaming_sessions_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING gate for native `session_window` (the
    incremental twin of the batch `sessionize` operator): 10-minute
    inactivity-gap sessions per user, replayed through a file stream and
    drained availableNow. The oracle recomputes sessions with the
    lag+running-sum construction; the boundary rule mirrors Spark's
    half-open windows (a gap of EXACTLY 600s starts a new session, hence
    `>=` — `sessionize_gap`'s batch oracle uses `>` because that is the
    reference aggregate-filter's timeout rule; Spark's native
    session_window end = last event + gap, both sides truncate the
    formatted timestamps identically)."""
    from logstash_spark.streaming.pipeline import (  # noqa: PLC0415
        drain_available_now,
        replay_table_stream,
        streaming_sessions,
    )

    src = replay_table_stream(spark, sf_dir, "events", ts_col="ts")
    sess = streaming_sessions(
        src, "ts", "user_id", gap="10 minutes", watermark="10 minutes"
    )
    return drain_available_now(sess, output_mode="complete").select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "user_id",
        "n_events",
    )


@query(
    "streaming_dedupe_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedupe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING gate for watermark-bounded exact dedupe
    (`dropDuplicatesWithinWatermark` — the stateful fingerprint+
    conditional Logstash pattern): first event per (user_id, event_type)
    wins; output projected to the key columns so the answer is
    arrival-order-independent and equals batch DISTINCT. The watermark
    is set far above the table's 30-day span so no key state is evicted
    mid-replay — eviction-vs-late-data behavior is pinned separately in
    tests/test_streaming.py."""
    from logstash_spark.streaming.pipeline import (  # noqa: PLC0415
        drain_available_now,
        replay_table_stream,
        streaming_dedupe,
    )

    src = replay_table_stream(spark, sf_dir, "events", ts_col="ts")
    deduped = streaming_dedupe(
        src, ["user_id", "event_type"], "ts", watermark="3650 days"
    )
    return drain_available_now(deduped, output_mode="append").select(
        "user_id", "event_type"
    )


@query(
    "streaming_enrich_fanout",
    """
    WITH enriched AS (
      SELECT *,
             CASE event_type WHEN 'error' THEN 'sev'
                             WHEN 'purchase' THEN 'rev'
                             ELSE 'other' END AS category
      FROM events
    )
    SELECT * FROM (
      SELECT 's_alert' AS sink, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
        FROM enriched WHERE category = 'sev'
      UNION ALL
      SELECT 's_money', CAST(count(*) AS BIGINT),
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
        FROM enriched WHERE value > 120
      UNION ALL
      SELECT 's_rest', CAST(count(*) AS BIGINT),
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
        FROM enriched WHERE category != 'sev' AND value <= 120
    ) WHERE cnt > 0
    """,
)
def streaming_enrich_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING gate for the FULL enrich → route → fan-out →
    per-sink aggregate path (the north rule's pipeline shape, incremental
    form): events replayed through a real readStream file source, each
    micro-batch translate-enriched (broadcast dict join) and conditionally
    routed by LSCL condition strings, written through the streaming fan-out
    (ONE explode + ONE partitioned write per micro-batch, dynamic
    `_batch_id` partition overwrite = exactly-once), then per-sink counts
    + exact integer value sums read back from the sink table. The oracle
    recomputes all three sinks from the batch table — incremental must
    equal batch. Multi-route rows (error AND value>120) land in BOTH
    sinks, exercising graph semantics through the streaming writer."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from logstash_spark.operators.enrich import translate  # noqa: PLC0415
    from logstash_spark.operators.route import add_routes  # noqa: PLC0415
    from logstash_spark.streaming.pipeline import (  # noqa: PLC0415
        replay_table_stream,
        run_streaming_fanout,
    )

    cat_dict = {"error": "sev", "purchase": "rev"}

    def transform(df: DataFrame) -> DataFrame:
        enriched = translate(df, "event_type", "category", cat_dict, fallback="other")
        return add_routes(
            enriched,
            {"s_alert": '[category] == "sev"', "s_money": "[value] > 120"},
            else_sink="s_rest",
        )

    work = tempfile.mkdtemp(prefix="stream_fanout_gate_")
    try:
        src = replay_table_stream(spark, sf_dir, "events", ts_col="ts")
        q = run_streaming_fanout(
            src,
            transform,
            sinks=["s_alert", "s_money", "s_rest"],
            sinks_root=f"{work}/sinks",
            checkpoint_dir=f"{work}/ckpt",
        )
        q.awaitTermination()
        written = spark.read.parquet(f"{work}/sinks")
        out = (
            written.groupBy("sink")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.floor("value").cast("long")).alias("sum_floor_value"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out, "sink string, cnt bigint, sum_floor_value bigint"
    )


@query(
    "streaming_interval_join",
    """
    SELECT l.user_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(floor(r.value) AS BIGINT) AS purchase_floor_value
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    WHERE l.event_type = 'signup' AND r.event_type = 'purchase'
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING gate for the watermarked stream-stream
    interval join (`streaming.streaming_interval_join` — the unbounded
    twin of the batch `elapsed` pairing): signups joined to the same
    user's purchases within the following 6 hours, both sides replayed
    through REAL file-stream sources, drained availableNow. Watermarks
    sit far above the table span so no state evicts mid-replay (the
    eviction contract is what the time-bound buys at 10¹² scale); with
    the whole table available the incremental join must equal the batch
    join, which the oracle recomputes in DuckDB."""
    from logstash_spark.streaming.pipeline import (  # noqa: PLC0415
        drain_available_now,
        replay_table_stream,
        streaming_interval_join,
    )

    signups = (
        replay_table_stream(spark, sf_dir, "events", ts_col="ts")
        .where(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("signup_ts"))
    )
    purchases = (
        replay_table_stream(spark, sf_dir, "events", ts_col="ts")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = streaming_interval_join(
        signups,
        purchases,
        left_key="user_id",
        right_key="r_user",
        left_ts="signup_ts",
        right_ts="purchase_ts",
        within="6 hours",
        # bounded availableNow replay: the input is a finite parquet
        # snapshot replayed unordered, so eviction must be disabled or
        # event-time-late rows silently drop (on a real stream use the
        # default 2x`within` watermark instead)
        watermark="3650 days",
    )
    return drain_available_now(joined, output_mode="append").select(
        "user_id",
        F.date_format("signup_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.floor("purchase_value").cast("long").alias("purchase_floor_value"),
    )
