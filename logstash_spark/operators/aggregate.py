"""Stateful/aggregation filters: aggregate, metrics, throttle, elapsed.

Reference (SURVEY.md §2.7): Logstash's aggregate/metrics filters are
keyed in-memory state flushed on timers, single-worker. Relationally they
are groupBy/window aggregations — and unlike the reference they scale out:
the shuffle is keyed, partial-aggregated map-side, and skew-salted.

Skew strategy (SURVEY.md §4): the fixture `source` distribution is
heavily skewed (web=55%). For high-cardinality-value/low-cardinality-key
aggregations we salt: first aggregate on (key, salt), then merge the S
partials — two small shuffles instead of one hot partition. AQE's
skew-join handling covers the join side.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logstash_spark.operators import op

_AGG_BUILDERS = {
    "count": lambda c: F.count(c or "*"),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "avg": lambda c: F.avg(c),
    "collect_list": lambda c: F.collect_list(c),
    "collect_set": lambda c: F.collect_set(c),
    "approx_count_distinct": lambda c: F.approx_count_distinct(c),
    "first": lambda c: F.first(c),
    "last": lambda c: F.last(c),
}


def _build_aggs(aggs: Mapping[str, tuple[str, str | None]]) -> list[Column]:
    return [
        _AGG_BUILDERS[fn](col).alias(alias) for alias, (fn, col) in aggs.items()
    ]


@op("aggregate")
def aggregate(
    df: DataFrame,
    task_id: str | Sequence[str],
    aggs: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """logstash-filter-aggregate, batch form: per-task_id state → one row.

    aggs: {out_name: (fn, col)} e.g. {"n": ("count", None),
    "tok": ("sum", "n_tok")}. Map-side partial aggregation is automatic.
    """
    keys = [task_id] if isinstance(task_id, str) else list(task_id)
    return df.groupBy(*keys).agg(*_build_aggs(aggs))


def aggregate_salted(
    df: DataFrame,
    key: str,
    aggs: Mapping[str, tuple[str, str | None]],
    *,
    salt_buckets: int = 32,
    salt_on: str,
) -> DataFrame:
    """Two-level salted aggregation for skewed keys: groupBy(key, salt)
    then merge. Only decomposable aggs (count/sum/min/max) are allowed.

    `salt_on` must be a high-cardinality column (row identity) so the salt
    is deterministic — reruns produce identical partials.
    """
    merge_fn = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    for alias, (fn, _) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"agg {fn} is not salt-decomposable")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "_salt").agg(*_build_aggs(aggs))
    merged = partial.groupBy(key).agg(
        *[
            _AGG_BUILDERS[merge_fn[fn]](alias).alias(alias)
            for alias, (fn, _) in aggs.items()
        ]
    )
    return merged


@op("aggregate_map")
def aggregate_map(
    df: DataFrame,
    task_id: str | Sequence[str],
    fn,
    schema: str,
    *,
    sort_by: Sequence[str] = (),
) -> DataFrame:
    """logstash-filter-aggregate's arbitrary-code form, batch twin: the
    reference runs user Ruby over a per-task_id state map (`code =>
    "map['sum'] ||= 0; ..."`); here a grouped-map applyInPandas hands
    the user function each task's FULL event set as one pandas frame
    (event-time sorted via `sort_by`) and emits arbitrary rows per task.

    This is the sanctioned escape hatch when the fixed agg functions of
    `aggregate` can't express the state logic (SURVEY.md §2.8). Arrow
    batch transfer, one shuffle on task_id; each group must fit an
    executor (same constraint as the reference's per-task map). The
    streaming twin is streaming/pipeline.streaming_token_bucket's
    applyInPandasWithState pattern.
    """
    keys = [task_id] if isinstance(task_id, str) else list(task_id)
    sort_cols = list(sort_by)

    def run(pdf):
        if sort_cols:
            pdf = pdf.sort_values(sort_cols)
        return fn(pdf)

    return df.groupBy(*keys).applyInPandas(run, schema)


@op("metrics")
def metrics(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    *,
    window_duration: str = "5 minutes",
    rates: bool = True,
) -> DataFrame:
    """logstash-filter-metrics: windowed counts + rates per meter key.

    The reference emits a synthetic event per flush_interval with 1/5/15-min
    EWMA rates; batch-relationally that is a tumbling-window count with
    rate = count / window_seconds. Output feeds the `metrics` side table.
    """
    win = F.window(F.col(ts), window_duration)
    secs = _duration_seconds(window_duration)
    out = (
        df.groupBy(win.alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "cnt",
        )
    )
    if rates:
        out = out.withColumn("rate_per_sec", F.col("cnt") / F.lit(float(secs)))
    return out


@op("metrics_timer")
def metrics_timer(
    df: DataFrame,
    ts: str,
    value: str,
    keys: Sequence[str],
    *,
    window_duration: str = "5 minutes",
    percentiles: Sequence[float] = (0.9, 0.95),
) -> DataFrame:
    """logstash-filter-metrics `timer` meters: per-window count / min /
    max / mean / stddev / configured percentiles of a numeric field
    (MetricsFilter emits rt.min, rt.max, rt.p90... per flush).

    Exact interpolated percentiles (Spark `percentile`, == SQL
    percentile_cont) rather than approx sketches so any engine
    reproduces the numbers; at extreme cardinality swap in
    approx_percentile (same plan shape, sketch mergeable map-side).
    One shuffle on (keys, window), map-side partial for the
    decomposable aggs.
    """
    win = F.window(F.col(ts), window_duration)
    v = F.col(value)
    aggs = [
        F.count(v).alias("cnt"),
        F.round(F.min(v), 6).alias("v_min"),
        F.round(F.max(v), 6).alias("v_max"),
        F.round(F.avg(v), 6).alias("v_mean"),
        F.round(F.stddev(v), 6).alias("v_stddev"),
    ]
    # round(), not int(): 0.29*100 = 28.999... would truncate to p28
    p_names = [f"p{round(p * 100)}" for p in percentiles]
    for p, name in zip(percentiles, p_names):
        aggs.append(F.round(F.percentile(v, F.lit(float(p))), 6).alias(name))
    return (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            *keys,
            "cnt",
            "v_min",
            "v_max",
            "v_mean",
            "v_stddev",
            *p_names,
        )
    )


def ewma_horizon(period: int, step: int, cap: int = 64) -> int:
    """Default per-period EWMA lag horizon: ceil(4·period/step) retains
    >98% of the geometric weight; capped to bound expression size (a cap
    hit is the documented truncation, warned once per call)."""
    import math
    import warnings

    h = math.ceil(4.0 * float(period) / float(step))
    if h > cap:
        warnings.warn(
            f"metrics_ewma horizon capped at {cap} lags for period={period}s "
            f"step={step}s — retains ~{1 - math.exp(-cap * step / period):.1%} "
            "of the EWMA weight; raise `horizon` or the tick interval for "
            "long-period meters",
            stacklevel=2,
        )
    return min(h, cap)


@op("metrics_ewma")
def metrics_ewma(
    df: DataFrame,
    ts: str,
    keys: Sequence[str],
    *,
    interval_seconds: int = 60,
    periods: Mapping[str, int] = None,  # type: ignore[assignment]
    horizon: int | None = None,
) -> DataFrame:
    """logstash-filter-metrics EWMA rates (the reference's rate_1m/5m/15m
    meters — MetricsFilter §flush computes alpha = 1-exp(-interval/period)
    and rate += alpha * (instant_rate - rate) per flush tick).

    Batch-relational derivation: per-key tumbling `interval_seconds`
    ticks → DENSE tick grid per key (missing ticks contribute rate 0 —
    without the grid an idle meter would never decay) → bounded-horizon
    convolution rate_p(t) = Σ_{j<horizon} alpha·(1-alpha)^j · inst(t-j).
    The weights are Python-computed double literals so any engine
    reproduces the arithmetic bit-for-bit. `horizon` truncates the
    geometric tail (documented approximation of the infinite recursion);
    by default it is chosen PER PERIOD as ceil(4·period/interval) capped
    at 64 lags, which keeps >98% of the EWMA weight for every meter
    (a fixed short horizon would keep only ~63% for rate_15m at 60s
    ticks). Pass an int to pin one horizon for all periods.

    Shuffle shape: one groupBy on (keys, tick), one window on keys —
    both partition on the meter key, so the plan is two exchanges total
    and the lag convolution is a single window over the dense grid.
    """
    import math

    if periods is None:
        periods = {"rate_1m": 60, "rate_5m": 300, "rate_15m": 900}
    step = int(interval_seconds)
    tick = (F.floor(F.unix_timestamp(F.col(ts).cast("timestamp")) / step) * step).cast(
        "long"
    )
    counts = (
        df.withColumn("_tick", tick)
        .groupBy(*keys, "_tick")
        .agg(F.count("*").alias("cnt"))
    )
    span = counts.groupBy(*keys).agg(
        F.min("_tick").alias("_t0"), F.max("_tick").alias("_t1")
    )
    grid = span.select(
        *keys,
        F.explode(F.sequence(F.col("_t0"), F.col("_t1"), F.lit(step))).alias("_tick"),
    )
    dense = grid.join(counts, [*keys, "_tick"], "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0)).cast("long")
    )
    w = Window.partitionBy(*keys).orderBy("_tick")
    inst = F.col("cnt").cast("double") / F.lit(float(step))
    dense = dense.withColumn("_inst", inst)
    out_cols: dict[str, Column] = {}
    for name, period in periods.items():
        h = horizon if horizon is not None else ewma_horizon(period, step)
        alpha = 1.0 - math.exp(-float(step) / float(period))
        expr: Column | None = None
        for j in range(h):
            wj = alpha * ((1.0 - alpha) ** j)
            term = F.coalesce(F.lag("_inst", j).over(w), F.lit(0.0)) * F.lit(wj)
            expr = term if expr is None else expr + term
        out_cols[name] = F.round(expr, 6)
    dense = dense.withColumns(out_cols)
    return dense.select(
        F.timestamp_seconds(F.col("_tick")).alias("window_start"),
        *keys,
        "cnt",
        *periods.keys(),
    )


def _duration_seconds(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(n) * mult


@op("throttle")
def throttle(
    df: DataFrame,
    key: str,
    ts: str,
    *,
    period_seconds: int = 60,
    max_count: int = 100,
    tag: str = "throttled",
    tiebreak: str | None = None,
    before_count: int = -1,
    after_count: int | None = None,
) -> DataFrame:
    """logstash-filter-throttle, tumbling-window form: tag each event past
    the first `max_count` within (key, window). Event-order within the
    window is (ts, tiebreak): pass a unique row-identity column as
    `tiebreak` for full determinism — with ties on `ts` alone, WHICH rows
    get tagged is engine-dependent (the tagged COUNT is always exact).

    `before_count` / `after_count` mirror the reference's full option
    surface (logstash-filter-throttle §before_count/after_count): tag an
    event when its 1-based sequence number within (key, window) is
    < before_count OR > after_count; -1 disables a bound. When
    `after_count` is not given it defaults to `max_count` (the common
    single-bound form above) — UNLESS `before_count` is set, in which
    case the after bound is DISABLED, matching the reference where both
    bounds default to -1 (a before-only config must not silently
    inherit max_count=100)."""
    if after_count is None:
        after_count = -1 if before_count >= 0 else max_count
    win_start = F.window(F.col(ts), f"{period_seconds} seconds").getField("start")
    df = df.withColumn("_win", win_start)
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key, "_win").orderBy(*order)
    seq = F.row_number().over(w)
    from logstash_spark.operators.common import add_tag_when

    df = df.withColumn("_seq", seq)
    cond = F.lit(False)
    if after_count >= 0:
        cond = cond | (F.col("_seq") > after_count)
    if before_count >= 0:
        cond = cond | (F.col("_seq") < before_count)
    df = add_tag_when(df, cond, tag)
    return df.drop("_win", "_seq")


@op("elapsed")
def elapsed(
    df: DataFrame,
    task_id: str,
    ts: str,
    *,
    start_cond: Column | None = None,
    end_cond: Column | None = None,
) -> DataFrame:
    """logstash-filter-elapsed: seconds between paired start/end events.

    Batch form: groupBy(id) with conditional min/max — one shuffle, no
    self-join (the naive translation would shuffle twice)."""
    start_ts = F.min(F.when(start_cond, F.col(ts))) if start_cond is not None else F.min(ts)
    end_ts = F.max(F.when(end_cond, F.col(ts))) if end_cond is not None else F.max(ts)
    # cast: parquet TIMESTAMP_NTZ → session-UTC timestamp for unix_micros
    return df.groupBy(task_id).agg(
        start_ts.alias("start_ts"),
        end_ts.alias("end_ts"),
        (
            F.unix_micros(end_ts.cast("timestamp"))
            - F.unix_micros(start_ts.cast("timestamp"))
        ).alias("elapsed_us"),
    )


@op("throttle_sliding")
def throttle_sliding(
    df: DataFrame,
    key: str,
    ts: str,
    *,
    period_seconds: int = 60,
    max_count: int = 100,
    tag: str = "throttled",
) -> DataFrame:
    """logstash-filter-throttle, sliding form (closer to the reference's
    per-key token window than the tumbling variant): an event is tagged
    when more than `max_count` events of its key fall inside the
    trailing `period_seconds` window ending at it. RANGE window frame —
    one shuffle on `key`, no state op needed in batch."""
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    w = (
        Window.partitionBy(key)
        .orderBy(us)
        .rangeBetween(-period_seconds * 1_000_000, 0)
    )
    from logstash_spark.operators.common import add_tag_when

    df = df.withColumn("_cnt_win", F.count(F.lit(1)).over(w))
    df = add_tag_when(df, F.col("_cnt_win") > max_count, tag)
    return df.drop("_cnt_win")


@op("sessionize")
def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    *,
    gap_seconds: int = 1800,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based session assignment (logstash-filter-aggregate
    `inactivity_timeout` analog; streaming twin is session_window).

    lag + running sum over (key ORDER BY ts): a new session starts when
    the gap to the previous event exceeds `gap_seconds`. One shuffle on
    `key`; ties within a timestamp are broken by the ts column only, so
    callers needing total determinism should pass a composite ts."""
    w = Window.partitionBy(key).orderBy(ts)
    prev = F.lag(F.col(ts)).over(w)
    gap_us = F.unix_micros(F.col(ts).cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    new_sess = (prev.isNull() | (gap_us > gap_seconds * 1_000_000)).cast("int")
    sess_no = F.sum(new_sess).over(w)
    return df.withColumn(
        session_col, F.concat(F.col(key).cast("string"), F.lit("#"), sess_no)
    )
