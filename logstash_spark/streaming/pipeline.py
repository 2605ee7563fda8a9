"""Streaming mode: the SAME batch plan over an unbounded source.

Reference mapping (SURVEY.md §2.7 "Streaming semantics comparison"):

| Logstash                          | Here                                  |
|-----------------------------------|---------------------------------------|
| input file tail / beats / kafka   | readStream (file dir / rate / kafka)  |
| queue + batch assembly            | micro-batch trigger                   |
| filter stage (workers)            | the identical batch transformations   |
| aggregate/metrics wall-clock flush| event-time windows + watermark        |
| PQ ack / at-least-once            | checkpointLocation, exactly-once sink |

Design rule: the parse→enrich→route plan is built by the SAME functions
the batch path uses (`build_flagship` etc.) — foreachBatch applies it
per micro-batch for multi-sink fan-out (one streaming query, N sink
writes per batch, all from one cached micro-batch frame). Windowed
metrics run as a real incremental streaming aggregation with a
watermark, because that one is cheaper incrementally than per-batch.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from logstash_spark.operators.route import fanout_rows
from logstash_spark.sources.tableio import write_table


def file_stream_source(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: str | int | None = None,
    completed_action: str | None = None,
    archive_dir: str | None = None,
    max_file_age: str | None = None,
    path_field: str | None = None,
) -> DataFrame:
    """logstash-input-file analog: tail a landing directory.

    Option mapping (reference: logstash-input-file §mode/read options):

    * offsets / sincedb           → the streaming checkpoint (per-file,
      exactly-once; late files picked up by directory listing)
    * `mode => read` +
      `file_completed_action`    → `completed_action` ∈ {'delete',
      'archive'} — Spark's `cleanSource` (archive needs `archive_dir`,
      the `file_completed_log_path` analog of keeping the originals)
    * `ignore_older`              → `max_file_age` (e.g. '7d'): files
      older than this are never picked up
    * the `path` event field      → `path_field`: populated from
      `input_file_name()` per row
    * raw log files               → fmt='text', schema='value string';
      line/multiline/json codecs then apply downstream unchanged.
    """
    rdr = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        rdr = rdr.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger:
        # byte-denominated admission control (the reference's PQ
        # `queue.max_bytes` backpressure analog): each micro-batch
        # admits files up to this many bytes ('10m', '1g', or an int),
        # independent of file COUNT — the knob that matters when file
        # sizes are skewed. Composable with maxFilesPerTrigger (Spark
        # applies whichever bound binds first).
        rdr = rdr.option("maxBytesPerTrigger", str(max_bytes_per_trigger))
    if completed_action:
        if completed_action not in ("delete", "archive"):
            raise ValueError("completed_action must be 'delete' or 'archive'")
        if completed_action == "archive" and not archive_dir:
            raise ValueError("completed_action='archive' needs archive_dir")
        rdr = rdr.option("cleanSource", completed_action)
        if archive_dir:
            rdr = rdr.option("sourceArchiveDir", archive_dir)
    if max_file_age:
        rdr = rdr.option("maxFileAge", max_file_age)
    df = rdr.load(path)
    if path_field:
        df = df.withColumn(path_field, F.input_file_name())
    return df


def replay_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    ts_col: str | None = None,
) -> DataFrame:
    """Replay a read-only benchmark parquet table through a REAL
    `readStream` file source (the correctness gates use this to put the
    streaming runtime — source, state store, eviction, sink — under the
    same cross-engine oracle as the batch operators).

    The file-stream source monitors a DIRECTORY, and the testdata dirs
    are read-only, so the single parquet file is exposed through a temp
    directory of symlinks. `ts_col` (parquet TIMESTAMP_NTZ) is cast to
    event-time TIMESTAMP for watermarks — value-preserving in the
    repo's UTC sessions."""
    import os
    import tempfile

    path = f"{sf_dir}/{table}.parquet"
    stream_dir = tempfile.mkdtemp(prefix=f"replay_{table}_")
    os.symlink(os.path.abspath(path), f"{stream_dir}/{table}.parquet")
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).format("parquet").load(stream_dir)
    if ts_col:
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return src


def drain_available_now(
    result: DataFrame, *, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming DataFrame to completion with trigger(availableNow)
    into a memory sink and return the drained result as a batch frame.
    One-shot incremental execution: exactly what a resumable production
    job does per deployment tick, minus the loop. The query's scratch
    checkpoint is removed once it has terminated; the drained rows live
    in the driver-side memory table."""
    import shutil
    import tempfile
    import uuid

    spark = result.sparkSession
    sink = f"drain_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="drain_ckpt_")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(sink)


def run_streaming_fanout(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sinks: Sequence[str],
    sinks_root: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    drop_before_write: Sequence[str] = (),
):
    """Multi-sink conditional fan-out over a stream.

    foreachBatch gets the micro-batch as a plain DataFrame: apply the
    batch transform once, then ONE fan-out explode (`fanout_rows`) and
    ONE parquet write partitioned by (sink, _batch_id), so a row lands
    in every sink it routes to and each sink is a Hive partition (read
    back as `{sinks_root}/sink={name}`). One data pass and one write job
    per micro-batch, however many sinks: scheduling cost does not grow
    with the sink count. At equal bytes this beat a per-sink layout
    (persist, then one filtered write per sink directory) in every
    measured round (BENCH r03-r05: 10.1/14.7/12.6 s vs 14.2/16.8/19.1 s).

    Column rules match batch's plain sinks: both shape their rows with
    `operators.route.fanout_rows`, so an event field named `sink` fails
    the batch with its clear error.

    Exactly-once: the write uses DYNAMIC partition overwrite, so a batch
    replayed after a crash mid-write overwrites its own `_batch_id`
    partitions instead of appending duplicates (foreachBatch alone is
    only at-least-once). Files are compressed like every batch table
    (`sources.tableio.write_table`).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_table(
            fanout_rows(transform(batch_df), sinks, "sink", drop_before_write)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("sink", "_batch_id"),
            sinks_root,
        )

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def refreshing_translate(
    source: str,
    target: str,
    dictionary_path: str,
    *,
    fallback: object | None = None,
    refresh_interval: float = 0.0,
):
    """Per-micro-batch dictionary refresh for translate (the reference's
    logstash-filter-translate `refresh_interval`): the returned transform
    stats `dictionary_path` on each micro-batch and reloads + re-broadcasts
    the dictionary when the file changed, so later batches of a running
    stream see updated mappings. `refresh_interval` throttles the stat()
    check (0 = every batch — a driver-side stat is negligible next to a
    micro-batch); the reload itself happens only on an mtime change.

    Compose it into the `transform` passed to run_streaming_fanout:
        t = refreshing_translate("code", "label", "/etc/map.json")
        run_streaming_fanout(src, lambda df: route(t(df)), ...)
    """
    import os
    import time

    from logstash_spark.operators.enrich import _load_dictionary, translate

    state: dict[str, object] = {"mtime": None, "dict": None, "checked": 0.0}

    def transform(df: DataFrame) -> DataFrame:
        now = time.monotonic()
        if (
            state["dict"] is None
            or refresh_interval <= 0
            or now - state["checked"] >= refresh_interval  # type: ignore[operator]
        ):
            state["checked"] = now
            mtime = os.stat(dictionary_path).st_mtime_ns
            if mtime != state["mtime"]:
                state["mtime"] = mtime
                state["dict"] = _load_dictionary(dictionary_path)
        return translate(df, source, target, state["dict"], fallback=fallback)  # type: ignore[arg-type]

    return transform


def streaming_metrics(
    stream_df: DataFrame,
    ts: str,
    keys: Sequence[str],
    *,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """logstash-filter-metrics as an incremental windowed aggregation.

    The watermark bounds state (the reference's clear_interval analog) and
    defines late-data cutoff — a capability Logstash lacks entirely
    (wall-clock timers only, SURVEY.md §2.7)."""
    win = F.window(F.col(ts), window_duration)
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "cnt",
        )
    )


def streaming_dedupe(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts: str,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming dedup: first event per key wins; state is bounded
    by the watermark (dropDuplicatesWithinWatermark — keys older than the
    watermark are evicted, so state never grows unboundedly at 10^12
    scale). The fingerprint+conditional Logstash pattern, stateful."""
    return stream_df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_token_bucket(
    stream_df: DataFrame,
    key: str,
    ts: str,
    *,
    capacity: int = 100,
    refill_per_sec: float = 1.0,
    out_schema: str = "key string, ts timestamp, allowed boolean, tokens double",
):
    """logstash-filter-throttle's true token bucket as a CUSTOM STATEFUL
    streaming operator via applyInPandasWithState (SURVEY.md §2.8: the
    sanctioned arbitrary-state escape hatch).

    Per key, state = (tokens, last_ts_epoch). Each micro-batch processes
    its rows in event-time order, refilling `refill_per_sec` up to
    `capacity`; a row is `allowed` if a token is available. State lives in
    the state store (checkpointed, partitioned by key — scales out like
    any keyed stream).

    A key's micro-batch may arrive as several pandas chunks in arbitrary
    order, so all chunks are materialized and sorted ONCE before the
    walk — per-chunk sorting would let refill accounting diverge when a
    key's batch spans chunks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cap = float(capacity)
    rate = float(refill_per_sec)

    def bucket(key_tuple, pdf_iter, state: GroupState):
        if state.exists:
            tokens, last = state.get
        else:
            tokens, last = cap, 0.0
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(ts)
            for t in pdf[ts]:
                now = t.timestamp()
                if last > 0:
                    tokens = min(cap, tokens + max(0.0, now - last) * rate)
                # never move the refill clock backwards: a late event in
                # a later micro-batch must not let the next in-order
                # event re-credit an interval already credited
                last = max(last, now)
                allowed = tokens >= 1.0
                if allowed:
                    tokens -= 1.0
                rows.append((key_tuple[0], t, allowed, tokens))
        state.update((float(tokens), float(last)))
        yield pd.DataFrame(rows, columns=["key", "ts", "allowed", "tokens"])

    return (
        stream_df.groupBy(F.col(key))
        .applyInPandasWithState(
            bucket,
            outputStructType=out_schema,
            stateStructType="tokens double, last double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessions(
    stream_df: DataFrame,
    ts: str,
    key: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """aggregate-filter inactivity_timeout analog: native session_window
    (incremental state, watermark-bounded) — the streaming twin of the
    batch `sessionize` operator."""
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("s"), key)
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("last_ts"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key,
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "10 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the unbounded-stream
    twin of the batch `elapsed` start/end pairing (logstash-filter-
    elapsed §start_tag/end_tag): pair every right event with the left
    events of the same key whose timestamp it follows within `within`.

    `watermark` defaults to 2× `within`: enough slack to pair every
    in-horizon match while keeping state eviction (and outer-join
    emission) proportional to the match window. Bounded replays that
    must never drop late rows (e.g. the availableNow correctness gates)
    pass an explicit large watermark such as '3650 days' — that value
    is ONLY sane for bounded input; on a real unbounded stream it
    disables eviction and delays outer emission by the same 10 years.

    Both sides carry an event-time watermark and the join condition
    carries the time bound (right_ts ∈ [left_ts, left_ts + within]),
    which is exactly what lets Spark EVICT joined state: each side's
    buffered rows are dropped once the other side's watermark passes
    their match window, so state is O(events in the interval horizon),
    not O(stream history). Column names must be disjoint across the two
    inputs (select/rename before joining) — the condition references
    them unqualified by design so the OUTPUT schema is flat and
    sink-ready.

    `how` supports inner plus the time-bounded outer forms
    (leftOuter/rightOuter/fullOuter) Spark allows when both watermark +
    time constraint are present — the outer rows emit when the
    watermark proves no match can arrive, the streaming analog of the
    elapsed filter's `expired` tag path.
    """
    if watermark is None:
        qty, unit = within.split(None, 1)
        watermark = f"{2 * int(qty)} {unit}"
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)
