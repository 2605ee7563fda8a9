"""Streaming mode: the batch plan over a file stream, multi-sink fan-out
via foreachBatch, incremental windowed metrics, session windows — and
equality of streaming vs batch results on the same input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.operators.common import METADATA
from logstash_spark.plans.flagship import build_flagship, run_flagship
from logstash_spark.sources.gen import input_sequences
from logstash_spark.sources.tableio import SnapshotTable
from logstash_spark.streaming.pipeline import (
    file_stream_source,
    run_streaming_fanout,
    streaming_metrics,
    streaming_sessions,
)

N = 2000
SINKS = ["sink_errors", "sink_edge", "sink_service", "sink_rest", "dlq"]


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("landing")
    df = input_sequences(spark, N, partitions=4)
    # two "arriving" file batches
    df.where(F.col("doc_id") < "doc-000000001000").write.parquet(f"{root}/f1")
    df.where(F.col("doc_id") >= "doc-000000001000").write.parquet(f"{root}/f2")
    # flatten into one dir of parquet files
    import glob
    import shutil

    out = tmp_path_factory.mktemp("stream_in")
    i = 0
    for part in sorted(glob.glob(f"{root}/f*/*.parquet")):
        shutil.copy(part, f"{out}/batch{i:03d}.parquet")
        i += 1
    return str(out), df.schema


def _drain_fanout(spark, path, schema, sinks_root, ckpt):
    stream = file_stream_source(spark, path, schema, max_files_per_trigger=3)
    assert stream.isStreaming
    q = run_streaming_fanout(
        stream,
        build_flagship,
        SINKS,
        sinks_root,
        ckpt,
        drop_before_write=("raw",),
    )
    q.awaitTermination(120)


def _batch_counts(spark, path, schema):
    batch_routed = build_flagship(spark.read.schema(schema).parquet(path))
    return {
        sink: batch_routed.where(F.array_contains("routes", sink)).count()
        for sink in SINKS
    }


def _sink_counts(spark, sinks_root):
    counts = dict(spark.read.parquet(sinks_root).groupBy("sink").count().collect())
    return {sink: counts.get(sink, 0) for sink in SINKS}


def _sorted_rows(df):
    """`df`'s rows as text, columns by name, rows sorted."""
    return sorted(repr(r) for r in df.select(*sorted(df.columns)).collect())


def test_streaming_fanout_matches_batch(spark, landing, tmp_path):
    """Every flagship sink holds the same rows in streaming as in
    `run_flagship` on identical input. The one documented difference is
    the DLQ: streaming writes it like a plain sink, without batch's
    `_dlq_reason` and `[@metadata]`."""
    path, schema = landing
    sinks_root = str(tmp_path / "sinks")
    _drain_fanout(spark, path, schema, sinks_root, str(tmp_path / "ckpt"))
    got = _sink_counts(spark, sinks_root)
    assert got == _batch_counts(spark, path, schema)

    batch_root = str(tmp_path / "batch")
    run_flagship(spark, spark.read.schema(schema).parquet(path), batch_root)
    streamed = spark.read.parquet(sinks_root)
    for sink in SINKS:
        want = SnapshotTable(os.path.join(batch_root, sink)).read(spark)
        if sink == "dlq":
            assert "_dlq_reason" in want.columns
            want = want.drop("_dlq_reason", METADATA)
        rows = streamed.where(F.col("sink") == sink).drop("sink", "_batch_id")
        assert _sorted_rows(rows) == _sorted_rows(want), sink
        assert len(rows.columns) == len(want.columns), sink


def test_streamed_field_named_sink_fails_clearly(spark, landing, tmp_path):
    """An event field named like the stream's fan-out column fails the
    micro-batch with `fanout_rows`' error, not an ambiguous reference."""
    path, schema = landing
    stream = file_stream_source(spark, path, schema).withColumn("sink", F.lit("x"))
    q = run_streaming_fanout(
        stream, build_flagship, SINKS, str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="'sink' is already an event field"):
        q.awaitTermination(120)


def test_streaming_fanout_replay_is_exactly_once(spark, landing, tmp_path):
    """A batch replayed after a mid-fan-out crash must overwrite its own
    _batch_id partitions, not append duplicates. Simulated by running the
    same input through a FRESH checkpoint (same batch ids re-delivered
    into already-written sinks)."""
    path, schema = landing
    sinks_root = str(tmp_path / "sinks")
    expected = _batch_counts(spark, path, schema)
    for ckpt in ("ckpt_a", "ckpt_b"):
        _drain_fanout(spark, path, schema, sinks_root, str(tmp_path / ckpt))
        got = _sink_counts(spark, sinks_root)
        assert got == expected, f"after {ckpt}: replay {got} != batch {expected}"


def test_streaming_fanout_unified_layout(spark, landing, tmp_path, parquet_codecs):
    """One explode + one (sink,_batch_id)-partitioned write per
    micro-batch: the root holds only `sink={name}` partitions, each
    split by `_batch_id`, and each sink reads back on its own from
    `{root}/sink={name}` with the batch plan's row count. Every column
    chunk of every file is zstd-compressed, as in the batch tables."""
    path, schema = landing
    sinks_root = tmp_path / "sinks"
    _drain_fanout(spark, path, schema, str(sinks_root), str(tmp_path / "ckpt"))

    expected = _batch_counts(spark, path, schema)
    tops = {e for e in os.listdir(sinks_root) if not e.startswith(("_", "."))}
    assert tops == {f"sink={s}" for s, n in expected.items() if n}
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    n_batches = -(-n_files // 3)  # max_files_per_trigger=3
    for top in tops:
        sink = top.split("=", 1)[1]
        parts = [e for e in os.listdir(sinks_root / top) if not e.startswith(".")]
        assert parts and all(p.startswith("_batch_id=") for p in parts), parts
        assert {int(p.split("=", 1)[1]) for p in parts} <= set(range(n_batches))
        got = spark.read.parquet(str(sinks_root / top)).count()
        assert got == expected[sink], f"{sink}: {got} != {expected[sink]}"
    codecs = parquet_codecs(sinks_root)
    assert {f.split(os.sep, 1)[0] for f in codecs} == tops
    assert all(c == {"ZSTD"} for c in codecs.values()), codecs


def test_streaming_crash_before_batch_commit_resumes_exactly_once(
    spark, landing, tmp_path, monkeypatch
):
    """A crash right after micro-batch 1's files land, before Spark
    commits the batch: the query restarted on the same checkpoint
    replays batch 1 into its own `_batch_id=1` partitions (dynamic
    partition overwrite), so every sink holds the batch plan's rows
    exactly once and one copy of batch 1."""
    from logstash_spark.streaming import pipeline

    path, schema = landing
    sinks_root, ckpt = tmp_path / "sinks", tmp_path / "ckpt"
    real, writes = pipeline.write_table, []

    def crash_after_batch_1(w, out, *args):
        real(w, out, *args)
        writes.append(out)
        if len(writes) == 2:  # batch ids count from 0
            raise RuntimeError("injected crash after batch 1's files")

    monkeypatch.setattr(pipeline, "write_table", crash_after_batch_1)
    with pytest.raises(Exception, match="injected crash"):
        _drain_fanout(spark, path, schema, str(sinks_root), str(ckpt))
    committed = [f for f in os.listdir(ckpt / "commits") if not f.startswith(".")]
    assert committed == ["0"]

    def batch_1():
        return spark.read.parquet(str(sinks_root)).where("_batch_id = 1")

    landed = dict(batch_1().groupBy("sink").count().collect())
    assert landed  # the crashed batch's files are there
    _drain_fanout(spark, path, schema, str(sinks_root), str(ckpt))
    assert len(writes) > 2
    assert _sink_counts(spark, str(sinks_root)) == _batch_counts(spark, path, schema)
    assert dict(batch_1().groupBy("sink").count().collect()) == landed


def test_streaming_metrics_incremental(spark, landing, tmp_path):
    path, schema = landing
    stream = file_stream_source(spark, path, schema)
    parsed = stream.withColumn(
        "event_ts",
        F.to_timestamp(F.substring(F.col("raw"), 1, 19), "yyyy-MM-dd'T'HH:mm:ss"),
    ).where(F.col("event_ts").isNotNull())
    m = streaming_metrics(parsed, "event_ts", ["source"], window_duration="5 minutes")
    q = (
        m.writeStream.format("memory")
        .queryName("m_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_m"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.source): r.cnt
        for r in spark.sql("SELECT * FROM m_out").collect()
    }
    # batch oracle
    b = (
        spark.read.schema(schema).parquet(path)
        .withColumn(
            "event_ts",
            F.to_timestamp(F.substring(F.col("raw"), 1, 19), "yyyy-MM-dd'T'HH:mm:ss"),
        )
        .where(F.col("event_ts").isNotNull())
        .groupBy(F.window("event_ts", "5 minutes").alias("w"), "source")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "source", "cnt")
    )
    expected = {(r.ws.isoformat(), r.source): r.cnt for r in b.collect()}
    assert got == expected


def test_streaming_sessions(spark, landing, tmp_path):
    path, schema = landing
    stream = file_stream_source(spark, path, schema)
    parsed = stream.withColumn(
        "event_ts",
        F.to_timestamp(F.substring(F.col("raw"), 1, 19), "yyyy-MM-dd'T'HH:mm:ss"),
    ).where(F.col("event_ts").isNotNull())
    s = streaming_sessions(parsed, "event_ts", "source", gap="30 seconds")
    q = (
        s.writeStream.format("memory")
        .queryName("s_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM s_out").collect()
    # malformed rows (i % 211 == 0, truncated raw) fail the ts parse and
    # are filtered before sessionization
    n_valid = N - len([i for i in range(N) if i % 211 == 0])
    assert sum(r.n_events for r in rows) == n_valid
    assert {r.source for r in rows} == {"web", "app", "syslog", "db", "crawler", "iot"}


def test_streaming_dict_refresh_between_batches(spark, tmp_path):
    """logstash-filter-translate refresh_interval analog: a changed
    dictionary_path is reloaded and re-broadcast between micro-batches —
    rows in a later batch of the SAME logical stream see the new mapping."""
    import json

    from logstash_spark.streaming.pipeline import refreshing_translate

    schema = "id long, code string"
    landing = tmp_path / "in"
    dpath = tmp_path / "dict.json"
    dpath.write_text(json.dumps({"a": "v1"}))

    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))

    t = refreshing_translate("code", "label", str(dpath), fallback="miss")

    def transform(df):
        return t(df).withColumn("routes", F.array(F.lit("all")))

    sinks_root = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_fanout(
        file_stream_source(spark, str(landing), schema), transform, ["all"],
        sinks_root, ckpt,
    )
    q.awaitTermination(120)

    dpath.write_text(json.dumps({"a": "v2"}))
    os.utime(dpath, ns=(os.stat(dpath).st_atime_ns, os.stat(dpath).st_mtime_ns + 10**9))
    spark.createDataFrame([(2, "a")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))

    q = run_streaming_fanout(
        file_stream_source(spark, str(landing), schema), transform, ["all"],
        sinks_root, ckpt,
    )
    q.awaitTermination(120)

    rows = {
        r["id"]: r["label"]
        for r in spark.read.parquet(f"{sinks_root}/sink=all").collect()
    }
    assert rows == {1: "v1", 2: "v2"}


def test_streaming_fanout_drops_metadata(spark, tmp_path):
    """[@metadata] is pipeline scratch: batch never writes it to a plain
    sink, and neither does the streaming fan-out."""
    from logstash_spark.operators.common import METADATA

    landing = tmp_path / "in"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, code string").coalesce(
        1
    ).write.parquet(str(landing))

    def transform(df):
        return df.withColumn(
            METADATA, F.struct(F.col("code").alias("index"))
        ).withColumn("routes", F.array(F.lit("all")))

    sinks_root = str(tmp_path / "sinks")
    q = run_streaming_fanout(
        file_stream_source(spark, str(landing), "id long, code string"),
        transform, ["all"], sinks_root, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(f"{sinks_root}/sink=all")
    assert METADATA not in out.columns and "routes" not in out.columns
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_file_source_text_tail_with_path_field(spark, tmp_path):
    """logstash-input-file over raw log text: fmt='text' reads
    line-per-row, `path_field` carries the source file (the reference's
    `path` event field), and the line content lands in `value` ready for
    the codec/grok chain."""
    landing = tmp_path / "logs"
    landing.mkdir()
    (landing / "a.log").write_text("alpha 1\nalpha 2\n")
    (landing / "b.log").write_text("beta 1\n")
    out = tmp_path / "out"
    stream = file_stream_source(
        spark, str(landing), "value string", fmt="text", path_field="path"
    )
    q = (
        stream.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", str(out))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    got = {(r["value"], r["path"].rsplit("/", 1)[-1]) for r in rows}
    assert got == {
        ("alpha 1", "a.log"), ("alpha 2", "a.log"), ("beta 1", "b.log")
    }


def test_file_source_completed_action_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="delete.*archive|archive.*delete"):
        file_stream_source(
            spark, str(tmp_path), "value string", fmt="text",
            completed_action="rename",
        )
    with pytest.raises(ValueError, match="archive_dir"):
        file_stream_source(
            spark, str(tmp_path), "value string", fmt="text",
            completed_action="archive",
        )


def test_file_source_read_mode_deletes_completed(spark, tmp_path):
    """`mode => read` + `file_completed_action => delete`: Spark's
    cleanSource removes each file once a LATER batch commits (cleanup of
    batch N happens at batch N+1), so with one file per trigger the
    first file must be gone after the run."""
    import glob as _glob
    import time as _time

    landing = tmp_path / "in"
    landing.mkdir()
    for i in range(3):
        (landing / f"f{i}.log").write_text(f"line {i}\n")
    stream = file_stream_source(
        spark, str(landing), "value string", fmt="text",
        max_files_per_trigger=1, completed_action="delete",
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # cleanup is asynchronous best-effort; poll briefly
    for _ in range(20):
        left = _glob.glob(str(landing / "*.log"))
        if len(left) < 3:
            break
        _time.sleep(0.5)
    assert len(left) < 3, "cleanSource=delete removed no completed file"


class TestStreamingIntervalJoin:
    def test_time_bound_and_key_matching(self, spark, tmp_path):
        from logstash_spark.streaming.pipeline import (
            drain_available_now,
            streaming_interval_join,
        )

        left_rows = [
            (1, "2024-01-01 00:00:00"),
            (2, "2024-01-01 00:00:00"),
        ]
        right_rows = [
            (1, "2024-01-01 00:05:00", 10.0),   # in window
            (1, "2024-01-01 00:20:00", 20.0),   # past 10-minute bound
            (1, "2023-12-31 23:59:00", 30.0),   # before the start
            (3, "2024-01-01 00:01:00", 40.0),   # no matching key
        ]
        ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
        spark.createDataFrame(left_rows, "k long, l_ts string").withColumn(
            "l_ts", F.col("l_ts").cast("timestamp")
        ).write.parquet(ldir)
        spark.createDataFrame(right_rows, "rk long, r_ts string, v double").withColumn(
            "r_ts", F.col("r_ts").cast("timestamp")
        ).write.parquet(rdir)
        lschema = spark.read.parquet(ldir).schema
        rschema = spark.read.parquet(rdir).schema
        lstream = spark.readStream.schema(lschema).parquet(ldir)
        rstream = spark.readStream.schema(rschema).parquet(rdir)
        joined = streaming_interval_join(
            lstream, rstream,
            left_key="k", right_key="rk",
            left_ts="l_ts", right_ts="r_ts",
            within="10 minutes",
            watermark="3650 days",  # bounded replay: no eviction
        )
        got = drain_available_now(joined, output_mode="append").collect()
        assert len(got) == 1
        assert got[0].k == 1 and got[0].v == 10.0


def test_drain_removes_its_checkpoint(spark, tmp_path):
    """A drain leaves no `drain_ckpt_*` directory behind in the temp dir."""
    import glob
    import tempfile

    from logstash_spark.streaming.pipeline import drain_available_now

    src = str(tmp_path / "in")
    spark.range(5).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    pattern = os.path.join(tempfile.gettempdir(), "drain_ckpt_*")
    before = len(glob.glob(pattern))
    assert drain_available_now(stream).count() == 5
    assert len(glob.glob(pattern)) == before
