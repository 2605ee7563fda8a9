"""The batch runner's shared sink write: every plain-schema sink of a
`run_pipeline` call lands through ONE partitioned write that is then
committed table by table. Pins the Spark job count of a flagship run,
the file layout of the rebalanced sink writes (files sized per sink by
AQE, not one per input task), and the edge cases of that write: empty
sinks, sink names Spark escapes in partition paths, a user column named
like the partition column, and the sinks that must keep writing on
their own (DLQ, `partition_by`, `codec`)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.operators.common import METADATA
from logstash_spark.operators.route import route_filter
from logstash_spark.plans.flagship import GROK_PATTERN, build_flagship, run_flagship
from logstash_spark.plans.runner import FANOUT_COL, STAGING_DIR, run_pipeline
from logstash_spark.plans.spec import FilterSpec, PipelineSpec, SinkSpec
from logstash_spark.sources.gen import input_sequences
from logstash_spark.sources.tableio import SnapshotTable

# Spark jobs of one flagship `run_pipeline` on the test session
# (local[4], 8 shuffle partitions): the _sink_lineage write with
# observed per-sink totals, the shared sink write, the DLQ write and the
# _aggregates / _metrics / _lineage side tables, plus one shuffle-map
# job for each of the two rebalance stages: the shared write's
# (by the fan-out partition column) and the DLQ write's (no columns).
# One filtered write per sink plus a read-back of the per-sink totals
# took 19; the writes without a rebalance took 12.
FLAGSHIP_JOBS = 14
SHARED_SINKS = ["sink_errors", "sink_edge", "sink_service", "sink_rest"]
# the flagship's tables besides the shared sinks
TABLES = ["dlq", "_sink_lineage", "_aggregates", "_metrics", "_lineage"]
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _read(spark, root, sink):
    return SnapshotTable(os.path.join(root, sink)).read(spark)


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _data_files(root, sink):
    """The parquet files of `sink`'s latest snapshot, by directory
    relative to the snapshot's data dir ('' for unpartitioned files)."""
    table = SnapshotTable(os.path.join(root, sink))
    snap_dir = os.path.join(table.root, table.latest().files[-1])
    return [
        "" if d == snap_dir else os.path.relpath(d, snap_dir)
        for d, _, names in os.walk(snap_dir)
        for n in names
        if n.endswith(".parquet")
    ]


def _jobs(spark, group: str, run) -> tuple[list[int], object]:
    """The Spark jobs `run()` started, run in job group `group`, and its
    result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "flagship run_pipeline")
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group), res


def test_flagship_run_job_count_is_pinned(spark, tmp_path):
    df = input_sequences(spark, 2000)
    jobs, res = _jobs(spark, "test_flagship_run_job_count",
                      lambda: run_flagship(spark, df, str(tmp_path)))
    assert len(jobs) == FLAGSHIP_JOBS, sorted(jobs)
    assert sum(res.sink_counts.values()) > 2000
    # the staging area of the shared write is gone once all committed
    assert STAGING_DIR not in os.listdir(tmp_path)


def test_rerun_job_counts_are_pinned(spark, tmp_path):
    """A rerun after a crash right after `_sink_lineage` committed runs
    the fresh run's jobs: the lineage write runs again for its observed
    totals (nothing is read back), and every other table is written. A
    rerun of the finished run starts no Spark job."""
    df = input_sequences(spark, 2000)
    root = str(tmp_path)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_flagship(spark, df, root, fail_after_sink="_sink_lineage")
    jobs, res = _jobs(spark, "test_rerun_after_crash",
                      lambda: run_flagship(spark, df, root))
    assert len(jobs) == FLAGSHIP_JOBS, sorted(jobs)
    assert res.skipped_sinks == []
    jobs, res = _jobs(spark, "test_rerun_finished",
                      lambda: run_flagship(spark, df, root))
    assert jobs == []
    assert sorted(res.skipped_sinks) == sorted([*SHARED_SINKS, "dlq"])


def test_flagship_sinks_hold_one_file_each(spark, tmp_path, parquet_codecs):
    """The rebalanced writes size files per sink, not per input task:
    the 8-partition input lands as one file in every shared sink and
    one in the DLQ. Every column chunk of every table's files is
    zstd-compressed (`tableio.TABLE_CODEC`)."""
    df = input_sequences(spark, 2000, partitions=8)
    root = str(tmp_path)
    res = run_flagship(spark, df, root)
    for sink in [*SHARED_SINKS, "dlq"]:
        assert res.sink_counts[sink] > 0, sink
        assert _data_files(root, sink) == [""], sink
    codecs = parquet_codecs(root)
    assert {f.split(os.sep, 1)[0] for f in codecs} == {*SHARED_SINKS, *TABLES}
    assert all(c == {"ZSTD"} for c in codecs.values()), codecs


def test_plain_session_write_keeps_the_session_codec(spark, tmp_path, parquet_codecs):
    """The table codec is set per table write, not on the session: any
    other parquet write (staged input, `write_bucketed`) keeps Spark's
    session default."""
    default = spark.conf.get("spark.sql.parquet.compression.codec").upper()
    assert default != "ZSTD"
    spark.range(100).selectExpr("id", "cast(id as string) s").write.parquet(
        str(tmp_path / "plain")
    )
    codecs = parquet_codecs(tmp_path / "plain")
    assert codecs and all(c == {default} for c in codecs.values()), codecs


def test_small_advisory_size_splits_the_biggest_sink(spark, tmp_path):
    """Above `advisoryPartitionSizeInBytes` AQE splits a sink's
    partition into several files, and the split loses and duplicates no
    row."""
    df = input_sequences(spark, 2000)
    root = str(tmp_path)
    before = spark.conf.get(ADVISORY, None)
    spark.conf.set(ADVISORY, "16k")
    try:
        res = run_flagship(spark, df, root)
    finally:
        if before is None:
            spark.conf.unset(ADVISORY)
        else:
            spark.conf.set(ADVISORY, before)
    big = max(SHARED_SINKS, key=res.sink_counts.__getitem__)
    assert len(_data_files(root, big)) > 1
    got = _read(spark, root, big)
    want = route_filter(build_flagship(df), big).select(*got.columns)
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_partition_by_sink_holds_one_file_per_value(spark, tmp_path):
    df = input_sequences(spark, 1000, partitions=8)
    spec = PipelineSpec(
        name="by_value",
        filters=[],
        routes={"by_source": "true"},
        sinks=[SinkSpec("by_source", partition_by=["source"])],
    )
    root = str(tmp_path)
    run_pipeline(spark, df, spec, root)
    values = {r[0] for r in df.select("source").distinct().collect()}
    files = _data_files(root, "by_source")
    assert sorted(files) == sorted(f"source={v}" for v in values)


def test_staged_writes_run_at_once_in_the_callers_job_group(spark, tmp_path, monkeypatch):
    """The `_sink_lineage` write runs first and alone; every write after
    it (the shared sink write, the DLQ and the three side tables) is in
    flight at the same time: each waits at a barrier only all five
    together can pass. Each runs in the caller's job group, and the
    tables commit in one loop, `_sink_lineage` first, then spec order."""
    import threading

    import logstash_spark.plans.runner as runner

    barrier = threading.Barrier(5, timeout=60)
    write = runner.write_parquet
    groups = []
    sc = spark.sparkContext

    def gated(frame, path, partition_by=None):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        if len(groups) > 1:  # not the lineage write, which runs alone
            barrier.wait()
        write(frame, path, partition_by)

    commits = []
    append = SnapshotTable.append

    def recording(table, *args, **kwargs):
        commits.append(os.path.basename(table.root))
        return append(table, *args, **kwargs)

    monkeypatch.setattr(runner, "write_parquet", gated)
    monkeypatch.setattr(SnapshotTable, "append", recording)
    sc.setJobGroup("test_staged_writes", "flagship run_pipeline")
    try:
        run_flagship(spark, input_sequences(spark, 300), str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert groups == ["test_staged_writes"] * 6
    assert commits == [
        "_sink_lineage", "sink_errors", "sink_edge", "sink_service", "sink_rest",
        "dlq", "_aggregates", "_metrics", "_lineage",
    ]


def test_empty_shared_sink_commits_readable_snapshot(spark, tmp_path):
    df = input_sequences(spark, 200)
    spec = PipelineSpec(
        name="empty",
        filters=[],
        routes={"sink_web": '[source] == "web"', "sink_none": '[source] == "nope"'},
    )
    root = str(tmp_path)
    res = run_pipeline(spark, df, spec, root)
    assert res.sink_counts["sink_none"] == 0
    none = SnapshotTable(os.path.join(root, "sink_none"))
    assert none.latest().lineage["rows"] == 0
    empty = none.read(spark)
    assert empty.count() == 0
    web = _read(spark, root, "sink_web")
    assert web.count() == res.sink_counts["sink_web"] > 0
    # the per-sink write's schema: input columns minus routes/_in_part
    assert _schema(empty) == _schema(web) == _schema(df)


def test_sink_name_escaped_in_partition_paths_lands_in_its_table(spark, tmp_path):
    df = input_sequences(spark, 300)
    odd = "sink=a:b%c#d"
    spec = PipelineSpec(
        name="odd",
        filters=[],
        routes={odd: '[source] == "web"', "sink_app": '[source] == "app"'},
    )
    root = str(tmp_path)
    res = run_pipeline(spark, df, spec, root)
    for sink, source in ((odd, "web"), ("sink_app", "app")):
        want = sorted(
            r[0] for r in df.where(F.col("source") == source).select("doc_id").collect()
        )
        got = sorted(r[0] for r in _read(spark, root, sink).select("doc_id").collect())
        assert got == want, sink
        assert res.sink_counts[sink] == len(want)


def test_user_column_named_like_partition_column(spark, tmp_path):
    df = input_sequences(spark, 300).withColumn(FANOUT_COL, F.col("doc_id") * 10)
    spec = PipelineSpec(
        name="clash",
        filters=[],
        routes={"sink_web": '[source] == "web"', "sink_all": "true"},
    )
    root = str(tmp_path)
    run_pipeline(spark, df, spec, root)
    for sink, n in (("sink_web", df.where(F.col("source") == "web").count()),
                    ("sink_all", 300)):
        out = _read(spark, root, sink)
        assert _schema(out) == _schema(df), sink
        assert out.count() == n, sink
        # the user column kept its own values
        assert out.where(F.col(FANOUT_COL) != F.col("doc_id") * 10).count() == 0


def test_dlq_partition_by_and_codec_sinks_write_separately(spark, tmp_path):
    df = input_sequences(spark, 500)
    spec = PipelineSpec(
        name="mixed",
        filters=[
            FilterSpec("grok", {"field": "raw", "match": GROK_PATTERN}),
            FilterSpec("mutate", {"add_field": {"[@metadata][team]": "t-%{source}"}}),
        ],
        routes={
            "plain": "true",
            "by_source": "true",
            "encoded": '[source] == "web"',
            "dlq": '"_grokparsefailure" in [tags]',
        },
        sinks=[
            SinkSpec("by_source", partition_by=["source"]),
            SinkSpec("encoded", codec="json_lines"),
        ],
    )
    root = str(tmp_path)
    res = run_pipeline(spark, df, spec, root)
    n_web = df.where(F.col("source") == "web").count()
    assert res.sink_counts == {
        "plain": 500, "by_source": 500, "encoded": n_web,
        "dlq": len([i for i in range(500) if i % 211 == 0]),
    }

    plain = _read(spark, root, "plain")
    dlq = _read(spark, root, "dlq")
    by_source = _read(spark, root, "by_source")
    encoded = _read(spark, root, "encoded")
    # only the DLQ carries the failure reason and [@metadata]
    assert "_dlq_reason" in dlq.columns and METADATA in dlq.columns
    for other in (plain, by_source):
        assert "_dlq_reason" not in other.columns
        assert METADATA not in other.columns
    assert dlq.count() == res.sink_counts["dlq"]
    # the partition_by sink keeps its own hive layout
    snap_dir = os.path.join(
        root, "by_source", SnapshotTable(os.path.join(root, "by_source")).latest().files[0]
    )
    assert {d.split("=", 1)[0] for d in os.listdir(snap_dir) if "=" in d} == {"source"}
    assert sorted(by_source.columns) == sorted(plain.columns)
    assert by_source.count() == 500
    # the codec sink holds the encoded wire form only
    assert encoded.columns == ["message"]
    assert encoded.count() == n_web
