"""E2E pipeline oracle (FIXTURES.md F1/F3/F5/F6): closed-form per-sink
counts computed independently in Python from the generation rules,
per-row token-array equality through the pipeline, and the resume /
no-duplicates contract — the pytest analogs of Logstash's
qa/integration count assertions (SURVEY.md §5).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_spark.plans.flagship import run_flagship
from logstash_spark.sources.gen import input_sequences
from logstash_spark.sources.tableio import SnapshotTable

N = 2000


def _expected(n: int) -> dict[str, int]:
    """Closed-form re-derivation of the route counts from gen.py rules."""
    counts = {s: 0 for s in ["sink_errors", "sink_edge", "sink_service", "sink_rest", "dlq"]}
    for i in range(n):
        malformed = i % 211 == 0
        m = i % 100
        if m < 55:
            source = "web"
        elif m < 80:
            source = "app"
        elif m < 90:
            source = "syslog"
        elif m < 96:
            source = "db"
        elif m < 99:
            source = "crawler"
        else:
            source = "iot"
        src_class = {"web": "edge", "app": "service", "syslog": "infra",
                     "db": "infra", "crawler": "batch"}.get(source, "unknown")
        lvl_mod = i % 9
        level = ("ERROR" if lvl_mod == 0 else "INFO" if lvl_mod <= 4
                 else "WARN" if lvl_mod <= 6 else "DEBUG")
        if malformed:
            level = None  # grok failed; level never extracted
        if level == "ERROR" or malformed:
            counts["sink_errors"] += 1
        if malformed:
            counts["dlq"] += 1
        edge = src_class == "edge" and level != "DEBUG"  # null != DEBUG → True
        service = src_class == "service"
        if edge:
            counts["sink_edge"] += 1
        if service:
            counts["sink_service"] += 1
        if not edge and not service:
            counts["sink_rest"] += 1
    return counts


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sinks"))
    df = input_sequences(spark, N)
    res = run_flagship(spark, df, root)
    return root, res


def test_per_sink_counts_match_closed_form(run):
    _, res = run
    assert res.sink_counts == _expected(N)


def test_token_array_equality_through_pipeline(spark, run):
    """The north rule's per-row invariant: tokens reach every sink
    byte-identical. Anti-join on (doc_id, tokens) must be empty."""
    root, _ = run
    inp = input_sequences(spark, N).select("doc_id", "tokens")
    for sink in ["sink_edge", "sink_service", "sink_errors", "sink_rest", "dlq"]:
        out = SnapshotTable(os.path.join(root, sink)).read(spark)
        missing = out.select("doc_id", "tokens").exceptAll(inp).count()
        assert missing == 0, f"{sink} has mutated token arrays"


def test_dlq_rows_carry_failure_reason(spark, run):
    """DLQ entries carry the failure tags that routed them (the
    reference DLQ's reason metadata)."""
    root, _ = run
    dlq = SnapshotTable(os.path.join(root, "dlq")).read(spark)
    assert "_dlq_reason" in dlq.columns
    assert dlq.where(~F.col("_dlq_reason").contains("_grokparsefailure")).count() == 0


def test_fanout_multiplicity(spark, run):
    """An event may reach several sinks (graph fan-out, not first-match)."""
    root, res = run
    total_routed = sum(res.sink_counts.values())
    assert total_routed > N  # fan-out strictly duplicates some rows
    # sink_edge ∩ sink_errors nonempty: web ERROR rows go to both
    edge = SnapshotTable(os.path.join(root, "sink_edge")).read(spark)
    errors = SnapshotTable(os.path.join(root, "sink_errors")).read(spark)
    both = edge.select("doc_id").intersect(errors.select("doc_id")).count()
    assert both > 0


def test_aggregate_table_consistency(spark, run):
    root, res = run
    agg = SnapshotTable(os.path.join(root, "_aggregates")).read(spark)
    per_sink = {
        r["sink"]: r["cnt"]
        for r in agg.where(
            F.col("sink").isNotNull()
            & F.col("source").isNull()
            & F.col("source_class").isNull()
        ).collect()
    }
    assert per_sink == res.sink_counts


def test_metrics_side_table(spark, run):
    root, _ = run
    m = SnapshotTable(os.path.join(root, "_metrics")).read(spark)
    # N seconds of events → ceil(N/300) five-minute windows; count sums to
    # rows with a parsed event_ts (malformed rows have none)
    total = m.agg(F.sum("cnt")).collect()[0][0]
    malformed = len([i for i in range(N) if i % 211 == 0])
    assert total == N - malformed
    assert m.where(F.col("rate_per_sec") <= 0).count() == 0


def test_lineage_per_partition(spark, run):
    root, _ = run
    lin = SnapshotTable(os.path.join(root, "_lineage")).read(spark)
    rows = lin.collect()
    assert {r["partition_id"] for r in rows} == set(range(len(rows)))
    assert sum(r["input_rows"] for r in rows) == N


def test_processed_partitions_watermark(spark, run):
    """The resume API reads per-partition lineage back from the
    _sink_lineage detail table: every input partition that routed at
    least one row to the sink appears in the watermark set."""
    root, res = run
    t = SnapshotTable(os.path.join(root, "sink_errors"))
    parts = t.processed_partitions(spark)
    lin = SnapshotTable(os.path.join(root, "_lineage")).read(spark)
    n_parts = lin.count()
    assert parts, "watermark must be non-empty after a committed run"
    assert parts <= set(range(n_parts))
    # unknown run_id → empty set
    assert t.processed_partitions(spark, run_id="nope") == set()


def test_resume_after_crash_between_shared_sink_commits(spark, tmp_path):
    """Crash after the SECOND table committed from the shared sink write:
    the staged partitions of the sinks not yet committed stay out of
    every table, the rerun clears that stale staging area, and every
    sink ends with exactly one copy of its rows."""
    from logstash_spark.plans.runner import STAGING_DIR

    root = str(tmp_path)
    df = input_sequences(spark, 500)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_flagship(spark, df, root, fail_after_sink="sink_edge")
    staging = os.path.join(root, STAGING_DIR)
    assert os.listdir(staging), "a crash leaves its staged partitions behind"
    exp = _expected(500)
    assert SnapshotTable(os.path.join(root, "sink_errors")).read(spark).count() == exp["sink_errors"]
    assert SnapshotTable(os.path.join(root, "sink_edge")).read(spark).count() == exp["sink_edge"]
    for sink in ("sink_service", "sink_rest", "dlq"):
        with pytest.raises(FileNotFoundError):  # staged, never committed
            SnapshotTable(os.path.join(root, sink)).read(spark)

    res = run_flagship(spark, df, root)  # restart, same input
    assert sorted(res.skipped_sinks) == ["sink_edge", "sink_errors"]
    assert not os.path.exists(staging)
    for sink, want in exp.items():
        t = SnapshotTable(os.path.join(root, sink)).read(spark)
        assert t.count() == want, sink
        assert t.select("doc_id").distinct().count() == t.count(), f"dups in {sink}"


SIDE_TABLES = ("_sink_lineage", "_aggregates", "_metrics", "_lineage")


def test_rerun_is_fully_idempotent(spark, tmp_path):
    """A rerun of a finished run writes nothing: every sink is skipped,
    and every side table keeps its one snapshot and its row count."""
    root = str(tmp_path)
    df = input_sequences(spark, 300)
    run_flagship(spark, df, root)
    tables = {t: SnapshotTable(os.path.join(root, t)) for t in SIDE_TABLES}
    rows = {t: tbl.read(spark).count() for t, tbl in tables.items()}
    res2 = run_flagship(spark, df, root)
    assert sorted(res2.skipped_sinks) == sorted(_expected(300).keys())
    for t, tbl in tables.items():
        assert len(tbl.snapshots()) == 1, t
        assert tbl.read(spark).count() == rows[t], t


def _commit_order() -> list[str]:
    from logstash_spark.plans.flagship import flagship_spec

    return ["_sink_lineage", *flagship_spec().sink_names(), *SIDE_TABLES[1:]]


def _assert_one_clean_copy(spark, root: str, n: int) -> None:
    """Every sink holds its rows once, every table has one snapshot, and
    the staging area is gone."""
    from logstash_spark.plans.runner import STAGING_DIR

    for sink, want in _expected(n).items():
        t = SnapshotTable(os.path.join(root, sink)).read(spark)
        assert t.count() == want, sink
        assert t.select("doc_id").distinct().count() == want, f"dups in {sink}"
    for name in _commit_order():
        assert len(SnapshotTable(os.path.join(root, name)).snapshots()) == 1, name
    assert STAGING_DIR not in os.listdir(root)


@pytest.mark.parametrize("crash_after", _commit_order())
def test_crash_at_every_commit_point_resumes_exactly_once(spark, tmp_path, crash_after):
    """FIXTURES.md F6 at every commit point: a crash right after any
    table commits leaves every later table without a snapshot; the
    restart on the same input commits each of those once and skips the
    rest, so every sink holds exactly one copy of its rows."""
    root = str(tmp_path)
    df = input_sequences(spark, 300)
    order = _commit_order()
    with pytest.raises(RuntimeError, match=f"injected failure after {crash_after}"):
        run_flagship(spark, df, root, fail_after_sink=crash_after)
    done = order.index(crash_after) + 1
    for name in order[:done]:
        assert len(SnapshotTable(os.path.join(root, name)).snapshots()) == 1, name
    for name in order[done:]:
        assert SnapshotTable(os.path.join(root, name)).snapshots() == [], name

    res = run_flagship(spark, df, root)
    sinks = set(_expected(300))
    assert sorted(res.skipped_sinks) == sorted(sinks & set(order[:done]))
    _assert_one_clean_copy(spark, root, 300)


def test_failed_staged_write_commits_nothing(spark, tmp_path, monkeypatch):
    """One staged write fails while it runs (a UDF raises in the DLQ's
    frame): the error surfaces only after the other staged writes have
    finished, no table commits, `_sink_lineage` included, and a clean
    rerun commits every table once."""
    import logstash_spark.plans.runner as runner

    root = str(tmp_path)
    df = input_sequences(spark, 300)
    route_filter = runner.route_filter
    boom = F.udf(lambda x: 1 // 0, "int")

    def failing(routed, sink):
        out = route_filter(routed, sink)
        return out.withColumn("boom", boom("doc_id")) if sink == "dlq" else out

    started, finished = [], []
    write = runner.write_parquet

    def recording(frame, path, partition_by=None):
        started.append(path)
        try:
            write(frame, path, partition_by)
        finally:
            finished.append(path)

    monkeypatch.setattr(runner, "route_filter", failing)
    monkeypatch.setattr(runner, "write_parquet", recording)
    with pytest.raises(Exception, match="ZeroDivisionError"):
        try:
            run_flagship(spark, df, root)
        finally:
            done_at_raise = list(finished)
    # the lineage write, then the shared sinks, DLQ and the three side
    # tables: all ran to their end
    assert len(started) == 6
    assert sorted(done_at_raise) == sorted(started)
    assert runner.STAGING_DIR not in os.listdir(root)
    for name in _commit_order():
        assert SnapshotTable(os.path.join(root, name)).snapshots() == [], name
    monkeypatch.undo()

    run_flagship(spark, df, root)
    _assert_one_clean_copy(spark, root, 300)


def test_changed_filter_chain_gets_new_run_id(spark, tmp_path):
    """The run_id keys on the filter chain, not only on the input files:
    the same files under another grok pattern are a different run, so
    resume skips no sink."""
    from logstash_spark.plans.flagship import enrich_sources, flagship_spec
    from logstash_spark.plans.runner import run_pipeline

    src = str(tmp_path / "in")
    input_sequences(spark, 300).write.parquet(src)
    df = enrich_sources(spark.read.parquet(src))
    root = str(tmp_path / "sinks")
    spec = flagship_spec()
    first = run_pipeline(spark, df, spec, root)
    again = run_pipeline(spark, df, spec, root)
    assert again.run_id == first.run_id
    assert sorted(again.skipped_sinks) == sorted(spec.sink_names())

    changed = flagship_spec()
    grok = changed.filters[0].conf
    grok["match"] = grok["match"].replace("msg=%{WORD:msg}", "msg=%{NOTSPACE:msg}")
    res = run_pipeline(spark, df, changed, root)
    assert res.run_id != first.run_id
    assert res.skipped_sinks == []


def test_changed_drop_before_write_gets_new_run_id(spark, tmp_path):
    """The run_id keys on `drop_before_write` too: the same files with
    another dropped column are a different run, so resume skips no sink
    and the new snapshot carries the column the first run dropped."""
    from logstash_spark.plans.runner import run_pipeline
    from logstash_spark.plans.spec import PipelineSpec

    src = str(tmp_path / "in")
    input_sequences(spark, 100).write.parquet(src)
    spec = PipelineSpec(name="drops", filters=[], routes={"all": "true"})
    root = str(tmp_path / "sinks")
    first = run_pipeline(spark, spark.read.parquet(src), spec, root, drop_before_write=("raw",))
    res = run_pipeline(spark, spark.read.parquet(src), spec, root, drop_before_write=("tokens",))
    assert res.run_id != first.run_id
    assert res.skipped_sinks == []
    table = SnapshotTable(os.path.join(root, "all"))
    new = spark.read.parquet(os.path.join(table.root, table.latest().files[-1]))
    assert "raw" in new.columns and "tokens" not in new.columns


def test_dlq_replay_loop_closes(spark, run):
    """DLQ loop closure (logstash-input-dead_letter_queue /
    DeadLetterQueueReader.java): corrupt rows → dlq sink → re-ingest via
    the dead_letter_queue source → FIXED parse succeeds → counts
    reconcile with the closed-form malformed count."""
    from logstash_spark.operators.parse import grok
    from logstash_spark.sources.dlq import dead_letter_queue

    root, res = run
    n_malformed = _expected(N)["dlq"]

    replay = dead_letter_queue(
        spark,
        os.path.join(root, "dlq"),
        reason_filter="_grokparsefailure",
        clear_tags=["_grokparsefailure"],
    )
    assert replay.count() == res.sink_counts["dlq"] == n_malformed
    assert "_dlq_reason" not in replay.columns
    # tags cleared → downstream failure checks re-run cleanly
    assert replay.where(F.array_contains("tags", "_grokparsefailure")).count() == 0

    # the "fix": a parser that understands the truncated line shape
    # (raw was dropped before the sink write; re-derive it from doc_id,
    # matching the generator's truncation rule)
    fixed = replay.withColumn(
        "raw2", F.lit("2026-01-01T00:")  # what the truncated lines carry
    )
    reparsed = grok(fixed, "raw2", r"^%{YEAR:y:int}-%{MONTHNUM2:mo}")
    ok = reparsed.where(~F.array_contains("tags", "_grokparsefailure"))
    assert ok.count() == n_malformed  # every replayed event now parses
    assert ok.select(F.min("y"), F.max("y")).collect()[0] == (2026, 2026)


def test_dlq_reason_filter_is_exact_member(spark, tmp_path):
    """reason_filter matches a whole tag in the comma-joined list, not a
    substring — `_x` variants must not be selected."""
    from logstash_spark.sources.dlq import dlq_replay_frame

    df = spark.createDataFrame(
        [(1, "_grokparsefailure"), (2, "_grokparsefailure_x"),
         (3, "_dateparsefailure,_grokparsefailure")],
        ["id", "_dlq_reason"],
    )
    out = dlq_replay_frame(df, reason_filter="_grokparsefailure", strip_metadata=False)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


class TestTableFactory:
    def test_auto_falls_back_to_snapshot_without_iceberg(self, spark, tmp_path):
        from logstash_spark.sources.tableio import (
            SnapshotTable,
            iceberg_available,
            open_table,
        )

        # this sandbox has no iceberg-spark-runtime jar
        assert not iceberg_available(spark)
        t = open_table(str(tmp_path / "t"), spark, "auto")
        assert isinstance(t, SnapshotTable)
        assert isinstance(open_table(str(tmp_path / "t2")), SnapshotTable)

    def test_explicit_iceberg_raises_without_runtime(self, spark, tmp_path):
        from logstash_spark.sources.tableio import open_table

        with pytest.raises(RuntimeError, match="Iceberg runtime"):
            open_table(str(tmp_path / "t"), spark, "iceberg")
        with pytest.raises(ValueError, match="requires a SparkSession"):
            open_table(str(tmp_path / "t"), None, "iceberg")
        with pytest.raises(ValueError, match="unknown table format"):
            open_table(str(tmp_path / "t"), spark, "delta")

    def test_run_pipeline_probes_classpath_once(self, spark, tmp_path, monkeypatch):
        # table_format="auto" is resolved once per run, not per table
        import logstash_spark.plans.runner as runner
        import logstash_spark.sources.tableio as tableio
        from logstash_spark.plans.spec import PipelineSpec

        probes = []

        def counting(s):
            probes.append(s)
            return False

        monkeypatch.setattr(tableio, "iceberg_available", counting)
        monkeypatch.setattr(runner, "iceberg_available", counting)
        df = spark.createDataFrame(
            [(i, "app" if i % 2 else "web") for i in range(10)], ["id", "source"]
        )
        spec = PipelineSpec(
            name="t", filters=[], routes={"sink_app": '[source] == "app"'}
        )
        res = runner.run_pipeline(spark, df, spec, str(tmp_path / "sinks"))
        assert res.sink_counts == {"sink_app": 5}
        assert len(probes) == 1

        # the py4j probe itself runs once per SparkContext: a second run
        # on the same session asks the JVM nothing
        monkeypatch.undo()
        tableio._iceberg_on_classpath.cache_clear()  # as on a new session
        client = spark.sparkContext._gateway._gateway_client
        send, calls = client.send_command, []

        def recording(command, *args, **kwargs):
            calls.append("IcebergSource" in command)
            return send(command, *args, **kwargs)

        monkeypatch.setattr(client, "send_command", recording)
        for run in ("a", "b"):
            runner.run_pipeline(spark, df, spec, str(tmp_path / run))
        monkeypatch.undo()
        assert sum(calls) == 1

    def test_run_pipeline_explicit_snapshot_format(self, spark, tmp_path):
        # table_format="snapshot" pins the fallback explicitly — same
        # results as the default auto path in this sandbox
        from logstash_spark.plans.runner import run_pipeline
        from logstash_spark.plans.spec import PipelineSpec

        df = spark.createDataFrame(
            [(i, f"m{i}", "app" if i % 2 else "web") for i in range(20)],
            ["id", "message", "source"],
        )
        spec = PipelineSpec(
            name="t",
            filters=[],
            routes={"sink_app": '[source] == "app"',
                    "sink_web": '[source] == "web"'},
        )
        res = run_pipeline(
            spark, df, spec, str(tmp_path / "sinks"), table_format="snapshot"
        )
        assert res.sink_counts == {"sink_app": 10, "sink_web": 10}
