"""Pin the Iceberg seam so the `format("iceberg")` branch cannot rot
invisibly in a jar-less sandbox: when `iceberg-spark-runtime` is absent
the auto fallback MUST engage, the explicit-iceberg path MUST fail with
the guard's message (not an arbitrary AnalysisException later), and the
IcebergTable call surface stays importable/constructible. When the jar
IS present (a real cluster), the same tests exercise the live branch."""

from __future__ import annotations

import pytest

from logstash_spark.sources.tableio import (
    IcebergTable,
    SnapshotTable,
    iceberg_available,
    open_table,
    write_table,
)


def test_auto_falls_back_to_snapshot_without_jar(spark, tmp_path):
    t = open_table(str(tmp_path / "t"), spark, "auto")
    if iceberg_available(spark):
        assert isinstance(t, IcebergTable)
    else:
        assert isinstance(t, SnapshotTable)


def test_explicit_iceberg_guard_without_jar(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present — guard not reachable")
    with pytest.raises(RuntimeError, match="Iceberg runtime not on the classpath"):
        open_table(str(tmp_path / "t"), spark, "iceberg")


def test_iceberg_write_surface_reachable(spark, tmp_path):
    """The exact DataFrameWriter call chain IcebergTable.append issues
    (snapshot properties, then `write_table`'s iceberg format and
    `compression-codec` option) must still be constructible and fail
    ONLY on the missing data source (jar absent), proving the branch's
    API usage is current for the Spark version — the failure class
    names the iceberg format, not a syntax/arg error."""
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    w = (
        df.write.mode("append")
        .option("snapshot-property.lineage", "{}")
        .option("snapshot-property.app-meta", "{}")
    )
    if iceberg_available(spark):
        write_table(w, str(tmp_path / "t"), "iceberg")
        assert spark.read.format("iceberg").load(str(tmp_path / "t")).count() == 1
    else:
        with pytest.raises(Exception) as ei:
            write_table(w, str(tmp_path / "t"), "iceberg")
        assert "iceberg" in str(ei.value).lower()


def test_run_pipeline_honors_table_format_auto(spark, tmp_path):
    """run_pipeline(table_format='auto') lands on the snapshot layout in
    this sandbox and the manifest carries run lineage — the property an
    Iceberg snapshot summary carries on an equipped cluster."""
    from pyspark.sql import functions as F

    from logstash_spark.plans.runner import run_pipeline
    from logstash_spark.plans.spec import PipelineSpec
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, 50)
    spec = PipelineSpec(
        name="ice", filters=[], routes={"s": "true"}, aggregate_sum=None
    )
    res = run_pipeline(spark, df, spec, str(tmp_path), table_format="auto")
    assert res.sink_counts["s"] == 50
    t = open_table(str(tmp_path / "s"), spark, "auto")
    snap = t.latest()
    assert snap is not None and snap.lineage.get("run_id") == res.run_id
