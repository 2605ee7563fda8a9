"""Pipeline-to-pipeline graph: topology validation, LSCL wiring, and
E2E distributor/collector runs (reference: logstash pipeline-to-pipeline
docs — PipelineBus address semantics, `pipeline { send_to/address }`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_spark.plans.graph import (
    compose_pipelines,
    run_pipelines,
    toposort_pipelines,
)
from logstash_spark.plans.lscl import compile_conf, compile_pipelines
from logstash_spark.plans.spec import PipelineSpec


def _spec(name, listen=(), routes=None, filters=()):
    return PipelineSpec(
        name=name,
        filters=list(filters),
        routes=routes or {},
        listen=list(listen),
        aggregate_sum=None,
    )


# ---------------------------------------------------------------------------
# Topology
# ---------------------------------------------------------------------------


def test_toposort_orders_senders_first():
    up = _spec("up", routes={"pipeline:a": "true"})
    mid = _spec("mid", listen=["a"], routes={"pipeline:b": "true"})
    down = _spec("down", listen=["b"], routes={"out": "true"})
    order = [s.name for s in toposort_pipelines([down, mid, up])]
    assert order == ["up", "mid", "down"]


def test_toposort_rejects_cycle():
    a = _spec("a", listen=["y"], routes={"pipeline:x": "true"})
    b = _spec("b", listen=["x"], routes={"pipeline:y": "true"})
    with pytest.raises(ValueError, match="cycle"):
        toposort_pipelines([a, b])


def test_toposort_rejects_unheard_address():
    a = _spec("a", routes={"pipeline:nowhere": "true"})
    with pytest.raises(ValueError, match="nowhere"):
        toposort_pipelines([a])


def test_compose_requires_an_input(spark, tmp_path):
    a = _spec("a", routes={"out": "true"})
    msg = "pipeline 'a' has no input .no physical input bound"
    with pytest.raises(ValueError, match=msg):
        compose_pipelines({}, [a])
    with pytest.raises(ValueError, match=msg):
        run_pipelines(spark, {}, [a], str(tmp_path))


# ---------------------------------------------------------------------------
# LSCL wiring
# ---------------------------------------------------------------------------


def test_lscl_pipeline_plugins_compile_to_virtual_routes():
    spec, _ = compile_conf(
        """
        input { pipeline { address => "in_a" } pipeline { address => "in_b" } }
        output {
          if [x] == 1 { pipeline { send_to => ["hot", "audit"] } }
          else { pipeline { send_to => ["audit"] } }
        }
        """
    )
    assert spec.listen == ["in_a", "in_b"]
    assert spec.routes["pipeline:hot"] == '([x] == 1)'
    # repeated sends to one address OR their branch gates together
    assert spec.routes["pipeline:audit"] == '(([x] == 1)) or (!([x] == 1))'
    assert spec.virtual_sends() == {
        "pipeline:hot": "hot", "pipeline:audit": "audit"
    }


def test_lscl_pipeline_output_requires_send_to():
    from logstash_spark.plans.lscl import LSCLError

    with pytest.raises(LSCLError, match="send_to"):
        compile_conf("output { pipeline { } }")
    with pytest.raises(LSCLError, match="address"):
        compile_conf("input { pipeline { } } output { file { path => 'x' } }")


# ---------------------------------------------------------------------------
# E2E
# ---------------------------------------------------------------------------


def test_collector_unions_two_upstreams(spark, tmp_path):
    """Collector pattern: two physical-input pipelines send to one
    address; the collector sees the by-name union (missing columns
    null-filled) and writes one sink."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "l_only"])
    right = spark.createDataFrame([(3, "c")], ["id", "r_only"])
    specs = [
        _spec("l", routes={"pipeline:all": "true"}),
        _spec("r", routes={"pipeline:all": "true"}),
        _spec("coll", listen=["all"], routes={"out": "true"}),
    ]
    res = run_pipelines(
        spark, {"l": left, "r": right}, specs, str(tmp_path), resume=False
    )
    assert res["l"].sink_counts == {"pipeline:all": 2}
    assert res["coll"].sink_counts == {"out": 3}
    from logstash_spark.sources.tableio import SnapshotTable

    out = SnapshotTable(str(tmp_path / "coll" / "out")).read(spark)
    rows = {tuple(r) for r in out.select("id", "l_only", "r_only").collect()}
    assert rows == {(1, "a", None), (2, "b", None), (3, None, "c")}


def test_distributor_counts_reconcile(spark, tmp_path):
    """Distributor: rows split by condition across two worker pipelines;
    every row lands in exactly one downstream sink and the virtual send
    counts come from the shared lineage job."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4 == 0).alias("is_err")
    )
    confs = {
        "up": """
          output {
            if [is_err] { pipeline { send_to => ["e"] } }
            else { pipeline { send_to => ["o"] } }
          }
        """,
        "err": """
          input { pipeline { address => "e" } }
          output { file { path => "err_out" } }
        """,
        "ok": """
          input { pipeline { address => "o" } }
          output { file { path => "ok_out" } }
        """,
    }
    specs, _ = compile_pipelines(confs)
    res = run_pipelines(spark, {"up": df}, specs, str(tmp_path), resume=False)
    assert res["up"].sink_counts == {"pipeline:e": 25, "pipeline:o": 75}
    assert res["err"].sink_counts == {"err_out": 25}
    assert res["ok"].sink_counts == {"ok_out": 75}


def test_compose_is_one_fused_plan(spark):
    """Plan-shape: composing up → down purely produces a single-scan
    plan for the downstream slice (no exchange, no materialization
    barrier between pipelines) — the fusion the reference's
    inter-pipeline queue forbids."""
    from logstash_spark.operators.route import route_filter

    df = spark.range(10).select(F.col("id"))
    specs = [
        _spec("up", routes={"pipeline:x": "[id] >= 5"}),
        _spec("down", listen=["x"], routes={"out": "true"}),
    ]
    routed = compose_pipelines({"up": df}, specs)
    out = route_filter(routed["down"], "out")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("Range (0, 10") == 1
