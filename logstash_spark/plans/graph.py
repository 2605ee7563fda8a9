"""Pipeline-to-pipeline composition (the reference's inter-pipeline bus).

The reference wires pipelines together through in-process address queues
(`pipeline { send_to => [...] }` output → `pipeline { address => ... }`
input; logstash-core `org.logstash.plugins.pipeline.PipelineBus` — each
send is an enqueue, each downstream a blocking reader). Spark removes
the queue entirely: a virtual sink's frame IS the downstream pipeline's
input DataFrame, so the whole multi-pipeline graph compiles to ONE
Catalyst plan and the optimizer fuses across pipeline boundaries
(upstream projections prune against downstream needs; no
serialize/enqueue/dequeue hop, no backpressure coupling).

Supported topologies mirror the reference docs (distributor, forked
path, output isolator, collector): fan-out = one upstream routing to
several addresses; collector = several upstreams sending to one address
(union by name). Cycles are rejected at plan time — the reference only
discovers them at runtime as a deadlock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)

from logstash_spark.operators.route import ROUTES, route_filter
from logstash_spark.plans.spec import PipelineSpec


def toposort_pipelines(specs: list[PipelineSpec]) -> list[PipelineSpec]:
    """Order pipelines so every sender runs before its listeners.

    Kahn's algorithm over address edges (A → B when A sends to an
    address B listens on). Raises on cycles and on addresses sent to
    that nobody listens on (silent event loss in the reference unless
    `ensure_delivery`; here a plan-time error).
    """
    listeners: dict[str, list[int]] = {}
    for i, s in enumerate(specs):
        for addr in s.listen:
            listeners.setdefault(addr, []).append(i)
    deps: list[set[int]] = [set() for _ in specs]  # i depends on deps[i]
    for i, s in enumerate(specs):
        for addr in s.virtual_sends().values():
            if addr not in listeners:
                raise ValueError(
                    f"pipeline {s.name!r} sends to address {addr!r} but no "
                    "pipeline listens on it"
                )
            for j in listeners[addr]:
                deps[j].add(i)
    ordered: list[PipelineSpec] = []
    done: set[int] = set()
    while len(done) < len(specs):
        ready = [
            i for i in range(len(specs)) if i not in done and deps[i] <= done
        ]
        if not ready:
            cyc = [specs[i].name for i in range(len(specs)) if i not in done]
            raise ValueError(f"pipeline address cycle among {cyc}")
        for i in ready:
            ordered.append(specs[i])
            done.add(i)
    return ordered


def _pipeline_input(
    spec: PipelineSpec,
    inputs: dict[str, DataFrame],
    address_frames: dict[str, list[DataFrame]],
) -> DataFrame:
    """A pipeline's input: its physical input ∪ every frame sent to its
    listen addresses (union by name)."""
    frames = [inputs[spec.name]] if spec.name in inputs else []
    for addr in spec.listen:
        frames.extend(address_frames.get(addr, []))
    if not frames:
        raise ValueError(
            f"pipeline {spec.name!r} has no input (no physical input "
            "bound and nothing sent to its addresses)"
        )
    df = frames[0]
    for f_ in frames[1:]:
        df = df.unionByName(f_, allowMissingColumns=True)
    return df


def compose_pipelines(
    inputs: dict[str, DataFrame],
    specs: list[PipelineSpec],
    persist_tracker: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Pure plan composition: pipeline name → routed frame (ROUTES col
    materialized, filters applied, inputs = physical input ∪ all frames
    sent to its listen addresses). No actions, no writes — callers
    (queries, tests) slice sinks out with `route_filter`.
    """
    from logstash_spark.plans.runner import build_plan

    address_frames: dict[str, list[DataFrame]] = {}
    routed_by_name: dict[str, DataFrame] = {}
    for spec in toposort_pipelines(specs):
        routed = build_plan(
            _pipeline_input(spec, inputs, address_frames), spec, persist_tracker
        )
        routed_by_name[spec.name] = routed
        for sink, addr in spec.virtual_sends().items():
            address_frames.setdefault(addr, []).append(
                route_filter(routed, sink).drop(ROUTES)
            )
    return routed_by_name


def run_pipelines(
    spark: SparkSession,
    inputs: dict[str, DataFrame],
    specs: list[PipelineSpec],
    sinks_root: str,
    *,
    resume: bool = True,
):
    """Execute a pipeline graph: upstream sinks are written exactly as in
    `run_pipeline`; virtual `pipeline:` sinks are handed downstream as
    DataFrames instead of hitting disk. Each pipeline writes under
    `<sinks_root>/<pipeline-name>/`. Returns {pipeline name: RunResult}.

    Persisted fan-out frames stay cached until EVERY downstream pipeline
    has run (a downstream read of an unpersisted upstream would silently
    recompute the upstream parse), then all are released.
    """
    import os

    from logstash_spark.plans.runner import run_pipeline

    results = {}
    keep_alive: list[DataFrame] = []
    address_frames: dict[str, list[DataFrame]] = {}
    try:
        for spec in toposort_pipelines(specs):
            res = run_pipeline(
                spark,
                _pipeline_input(spec, inputs, address_frames),
                spec,
                os.path.join(sinks_root, spec.name),
                resume=resume,
                persist_tracker=keep_alive,
            )
            for addr, frame in res.address_frames.items():
                address_frames.setdefault(addr, []).append(frame)
            results[spec.name] = res
    finally:
        for p in keep_alive:
            p.unpersist()
    return results
