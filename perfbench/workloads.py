"""The three workloads: what is staged, how a pass runs, what it must
produce. Each calls only the program's public entry points.

* batch_flagship   - `plans.flagship.run_flagship` (run_pipeline) over
                     staged `input_sequences` rows: 5 sinks carrying the
                     `tokens` payload plus 4 side tables.
* conf_parse_heavy - a `.conf` compiled by `plans.lscl.compile_conf`,
                     then `run_pipeline`: `when`-gated grok / dissect /
                     date branches over mixed log lines, 3 small sinks.
* stream_flagship  - `build_flagship` through
                     `streaming.pipeline.run_streaming_fanout`
                     (availableNow, one landed file per micro-batch).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass
from typing import Callable

from perfbench import inputs, oracle

CONF = r"""
filter {
  if [type] == "apache" {
    grok { match => { "message" => "%{COMBINEDAPACHELOG}" } }
    date { match => ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z"] target => "event_ts" }
  } else if [type] == "syslog" {
    grok { match => { "message" => "%{SYSLOGLINE}" } }
    date { match => ["timestamp", "MMM dd HH:mm:ss", "MMM  d HH:mm:ss"] target => "event_ts" }
  } else {
    dissect { mapping => { "message" => "%{ts} %{app} %{kv}" } }
    date { match => ["ts", "ISO8601"] target => "event_ts" }
  }
  translate {
    source => "type" target => "team"
    dictionary => { "apache" => "edge" "syslog" => "infra" }
    fallback => "service"
  }
  mutate { remove_field => ["message"] }
}
output {
  if "_grokparsefailure" in [tags] or "_dateparsefailure" in [tags]
     or "_dissectfailure" in [tags] { file { id => "failures" } }
  else if [team] == "edge" { file { id => "web" } }
  else { file { id => "ops" } }
}
"""


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # input rows per pass at scale 1
    stream: bool  # timed passes use run_streaming_fanout, else run_pipeline
    sinks: list[str]
    stream_drop: tuple[str, ...]  # columns the stream fan-out drops, as run_batch does
    compile: Callable[[], object]  # -> PipelineSpec; part of set-up time
    stage: Callable[..., int]  # (spark, n, seed, dir) -> rows written
    expected: Callable[[str], dict[str, int]]  # input dir -> rows per sink
    run_batch: Callable[..., object]  # (spark, df, spec, sinks_root) -> RunResult
    transform: Callable[[object], Callable]  # spec -> per-micro-batch plan
    prefixes: Callable[[object], list]  # spec -> [(layer, df -> df)], cumulative


def _flagship_compile():
    from logstash_spark.plans.flagship import flagship_spec

    return flagship_spec()


def _flagship_run(spark, df, spec, root):
    from logstash_spark.plans.flagship import run_flagship

    return run_flagship(spark, df, root)


def _flagship_transform(spec):
    from logstash_spark.plans.flagship import build_flagship

    return build_flagship


def _flagship_prefixes(spec):
    from logstash_spark.operators.route import add_routes
    from logstash_spark.plans.flagship import enrich_sources
    from logstash_spark.plans.runner import apply_filters

    return [
        ("scan", lambda df: df),
        ("parse", lambda df: apply_filters(df, spec)),
        ("enrich", lambda df: enrich_sources(apply_filters(df, spec))),
        ("route", lambda df: add_routes(
            enrich_sources(apply_filters(df, spec)), spec.routes,
            else_sink=spec.else_sink)),
    ]


def _conf_compile():
    from logstash_spark.plans.lscl import compile_conf

    spec, _ = compile_conf(
        CONF, name="conf_parse_heavy", env={},
        aggregate_dims=["type", "team"], metrics_ts="event_ts",
    )
    return spec


def _conf_run(spark, df, spec, root):
    from logstash_spark.plans.runner import run_pipeline

    return run_pipeline(spark, df, spec, root)


def _conf_transform(spec):
    from logstash_spark.plans.runner import build_plan

    return lambda df: build_plan(df, spec)


def _conf_prefixes(spec):
    from logstash_spark.plans.runner import apply_filters, build_plan

    first_enrich = next(i for i, f in enumerate(spec.filters) if f.op == "translate")
    parse_only = dataclasses.replace(spec, filters=spec.filters[:first_enrich])
    return [
        ("scan", lambda df: df),
        ("parse", lambda df: apply_filters(df, parse_only)),
        ("enrich", lambda df: apply_filters(df, spec)),
        ("route", lambda df: build_plan(df, spec)),
    ]


def _stage_flagship(spark, n, seed, out_dir):
    return inputs.stage_flagship(spark, n, seed, out_dir, 4)


def _stage_stream(spark, n, seed, out_dir):
    return inputs.stage_flagship(spark, n, seed, out_dir, STREAM_BATCHES)


def _stage_conf(spark, n, seed, out_dir):
    return inputs.stage_conf(n, seed, out_dir)


STREAM_BATCHES = 2

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "batch_flagship", 8_000, False, oracle.FLAGSHIP_SINKS, ("raw",),
            _flagship_compile, _stage_flagship, oracle.flagship_expected,
            _flagship_run, _flagship_transform, _flagship_prefixes,
        ),
        Workload(
            "conf_parse_heavy", 40_000, False, oracle.CONF_SINKS, (),
            _conf_compile, _stage_conf, oracle.conf_expected,
            _conf_run, _conf_transform, _conf_prefixes,
        ),
        Workload(
            "stream_flagship", 8_000, True, oracle.FLAGSHIP_SINKS, ("raw",),
            _flagship_compile, _stage_stream, oracle.flagship_expected,
            _flagship_run, _flagship_transform, _flagship_prefixes,
        ),
    ]
}
