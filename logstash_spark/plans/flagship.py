"""The flagship pipeline: parse → enrich → route → aggregate over the
`input_sequences` table (FIXTURES.md F1–F5) — the concrete instance of
the north rule's log pipeline.

Stages (each cites its Logstash analog):
  1. grok    — parse the `raw` log line (logstash-filter-grok)
  2. date    — ISO8601 → `event_ts` (logstash-filter-date)
  3. translate — source → (source_class, priority) broadcast enrich with
     fallback (logstash-filter-translate; `iot` missing from dict)
  4. routes  — conditional fan-out to sink_errors / sink_edge /
     sink_service / sink_rest / dlq (LSCL conditionals, graph fan-out)
  5. aggregate/metrics/lineage side tables (logstash-filter-metrics)

The `tokens` array (the 100 TB payload) rides along untouched: it is
never projected into the grok UDF, never a shuffle key, and reaches the
sinks byte-identical (per-row token-array equality oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from logstash_spark.operators.enrich import static_lookup_df, translate_multi
from logstash_spark.plans.spec import FilterSpec, PipelineSpec

GROK_PATTERN = (
    r"%{TIMESTAMP_ISO8601:ts_str} %{WORD:host} %{WORD:src}\[%{POSINT:pid:int}\]: "
    r"doc=%{NOTSPACE:doc_id_raw} ntok=%{POSINT:ntok_raw:int} "
    r"level=%{LOGLEVEL:level} msg=%{WORD:msg}"
)

# FIXTURES.md F2 — the translate dictionary (`iot` deliberately absent)
SOURCE_DICT = [
    ("web", "edge", 1),
    ("app", "service", 2),
    ("syslog", "infra", 3),
    ("db", "infra", 3),
    ("crawler", "batch", 9),
]
FALLBACKS = {"source_class": "unknown", "priority": 99}

# FIXTURES.md F3 — route table (LSCL condition strings, graph fan-out)
ROUTES = {
    "sink_errors": '[level] == "ERROR" or "_grokparsefailure" in [tags]',
    "sink_edge": '[source_class] == "edge" and [level] != "DEBUG"',
    "sink_service": '[source_class] == "service"',
    "sink_rest": '!([source_class] == "edge" and [level] != "DEBUG") '
    'and !([source_class] == "service")',
    "dlq": '"_grokparsefailure" in [tags]',
}


def flagship_spec() -> PipelineSpec:
    return PipelineSpec(
        name="flagship",
        filters=[
            FilterSpec("grok", {"field": "raw", "match": GROK_PATTERN}),
            FilterSpec("date", {"field": "ts_str", "formats": ["ISO8601"], "target": "event_ts"}),
        ],
        routes=ROUTES,
        else_sink=None,
        aggregate_dims=["source_class", "source"],
        aggregate_sum="n_tok",
        metrics_ts="event_ts",
    )


def enrich_sources(df: DataFrame) -> DataFrame:
    """Broadcast-join the F2 dictionary (translate-filter analog)."""
    spark = df.sparkSession
    dict_df = static_lookup_df(
        spark, SOURCE_DICT, ["source", "source_class", "priority"]
    )
    return translate_multi(df, "source", dict_df, "source", fallbacks=FALLBACKS)


def build_flagship(df: DataFrame) -> DataFrame:
    """Full plan, no actions: parse → enrich → routes column."""
    from logstash_spark.plans.runner import apply_filters
    from logstash_spark.operators.route import add_routes

    spec = flagship_spec()
    df = apply_filters(df, spec)
    df = enrich_sources(df)
    return add_routes(df, spec.routes, else_sink=spec.else_sink)


def run_flagship(
    spark: SparkSession,
    input_df: DataFrame,
    sinks_root: str,
    *,
    resume: bool = True,
    fail_after_sink: str | None = None,
):
    from logstash_spark.plans.runner import run_pipeline

    spec = flagship_spec()
    enriched = enrich_sources(input_df)
    return run_pipeline(
        spark,
        enriched,
        spec,
        sinks_root,
        resume=resume,
        fail_after_sink=fail_after_sink,
        drop_before_write=("raw",),
    )
