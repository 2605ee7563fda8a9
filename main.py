#!/usr/bin/env python
"""spark-submit entry point (SURVEY.md §3.1 Spark mapping).

    spark-submit --py-files logstash_spark.zip main.py \
        --spec pipeline.json --input /data/input_sequences \
        --sinks-root /data/sinks [--master local[32]] [--streaming]

The spec file is the declarative "LSCL": a JSON document with `filters`
(ordered op list), `routes` (sink → condition string), aggregate and
metrics settings — see `example_spec()` below, written out by
`python main.py --write-example-spec pipeline.json`.

Package the library for --py-files with:
    cd <repo> && zip -r logstash_spark.zip logstash_spark/
"""

from __future__ import annotations

import argparse
import json
import sys


def example_spec() -> dict:
    return {
        "name": "flagship",
        "filters": [
            {
                "op": "grok",
                "conf": {
                    "field": "raw",
                    "match": (
                        r"%{TIMESTAMP_ISO8601:ts_str} %{WORD:host} %{WORD:src}"
                        r"\[%{POSINT:pid:int}\]: doc=%{NOTSPACE:doc_id_raw} "
                        r"ntok=%{POSINT:ntok_raw:int} level=%{LOGLEVEL:level} "
                        r"msg=%{WORD:msg}"
                    ),
                },
            },
            {
                "op": "date",
                "conf": {"field": "ts_str", "formats": ["ISO8601"], "target": "event_ts"},
            },
            {
                "op": "translate",
                "conf": {
                    "source": "source",
                    "target": "source_class",
                    "dictionary": {
                        "web": "edge", "app": "service", "syslog": "infra",
                        "db": "infra", "crawler": "batch",
                    },
                    "fallback": "unknown",
                },
            },
        ],
        "routes": {
            "sink_errors": '[level] == "ERROR" or "_grokparsefailure" in [tags]',
            "sink_edge": '[source_class] == "edge" and [level] != "DEBUG"',
            "sink_service": '[source_class] == "service"',
            "dlq": '"_grokparsefailure" in [tags]',
        },
        "else_sink": "sink_rest",
        "aggregate_dims": ["source_class", "source"],
        "aggregate_sum": "n_tok",
        "metrics_ts": "event_ts",
        "metrics_window": "5 minutes",
        "drop_before_write": ["raw"],
    }


#: every key `spec_from_json` reads, plus `drop_before_write` (read by main)
SPEC_KEYS = frozenset({
    "name", "filters", "routes", "else_sink", "aggregate_dims",
    "aggregate_sum", "metrics_ts", "metrics_window", "drop_before_write",
})


def spec_from_json(doc: dict):
    """Build the PipelineSpec from a JSON spec. A key outside `SPEC_KEYS`
    raises ValueError: a typo or an unsupported setting (`sinks`,
    `dlq_sink`, `listen`) must not be dropped silently."""
    from logstash_spark.plans.spec import FilterSpec, PipelineSpec

    unknown = sorted(set(doc) - SPEC_KEYS)
    if unknown:
        raise ValueError(
            f"unsupported spec key(s) {unknown}; a JSON spec accepts "
            f"{sorted(SPEC_KEYS)}"
        )
    return PipelineSpec(
        name=doc.get("name", "pipeline"),
        filters=[
            FilterSpec(f["op"], f.get("conf", {}), f.get("when")) for f in doc["filters"]
        ],
        routes=doc["routes"],
        else_sink=doc.get("else_sink"),
        aggregate_dims=doc.get("aggregate_dims", ["source"]),
        aggregate_sum=doc.get("aggregate_sum"),
        metrics_ts=doc.get("metrics_ts"),
        metrics_window=doc.get("metrics_window", "5 minutes"),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--spec",
        help="pipeline spec: JSON file, or Logstash .conf text (LSCL) when "
        "the filename ends in .conf",
    )
    ap.add_argument("--input", help="input table path (parquet/iceberg dir)")
    ap.add_argument("--sinks-root", help="root directory for sink tables")
    ap.add_argument("--master", default=None, help="spark master override")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--table-format", default="auto",
        choices=["auto", "iceberg", "snapshot"],
        help="sink table layer: Iceberg when the runtime jar is present "
             "(auto), or pin either implementation",
    )
    ap.add_argument("--streaming", action="store_true",
                    help="treat --input as a landing dir (file stream)")
    ap.add_argument("--write-example-spec", metavar="PATH")
    args = ap.parse_args(argv)

    if args.write_example_spec:
        with open(args.write_example_spec, "w") as f:
            json.dump(example_spec(), f, indent=2)
        print(f"wrote {args.write_example_spec}")
        return 0

    if not (args.spec and args.sinks_root):
        ap.error("--spec and --sinks-root are required")
    if not args.input and not args.spec.endswith(".conf"):
        ap.error("--input is required (or a .conf spec with an input section)")

    conf_ast = None
    if args.spec.endswith(".conf"):
        from logstash_spark.plans.lscl import compile_conf

        with open(args.spec) as f:
            spec, conf_ast = compile_conf(f.read(), name=args.spec.rsplit("/", 1)[-1])
        drop: tuple[str, ...] = ()
    else:
        with open(args.spec) as f:
            doc = json.load(f)
        try:
            spec = spec_from_json(doc)
        except ValueError as e:
            ap.error(f"{args.spec}: {e}")
        drop = tuple(doc.get("drop_before_write", ()))

    from logstash_spark.session import get_spark

    spark = get_spark(master=args.master, app_name=spec.name)

    if args.streaming:
        from logstash_spark.plans.runner import build_plan
        from logstash_spark.streaming.pipeline import (
            file_stream_source,
            run_streaming_fanout,
        )

        schema = spark.read.parquet(args.input).schema
        stream = file_stream_source(spark, args.input, schema)
        # `pipeline:` sends are virtual: the stream writes physical sinks only
        virtual = spec.virtual_sends()
        q = run_streaming_fanout(
            stream,
            lambda df: build_plan(df, spec),
            [n for n in spec.sink_names() if n not in virtual],
            args.sinks_root,
            f"{args.sinks_root}/_checkpoint",
            drop_before_write=drop,
        )
        q.awaitTermination()
        return 0

    from logstash_spark.plans.runner import run_pipeline

    if args.input:
        input_df = spark.read.parquet(args.input)
    else:
        from logstash_spark.plans.lscl import bind_input

        input_df = bind_input(spark, conf_ast)
        if input_df is None:
            ap.error("--input required: the .conf declares no input section")
    result = run_pipeline(
        spark, input_df, spec, args.sinks_root,
        resume=not args.no_resume, drop_before_write=drop,
        table_format=args.table_format,
    )
    print(json.dumps({
        "run_id": result.run_id,
        "sink_counts": result.sink_counts,
        "skipped_sinks": result.skipped_sinks,
        # effective master, so spark-submit E2E tests can assert the
        # submitted --master was honored (not clobbered by get_spark)
        "master": spark.sparkContext.master,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
