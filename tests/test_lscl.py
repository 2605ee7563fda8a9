"""LSCL .conf front-end golden tests (grammar shapes from
logstash-core compiler_spec) + E2E equality: the flagship pipeline
expressed as .conf text must produce the same per-sink counts as the
Python PipelineSpec."""

from __future__ import annotations

import pytest

from logstash_spark.plans.lscl import (
    Branch,
    LSCLError,
    Plugin,
    compile_conf,
    parse_config,
)


def test_parse_sections_and_value_types():
    ast = parse_config(
        """
        # a comment
        input { generator { count => 5 } }
        filter {
          mutate {
            add_field => { "k" => "v" "n" => 3 }
            uppercase => ["a", "b"]
            ratio => 0.5
            flag => true
            mode => warn   # bareword
          }
        }
        output { file { path => "/tmp/x" } }
        """
    )
    assert [p.name for p in ast.inputs] == ["generator"]
    m = ast.filters[0]
    assert isinstance(m, Plugin) and m.name == "mutate"
    assert m.attrs["add_field"] == {"k": "v", "n": 3}
    assert m.attrs["uppercase"] == ["a", "b"]
    assert m.attrs["ratio"] == 0.5
    assert m.attrs["flag"] is True
    assert m.attrs["mode"] == "warn"
    assert ast.outputs[0].attrs["path"] == "/tmp/x"


def test_parse_if_else_chain():
    ast = parse_config(
        """
        filter {
          if [level] == "ERROR" {
            mutate { add_tag => ["err"] }
          } else if [level] == "WARN" {
            mutate { add_tag => ["warn"] }
          } else {
            mutate { add_tag => ["rest"] }
          }
        }
        """
    )
    br = ast.filters[0]
    assert isinstance(br, Branch)
    conds = [c for c, _ in br.cases]
    assert conds == ['[level] == "ERROR"', '[level] == "WARN"', None]


def test_condition_with_brace_in_string():
    ast = parse_config(
        'filter { if [msg] == "has { brace" { mutate { add_tag => ["x"] } } }'
    )
    assert ast.filters[0].cases[0][0] == '[msg] == "has { brace"'


def _filtered(spark, conf: str, schema: str, rows: list[tuple]) -> list[dict]:
    """The rows after the conf's filter chain, by `id` order, without
    `id`: no scratch column of the chain is left in them."""
    from logstash_spark.plans.runner import apply_filters

    spec, _ = compile_conf(conf)
    out = apply_filters(spark.createDataFrame(rows, schema), spec)
    return [r.asDict() for r in out.orderBy("id").drop("id").collect()]


def test_gate_composition_negates_prior_cases(spark):
    """`if / else if / else` with a nested `if`: each event runs the
    body of the first case that holds, and only that one."""
    conf = """
        filter {
          if [a] == 1 {
            mutate { add_tag => ["t1"] }
            if [b] == 2 { mutate { add_tag => ["t2"] } }
          } else if [a] == 2 {
            mutate { add_tag => ["t3"] }
          } else {
            mutate { add_tag => ["t4"] }
          }
        }
    """
    rows = [(0, 1, 2), (1, 1, 5), (2, 2, 2), (3, 3, 2)]
    got = _filtered(spark, conf, "id int, a int, b int", rows)
    assert [r["tags"] for r in got] == [["t1", "t2"], ["t1"], ["t3"], ["t4"]]
    assert sorted(got[0]) == ["a", "b", "tags"]


def test_chain_case_decided_before_its_body_rewrites_the_field(spark):
    """Logstash's SplitDataset decides an `if / else` once per event: a
    body op that rewrites the tested field neither stops the body's
    later ops nor sends the event into the `else` body."""
    conf = """
        filter {
          if [type] == "apache" {
            mutate { replace => { "type" => "web" } }
            mutate { add_tag => ["seen"] }
          } else {
            mutate { add_tag => ["other"] }
          }
        }
    """
    got = _filtered(spark, conf, "id int, type string", [(0, "apache"), (1, "syslog")])
    assert got == [
        {"type": "web", "tags": ["seen"]},
        {"type": "syslog", "tags": ["other"]},
    ]


def test_else_if_body_rewriting_the_field_keeps_its_case(spark):
    """The `else if` body turns `type` into the FIRST case's value; its
    later ops still run, and neither the first case's nor the `else`
    body does."""
    conf = """
        filter {
          if [type] == "a" {
            mutate { add_tag => ["A"] }
          } else if [type] == "b" {
            mutate { replace => { "type" => "a" } }
            mutate { add_tag => ["B"] }
          } else {
            mutate { add_tag => ["C"] }
          }
        }
    """
    got = _filtered(spark, conf, "id int, type string", [(0, "a"), (1, "b"), (2, "c")])
    assert got == [
        {"type": "a", "tags": ["A"]},
        {"type": "a", "tags": ["B"]},
        {"type": "c", "tags": ["C"]},
    ]


def test_output_routes_and_sink_naming():
    spec, ast = compile_conf(
        """
        output {
          if [x] == "y" { file { id => "hot" } }
          else { file { id => "cold" } }
          stdout { }
        }
        """
    )
    assert spec.routes == {
        "hot": '([x] == "y")',
        "cold": '!([x] == "y")',
        "stdout": "true",
    }
    assert not ast.filters


def test_grok_adapter_match_map_and_date():
    spec, _ = compile_conf(
        """
        filter {
          grok {
            match => { "message" => "%{WORD:verb}" }
            tag_on_failure => ["_grokparsefailure"]
          }
          date { match => ["ts_str", "ISO8601", "UNIX"] target => "event_ts" }
          mutate { gsub => ["msg", "a+", "A", "host", "x", "y"] }
        }
        """
    )
    g, d, m = spec.filters
    assert g.conf == {
        "match": {"message": "%{WORD:verb}"},
        "tag_on_failure": "_grokparsefailure",
    }
    assert d.conf == {"field": "ts_str", "formats": ["ISO8601", "UNIX"],
                      "target": "event_ts"}
    assert m.conf["gsub"] == [("msg", "a+", "A"), ("host", "x", "y")]


def test_parse_errors():
    with pytest.raises(LSCLError, match="unknown section"):
        parse_config("bogus { }")
    with pytest.raises(LSCLError, match="expected"):
        parse_config("filter { mutate { uppercase ['a'] } }")


FLAGSHIP_CONF = r"""
filter {
  grok {
    match => {
      "raw" => "%{TIMESTAMP_ISO8601:ts_str} %{WORD:host} %{WORD:src}\[%{POSINT:pid:int}\]: doc=%{NOTSPACE:doc_id_raw} ntok=%{POSINT:ntok_raw:int} level=%{LOGLEVEL:level} msg=%{WORD:msg}"
    }
  }
  date { match => ["ts_str", "ISO8601"] target => "event_ts" }
  translate {
    source => "source"  target => "source_class"
    dictionary => { "web" => "edge" "app" => "service" "syslog" => "infra"
                    "db" => "infra" "crawler" => "batch" }
    fallback => "unknown"
  }
  translate {
    source => "source"  target => "priority"
    dictionary => { "web" => 1 "app" => 2 "syslog" => 3 "db" => 3 "crawler" => 9 }
    fallback => 99
  }
}
output {
  if [level] == "ERROR" or "_grokparsefailure" in [tags] { file { id => "sink_errors" } }
  if [source_class] == "edge" and [level] != "DEBUG" { file { id => "sink_edge" } }
  else if [source_class] == "service" { file { id => "sink_service" } }
  else { file { id => "sink_rest" } }
  if "_grokparsefailure" in [tags] { file { id => "dlq" } }
}
"""


def test_flagship_conf_e2e_equals_python_spec(spark, tmp_path):
    """The whole flagship pipeline authored as .conf text: same sink
    counts as the Python-spec run on the same input."""
    from logstash_spark.plans.flagship import run_flagship
    from logstash_spark.plans.runner import run_pipeline
    from logstash_spark.sources.gen import input_sequences

    n = 1500
    df = input_sequences(spark, n)
    ref = run_flagship(spark, df, str(tmp_path / "ref"))

    spec, _ = compile_conf(
        FLAGSHIP_CONF,
        name="flagship_conf",
        aggregate_dims=["source_class", "source"],
        aggregate_sum="n_tok",
        metrics_ts="event_ts",
    )
    res = run_pipeline(
        spark, df, spec, str(tmp_path / "conf"), drop_before_write=("raw",)
    )
    assert res.sink_counts == ref.sink_counts


def test_condition_with_regex_brace_quantifier():
    """A '{' inside a /regex/ literal (brace quantifier) must not end
    the condition."""
    ast = parse_config(
        'filter { if [msg] =~ /ab{2}c/ { mutate { add_tag => ["x"] } } }'
    )
    assert ast.filters[0].cases[0][0] == "[msg] =~ /ab{2}c/"


def test_grok_legacy_array_match_form():
    spec, _ = compile_conf(
        'filter { grok { match => ["message", "%{WORD:verb}", "message", "%{WORD:w2}"] } }'
    )
    assert spec.filters[0].conf["match"] == {
        "message": ["%{WORD:verb}", "%{WORD:w2}"]
    }


def test_dissect_multi_entry_mapping_expands():
    spec, _ = compile_conf(
        'filter { dissect { mapping => { "message" => "%{a} %{b}" "other" => "%{x}" } } }'
    )
    confs = [(f.op, f.conf["field"], f.conf["mapping"]) for f in spec.filters]
    assert confs == [
        ("dissect", "message", "%{a} %{b}"),
        ("dissect", "other", "%{x}"),
    ]


def test_path_sink_name_cannot_escape_root():
    spec, _ = compile_conf(
        'output { file { path => "/var/log/out.log" } }'
    )
    assert list(spec.routes) == ["var_log_out.log"]


def test_grok_odd_array_match_rejected():
    with pytest.raises(LSCLError, match="even number"):
        compile_conf('filter { grok { match => ["message", "%{WORD:a}", "%{WORD:b}"] } }')


def test_dotonly_and_underscore_sink_names_fall_back():
    spec, _ = compile_conf(
        'output { file { path => ".." } file { id => "_aggregates" } }'
    )
    assert list(spec.routes) == ["file", "file_2"]


class TestEnvSubstitution:
    """${VAR} / ${VAR:default} in plugin attribute values — the
    reference's environment-variable surface (docs "Using environment
    variables"; logstash-core substitution_variables.rb)."""

    def test_basic_and_default(self):
        ast = parse_config(
            'input { generator { count => "${N:25}" message => "${M}" } }',
            env={"M": "hi"},
        )
        assert ast.inputs[0].attrs == {"count": "25", "message": "hi"}

    def test_env_wins_over_default(self):
        ast = parse_config(
            'filter { mutate { add_tag => ["${T:dflt}"] } }', env={"T": "set"}
        )
        assert ast.filters[0].attrs["add_tag"] == ["set"]

    def test_unset_without_default_raises(self):
        with pytest.raises(LSCLError, match="Cannot evaluate"):
            parse_config('input { g { m => "${NOPE}" } }', env={})

    def test_empty_default_and_embedded(self):
        ast = parse_config(
            'filter { mutate { add_field => { "p" => "pre-${X:}-post" } } }',
            env={},
        )
        assert ast.filters[0].attrs["add_field"]["p"] == "pre--post"

    def test_substitutes_inside_codec_subplugin(self):
        ast = parse_config(
            'input { file { codec => multiline { pattern => "${PAT:^\\\\s}" } } }',
            env={},
        )
        assert ast.inputs[0].attrs["codec"].attrs["pattern"] == "^\\s"

    def test_substitutes_in_branch_bodies(self):
        ast = parse_config(
            'filter { if [a] == "x" { mutate { add_tag => ["${T:t1}"] } } }',
            env={},
        )
        assert ast.filters[0].cases[0][1][0].attrs["add_tag"] == ["t1"]

    def test_conditions_not_substituted(self):
        ast = parse_config(
            'filter { if [f] == "${LIT}" { mutate { } } }', env={}
        )
        # the condition keeps its literal ${LIT} — reference does not
        # substitute inside expressions
        assert "${LIT}" in ast.filters[0].cases[0][0]

    def test_os_environ_is_the_default_source(self, monkeypatch):
        monkeypatch.setenv("LSCL_TEST_VAR_XYZ", "fromenv")
        ast = parse_config('input { g { m => "${LSCL_TEST_VAR_XYZ}" } }')
        assert ast.inputs[0].attrs["m"] == "fromenv"


class TestGeneratorMessageLines:
    """Reference logstash-input-generator: `message` emits that exact
    line; `lines` cycles in order, count full iterations."""

    def test_message_attr_feeds_raw(self, spark):
        from logstash_spark.plans.lscl import bind_input

        ast = parse_config(
            'input { generator { count => 5 message => "hi[1]: x" } }'
        )
        df = bind_input(spark, ast)
        rows = df.select("raw").distinct().collect()
        assert [r.raw for r in rows] == ["hi[1]: x"]
        assert df.count() == 5

    def test_lines_cycle_in_order(self, spark):
        from logstash_spark.plans.lscl import bind_input

        ast = parse_config(
            'input { generator { count => 3 lines => ["a", "b"] } }'
        )
        df = bind_input(spark, ast)
        got = [r.raw for r in df.orderBy("doc_id").collect()]
        assert got == ["a", "b", "a", "b", "a", "b"]

    def test_env_var_in_message_e2e(self, spark, monkeypatch):
        from logstash_spark.plans.lscl import bind_input

        monkeypatch.setenv("GEN_MSG_TEST", "from-env")
        ast = parse_config(
            'input { generator { count => 2 message => "${GEN_MSG_TEST}" } }'
        )
        df = bind_input(spark, ast)
        assert [r.raw for r in df.select("raw").distinct().collect()] == [
            "from-env"
        ]


def test_fresh_interpreter_registry_holds_every_op():
    """`OPS` is complete as soon as the operators package is imported: a
    fresh interpreter that imports only the compiler and the runner
    builds a `dns` filter (registered by `operators.lookup`), and every
    `@op` in the package source is registered."""
    import json
    import os
    import re
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        import json
        from logstash_spark.plans.lscl import compile_conf
        from logstash_spark.plans.runner import build_plan
        from logstash_spark.session import get_spark

        spec, _ = compile_conf('filter { dns { reverse => ["ip"] } }')
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame([("10.0.0.1",)], ["ip"])
        build_plan(df, spec)  # plans only: no lookup runs
        spark.stop()
        from logstash_spark.operators import OPS
        print(json.dumps(sorted(OPS)))
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=repo, env=dict(os.environ, PYTHONPATH=repo), timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    registered = set(json.loads(r.stdout.strip().splitlines()[-1]))
    declared: set[str] = set()
    for root, _dirs, files in os.walk(os.path.join(repo, "logstash_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f)) as src:
                    declared |= set(re.findall(r'^@op\("([^"]+)"\)', src.read(), re.M))
    assert len(declared) == 64
    assert registered == declared
