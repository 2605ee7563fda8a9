"""LSCL (.conf) front end: Logstash config text → PipelineSpec.

Reference grammar: `logstash-core/lib/logstash/config/grammar.rb` (treetop)
compiled by `lib/logstash/compiler/lscl.rb` — sections (input/filter/
output), plugin blocks with `name => value` attributes, and
if / else if / else branches whose conditions use the expression language
`operators/route.compile_condition` already implements. This module
re-derives that surface as a hand-rolled recursive-descent parser; the
golden cases mirror `logstash-core/spec/logstash/compiler/compiler_spec.rb`
shapes.

Compilation model (axes with the reference):
  * an `if c1 {...} else if c2 {...} else {...}` chain is decided once
    per event, before any of its plugins runs: gated `mutate`s write the
    number of the case that holds (`(c1)`, `!(c1) and (c2)`,
    `!(c1) and !(c2)`, LSCL's Condition/Negation composition) into a
    scratch `_lscl_case_<n>` column, each branch's plugins get the
    `when` gate `[_lscl_case_<n>] == "<k>"`, and the filter chain ends
    by removing the scratch columns. `plans/runner` turns each gate into
    a single conditional projection (no per-branch re-scan).
  * output plugins become route-table entries (sink → condition, `true`
    for unconditional sinks) feeding `add_routes` graph fan-out.
  * input plugins are parsed and returned for completeness; the runner
    binds the input DataFrame explicitly (sources/*).

Value syntax: "str", 'str', 42, 3.14, true/false, barewords,
[array, ...], { key => value ... } hashes, # comments.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from logstash_spark.plans.spec import (
    PIPELINE_SINK_PREFIX,
    FilterSpec,
    PipelineSpec,
    SinkSpec,
)

# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class Plugin:
    name: str
    attrs: dict[str, object] = field(default_factory=dict)


@dataclass
class Branch:
    # (condition string | None for else, body nodes); cases in order
    cases: list[tuple[str | None, list[object]]] = field(default_factory=list)


@dataclass
class ConfigAST:
    inputs: list[object] = field(default_factory=list)
    filters: list[object] = field(default_factory=list)
    outputs: list[object] = field(default_factory=list)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


class LSCLError(ValueError):
    pass


class _P:
    def __init__(self, text: str):
        self.s = text
        self.i = 0

    # -- low-level ---------------------------------------------------------

    def _ws(self) -> None:
        s, n = self.s, len(self.s)
        while self.i < n:
            c = s[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif c == "#":
                while self.i < n and s[self.i] != "\n":
                    self.i += 1
            else:
                return

    def eof(self) -> bool:
        self._ws()
        return self.i >= len(self.s)

    def peek(self) -> str:
        self._ws()
        return self.s[self.i] if self.i < len(self.s) else ""

    def expect(self, ch: str) -> None:
        self._ws()
        if self.i >= len(self.s) or self.s[self.i] != ch:
            raise LSCLError(
                f"expected {ch!r} at offset {self.i}: {self.s[self.i:self.i + 30]!r}"
            )
        self.i += 1

    def word(self) -> str:
        self._ws()
        j = self.i
        s, n = self.s, len(self.s)
        while j < n and (s[j].isalnum() or s[j] in "_-"):
            j += 1
        if j == self.i:
            raise LSCLError(f"expected word at offset {self.i}: {s[self.i:self.i+30]!r}")
        w = s[self.i : j]
        self.i = j
        return w

    def try_word(self) -> str | None:
        save = self.i
        try:
            return self.word()
        except LSCLError:
            self.i = save
            return None

    # -- values ------------------------------------------------------------

    def value(self) -> object:
        c = self.peek()
        if c in "\"'":
            return self._string()
        if c == "[":
            return self._array()
        if c == "{":
            return self._hash()
        if c.isdigit() or c == "-":
            return self._number()
        w = self.word()
        if w == "true":
            return True
        if w == "false":
            return False
        return w  # bareword

    def _string(self) -> str:
        q = self.s[self.i]
        self.i += 1
        buf = []
        s, n = self.s, len(self.s)
        while self.i < n:
            c = s[self.i]
            if c == "\\" and self.i + 1 < n:
                nxt = s[self.i + 1]
                # only the reference's known escapes unescape; anything else
                # (e.g. regex \[ \d inside grok patterns) keeps its backslash
                known = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\", q: q}
                buf.append(known.get(nxt, c + nxt))
                self.i += 2
                continue
            if c == q:
                self.i += 1
                return "".join(buf)
            buf.append(c)
            self.i += 1
        raise LSCLError("unterminated string")

    def _number(self) -> int | float:
        j = self.i
        s, n = self.s, len(self.s)
        if s[j] == "-":
            j += 1
        while j < n and (s[j].isdigit() or s[j] == "."):
            j += 1
        raw = s[self.i : j]
        self.i = j
        return float(raw) if "." in raw else int(raw)

    def _array(self) -> list:
        self.expect("[")
        out = []
        while self.peek() != "]":
            out.append(self.value())
            if self.peek() == ",":
                self.expect(",")
        self.expect("]")
        return out

    def _hash(self) -> dict:
        self.expect("{")
        out: dict[str, object] = {}
        while self.peek() != "}":
            k = self._string() if self.peek() in "\"'" else self.word()
            self._ws()
            if self.s[self.i : self.i + 2] == "=>":
                self.i += 2
            out[k] = self.value()
        self.expect("}")
        return out

    # -- conditions --------------------------------------------------------

    def condition_text(self) -> str:
        """Raw condition text up to the block-opening '{' — string AND
        regex aware: a '{' inside a quoted literal or a /regex/ literal
        (e.g. a {2} quantifier after =~) does not end the condition."""
        self._ws()
        start = self.i
        s, n = self.s, len(self.s)
        while self.i < n:
            c = s[self.i]
            if c in "\"'":
                q = c
                self.i += 1
                while self.i < n and s[self.i] != q:
                    if s[self.i] == "\\":
                        self.i += 1
                    self.i += 1
                self.i += 1
                continue
            if c == "/" and s[start : self.i].rstrip()[-2:] in ("=~", "!~"):
                # regex literal: skip to the closing unescaped '/'
                self.i += 1
                while self.i < n and s[self.i] != "/":
                    if s[self.i] == "\\":
                        self.i += 1
                    self.i += 1
                self.i += 1
                continue
            if c == "{":
                cond = s[start : self.i].strip()
                if not cond:
                    raise LSCLError("empty condition")
                return cond
            self.i += 1
        raise LSCLError("condition never reaches a block")

    # -- structure ---------------------------------------------------------

    def parse_config(self) -> ConfigAST:
        ast = ConfigAST()
        while not self.eof():
            section = self.word()
            if section not in ("input", "filter", "output"):
                raise LSCLError(f"unknown section {section!r}")
            self.expect("{")
            body = self.section_body()
            self.expect("}")
            getattr(
                ast,
                {"input": "inputs", "filter": "filters", "output": "outputs"}[section],
            ).extend(body)
        return ast

    def section_body(self) -> list[object]:
        out: list[object] = []
        while self.peek() != "}":
            w = self.try_word()
            if w is None:
                raise LSCLError(f"bad section body at offset {self.i}")
            if w == "if":
                out.append(self._branch())
            else:
                out.append(self._plugin(w))
        return out

    def _branch(self) -> Branch:
        br = Branch()
        cond = self.condition_text()
        self.expect("{")
        br.cases.append((cond, self.section_body()))
        self.expect("}")
        while True:
            save = self.i
            w = self.try_word()
            if w != "else":
                self.i = save
                return br
            w2_save = self.i
            w2 = self.try_word()
            if w2 == "if":
                cond = self.condition_text()
                self.expect("{")
                br.cases.append((cond, self.section_body()))
                self.expect("}")
            else:
                self.i = w2_save
                self.expect("{")
                br.cases.append((None, self.section_body()))
                self.expect("}")
                return br

    def _plugin(self, name: str) -> Plugin:
        self.expect("{")
        attrs: dict[str, object] = {}
        while self.peek() != "}":
            k = self._string() if self.peek() in "\"'" else self.word()
            self._ws()
            if self.s[self.i : self.i + 2] != "=>":
                raise LSCLError(f"expected => after attribute {k!r}")
            self.i += 2
            v = self.value()
            if k == "codec" and isinstance(v, str):
                # `codec => json` or `codec => multiline { pattern => .. }`
                # — the codec is itself a plugin declaration (reference:
                # per-plugin codec config, config/mixin.rb); a bare
                # bareword is a codec with default attrs
                codec_attrs: dict[str, object] = {}
                if self.peek() == "{":
                    self.expect("{")
                    while self.peek() != "}":
                        ck = (
                            self._string()
                            if self.peek() in "\"'"
                            else self.word()
                        )
                        self._ws()
                        if self.s[self.i : self.i + 2] != "=>":
                            raise LSCLError(
                                f"expected => after codec attribute {ck!r}"
                            )
                        self.i += 2
                        codec_attrs[ck] = self.value()
                    self.expect("}")
                v = Plugin(v, codec_attrs)
            attrs[k] = v
        self.expect("}")
        return Plugin(name, attrs)


#: `${VAR}` / `${VAR:default}` — the reference's environment-variable
#: substitution surface (logstash-core/lib/logstash/util/
#: substitution_variables.rb: name = letters/digits/_/. and may START
#: with a dot, i.e. `${.foo}` resolves; default = any run up to the
#: closing brace, may be empty).
_ENV_RX = re.compile(
    r"\$\{(?P<name>[A-Za-z_.][A-Za-z0-9_.]*)(?::(?P<default>[^}]*))?\}"
)


def _substitute_env(v: object, env) -> object:
    """Recursively substitute ${VAR}/${VAR:default} in plugin attribute
    values — strings (anywhere inside them), arrays, hashes, and nested
    codec sub-plugins. Unset + no default raises, like the reference's
    'Cannot evaluate `${VAR}`' configuration error. Substitution runs at
    CONFIG COMPILE time (plan-time literals downstream), never per row.
    """
    if isinstance(v, str):
        def rep(m):
            name = m.group("name")
            if name in env:
                return env[name]
            d = m.group("default")
            if d is not None:
                return d
            raise LSCLError(
                f"Cannot evaluate `${{{name}}}`: environment variable is "
                "not set and no default was given"
            )
        return _ENV_RX.sub(rep, v)
    if isinstance(v, list):
        return [_substitute_env(x, env) for x in v]
    if isinstance(v, dict):
        return {k: _substitute_env(x, env) for k, x in v.items()}
    if isinstance(v, Plugin):
        return Plugin(v.name, _substitute_env(v.attrs, env))
    return v


def _substitute_nodes(nodes: list[object], env) -> None:
    for node in nodes:
        if isinstance(node, Plugin):
            node.attrs = _substitute_env(node.attrs, env)
        elif isinstance(node, Branch):
            for _, body in node.cases:
                _substitute_nodes(body, env)


def parse_config(text: str, *, env=None) -> ConfigAST:
    """Parse LSCL text; `env` (default `os.environ`) feeds the
    reference's `${VAR}` / `${VAR:default}` substitution in plugin
    attribute values (docs: "Using environment variables"). Conditions
    are expressions, not config values — the reference does not
    substitute there and neither do we."""
    ast = _P(text).parse_config()
    e = os.environ if env is None else env
    for section in (ast.inputs, ast.filters, ast.outputs):
        _substitute_nodes(section, e)
    return ast


# ---------------------------------------------------------------------------
# Plugin-attr adapters: LSCL attribute surface → our operator kwargs
# ---------------------------------------------------------------------------


def _first(v):
    return v[0] if isinstance(v, list) else v


def _adapt_grok(a: dict) -> dict:
    match = a["match"]
    if isinstance(match, list):
        # legacy array form: ["field", "pat", "field2", "pat2", ...]
        if len(match) % 2 != 0:
            raise LSCLError(
                "grok match array must contain an even number of items "
                f"(field/pattern pairs), got {len(match)}"
            )
        as_map: dict[str, list] = {}
        for f, p in zip(match[::2], match[1::2]):
            as_map.setdefault(f, []).append(p)
        match = as_map
    conf: dict[str, object] = {"match": match}
    if "tag_on_failure" in a:
        conf["tag_on_failure"] = _first(a["tag_on_failure"])
    for k in ("break_on_match", "pattern_definitions"):
        if k in a:
            conf[k] = a[k]
    return conf


def _adapt_date(a: dict) -> dict:
    m = a["match"]
    conf: dict[str, object] = {"field": m[0], "formats": list(m[1:])}
    for k in ("target", "timezone"):
        if k in a:
            conf[k] = a[k]
    if "tag_on_failure" in a:
        conf["tag_on_failure"] = _first(a["tag_on_failure"])
    return conf


def _adapt_dissect(a: dict) -> list[dict]:
    # one FilterSpec per mapping entry (the reference applies them all)
    out = []
    for fld, mapping in a["mapping"].items():
        conf: dict[str, object] = {"field": fld, "mapping": mapping}
        if "tag_on_failure" in a:
            conf["tag_on_failure"] = _first(a["tag_on_failure"])
        out.append(conf)
    return out


def _adapt_source(a: dict, extra: dict[str, str] | None = None) -> dict:
    """Common `source => field` rename plus passthrough renames."""
    ren = {"source": "field"}
    ren.update(extra or {})
    return {ren.get(k, k): v for k, v in a.items()}


def _adapt_mutate(a: dict) -> dict:
    conf = dict(a)
    if "gsub" in conf:
        flat = conf["gsub"]
        # LSCL flattens gsub triples into one array
        conf["gsub"] = [tuple(flat[i : i + 3]) for i in range(0, len(flat), 3)]
    return conf


def _adapt_translate(a: dict) -> dict:
    conf: dict[str, object] = {
        "source": a.get("source", a.get("field")),
        "target": a.get("target", a.get("destination", "translation")),
        "dictionary": a["dictionary"],
    }
    if "fallback" in a:
        conf["fallback"] = a["fallback"]
    if a.get("regex"):
        conf["regex"] = True
    return conf


def _adapt_clone(a: dict) -> dict:
    return {"types": a["clones"]}


_ADAPTERS = {
    "grok": _adapt_grok,
    "date": _adapt_date,
    "dissect": _adapt_dissect,
    "mutate": _adapt_mutate,
    "translate": _adapt_translate,
    "clone": _adapt_clone,
    "kv": lambda a: _adapt_source(a),
    "json": lambda a: _adapt_source(a),
    "csv": lambda a: _adapt_source(a),
    "useragent": lambda a: _adapt_source(a),
    "urldecode": lambda a: _adapt_source(a),
    "bytes": lambda a: _adapt_source(a),
    "fingerprint": lambda a: dict(a),
    "throttle": lambda a: {
        {"period": "period_seconds", "after_count": "max_count"}.get(k, k): v
        for k, v in a.items()
    },
}


def _adapt(plugin: Plugin) -> list[dict]:
    """One plugin → one or more op confs (dissect's mapping hash expands
    to one conf per entry)."""
    fn = _ADAPTERS.get(plugin.name)
    confs = fn(plugin.attrs) if fn else dict(plugin.attrs)
    return confs if isinstance(confs, list) else [confs]


# ---------------------------------------------------------------------------
# AST → PipelineSpec
# ---------------------------------------------------------------------------


def _gate(preds: list[str]) -> str | None:
    return " and ".join(preds) if preds else None


#: prefix of the scratch columns holding each `if` chain's case number
CASE_COL = "_lscl_case_"


def _walk_filters(
    nodes: list[object], gate: str | None, out: list[FilterSpec], cases: list[str]
) -> None:
    """Append `nodes`' filters to `out`, each gated by `gate`. An `if`
    chain's case is decided ONCE per event, where the chain appears
    (Logstash's SplitDataset): gated `mutate`s number the case that
    holds (case k is `!(c1) and ... and (ck)`) in a new scratch column,
    listed in `cases`, and each case's body is gated on that number, so
    a body op that rewrites a tested field cannot move its event to
    another case."""
    for node in nodes:
        if isinstance(node, Plugin):
            for conf in _adapt(node):
                out.append(FilterSpec(op=node.name, conf=conf, when=gate))
            continue
        assert isinstance(node, Branch)
        col = f"{CASE_COL}{len(cases)}"
        cases.append(col)
        preds = [gate] if gate else []
        for k, (cond, _body) in enumerate(node.cases, start=1):
            now = preds + ([f"({cond})"] if cond is not None else [])
            out.append(FilterSpec("mutate", {"add_field": {col: str(k)}}, when=_gate(now)))
            if cond is not None:
                preds.append(f"!({cond})")
        for k, (_cond, body) in enumerate(node.cases, start=1):
            _walk_filters(body, f'[{col}] == "{k}"', out, cases)


def _sink_name(plugin: Plugin, taken: set[str]) -> str:
    base = plugin.attrs.get("id") or plugin.attrs.get("path") or plugin.name
    # sink names become table dirs under sinks_root — a path-like base
    # (file { path => "/var/log/x" }) must not escape the root; dot-only
    # names ('.', '..') would still traverse, and a leading '_' would
    # collide with the _aggregates/_lineage side tables
    name = str(base).strip("/").replace("/", "_")
    if name in ("", ".", "..") or name.startswith("_"):
        name = plugin.name
    i = 1
    base = name
    while name in taken:
        i += 1
        name = f"{base}_{i}"
    taken.add(name)
    return name


def _walk_outputs(
    nodes: list[object],
    preds: list[str],
    routes: dict[str, str],
    sinks: dict[str, Plugin],
    taken: set[str],
) -> None:
    for node in nodes:
        if isinstance(node, Plugin):
            if node.name == "pipeline":
                # pipeline-to-pipeline send (logstash-integration plugin
                # `pipeline { send_to => [addr, ...] }`): one virtual
                # route per address; repeated sends to the same address
                # from different branches OR their gates together
                send_to = node.attrs.get("send_to")
                if send_to is None:
                    raise LSCLError("pipeline output requires send_to")
                addrs = send_to if isinstance(send_to, list) else [send_to]
                gate = _gate(preds) or "true"
                for addr in addrs:
                    key = f"{PIPELINE_SINK_PREFIX}{addr}"
                    if key in routes and routes[key] != "true":
                        routes[key] = f"({routes[key]}) or ({gate})"
                    elif key not in routes:
                        routes[key] = gate
                continue
            name = _sink_name(node, taken)
            routes[name] = _gate(preds) or "true"
            sinks[name] = node
        else:
            assert isinstance(node, Branch)
            negations: list[str] = []
            for cond, body in node.cases:
                case_preds = preds + negations + (
                    [f"({cond})"] if cond is not None else []
                )
                _walk_outputs(body, case_preds, routes, sinks, taken)
                if cond is not None:
                    negations.append(f"!({cond})")


def apply_decode_codec(df, codec: Plugin, *, field: str = "value"):
    """Apply an input-side `codec => ...` declaration to a blob frame
    (one row per file: the blob in `field`, plus `source_file`). The
    codec *operators* all live in operators.codec — this adapter is the
    config surface that reaches them (reference: every input plugin owns
    a codec, logstash-core lib/logstash/config/mixin.rb; the default is
    the plain/line family)."""
    from logstash_spark.operators.codec import (
        gzip_lines,
        json_lines_decode,
        line_codec,
        multiline,
    )
    from logstash_spark.operators.parse import json_filter

    a = codec.attrs
    name = codec.name
    if name in ("plain", "line"):
        kw = {}
        if "delimiter" in a:
            kw["delimiter"] = str(a["delimiter"])
        return line_codec(df, field, **kw)
    if name in ("json", "json_lines"):
        if "schema" in a:
            return json_lines_decode(df, field, str(a["schema"]))
        # no declared schema: line-split then sampled-schema json filter
        lines = line_codec(df, field)
        return json_filter(lines, "message", schema=None)
    if name == "multiline":
        lines = line_codec(df, field)
        return multiline(
            lines,
            "message",
            str(a["pattern"]),
            what=str(a.get("what", "previous")),
            negate=bool(a.get("negate", False)),
            group_by=("source_file",),
        )
    if name == "gzip_lines":
        return gzip_lines(df, field)
    if name == "cef":
        from logstash_spark.operators.codec import cef_decode  # noqa: PLC0415

        lines = line_codec(df, field)
        return cef_decode(lines, "message")
    if name == "es_bulk":
        from logstash_spark.operators.codec import es_bulk_decode  # noqa: PLC0415

        # one bulk body per file: the blob itself is the NDJSON stream
        # (action/source line pairing needs the raw multi-line body, so
        # no line_codec here); bodies parallelize per source_file.
        return es_bulk_decode(df, field, group_by=("source_file",))
    # Binary wire codecs: one datum/packet per blob row (the offline file
    # framing — each file is one wire unit, like the reference's per-UDP-
    # datagram codec invocation). Schema-carrying codecs declare their
    # record layout inline (the logstash-codec-avro `schema_uri` analog;
    # logstash-codec-protobuf `class_file` analog):
    #   codec => avro     { schema => [["rec_id","long"],["name","string"]] }
    #   codec => protobuf { fields => [[1,"rec_id","sint64"],[2,"msg","string"]] }
    #   codec => fluent   { schema => [["msg","string"],["n","bigint"]] }
    if name == "netflow":
        from logstash_spark.operators.wire import netflow_decode  # noqa: PLC0415

        return netflow_decode(df, field)
    if name == "collectd":
        from logstash_spark.operators.wire import collectd_decode  # noqa: PLC0415

        return collectd_decode(df, field)
    if name == "avro":
        from logstash_spark.operators.wire import avro_decode  # noqa: PLC0415

        schema = a.get("schema")
        if not isinstance(schema, list):
            raise LSCLError("avro codec requires schema => [[name, type], ...]")
        return avro_decode(df, field, [(str(n), str(t)) for n, t in schema])
    if name == "protobuf":
        from logstash_spark.operators.wire import protobuf_decode  # noqa: PLC0415

        fields = a.get("fields")
        if not isinstance(fields, list):
            raise LSCLError(
                "protobuf codec requires fields => [[field_no, name, type], ...]"
            )
        return protobuf_decode(
            df, field, [(int(no), str(n), str(t)) for no, n, t in fields]
        )
    if name == "fluent":
        from logstash_spark.operators.wire import fluent_decode  # noqa: PLC0415

        schema = a.get("schema")
        if not isinstance(schema, list):
            raise LSCLError("fluent codec requires schema => [[name, type], ...]")
        return fluent_decode(df, field, [(str(n), str(t)) for n, t in schema])
    raise LSCLError(f"input codec {name!r} has no offline binding")


#: input codecs whose wire unit is a BINARY blob (bind_input reads these
#: via binaryFile — one file = one packet/datum/stream); everything else
#: reads wholetext.
_BINARY_CODECS = frozenset(
    {"gzip_lines", "netflow", "collectd", "avro", "protobuf", "fluent"}
)


def apply_encode_codec(df, name: str, conf: dict):
    """Apply an output-side `codec => ...`: serialize each event to one
    `message` line before the sink write (reference: output codecs emit
    the wire form; logstash-codec-json_lines/csv/line §encode)."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.codec import csv_encode
    from logstash_spark.operators.common import METADATA, sprintf

    cols = [c for c in df.columns if c != METADATA]
    if name in ("json", "json_lines"):
        return df.select(
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols])).alias("message")
        )
    if name == "csv":
        fields = conf.get("fields") or conf.get("columns") or cols
        kw = {}
        if "separator" in conf:
            kw["separator"] = str(conf["separator"])
        return csv_encode(df, list(fields), **kw).select("message")
    if name in ("plain", "line"):
        fmt = conf.get("format")
        if fmt is None:
            # reference plain-codec default: the event's message field
            return df.select(F.col("message").cast("string").alias("message"))
        return df.select(sprintf(str(fmt)).alias("message"))
    if name == "graphite":
        from logstash_spark.operators.codec import graphite_encode  # noqa: PLC0415

        return graphite_encode(
            df,
            metric_col=str(conf.get("metric", "metric")),
            value_col=str(conf.get("value", "value")),
            ts_col=str(conf.get("timestamp", "ts")),
        ).select("message")
    if name == "statsd":
        from logstash_spark.operators.codec import statsd_encode  # noqa: PLC0415

        kw = {}
        if "sample_rate" in conf:
            kw["sample_rate"] = float(conf["sample_rate"])
        return statsd_encode(
            df,
            namespace=str(conf.get("namespace", "logstash")),
            sender_col=str(conf["sender"]) if "sender" in conf else None,
            metric_col=str(conf.get("metric", "metric")),
            value_col=str(conf.get("value", "value")),
            metric_type=str(conf.get("metric_type", "c")),
            target="message",
            **kw,
        ).select("message")
    if name == "es_bulk":
        from logstash_spark.operators.codec import es_bulk_encode  # noqa: PLC0415

        src = conf.get("source_cols")
        src_cols = (
            [str(c) for c in (src if isinstance(src, list) else [src])]
            if src is not None
            else [c for c in cols if c != str(conf.get("document_id", "id"))]
        )
        return es_bulk_encode(
            df,
            index=str(conf.get("index", "logstash")),
            id_col=str(conf.get("document_id", "id")),
            source_cols=src_cols,
            action=str(conf.get("action", "index")),
        ).select("message")
    if name == "cef":
        from logstash_spark.operators.codec import cef_encode  # noqa: PLC0415

        ext = conf.get("ext_fields") or []
        return cef_encode(
            df,
            vendor=str(conf.get("vendor", "Elastic")),
            product=str(conf.get("product", "Logstash")),
            device_version=str(conf.get("device_version", "1.0")),
            sig_id=str(conf.get("sig_id", "sig_id")),
            name=str(conf.get("name", "name")),
            severity=str(conf.get("severity", "severity")),
            ext_fields=[str(c) for c in (ext if isinstance(ext, list) else [ext])],
        ).select("message")
    raise LSCLError(f"output codec {name!r} has no offline binding")


def bind_input(spark, ast: ConfigAST):
    """Bind the conf's FIRST input plugin to a DataFrame:
      * generator { count => N }      → sources.gen.input_sequences
      * file { path => p, format => parquet|json|csv|text }  → spark.read
      * file with `codec => ...` → whole-file blob read (binaryFile for
        gzip_lines, wholetext otherwise) + the decode codec chain, with
        `source_file` stamped for multiline grouping
    Multiple inputs union by name (the reference's multi-input merge).
    Returns None when the conf declares no inputs (caller passes
    --input explicitly)."""
    from pyspark.sql import functions as F

    frames = []
    for p in ast.inputs:
        if not isinstance(p, Plugin):
            raise LSCLError("conditionals are not valid in input sections")
        if p.name == "generator":
            from logstash_spark.sources.gen import input_sequences

            # reference logstash-input-generator: `message` emits that
            # exact line; `lines` cycles the list in order with `count`
            # full iterations (total = count x |lines|); neither set ->
            # the synthetic syslog-ish corpus (our default test stream)
            count = int(p.attrs.get("count", 1000))
            lines = p.attrs.get("lines")
            msg = p.attrs.get("message")
            if lines is not None:
                arr = [str(x) for x in (lines if isinstance(lines, list) else [lines])]
                df = input_sequences(spark, count * len(arr))
                # doc_id is a string ("doc-%012d") — recover the row
                # index for the cycle position
                idx = F.regexp_extract(F.col("doc_id"), r"(\d+)$", 1).cast("long")
                df = df.withColumn(
                    "raw",
                    F.element_at(
                        F.array(*[F.lit(s) for s in arr]),
                        (idx % len(arr) + 1).cast("int"),
                    ),
                )
            else:
                df = input_sequences(spark, count)
                if msg is not None:
                    df = df.withColumn("raw", F.lit(str(msg)))
            frames.append(df)
        elif p.name == "file":
            path = str(p.attrs["path"])
            codec = p.attrs.get("codec")
            if isinstance(codec, Plugin):
                if codec.name in _BINARY_CODECS:
                    blob = (
                        spark.read.format("binaryFile")
                        .load(path)
                        .select(
                            F.col("path").alias("source_file"),
                            F.col("content"),
                        )
                    )
                    frames.append(apply_decode_codec(blob, codec, field="content"))
                else:
                    # one row per FILE (wholetext) so line numbers and
                    # multiline grouping are well-defined per source file
                    blob = spark.read.text(path, wholetext=True).withColumn(
                        "source_file", F.input_file_name()
                    )
                    frames.append(apply_decode_codec(blob, codec, field="value"))
            else:
                fmt = str(p.attrs.get("format", "parquet"))
                rdr = spark.read
                frames.append(getattr(rdr, fmt)(path))
        elif p.name == "pipeline":
            # pipeline { address => ... } inputs bind via plans.graph
            # (the upstream pipeline's frame), never to a source here
            continue
        else:
            raise LSCLError(
                f"input plugin {p.name!r} has no offline binding "
                "(network transports are out of scope)"
            )
    if not frames:
        return None
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f, allowMissingColumns=True)
    return df


def compile_conf(
    text: str,
    *,
    name: str = "lscl",
    aggregate_dims: list[str] | None = None,
    aggregate_sum: str | None = None,
    metrics_ts: str | None = None,
    env=None,
) -> tuple[PipelineSpec, ConfigAST]:
    """Parse `.conf` text and compile it to a PipelineSpec (+ the raw AST
    for callers that need the input/output plugin attrs, e.g. to bind
    sources or sink paths). `env` (default `os.environ`) feeds `${VAR}`
    substitution — pass an explicit dict to keep compilation hermetic
    (no process-global environment reads)."""
    ast = parse_config(text, env=env)
    filters: list[FilterSpec] = []
    cases: list[str] = []
    _walk_filters(ast.filters, None, filters, cases)
    if cases:  # the case numbers are scratch: no sink sees them
        filters.append(FilterSpec("mutate", {"remove_field": cases}))
    routes: dict[str, str] = {}
    sinks: dict[str, Plugin] = {}
    _walk_outputs(ast.outputs, [], routes, sinks, set())
    listen: list[str] = []
    for p in ast.inputs:
        if isinstance(p, Plugin) and p.name == "pipeline":
            addr = p.attrs.get("address")
            if addr is None:
                raise LSCLError("pipeline input requires address")
            if str(addr) not in listen:
                listen.append(str(addr))
    sink_specs: list[SinkSpec] = []
    for sname, plugin in sinks.items():
        codec = plugin.attrs.get("codec")
        pby = plugin.attrs.get("partition_by", [])
        if codec is None and not pby:
            continue
        sink_specs.append(
            SinkSpec(
                sname,
                partition_by=[str(c) for c in (pby if isinstance(pby, list) else [pby])],
                codec=codec.name if isinstance(codec, Plugin) else None,
                codec_conf=dict(codec.attrs) if isinstance(codec, Plugin) else {},
            )
        )
    spec = PipelineSpec(
        name=name,
        filters=filters,
        routes=routes,
        listen=listen,
        sinks=sink_specs,
        aggregate_dims=aggregate_dims if aggregate_dims is not None else ["source"],
        aggregate_sum=aggregate_sum,
        metrics_ts=metrics_ts,
    )
    return spec, ast


def compile_pipelines(
    confs: dict[str, str], **kw
) -> tuple[list[PipelineSpec], dict[str, "ConfigAST"]]:
    """Compile a set of named `.conf` texts into a pipeline graph — the
    `pipelines.yml` analog ({pipeline.id: config}). Virtual wiring comes
    from `pipeline { address/send_to }` plugins inside each conf; run
    the result with `plans.graph.run_pipelines` (or compose it purely
    with `compose_pipelines`)."""
    specs: list[PipelineSpec] = []
    asts: dict[str, ConfigAST] = {}
    for pname, text in confs.items():
        spec, ast = compile_conf(text, name=pname, **kw)
        specs.append(spec)
        asts[pname] = ast
    return specs, asts
