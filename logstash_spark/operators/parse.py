"""Parse filters: grok, dissect, date, kv, json, csv, syslog_pri.

Reference semantics (SURVEY.md §2.3): each parser extracts fields from a
string column; on failure it tags the row (`_grokparsefailure`,
`_dissectfailure`, `_dateparsefailure`, ...) and passes it through —
failure is data, never an exception.

Grok and dissect share one capture engine (`_capture_packs`): per
(source field, regex) pair, ONE `regexp_replace` rewrites the line into
a sentinel-packed list of its capture values, and `split`/`element_at`
fan the pack out into columns. Pure Catalyst/codegen, zero Python, one
regex evaluation per pair per row. It replaced an Arrow-vectorized
pandas UDF (`Series.str.extract`), which was 2-3x slower even on
12-capture patterns (COMBINEDAPACHELOG 0.94 s vs 1.82 s, SYSLOGLINE
0.38 s vs 1.21 s; local[4], 200k rows, noop sink): every batch paid the
Arrow/Python boundary that PAPERS.md "Accelerating Python UDFs in
Vectorized Query Execution" (CIDR 2022) sets out to cut. The engine also
owns the failure rule (`_kept`): the match flag is read from the pack,
and on a row the pattern did not match every capture into an existing
column keeps that column's value.

Sentinel rule: the pack uses `\\x02` (match marker) and `\\x01` (value
separator), which a source may itself contain. The pack is then wrong
in exactly two ways, both visible without scanning the line again: a
match whose values hold `\\x01` splits into too many pieces, and an
unmatched source that starts with `\\x02` fakes the marker. Such rows
take an exact branch: `rlike` for the match flag plus one
`regexp_extract` per capture. (Scanning every source for either
character with `instr` instead cost 17-20% of grok time on
COMBINEDAPACHELOG and SYSLOGLINE: local[4], 200k rows, noop sink.)
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_spark import grok as grok_lib
from logstash_spark.operators import op
from logstash_spark.operators.common import (
    TAGS,
    add_tag_when,
    ensure_tags,
    memo_columns,
    retag,
    tag_when,
)

_CAST_TYPES = {"int": T.LongType(), "float": T.DoubleType()}


def _cast_type(cast: str | None) -> T.DataType:
    return _CAST_TYPES.get(cast or "", T.StringType())


@op("grok")
def grok(
    df: DataFrame,
    field: str | None = None,
    match: str | Sequence[str] | dict[str, str | Sequence[str]] | None = None,
    *,
    pattern_definitions: dict[str, str] | None = None,
    tag_on_failure: str = "_grokparsefailure",
    break_on_match: bool = True,
    max_input_length: int | None = None,
    tag_on_timeout: str = "_groktimeout",
) -> DataFrame:
    """logstash-filter-grok.

    `match` accepts the full reference surface: one pattern, a pattern
    list for `field`, or a per-field map {"field_a": [...], "field_b":
    ...} (grok's `match` hash). Internally everything becomes an ordered
    (source_field, pattern) pair list:

    * break_on_match=True — the FIRST matching pair wins; later pairs'
      captures are not bound even if they would match (strict reference
      stop-after-success semantics).
    * break_on_match=False — every pair is attempted; a capture takes its
      value from the first matching pair that binds it (later pairs fill
      holes, never overwrite — the relational form of grok's accumulate
      mode).

    A capture replaces a field of the same name on the rows where a pair
    binding it matches; on the other rows the field keeps its value (a
    capture new to the frame is null there).

    `max_input_length` is the bounded-work analog of the reference's
    timeout_millis watchdog: neither java.util.regex nor Python `re`
    supports a wall-clock kill, so rows whose source exceeds the bound
    are not matched at all and are tagged `tag_on_timeout` (instead of a
    task stalling on catastrophic backtracking over a multi-MB line).
    """
    existing = frozenset(df.columns)
    return _project(ensure_tags(df), _grok_exprs(
        tuple(_match_pairs(field, match)),
        tuple(sorted(pattern_definitions.items())) if pattern_definitions else (),
        tag_on_failure, break_on_match, max_input_length, tag_on_timeout,
        existing,
    ))


def _match_pairs(
    field: str | None,
    match: str | Sequence[str] | dict[str, str | Sequence[str]] | None,
) -> list[tuple[str, str]]:
    """Normalize the match argument to ordered (source_field, pattern)."""
    if isinstance(match, dict):
        pairs: list[tuple[str, str]] = []
        for f, pats in match.items():
            for p in [pats] if isinstance(pats, str) else list(pats):
                pairs.append((f, p))
        return pairs
    if field is None:
        raise ValueError("grok needs a field (or a match map keyed by field)")
    pats = [match] if isinstance(match, str) else list(match or [])
    return [(field, p) for p in pats]


# ---------------------------------------------------------------------------
# the capture engine shared by grok and dissect
# ---------------------------------------------------------------------------

# Pack/split sentinels of the single pass. A source holding either one is
# extracted capture by capture instead (see _capture_packs).
_SEP = "\x01"
_SENT = "\x02"
#: scratch column of an op's match flag, projected with its captures
_HIT = "_cap_hit"


class _CaptureExprs(NamedTuple):
    """One grok or dissect op's Columns, in the order `_project` applies
    them."""

    packs: dict[str, Column]
    checked: dict[str, Column]
    timeout: Column | None
    captures: dict[str, Column]  # and the `_HIT` flag
    tags: tuple[Column, ...]
    scratch: tuple[str, ...]


def _project(df: DataFrame, x: _CaptureExprs) -> DataFrame:
    """Apply one op's Columns to a frame that already has `tags`."""
    # two projections: `checked` reads each pack three times, and Spark
    # keeps a non-cheap column it reads more than once in its own project
    df = df.withColumns(x.packs).withColumns(x.checked)
    if x.timeout is not None:
        # materialize BEFORE captures may overwrite the source field —
        # a stale reference would read the (nulled) capture instead
        df = df.withColumn("_grok_to", x.timeout)
    df = df.withColumns(x.captures)
    for tags in x.tags:
        df = retag(df, tags)
    return df.drop(*x.scratch)


def _capture_packs(
    specs: Sequence[tuple[Column, str, tuple[int, ...]]],
) -> tuple[dict[str, Column], dict[str, Column], list[Column]]:
    """(packs, checked packs, match flags) of (source, regex, group
    indexes) specs. Spec i's pack is scratch column `_cap{i}`: ONE
    regexp_replace rewrites the whole source into SENT + SEP-joined
    values of the groups, split into [SENT, value, ...] on a match and
    left as the split source otherwise. A row whose pack cannot be
    trusted (see `suspect`) builds the same list exactly: SENT plus one
    regexp_extract per group if the regex matches, else null. Flag i
    reads the checked pack, never the source, so a capture that
    overwrites the source cannot change it; `_capture(i, j)` reads group
    j's value."""
    packs: dict[str, Column] = {}
    checked: dict[str, Column] = {}
    flags: list[Column] = []
    for i, (src, regex, groups) in enumerate(specs):
        repl = _SENT + _SEP + _SEP.join(f"${g}" for g in groups)
        # Consume the entire line so the replacement result is exactly the
        # pack; unmatched rows pass through unchanged (no leading SENT).
        # DOTALL is scoped to the wrapper's .* only — the user pattern keeps
        # default '.' semantics (multi-line values: GREEDYDATA must not
        # cross newlines, matching Oniguruma's default and Python `re`).
        wrapped = "^(?s:.*?)(?:" + regex + ")(?s:.*)$"
        tmp = f"_cap{i}"
        packs[tmp] = F.split(F.regexp_replace(src, wrapped, repl), _SEP)
        # The pack is wrong only if a captured value holds SEP (a match that
        # splits into more pieces than repl has) or an unmatched source
        # starts with SENT (a fake match marker). Both show in the pack and
        # the source's first character, so clean rows pay no extra scan.
        parts = F.col(tmp)
        suspect = src.startswith(_SENT) | (
            (F.element_at(parts, 1) == _SENT)
            & (F.size(parts) != 1 + max(len(groups), 1))
        )
        exact = F.when(
            src.rlike(regex),
            F.array(F.lit(_SENT), *[F.regexp_extract(src, regex, g) for g in groups]),
        )
        checked[tmp] = F.when(suspect, exact).otherwise(parts)
        flags.append(F.coalesce(F.element_at(parts, 1) == F.lit(_SENT), F.lit(False)))
    return packs, checked, flags


def _capture(i: int, j: int) -> Column:
    """Group j's value in spec i's checked pack (valid where it matched)."""
    return F.element_at(F.col(f"_cap{i}"), j + 2)


def _kept(
    value: Column, hit: Column, name: str, existing: frozenset[str], dtype: T.DataType
) -> Column:
    """The failure rule of grok and dissect: capture `name` is `value`
    where its pattern matched (`hit`; `value` is null elsewhere). On the
    other rows a column that already has the name keeps its value, so a
    failed parse passes the event on untouched; a new column is null."""
    if name not in existing:
        return value
    return F.when(hit, value).otherwise(F.col(name).try_cast(dtype))


@memo_columns
def _grok_exprs(
    pairs: tuple[tuple[str, str], ...],
    pattern_definitions: tuple[tuple[str, str], ...],
    tag_on_failure: str,
    break_on_match: bool,
    max_input_length: int | None,
    tag_on_timeout: str,
    existing: frozenset[str],
) -> _CaptureExprs:
    """Grok's assembly on the capture engine: compile each pattern, pack
    its captures (one regex evaluation per pair per row), then cast,
    coalesce duplicate names, apply `break_on_match` and the timeout."""
    compiled_pairs = [
        (f, grok_lib.compile_pattern(p, dict(pattern_definitions)))
        for f, p in pairs
    ]
    # Union of capture field names across all pairs, preserving order.
    out_fields: dict[str, str | None] = {}
    for _, c in compiled_pairs:
        for cap in c.captures:
            out_fields.setdefault(cap.name, cap.cast)

    specs: list[tuple[Column, str, tuple[int, ...]]] = []
    over_limit: Column | None = None
    for src_field, c in compiled_pairs:
        src = F.col(src_field)
        if max_input_length is not None:
            guard = F.length(src) > max_input_length
            over_limit = guard if over_limit is None else (over_limit | guard)
            src = F.when(~F.coalesce(guard, F.lit(False)), src)
        specs.append((src, c.regex, tuple(cap.index for cap in c.captures)))
    packs, checked, flags = _capture_packs(specs)
    timeout = None if over_limit is None else F.coalesce(over_limit, F.lit(False))

    # effective[pi]: does pair pi's match BIND captures for this row?
    # break mode: only if no earlier pair matched (strict stop-after-
    # success); accumulate mode: whenever the pair matched.
    if break_on_match:
        effective: list[Column] = []
        prev_any: Column = F.lit(False)
        for flag in flags:
            effective.append(flag & ~prev_any)
            prev_any = prev_any | flag
    else:
        effective = flags

    new_cols: dict[str, Column] = {}
    for name, cast in out_fields.items():
        attempts: list[Column] = []
        binders: list[Column] = []
        for pi, (_, c) in enumerate(compiled_pairs):
            # A name may appear in SEVERAL captures of one pattern
            # (alternation branches, e.g. HTTPD_ERRORLOG's 2.0|2.4 arms) —
            # take the branch that actually matched (first non-empty),
            # mirroring Oniguruma's duplicate-name capture semantics.
            positions = [j for j, x in enumerate(c.captures) if x.name == name]
            if not positions:
                continue
            vals = [F.nullif(_capture(pi, j), F.lit("")) for j in positions]
            val = (vals[0] if len(vals) == 1 else F.coalesce(*vals)).cast(
                _cast_type(cast)
            )
            attempts.append(F.when(effective[pi], val))
            binders.append(effective[pi])
        new_cols[name] = _kept(
            F.coalesce(*attempts), functools.reduce(operator.or_, binders),
            name, existing, _cast_type(cast),
        )

    any_match = F.lit(False)
    for flag in flags:
        any_match = any_match | flag
    new_cols[_HIT] = any_match
    if timeout is None:
        tags = (tag_when(~F.col(_HIT), tag_on_failure),)
        scratch = (_HIT, *packs)
    else:
        tags = (
            tag_when(F.col("_grok_to"), tag_on_timeout),
            tag_when(~F.col(_HIT) & ~F.col("_grok_to"), tag_on_failure),
        )
        scratch = (_HIT, "_grok_to", *packs)
    return _CaptureExprs(packs, checked, timeout, new_cols, tags, scratch)


@op("script_field")
def script_field(
    df: DataFrame,
    target: str,
    fn,
    returns: str,
    *,
    args: Sequence[str],
) -> DataFrame:
    """logstash-filter-ruby analog, first-class: arbitrary per-event
    logic as ONE Arrow-vectorized pandas UDF producing `target` from the
    named input columns. The reference runs inline Ruby per event
    (`code => 'event.set(...)'`); here the user function receives whole
    pandas Series (batch of 10k rows per Arrow transfer, session conf),
    never row-at-a-time Python. Only `args` columns cross the Arrow
    boundary — wide payloads stay JVM-side."""
    # annotation-free shim: user functions often carry stringified type
    # hints (PEP 563) that pandas_udf's hint inference cannot resolve;
    # the shim pins the legacy SCALAR eval type regardless.
    def _shim(*cols):
        return fn(*cols)

    udf = F.pandas_udf(_shim, returns)
    return df.withColumn(target, udf(*[F.col(a) for a in args]))


# ---------------------------------------------------------------------------
# dissect
# ---------------------------------------------------------------------------

import re as _re

_DISSECT_TOKEN = _re.compile(r"%\{([^}]*)\}")


@op("dissect")
def dissect(
    df: DataFrame,
    field: str,
    mapping: str,
    *,
    tag_on_failure: str = "_dissectfailure",
    append_separator: str | None = None,
) -> DataFrame:
    """logstash-filter-dissect: positional delimiter tokenizer.

    Supports %{name}, %{+name} (append, joined by the preceding delimiter
    or `append_separator`), %{?skip} / %{}, and the %{name->} repeated-
    delimiter suffix. Compiled to ONE anchored regex with non-greedy
    captures between literal delimiters, extracted by grok's capture
    engine; a failed match leaves existing fields as they were.
    """
    existing = frozenset(df.columns)
    return _project(ensure_tags(df), _dissect_exprs(
        field, mapping, tag_on_failure, append_separator, existing
    ))


@memo_columns
def _dissect_exprs(
    field: str,
    mapping: str,
    tag_on_failure: str,
    append_separator: str | None,
    existing: frozenset[str],
) -> _CaptureExprs:
    """Dissect's mapping → regex compiler on the capture engine."""
    tokens: list[tuple[str, str]] = []  # (kind, payload): ('lit', s) | ('key', spec)
    pos = 0
    for m in _DISSECT_TOKEN.finditer(mapping):
        if m.start() > pos:
            tokens.append(("lit", mapping[pos : m.start()]))
        tokens.append(("key", m.group(1)))
        pos = m.end()
    if pos < len(mapping):
        tokens.append(("lit", mapping[pos:]))

    regex_parts: list[str] = ["^"]
    captures: list[tuple[str, int, bool, str]] = []  # (name, group_idx, append, sep)
    gidx = 0
    prev_delim = ""
    for i, (kind, payload) in enumerate(tokens):
        if kind == "lit":
            regex_parts.append(_re.escape(payload))
            prev_delim = payload
            continue
        spec = payload
        greedy_delim = spec.endswith("->")
        if greedy_delim:
            spec = spec[:-2]
        is_last = i == len(tokens) - 1
        gidx += 1
        regex_parts.append("(.*)" if is_last else "(.*?)")
        if greedy_delim and i + 1 < len(tokens) and tokens[i + 1][0] == "lit":
            # consume repeats of the following delimiter
            nxt = tokens[i + 1][1]
            tokens[i + 1] = ("lit", "")  # type: ignore[index]
            regex_parts.append(f"(?:{_re.escape(nxt)})+")
            prev_delim = nxt
        if not spec or spec.startswith("?"):
            continue  # skip field
        if spec.startswith("+"):
            captures.append((spec[1:], gidx, True, append_separator or prev_delim))
        else:
            captures.append((spec, gidx, False, ""))

    packs, checked, (hit,) = _capture_packs(
        [(F.col(field), "".join(regex_parts), tuple(c[1] for c in captures))]
    )
    merged: dict[str, Column] = {}
    for j, (name, _, append, sep) in enumerate(captures):
        raw = _capture(0, j)
        if name in merged and append:
            merged[name] = F.concat(merged[name], F.lit(sep), raw)
        else:
            merged[name] = raw
    new_cols = {
        n: _kept(F.when(hit, c), hit, n, existing, T.StringType())
        for n, c in merged.items()
    }
    new_cols[_HIT] = hit
    return _CaptureExprs(
        packs, checked, None, new_cols,
        (tag_when(~F.col(_HIT), tag_on_failure),), (_HIT, *packs),
    )


# ---------------------------------------------------------------------------
# date
# ---------------------------------------------------------------------------

# Joda-Time → JDK DateTimeFormatter letter/run translation (reference:
# logstash-filter-date uses JodaParser; SURVEY.md §7.3(b)). Exact-run
# entries take precedence over per-letter entries; letters absent from
# both maps are identical in the two dialects (y M d H h K k m s S a G
# E D w z L) and pass through.
_JODA_RUNS = {
    "ZZZ": "VV",   # zone id (Europe/Paris)
    "ZZ": "XXX",   # +02:00
    "Z": "xx",     # +0200
}
_JODA_LETTERS = {
    "x": "Y",  # Joda weekyear → JDK week-based-year
    "Y": "y",  # Joda year-of-era → JDK year-of-era
}

# JDK letters Spark's parser REJECTS for parsing (week-based fields and
# day-of-week throw DATETIME_PATTERN_RECOGNITION) — such formats route
# through the vectorized strptime fallback below.
_SPARK_UNPARSEABLE = set("YwWeEcuF")

# Joda run → Python strptime directive (the pandas fallback dialect).
_JODA_STRPTIME = {
    "yyyy": "%Y", "yy": "%y", "y": "%Y",
    "xxxx": "%G", "x": "%G",          # ISO week-year (with %V + %u)
    "YYYY": "%Y", "Y": "%Y",
    "MMMM": "%B", "MMM": "%b", "MM": "%m", "M": "%m",
    "dd": "%d", "d": "%d", "DDD": "%j", "D": "%j",
    "EEEE": "%A", "EEE": "%a", "EE": "%a", "E": "%a",
    "e": "%u", "ww": "%V", "w": "%V",
    "HH": "%H", "H": "%H", "hh": "%I", "h": "%I",
    "mm": "%M", "m": "%M", "ss": "%S", "s": "%S",
    "SSS": "%f", "SSSSSS": "%f", "S": "%f",
    "a": "%p",
    "ZZZ": "%z", "ZZ": "%z", "Z": "%z", "XXX": "%z", "XX": "%z", "X": "%z",
    "zzz": "%Z", "zz": "%Z", "z": "%Z",
}


def _tokenize_fmt(fmt: str):
    """Yield ('lit', ch) | ('qlit', text) | ('run', letters) tokens of a
    Joda/JDK-style pattern; quoted sections ('T', with '' escapes) come
    out as 'qlit' so translators can re-quote them faithfully."""
    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "'":
            j = i + 1
            buf = []
            while j < n:
                if fmt[j] == "'":
                    if j + 1 < n and fmt[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    break
                buf.append(fmt[j])
                j += 1
            yield ("qlit", "".join(buf) or "'")
            i = j + 1
        elif ch.isalpha():
            j = i
            while j < n and fmt[j] == ch:
                j += 1
            yield ("run", fmt[i:j])
            i = j
        else:
            yield ("lit", ch)
            i += 1


def _translate_joda(fmt: str) -> str:
    """Joda pattern → JDK DateTimeFormatter pattern, run-tokenized (a
    sequential string replace would corrupt x→Y→y chains). Quoted
    literal sections are ALWAYS re-quoted — "' at '" must not leak an
    unquoted 'a' (am/pm letter) into the pattern."""
    out = []
    for kind, tok in _tokenize_fmt(fmt):
        if kind == "qlit":
            out.append("'" + tok.replace("'", "''") + "'")
        elif kind == "lit":
            out.append(tok)
        elif tok in _JODA_RUNS:
            out.append(_JODA_RUNS[tok])
        elif tok[0] in _JODA_LETTERS:
            out.append(_JODA_LETTERS[tok[0]] * len(tok))
        else:
            out.append(tok)
    return "".join(out)


def _spark_unparseable(jdk_fmt: str) -> bool:
    return any(
        kind == "run" and tok[0] in _SPARK_UNPARSEABLE
        for kind, tok in _tokenize_fmt(jdk_fmt)
    )


def _joda_to_strptime(fmt: str) -> str:
    out = []
    for kind, tok in _tokenize_fmt(fmt):
        if kind in ("lit", "qlit"):
            out.append(tok.replace("%", "%%"))
        elif tok in _JODA_STRPTIME:
            out.append(_JODA_STRPTIME[tok])
        else:
            raise ValueError(
                f"date format token {tok!r} in {fmt!r} has no strptime analog"
            )
    return "".join(out)


def _strptime_only(fmt: str) -> bool:
    """Does `fmt` need the pandas fallback (Spark's parser rejects it)?"""
    return fmt not in ("UNIX", "UNIX_MS", "ISO8601") and _spark_unparseable(
        _translate_joda(fmt)
    )


def _session_tz() -> str:
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    return sess.conf.get("spark.sql.session.timeZone", "UTC") if sess else "UTC"


def _strptime_parse(src: Column, strptime_fmt: str, session_tz: str) -> Column:
    """Vectorized pandas fallback for formats Spark's parser rejects
    (day-of-week / ISO-week-date fields). Arrow-batched, never per-row
    Python. Arrow hands a tz-NAIVE series back to Spark, which interprets
    it in `spark.sql.session.timeZone` — so tz-aware inputs are converted
    to the SESSION zone (captured at plan time) before dropping tzinfo,
    matching the native try_to_timestamp path in non-UTC sessions too."""

    @F.pandas_udf(T.TimestampType())
    def parse(s: pd.Series) -> pd.Series:
        out = pd.to_datetime(s, format=strptime_fmt, errors="coerce", utc=True)
        return out.dt.tz_convert(session_tz).dt.tz_localize(None)

    return parse(src)


@op("date")
def date(
    df: DataFrame,
    field: str,
    formats: Sequence[str],
    *,
    target: str = "@timestamp",
    timezone: str | None = None,
    tag_on_failure: str = "_dateparsefailure",
) -> DataFrame:
    """logstash-filter-date: first-successful-format parse into `target`.

    Format specials: UNIX (epoch secs, fractional ok), UNIX_MS, ISO8601.
    Joda patterns translated to JDK DateTimeFormatter (Spark native).
    Failure → `_dateparsefailure` tag, target untouched/null.
    """
    formats = tuple(formats)
    failed, parsed, tags = _date_exprs(
        field, formats, target, timezone, tag_on_failure,
        target in (*df.columns, TAGS),
        _session_tz() if any(map(_strptime_only, formats)) else None,
    )
    # materialize the failure flag BEFORE target may overwrite `field`
    # (a stale reference would re-parse the already-parsed timestamp)
    df = ensure_tags(df).withColumn("_date_failed", failed)
    return retag(df.withColumn(target, parsed), tags).drop("_date_failed")


@memo_columns
def _date_exprs(
    field: str,
    formats: tuple[str, ...],
    target: str,
    timezone: str | None,
    tag_on_failure: str,
    target_exists: bool,
    session_tz: str | None,
) -> tuple[Column, Column, Column]:
    """(failure flag, new `target`, `tags` value) of one date op;
    `session_tz` is the session zone when a format needs the pandas
    fallback, else None."""
    src = F.col(field)
    attempts: list[Column] = []
    for fmt in formats:
        if fmt == "UNIX":
            attempts.append(F.timestamp_seconds(src.cast("double")))
        elif fmt == "UNIX_MS":
            attempts.append(F.timestamp_millis(src.cast("long")))
        elif fmt == "ISO8601":
            attempts.append(F.try_to_timestamp(src))
            attempts.append(
                F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX"))
            )
            attempts.append(
                F.try_to_timestamp(src, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
            )
        elif _strptime_only(fmt):
            attempts.append(_strptime_parse(src, _joda_to_strptime(fmt), session_tz))
        else:
            attempts.append(F.try_to_timestamp(src, F.lit(_translate_joda(fmt))))
    parsed = F.coalesce(*attempts) if attempts else F.lit(None).cast("timestamp")
    if timezone:
        if "%{" in timezone:
            # reference: timezone supports sprintf ("%{[tz]}") — a
            # per-event zone column; to_utc_timestamp takes a Column tz
            from logstash_spark.operators.common import sprintf

            parsed = F.to_utc_timestamp(parsed, sprintf(timezone))
        else:
            parsed = F.to_utc_timestamp(parsed, timezone)
    # try_cast, not cast: when target == field (or holds strings), the
    # coalesce fallback must not ANSI-throw on unparseable rows —
    # failure is data (tag), never an exception
    prev = (
        F.col(target).try_cast("timestamp")
        if target_exists
        else F.lit(None).cast("timestamp")
    )
    return (
        parsed.isNull() & src.isNotNull(),
        F.coalesce(parsed, prev),
        tag_when(F.col("_date_failed"), tag_on_failure),
    )


# ---------------------------------------------------------------------------
# kv / json / csv / syslog_pri
# ---------------------------------------------------------------------------


_KV_CASE = {
    "lowercase": F.lower,
    "uppercase": F.upper,
    # Ruby String#capitalize: first char upper, rest lower
    "capitalize": lambda c: F.concat(
        F.upper(F.substring(c, 1, 1)), F.lower(F.substring(c, 2, 2**31 - 1))
    ),
}


@op("kv")
def kv(
    df: DataFrame,
    field: str,
    *,
    field_split: str = " ",
    value_split: str = "=",
    target: str | None = None,
    include_keys: Sequence[str] | None = None,
    exclude_keys: Sequence[str] | None = None,
    prefix: str = "",
    trim_key: str | None = None,
    trim_value: str | None = None,
    transform_key: str | None = None,
    transform_value: str | None = None,
    duplicates: str = "last",
    recursive: bool = False,
) -> DataFrame:
    """logstash-filter-kv, pure Catalyst (str_to_map / HOFs, no UDF).

    Option surface (logstash-filter-kv docs):
      * include_keys / exclude_keys, prefix, trim_key / trim_value;
      * transform_key / transform_value ∈ lowercase|uppercase|capitalize;
      * `duplicates`: 'last' (str_to_map, later pair wins — fast default),
        'array' (= reference allow_duplicate_values=true: every key maps
        to array<string> of all its values, in order), 'unique_array'
        (= allow_duplicate_values=false: duplicate values removed);
      * `recursive` (duplicates='last' only): values that themselves
        contain pairs are re-parsed ONE level and flattened with dotted
        parent keys ('a' => 'x=1 y=2' → 'a.x','a.y') — the relational
        analog of the reference's nested-hash recursion, since a Spark
        map is homogeneous and cannot hold string-or-map values.

    Pair splitting in array modes uses split(limit=2), so values may
    contain value_split; delimiters are regexes in all modes (reference
    behavior).
    """
    if duplicates not in ("last", "array", "unique_array"):
        raise ValueError(f"duplicates must be last|array|unique_array, got {duplicates!r}")
    if recursive and duplicates != "last":
        raise ValueError("recursive kv requires duplicates='last'")

    # key/value scalar transforms apply PER PAIR, before key grouping —
    # the reference transforms keys as pairs are parsed, so 'Tag' and
    # 'tag' under transform_key=lowercase MERGE (post-map transform_keys
    # would instead build a duplicate-key map and throw)
    def _chain(*fns):
        fns = [f_ for f_ in fns if f_ is not None]

        def apply(c: Column) -> Column:
            for f_ in fns:
                c = f_(c)
            return c

        return apply

    key_fn = _chain(
        (lambda c: F.btrim(c, F.lit(trim_key))) if trim_key else None,
        _KV_CASE[transform_key] if transform_key else None,
    )
    val_fn = _chain(
        (lambda c: F.btrim(c, F.lit(trim_value))) if trim_value else None,
        _KV_CASE[transform_value] if transform_value else None,
    )

    # last-wins map building needs mapKeyDedupPolicy=LAST_WIN (set by
    # session.get_spark; checked at plan time so a foreign session under
    # the Spark default EXCEPTION still gets the policy-independent path)
    try:
        _last_win = (
            df.sparkSession.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
            == "LAST_WIN"
        )
    except Exception:  # pragma: no cover - conf lookup never fails in practice
        _last_win = False

    def pairs_map(src: Column) -> Column:
        """Parse pairs into a map without re-evaluating the per-pair
        regex split: tokens are split ONCE into [k, v] arrays (a
        dedicated transform pass — referencing one split expression
        twice inside a single HOF lambda would embed the regex subtree
        twice in the plan), then shaped into structs. Tokens without a
        value separator are skipped, matching the reference (str_to_map
        would emit them null-valued).

        duplicates='last' fast path: map_from_entries under
        mapKeyDedupPolicy=LAST_WIN is a single O(K) pass with exactly
        the reference's later-pair-wins semantics (kv.rb §has_value_
        splitter). The grouped modes (array / unique_array) and the
        EXCEPTION-policy fallback group via array_distinct + per-key
        filter — O(K·D) with D distinct keys, fine for log-line K."""
        # value_split is a regex (reference behavior), but the common
        # case is a literal like '=' — `contains` then beats per-token
        # regex matching in the has-a-value filter
        if _re.escape(value_split) == value_split:
            has_val = lambda p: p.contains(value_split)  # noqa: E731
        else:
            has_val = lambda p: p.rlike(value_split)  # noqa: E731
        parts = F.filter(F.split(src, field_split), has_val)
        splits = F.transform(parts, lambda p: F.split(p, value_split, 2))
        kvs = F.transform(
            splits,
            lambda sp: F.struct(
                key_fn(sp.getItem(0)).alias("k"),
                val_fn(sp.getItem(1)).alias("v"),
            ),
        )
        if duplicates == "last" and _last_win:
            return F.map_from_entries(kvs)
        keys = F.array_distinct(F.transform(kvs, lambda s: s.getField("k")))
        vals_of = lambda key: F.transform(  # noqa: E731
            F.filter(kvs, lambda s: s.getField("k") == key),
            lambda s: s.getField("v"),
        )
        if duplicates == "last":
            per_key = lambda key: F.element_at(vals_of(key), -1)  # noqa: E731
        elif duplicates == "unique_array":
            per_key = lambda key: F.array_distinct(vals_of(key))  # noqa: E731
        else:
            per_key = vals_of
        return F.map_from_arrays(keys, F.transform(keys, per_key))

    m = pairs_map(F.col(field))
    if duplicates == "last":
        if recursive:
            # one-level nested parse: entries whose value contains a pair
            # re-parse and flatten under 'parent.child' keys
            is_nested = lambda v: v.rlike(value_split)  # noqa: E731
            flat = F.map_filter(m, lambda k, v: ~is_nested(v))
            nested = F.map_filter(m, lambda k, v: is_nested(v))
            nested_entries = F.flatten(
                F.transform(
                    F.map_entries(nested),
                    lambda e: F.transform(
                        F.map_entries(pairs_map(e.getField("value"))),
                        lambda e2: F.struct(
                            F.concat(
                                e.getField("key"), F.lit("."), e2.getField("key")
                            ).alias("key"),
                            e2.getField("value").alias("value"),
                        ),
                    ),
                )
            )
            m = F.map_concat(flat, F.map_from_entries(nested_entries))

    # when include_keys are promoted to top-level columns (target=None
    # branch below), per-key element_at already restricts the output —
    # the map_filter pass would be a redundant map scan
    if include_keys is not None and (target or not include_keys):
        keys_in = F.array(*[F.lit(k) for k in include_keys])
        m = F.map_filter(m, lambda k, v: F.array_contains(keys_in, k))
    if exclude_keys:
        keys_ex = F.array(*[F.lit(k) for k in exclude_keys])
        m = F.map_filter(m, lambda k, v: ~F.array_contains(keys_ex, k))
    if prefix:
        m = F.transform_keys(m, lambda k, v: F.concat(F.lit(prefix), k))
    if target:
        return df.withColumn(target, m)
    # promote include_keys to top-level columns (typical logstash usage)
    if include_keys:
        return df.withColumns(
            {prefix + k: F.element_at(m, prefix + k) for k in include_keys}
        )
    return df.withColumn("kv", m)


@op("json")
def json_filter(
    df: DataFrame,
    field: str,
    *,
    schema: str | T.StructType | None = None,
    target: str | None = None,
    tag_on_failure: str = "_jsonparsefailure",
    sample_rows: int = 200,
) -> DataFrame:
    """logstash-filter-json: parse a JSON string field into event fields.

    Schema may be given (DDL string / StructType) or inferred at the driver
    from a bounded sample. Inference costs ONE extra (bounded) Spark job
    and can miss fields absent from the sample — fine in a notebook,
    wrong in a production pipeline spec, so it warns. Always pass an
    explicit schema in specs.
    """
    if schema is None:
        import warnings

        warnings.warn(
            "json filter inferring schema from a driver-side sample "
            f"(limit {sample_rows}); pass an explicit schema in pipeline "
            "specs — inference adds a job and may miss rare fields",
            stacklevel=2,
        )
        sample = [
            r[0]
            for r in df.select(field).where(F.col(field).isNotNull()).limit(sample_rows).collect()
        ]
        rdr = df.sparkSession.read
        schema = rdr.json(df.sparkSession.sparkContext.parallelize(sample)).schema
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(
            f"json filter schema must describe a JSON object (StructType), got {schema}"
        )
    # PERMISSIVE from_json yields an all-null struct (never a NULL struct)
    # for invalid input — detect failures via the corrupt-record column.
    # The column name must not collide with a legitimate field of the
    # user's schema (a payload key named _corrupt_record would otherwise
    # mis-tag valid rows).
    corrupt = "_corrupt_record"
    taken = set(schema.fieldNames())
    while corrupt in taken:
        corrupt = "_" + corrupt
    schema_c = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    parsed = F.from_json(
        F.col(field), schema_c, {"columnNameOfCorruptRecord": corrupt, "mode": "PERMISSIVE"}
    )
    df = ensure_tags(df)
    tgt = target or "_json"
    df = df.withColumn(tgt, parsed)
    failed = F.col(field).isNotNull() & (
        F.col(f"{tgt}.`{corrupt}`").isNotNull() | F.col(tgt).isNull()
    )
    df = add_tag_when(df, failed, tag_on_failure)
    df = df.withColumn(tgt, F.col(tgt).dropFields(corrupt))
    if target is None:
        # root merge (logstash default): expand struct fields to top level
        names = df.select(f"{tgt}.*").columns
        df = df.withColumns({n: F.col(f"{tgt}.`{n}`") for n in names}).drop(tgt)
    return df


@op("csv")
def csv_filter(
    df: DataFrame,
    field: str,
    columns: Sequence[str],
    *,
    separator: str = ",",
    target: str | None = None,
    types: dict[str, str] | None = None,
) -> DataFrame:
    """logstash-filter-csv via native from_csv."""
    types = types or {}
    ddl = ", ".join(f"`{c}` {types.get(c, 'string')}" for c in columns)
    parsed = F.from_csv(F.col(field), ddl, {"sep": separator})
    if target:
        return df.withColumn(target, parsed)
    tmp = "_csv"
    df = df.withColumn(tmp, parsed)
    df = df.withColumns({c: F.col(f"{tmp}.`{c}`") for c in columns})
    return df.drop(tmp)


# ---------------------------------------------------------------------------
# useragent (coarse, regex when-chain — the uap-core regex DB distilled to
# family classes; full-fidelity parse would be a pandas UDF over ua-parser)
# ---------------------------------------------------------------------------

_UA_BROWSERS = [
    ("bot", r"(?i)bot|crawler|spider|slurp"),
    ("Edge", r"Edg(e|A|iOS)?/"),
    ("Opera", r"(OPR|Opera)[/ ]"),
    ("Firefox", r"Firefox/"),
    ("Chrome", r"Chrome/"),
    ("Safari", r"Safari/"),
    ("IE", r"MSIE |Trident/"),
]
_UA_OS = [
    ("Android", r"Android"),
    ("iOS", r"iPhone|iPad|iPod"),
    ("Windows", r"Windows"),
    ("macOS", r"Mac OS X|Macintosh"),
    ("Linux", r"Linux|X11"),
]

# major-version extraction per family (uap-core: Safari's version comes
# from the Version/ token, IE from MSIE or the Trident rv: token)
_UA_VERSION = {
    "Edge": r"Edg(?:e|A|iOS)?/(\d+)",
    "Opera": r"(?:OPR|Opera)[/ ](\d+)",
    "Firefox": r"Firefox/(\d+)",
    "Chrome": r"Chrome/(\d+)",
    "Safari": r"Version/(\d+)",
    "IE": r"(?:MSIE |rv:)(\d+)",
}


@op("useragent")
def useragent(
    df: DataFrame, field: str, *, target_prefix: str = "ua_"
) -> DataFrame:
    """logstash-filter-useragent, coarse mode: ordered rlike when-chains
    classify browser family and OS family (reference uses the uap-core
    regex set; the chain order mirrors its precedence — e.g. Edge/Opera
    before Chrome, Chrome before Safari), plus the browser's major
    version (`ua_major`, null for bots/unknowns)."""
    src = F.col(field)

    def chain(table: list[tuple[str, str]]) -> Column:
        out: Column = F.lit("Other")
        for name, rx in reversed(table):
            out = F.when(src.rlike(rx), F.lit(name)).otherwise(out)
        return out

    family = chain(_UA_BROWSERS)
    major: Column = F.lit(None).cast("int")
    for name, rx in _UA_VERSION.items():
        major = F.when(
            family == name, F.nullif(F.regexp_extract(src, rx, 1), F.lit("")).cast("int")
        ).otherwise(major)
    return df.withColumns(
        {
            f"{target_prefix}name": family,
            f"{target_prefix}os": chain(_UA_OS),
            f"{target_prefix}major": major,
        }
    )


_SYSLOG_SEVERITIES = [
    "emergency", "alert", "critical", "error",
    "warning", "notice", "informational", "debug",
]
_SYSLOG_FACILITIES = [
    "kernel", "user-level", "mail", "daemon", "security/authorization",
    "syslogd", "line printer", "network news", "uucp", "clock",
    "security/authorization", "ftp", "ntp", "log audit", "log alert",
    "clock", "local0", "local1", "local2", "local3", "local4", "local5",
    "local6", "local7",
]


@op("syslog_pri")
def syslog_pri(df: DataFrame, field: str = "syslog_pri") -> DataFrame:
    """logstash-filter-syslog_pri: <PRI> → facility/severity (pure math)."""
    pri = F.col(field).cast("int")
    sev_arr = F.array(*[F.lit(s) for s in _SYSLOG_SEVERITIES])
    fac_arr = F.array(*[F.lit(s) for s in _SYSLOG_FACILITIES])
    return df.withColumns(
        {
            "syslog_severity_code": pri % 8,
            "syslog_facility_code": F.floor(pri / 8).cast("int"),
            "syslog_severity": F.element_at(sev_arr, (pri % 8) + 1),
            "syslog_facility": F.element_at(fac_arr, F.floor(pri / 8).cast("int") + 1),
        }
    )


@op("json_encode")
def json_encode(
    df: DataFrame,
    source: str | Sequence[str],
    *,
    target: str | None = None,
) -> DataFrame:
    """logstash-filter-json_encode: serialize a field into a JSON string
    (the inverse of the json filter; the reference's one use case is
    re-emitting a parsed hash as text for a downstream sink).

    `source` may be one column (struct/map/array are serialized as-is;
    a scalar is wrapped as ``{"<name>": value}`` to keep valid JSON —
    the reference serializes whatever Ruby object the field holds) or a
    list of columns, which serialize as one object in the given field
    order. `to_json` is a JVM expression: zero UDF, zero shuffle, and
    key order is the struct field order, so output is deterministic.
    Default target overwrites the source in place (reference default)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(source, str):
        dt = df.schema[source].dataType
        col = (
            F.col(source)
            if isinstance(dt, (StructType, MapType, ArrayType))
            else F.struct(F.col(source))
        )
        tgt = target or source
    else:
        col = F.struct(*[F.col(c) for c in source])
        tgt = target or "json"
    return df.withColumn(tgt, F.to_json(col))
