"""Shared event-model helpers: tags, sprintf templating, field refs.

Reference semantics: Event.tag (logstash-core Event.java §tag) appends to
the `tags` array without duplicating; sprintf `%{[field]}` / `%{+fmt}`
interpolation (org/logstash/StringInterpolation.java, Event.java §sprintf).
"""

from __future__ import annotations

import functools
import re

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TAGS = "tags"

#: `[@metadata][x]` field references resolve to this struct column — the
#: reference's metadata sub-map (Event.java §getMetadata): readable and
#: writable everywhere a field reference is (mutate targets, sprintf,
#: conditions) but NEVER serialized to outputs. plans.runner drops it
#: from every physical sink write; the DLQ sink keeps it (the reference
#: DLQ stores the full event incl. metadata for the replay reader).
METADATA = "@metadata"


#: entries of the shared Column-builder cache: a flagship build uses a
#: handful, a long `.conf` filter chain a few dozen
_MEMO_SIZE = 256


@functools.lru_cache(maxsize=_MEMO_SIZE)
def _memo(builder, sc, args: tuple, kwargs: tuple):
    return builder(*args, **dict(kwargs))


def memo_columns(builder):
    """Build `builder(*args)`'s Columns once per live SparkContext.

    Logstash compiles a pipeline once (`ComputeStepSyntaxElement` caches
    the generated compute classes by normalized source). Here every run
    and every streaming micro-batch plans the chain again, and each
    Column constructor is a py4j round trip. A Column is an unresolved
    expression tree, valid on any frame whose columns resolve it, so a
    builder must take every schema-dependent choice as an argument and
    never a DataFrame. The key holds the active SparkContext: a
    pandas-UDF Column can carry a broadcast of that context, so a stopped
    context's entries are never handed out again. Unhashable arguments
    (e.g. Column conditions) build uncached. Callers must not mutate
    what a builder returns."""

    @functools.wraps(builder)
    def build(*args, **kwargs):
        sc = SparkContext._active_spark_context
        key = (builder, sc, args, tuple(kwargs.items()))
        try:
            hash(key)
        except TypeError:
            return builder(*args, **kwargs)
        return _memo(*key)

    return build


@memo_columns
def _tags_exprs() -> tuple[Column, Column]:
    """(empty `tags`, `tags` with null made empty)."""
    empty = F.array().cast(T.ArrayType(T.StringType()))
    return empty, F.coalesce(F.col(TAGS), F.array().cast("array<string>"))


@memo_columns
def _tags_with(tag_values: tuple[str, ...]) -> Column:
    return F.array_union(F.col(TAGS), F.array(*[F.lit(t) for t in tag_values]))


@memo_columns
def _tags_without(tag_values: tuple[str, ...]) -> Column:
    return F.array_except(F.col(TAGS), F.array(*[F.lit(t) for t in tag_values]))


def ensure_tags(df: DataFrame) -> DataFrame:
    """Guarantee a non-null `tags` array<string> column."""
    empty, coalesced = _tags_exprs()
    return df.withColumn(TAGS, coalesced if TAGS in df.columns else empty)


def tag_when(cond: Column, *tag_values: str) -> Column:
    """The `tags` value with `tag_values` appended where `cond` holds
    (dedup like Event§tag), for a frame that already has `tags`."""
    return F.when(cond, _tags_with(tag_values)).otherwise(F.col(TAGS))


def add_tag_when(df: DataFrame, cond: Column, *tag_values: str) -> DataFrame:
    """Append tags where `cond` holds (dedup like Event§tag)."""
    return ensure_tags(df).withColumn(TAGS, tag_when(cond, *tag_values))


def retag(df: DataFrame, tags: Column) -> DataFrame:
    """Set `tags` to a `tag_when` value on a frame that already has
    `tags`: `add_tag_when` without its schema read, same projections."""
    return df.withColumn(TAGS, _tags_exprs()[1]).withColumn(TAGS, tags)


def remove_tag(df: DataFrame, *tag_values: str) -> DataFrame:
    return ensure_tags(df).withColumn(TAGS, _tags_without(tag_values))


_FIELD_REF = re.compile(r"%\{(\+[^}]+|\[[^}]*\]|[A-Za-z0-9_.@-]+)\}")


def field_ref_to_col(ref: str) -> Column:
    """`[a][b]` / `a.b` field-reference path → Column (FieldReference.java)."""
    parts = re.findall(r"\[([^\]]+)\]", ref) or ref.split(".")
    c = F.col(parts[0] if "." not in parts[0] else f"`{parts[0]}`")
    if len(parts) == 1 and "[" not in ref and "." in ref:
        # dotted path: a.b.c
        parts = ref.split(".")
        c = F.col(parts[0])
    for p in parts[1:]:
        c = c.getItem(int(p)) if p.isdigit() else c.getField(p)
    return c


def ref_parts(ref: str) -> list[str]:
    """`[a][b][c]` → ['a','b','c']; a plain name → [name]. Logstash
    FieldReference treats ONLY brackets as path separators (a dotted name
    is a literal key), so the write surface keys on brackets alone."""
    parts = re.findall(r"\[([^\]]+)\]", ref)
    return parts if parts else [ref]


def ref_exists(df: DataFrame, ref: str) -> bool:
    """Does the `[a][b]` path resolve in df's schema (Event§includes)?"""
    parts = ref_parts(ref)
    if parts[0] not in df.columns:
        return False
    dt = df.schema[parts[0]].dataType
    for p in parts[1:]:
        if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
            return False
        dt = dt[p].dataType
    return True


def _set_path(parent: Column | None, parent_type, parts: list[str], value: Column) -> Column:
    """New value for `parent` with the nested path `parts` set to `value`
    (Event.java §setField): existing sibling fields are preserved via
    withField; missing intermediates become fresh structs; a non-struct
    value in the path is overwritten (reference converts to a map)."""
    p = parts[0]
    is_struct = isinstance(parent_type, T.StructType) and parent is not None
    if len(parts) == 1:
        child_val = value
    else:
        child_type = (
            parent_type[p].dataType
            if is_struct and p in parent_type.fieldNames()
            else None
        )
        child_parent = (
            parent.getField(p) if isinstance(child_type, T.StructType) else None
        )
        child_val = _set_path(child_parent, child_type, parts[1:], value)
    if is_struct:
        return parent.withField(f"`{p}`", child_val)
    return F.struct(child_val.alias(p))


def set_field(df: DataFrame, ref: str, value: Column) -> DataFrame:
    """Write `value` at a FieldReference path, creating/overwriting nested
    struct entries (Event.java §setField). Plain names write top-level."""
    parts = ref_parts(ref)
    root = parts[0]
    if len(parts) == 1:
        return df.withColumn(root, value)
    root_type = df.schema[root].dataType if root in df.columns else None
    root_col = (
        F.col(f"`{root}`") if isinstance(root_type, T.StructType) else None
    )
    return df.withColumn(root, _set_path(root_col, root_type, parts[1:], value))


def unset_field(df: DataFrame, ref: str) -> DataFrame:
    """Remove the field at a FieldReference path (Event§remove). A
    missing path is a no-op; dropping a struct's last field nulls the
    struct column rather than leaving a zero-field struct."""
    parts = ref_parts(ref)
    root = parts[0]
    if root not in df.columns:
        return df
    if len(parts) == 1:
        return df.drop(root)
    dt = df.schema[root].dataType
    if not isinstance(dt, T.StructType) or not ref_exists(df, ref):
        return df
    # a struct with zero fields is unrepresentable in several writers —
    # if this drop empties the root struct, drop the column instead
    if len(parts) == 2 and len(dt.fields) == 1:
        return df.drop(root)
    dropped = F.col(f"`{root}`").dropFields(".".join(f"`{p}`" for p in parts[1:]))
    return df.withColumn(root, dropped)


def sprintf(template: str, ts_col: str = "@timestamp") -> Column:
    """Logstash sprintf: `%{[field]}` → field value, `%{+fmt}` → formatted
    event timestamp. Compiles to concat() of literals/columns — pure Catalyst.
    """
    pieces: list[Column] = []
    pos = 0
    for m in _FIELD_REF.finditer(template):
        if m.start() > pos:
            pieces.append(F.lit(template[pos : m.start()]))
        ref = m.group(1)
        if ref.startswith("+"):
            pieces.append(_joda_format_col(F.col(f"`{ts_col}`"), ref[1:]))
        else:
            pieces.append(field_ref_to_col(ref).cast("string"))
        pos = m.end()
    if pos < len(template):
        pieces.append(F.lit(template[pos:]))
    if not pieces:
        return F.lit("")
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)


def _joda_format_col(ts: Column, fmt: str) -> Column:
    """Format a timestamp with a Joda pattern (sprintf `%{+fmt}`,
    Event.java §sprintf) — the FULL run-tokenized Joda→JDK translation
    shared with the date filter, not a string shim.

    Spark's date_format rejects week-based letters (Y/x/w/e throw
    DATETIME_PATTERN_RECOGNITION), yet `%{+xxxx.ww}` weekyear.week is a
    real Logstash index-naming pattern — those runs compile to dedicated
    expressions (extract(YEAROFWEEK), weekofyear, ISO day-of-week) and the
    remaining runs/literals stay inside date_format segments, all
    concat()ed — pure Catalyst, no UDF."""
    from logstash_spark.operators.parse import _JODA_RUNS, _tokenize_fmt

    def padded(c: Column, width: int) -> Column:
        s = c.cast("string")
        return F.lpad(s, width, "0") if width > 1 else s

    pieces: list[Column] = []
    seg: list[str] = []

    def flush() -> None:
        if seg:
            pieces.append(F.date_format(ts, "".join(seg)))
            seg.clear()

    for kind, tok in _tokenize_fmt(fmt):
        if kind == "qlit":
            seg.append("'" + tok.replace("'", "''") + "'")
        elif kind == "lit":
            seg.append(tok)
        elif tok[0] == "x":  # Joda weekyear → ISO week-based year
            flush()
            pieces.append(padded(_iso_weekyear(ts), len(tok)))
        elif tok[0] == "w":  # week of weekyear
            flush()
            pieces.append(padded(F.weekofyear(ts), len(tok)))
        elif tok[0] == "e":  # ISO day-of-week number (1=Monday)
            flush()
            pieces.append(padded((F.dayofweek(ts) + 5) % 7 + 1, len(tok)))
        elif tok in _JODA_RUNS:
            seg.append(_JODA_RUNS[tok])
        elif tok[0] == "Y":  # Joda year-of-era → JDK y
            seg.append("y" * len(tok))
        else:
            seg.append(tok)
    flush()
    if not pieces:
        return F.lit("")
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)


def _iso_weekyear(ts: Column) -> Column:
    """ISO week-based year = calendar year of the Thursday of the ISO week
    containing ts (2021-01-01 → 2020, 2019-12-30 → 2020). Pure date
    arithmetic — extract(YEAROFWEEK) has no Column-API helper and F.expr
    can't reference an arbitrary Column expression."""
    iso_dow = (F.dayofweek(ts) + F.lit(5)) % 7 + 1  # 1=Mon .. 7=Sun
    return F.year(F.date_add(ts.cast("date"), (F.lit(4) - iso_dow).cast("int")))
