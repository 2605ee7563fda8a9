"""Enrichment operators — Logstash's lookup filters as broadcast joins.

Reference (SURVEY.md §2.5): Logstash has no general join; every enrich
filter is a per-event lookup against a side table — which is exactly a
broadcast hash join in Spark. At 100 TB the fact side never shuffles for
these: the dictionary ships to every executor once.

Dictionaries that arrive as Python rows (a translate `Mapping`, a
`dictionary_path` file, the flagship's source table, geoip blocks) are
built by `static_lookup_df` as Arrow-backed `LocalRelation`s, not as
`createDataFrame(list)` RDDs: the rows then sit in the plan itself, so
the broadcast collects them on the driver with no Python worker and no
RDD job — a cost every batch run and every micro-batch used to pay.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import op


@op("translate")
def translate(
    df: DataFrame,
    source: str,
    target: str,
    dictionary: Mapping[str, object] | DataFrame,
    *,
    fallback: object | None = None,
    regex: bool = False,
    exact: bool = True,
    dictionary_path: str | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """logstash-filter-translate.

    exact mode  → broadcast hash join + coalesce(fallback) — THE enrich op
                  the north rule names; dictionary may be a dict or a
                  DataFrame(key, value). `broadcast=False` drops the hint
                  for side tables beyond broadcast size (a jdbc_static
                  dump with 10⁸ keys): Catalyst/AQE then picks a
                  shuffle-hash or sort-merge join keyed on `source`.
    regex mode  → ordered when(rlike) chain (dictionary keys are patterns);
                  small-N only, stays fully codegen'd.
    dictionary_path → the reference's file-backed dictionary: a .json
                  object or two-column .csv loaded DRIVER-side (lookup
                  dictionaries are broadcast-sized by definition; a big
                  side table should be a DataFrame join instead).
    """
    if dictionary_path is not None:
        dictionary = _load_dictionary(dictionary_path)
    if regex or not exact:
        assert isinstance(dictionary, Mapping)
        expr: Column = F.lit(fallback) if fallback is not None else F.lit(None)
        for pat, val in reversed(list(dictionary.items())):
            expr = F.when(F.col(source).rlike(pat), F.lit(val)).otherwise(expr)
        return df.withColumn(target, expr)

    if isinstance(dictionary, Mapping):
        dict_df = static_lookup_df(
            df.sparkSession, list(dictionary.items()), [source, target]
        )
    else:
        dict_df = dictionary.toDF(source, target)
    if broadcast:
        dict_df = F.broadcast(dict_df)
    joined = df.join(dict_df, on=source, how="left")
    if fallback is not None:
        joined = joined.withColumn(target, F.coalesce(F.col(target), F.lit(fallback)))
    return joined


def _load_dictionary(path: str) -> dict:
    """Driver-side load of a translate dictionary file — .yml/.yaml (the
    format the logstash-filter-translate docs lead with), .json object,
    or 2-column .csv. YAML scalar keys/values are stringified to match
    the reference's string-keyed event fields (a YAML `100: continue`
    entry must match the string field value '100')."""
    import csv
    import json as _json

    if path.endswith((".yml", ".yaml")):
        import yaml

        with open(path) as f:
            d = yaml.safe_load(f)
        if not isinstance(d, dict):
            raise ValueError(f"dictionary file {path} must hold a YAML mapping")
        return {str(k): str(v) if not isinstance(v, (dict, list)) else v
                for k, v in d.items()}
    if path.endswith(".json"):
        with open(path) as f:
            d = _json.load(f)
        if not isinstance(d, dict):
            raise ValueError(f"dictionary file {path} must hold a JSON object")
        return d
    if path.endswith(".csv"):
        with open(path, newline="") as f:
            return {row[0]: row[1] for row in csv.reader(f) if len(row) >= 2}
    raise ValueError(
        f"unsupported dictionary file type: {path} (.yml/.yaml/.json/.csv)"
    )


def translate_multi(
    df: DataFrame,
    source: str,
    dict_df: DataFrame,
    key_col: str,
    *,
    fallbacks: Mapping[str, object] | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Multi-column dictionary enrich (jdbc_static analog): broadcast join
    the whole side table, filling per-column fallbacks for misses.
    `broadcast=False` for side tables beyond broadcast size — the join
    becomes a keyed shuffle both sides (sort-merge / shuffle-hash per
    AQE), which is the correct 100 TB topology when the dimension no
    longer fits in executor memory."""
    side = dict_df.withColumnRenamed(key_col, source)
    if broadcast:
        side = F.broadcast(side)
    joined = df.join(side, on=source, how="left")
    for colname, default in (fallbacks or {}).items():
        joined = joined.withColumn(colname, F.coalesce(F.col(colname), F.lit(default)))
    return joined


def ip_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 → int64, pure Catalyst (no UDF)."""
    p = F.split(ip, r"\.")
    return (
        p.getItem(0).cast("long") * 16777216
        + p.getItem(1).cast("long") * 65536
        + p.getItem(2).cast("long") * 256
        + p.getItem(3).cast("long")
    )


# The standard attribute set logstash-filter-geoip emits from a MaxMind
# City+ASN lookup (plugin docs `fields` option / GeoLite2 schema).
GEOIP_FIELDS = (
    "country_code2",
    "country_name",
    "continent_code",
    "city_name",
    "latitude",
    "longitude",
    "timezone",
    "asn",
    "as_org",
)

_GEOIP_SCHEMA = (
    "net_start long, net_end long, country_code2 string, country_name string, "
    "continent_code string, city_name string, latitude double, longitude double, "
    "timezone string, asn long, as_org string"
)


def cidr_range(cidr_block: str) -> tuple[int, int]:
    """'a.b.c.d/nn' → (first, last) int64 addresses of the block."""
    base, bits = cidr_block.split("/")
    base_l = sum(int(o) << (8 * (3 - i)) for i, o in enumerate(base.split(".")))
    span = 1 << (32 - int(bits))
    lo = base_l & (~(span - 1) & 0xFFFFFFFF)
    return lo, lo + span - 1


def geoip_blocks(spark, entries) -> DataFrame:
    """Build an mmdb-shaped block table from (cidr, attrs) pairs — the
    canned builder a user otherwise hand-rolls (GeoLite2-City-Blocks
    schema: network range + location/ASN attributes). Missing attrs are
    null, matching a sparse mmdb record."""
    rows = []
    for cidr_block, attrs in entries:
        lo, hi = cidr_range(cidr_block)
        rows.append(
            (lo, hi) + tuple(attrs.get(f) for f in GEOIP_FIELDS)
        )
    return static_lookup_df(spark, rows, _GEOIP_SCHEMA)


@op("geoip")
def geoip_range_join(
    df: DataFrame,
    ip_field: str,
    blocks: DataFrame,
    *,
    start_col: str = "net_start",
    end_col: str = "net_end",
    attrs: Sequence[str] = (),
) -> DataFrame:
    """logstash-filter-geoip shape: IP → attributes via a broadcast RANGE
    join against (net_start, net_end, attrs...) blocks (MaxMind-style).

    Broadcast keeps the fact side shuffle-free; Spark executes it as
    BroadcastNestedLoopJoin with the range predicate — fine for dictionary-
    sized block tables (the mmdb analog), wrong for joint-billion ranges.
    """
    ipl = ip_to_long(F.col(ip_field))
    if not attrs:
        # default: every block attribute (the plugin's full `fields` set)
        attrs = [c for c in blocks.columns if c not in (start_col, end_col)]
    sel = blocks.select(start_col, end_col, *attrs)
    cond = (ipl >= F.col(start_col)) & (ipl <= F.col(end_col))
    return df.join(F.broadcast(sel), cond, "left").drop(start_col, end_col)


@op("cidr")
def cidr(
    df: DataFrame,
    ip_field: str,
    networks: Sequence[str],
    *,
    target: str = "cidr_match",
) -> DataFrame:
    """logstash-filter-cidr: boolean column — is IP in any CIDR block.
    Bit-mask math on the int64 form; one OR-chain, fully codegen'd."""
    ipl = ip_to_long(F.col(ip_field))
    cond = F.lit(False)
    for net in networks:
        base, bits = net.split("/")
        mask = (0xFFFFFFFF << (32 - int(bits))) & 0xFFFFFFFF
        base_l = sum(int(o) << (8 * (3 - i)) for i, o in enumerate(base.split(".")))
        cond = cond | (ipl.bitwiseAND(F.lit(mask)) == F.lit(base_l & mask))
    return df.withColumn(target, cond)


def static_lookup_df(
    spark: SparkSession,
    rows: Sequence[tuple],
    schema: Sequence[str] | str,
) -> DataFrame:
    """Small driver-side dictionary frame for broadcast joins.

    Same schema and rows as `spark.createDataFrame(list(rows), schema)`:
    column names (`schema` as a name list) get their types from PySpark's
    own list inference; a DDL string is used as given, and the rows are
    verified against it the same way. Only the carrier differs.
    `createDataFrame(list)` parallelizes the rows into a Python RDD, so
    every broadcast of the dictionary runs a Spark job in Python workers
    to collect them again. Here the rows become a `pyarrow.Table` that
    Spark plans as a `LocalRelation`: the broadcast reads the rows out of
    the plan on the driver, with no Python worker and no RDD.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        _create_converter,
        _make_type_verifier,
        _parse_datatype_string,
    )

    rows = list(rows)
    if isinstance(schema, str):
        struct = _parse_datatype_string(schema)
        verify = _make_type_verifier(struct)
        for r in rows:
            verify(r)
    else:
        names = list(schema)
        # a copy: inference extends the list when rows have more columns
        struct = spark._inferSchemaFromList(rows, names=list(names))
        for i, name in enumerate(names):  # as createDataFrame renames
            struct.fields[i].name = name
            struct.names[i] = name
    # toInternal is the conversion createDataFrame applies before its RDD
    # (dicts/Rows → tuples, timestamps → epoch µs, dates → epoch days),
    # so Arrow receives exactly the values Spark would have stored
    to_tuple = _create_converter(struct)
    internal = [struct.toInternal(to_tuple(r)) for r in rows]
    arrow_schema = to_arrow_schema(struct)
    columns = [
        pa.array([r[i] for r in internal], type=arrow_schema.field(i).type)
        for i in range(len(struct.fields))
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    left_ts: str = "ts",
    right_ts: str = "valid_from",
    value_cols: Sequence[str] | None = None,
    right_tiebreak: str | None = None,
    tolerance_seconds: int | None = None,
    matched_ts: str | None = None,
) -> DataFrame:
    """Backward as-of join: each left row picks up the LATEST right row
    with the same `on` keys and `right_ts` <= `left_ts` (point-in-time
    enrichment — config/deploy version active when an event happened).

    Spark lacks a native as-of join; the naive form is a range join that
    Catalyst executes as a broadcast-nested-loop (O(N·M) per key — dead
    at scale). This is the sort-merge re-expression: union both sides,
    ONE window over (keys, time) carrying the last non-null right value
    forward, keep left rows. ONE shuffle on the join keys, linear work,
    no range explosion — the plan that survives 10^12 events against
    10^6 dimension updates. Ties at identical timestamps: right rows
    sort BEFORE left rows (inclusive <=, matching DuckDB ASOF JOIN and
    pandas merge_asof); among equal-ts right rows, `right_tiebreak`
    (ascending, last wins) makes the pick deterministic.

    `tolerance_seconds` nulls out matches older than `left_ts - T`
    (pandas merge_asof `tolerance`). `matched_ts` names an output column
    carrying the matched right timestamp. NULL right values are skipped
    by the carry-forward (an explicit NULL update falls through to the
    prior version); encode deletions as sentinel values instead."""
    on = list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*on, right_ts)]
    value_cols = list(value_cols)
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols already in left: {sorted(overlap)}")

    r = right.select(
        *on,
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        F.col(right_ts).alias("_asof_rts"),
        *[F.col(c) for c in value_cols],
        *([F.col(right_tiebreak).alias("_asof_tb")] if right_tiebreak else []),
    )
    l = left.withColumn("_asof_ts", F.col(left_ts)).withColumn(
        "_asof_side", F.lit(1)
    )
    u = l.unionByName(r, allowMissingColumns=True)

    from pyspark.sql.window import Window

    order = [F.col("_asof_ts").asc(), F.col("_asof_side").asc()]
    if right_tiebreak:
        order.append(F.col("_asof_tb").asc_nulls_first())
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        F.last("_asof_rts", ignorenulls=True).over(w).alias("_asof_mts"),
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"_asof_v_{c}")
            for c in value_cols
        ],
    )
    out = carried.where(F.col("_asof_side") == 1)
    keep_match = F.lit(True)
    if tolerance_seconds is not None:
        keep_match = F.col("_asof_mts") >= (
            F.col("_asof_ts") - F.expr(f"INTERVAL {int(tolerance_seconds)} SECONDS")
        )
    sel = [c for c in left.columns]
    for c in value_cols:
        sel.append(
            F.when(keep_match, F.col(f"_asof_v_{c}")).alias(c)
        )
    if matched_ts:
        sel.append(F.when(keep_match, F.col("_asof_mts")).alias(matched_ts))
    return out.select(*sel)
