"""Correctness gates for input and output codecs, from line splitting to
binary wire formats. Each `@query` pairs a Spark query over the driver
test tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators.codec import gzip_encode, gzip_lines, multiline
from logstash_spark.operators.parse import csv_filter
from logstash_spark.queries_common import _t, query


@query(
    "line_codec_split",
    """
    SELECT event_id, 0 AS line_no, 'a=' || event_type AS message FROM events
    UNION ALL
    SELECT event_id, 1, 'b=' || CAST(user_id AS VARCHAR) FROM events
    """,
)
def line_codec_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-line: a two-line blob decodes to one event per line
    with its 0-based line number (trailing empty line dropped)."""
    from logstash_spark.operators.codec import line_codec

    ev = _t(spark, sf_dir, "events")
    blob = F.concat(
        F.lit("a="), F.col("event_type"), F.lit("\nb="),
        F.col("user_id").cast("string"), F.lit("\n"),
    )
    df = ev.select("event_id", blob.alias("blob"))
    return line_codec(df, "blob").select("event_id", "line_no", "message")


@query(
    "csv_codec",
    """
    SELECT event_id,
           split_part(line, ';', 1) AS etype,
           CAST(split_part(line, ';', 2) AS BIGINT) AS uid,
           CAST(split_part(line, ';', 3) AS DOUBLE) AS val
    FROM (SELECT event_id,
                 event_type || ';' || CAST(user_id AS VARCHAR) || ';' ||
                 CAST(round(value, 2) AS VARCHAR) AS line
          FROM events)
    """,
)
def csv_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-csv / filter-csv: delimited line → typed columns."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat_ws(
        ";",
        F.col("event_type"),
        F.col("user_id").cast("string"),
        F.round(F.col("value"), 2).cast("string"),
    )
    df = ev.withColumn("line", line)
    out = csv_filter(
        df, "line", ["etype", "uid", "val"], separator=";",
        types={"uid": "bigint", "val": "double"},
    )
    return out.select("event_id", "etype", "uid", "val")


@query(
    "multiline_codec",
    """
    WITH lines AS (
      SELECT event_id AS line_no,
             CAST(user_id % 3 AS BIGINT) AS source_file,
             CASE WHEN event_id % 4 = 0 THEN 'EVENT ' || event_type
                  ELSE '  at frame ' || CAST(event_id AS VARCHAR) END AS line
      FROM events
    ),
    sess AS (
      SELECT source_file, line_no, line,
             sum(CASE WHEN line NOT SIMILAR TO '\\s.*' THEN 1 ELSE 0 END)
               OVER (PARTITION BY source_file ORDER BY line_no) AS s
      FROM lines
    )
    SELECT source_file,
           CAST(min(line_no) AS BIGINT) AS event_start,
           CAST(count(*) AS BIGINT) AS n_lines,
           string_agg(line, chr(10) ORDER BY line_no) AS line
    FROM sess GROUP BY source_file, s
    """,
)
def multiline_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-multiline: whitespace-led continuation lines join
    into their preceding event (sessionized window + group-concat)."""
    ev = _t(spark, sf_dir, "events")
    lines = ev.select(
        F.col("event_id").alias("line_no"),
        (F.col("user_id") % 3).alias("source_file"),
        F.when(
            F.col("event_id") % 4 == 0, F.concat(F.lit("EVENT "), F.col("event_type"))
        )
        .otherwise(F.concat(F.lit("  at frame "), F.col("event_id").cast("string")))
        .alias("line"),
    )
    return multiline(
        lines, "line", r"^\s", what="previous",
        group_by=("source_file",), order_by="line_no",
    )


@query(
    "multiline_guards",
    """
    WITH ev AS (SELECT event_id, 1 + event_id % 7 AS L FROM events),
    lines AS (
      SELECT event_id, L, js.j,
             CASE WHEN js.j = 0 THEN 'EVT ' || CAST(event_id AS VARCHAR)
                  ELSE '+c ' || CAST(event_id AS VARCHAR) || ' ' || CAST(js.j AS VARCHAR)
             END AS txt,
             js.j // 3 AS chunk
      FROM ev, (SELECT unnest(range(0, 7)) AS j) js
      WHERE js.j < L
    ),
    chunks AS (
      SELECT event_id, chunk,
             CAST(min(j) AS BIGINT) AS event_start,
             CAST(count(*) AS BIGINT) AS n_lines,
             md5(string_agg(txt, chr(10) ORDER BY j)) AS msg_md5
      FROM lines GROUP BY event_id, chunk
    )
    SELECT event_id, event_start, n_lines, msg_md5,
           chunk < max(chunk) OVER (PARTITION BY event_id) AS toolong
    FROM chunks
    """,
)
def multiline_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiline codec with the max_lines cap: blobs of 1–7 lines
    (start line + `+`-prefixed continuations) split by the line codec,
    re-joined by multiline sessionization, force-flushed every 3 lines;
    all but each event's last chunk carry `_multiline_toolong`."""
    from logstash_spark.operators.codec import line_codec, multiline

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    n_lines = (F.lit(1) + eid % 7).cast("int")
    txt = lambda j: F.when(  # noqa: E731
        j == 0, F.concat(F.lit("EVT "), eid.cast("string"))
    ).otherwise(
        F.concat(F.lit("+c "), eid.cast("string"), F.lit(" "), j.cast("string"))
    )
    blob = F.concat_ws(
        "\n", F.transform(F.sequence(F.lit(0), n_lines - 1), txt)
    )
    df = ev.select("event_id", blob.alias("blob"))
    split = line_codec(df, "blob", target="message")
    joined = multiline(
        split, "message", r"^\+", what="previous",
        group_by=("event_id",), order_by="line_no", max_lines=3,
    )
    return joined.select(
        "event_id",
        F.col("event_start").cast("long").alias("event_start"),
        "n_lines",
        F.md5(F.col("message")).alias("msg_md5"),
        F.array_contains("tags", "_multiline_toolong").alias("toolong"),
    )


@query(
    "cef_codec",
    r"""
    SELECT event_id,
           CASE WHEN event_id % 101 = 0 THEN NULL ELSE 0 END AS cef_version,
           CASE WHEN event_id % 101 = 0 THEN NULL ELSE 'Acme' END AS device_vendor,
           CASE WHEN event_id % 101 = 0 THEN NULL ELSE 'Fire|wall' END AS device_product,
           CASE WHEN event_id % 101 = 0 THEN NULL ELSE event_type END AS signature_id,
           CASE WHEN event_id % 101 = 0 THEN NULL
                ELSE 'rule|' || CAST(event_id % 7 AS VARCHAR) END AS cef_name,
           CASE WHEN event_id % 101 = 0 THEN NULL
                ELSE CAST(event_id % 10 AS VARCHAR) END AS severity,
           CASE WHEN event_id % 101 = 0 THEN NULL
                ELSE '10.' || CAST(user_id % 200 AS VARCHAR) || '.'
                     || CAST(event_id % 250 AS VARCHAR) || '.1' END AS src,
           CASE WHEN event_id % 101 = 0 THEN NULL
                ELSE CAST(event_id % 64000 + 1024 AS VARCHAR) END AS spt,
           CASE WHEN event_id % 101 = 0 THEN NULL
                ELSE 'blocked by rule ' || CAST(event_id % 7 AS VARCHAR) END AS msg,
           CASE WHEN event_id % 101 = 0 THEN NULL ELSE 'a=b' END AS fname,
           CASE WHEN event_id % 101 = 0 THEN 1 ELSE 0 END AS failed
    FROM events
    """,
)
def cef_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""CEF decode end-to-end (reference: logstash-codec-cef decode +
    ArcSight CEF spec): pipe-escaped headers (``Fire\|wall`` →
    ``Fire|wall``), multi-word extension values (``msg=blocked by rule
    N`` — next key starts at the next unescaped ``token=``), escaped
    equals in values (``fname=a\=b``), and the ``_cefparsefailure`` tag
    on non-CEF rows (every 101st event is a plain syslog line)."""
    from logstash_spark.operators.codec import cef_decode

    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    src = F.format_string("10.%d.%d.1", uid % 200, eid % 250)
    line = F.concat(
        F.lit("CEF:0|Acme|Fire\\|wall|1.0|"),
        F.col("event_type"),
        F.lit("|rule\\|"),
        (eid % 7).cast("string"),
        F.lit("|"),
        (eid % 10).cast("string"),
        F.lit("|src="),
        src,
        F.lit(" spt="),
        (eid % 64000 + 1024).cast("string"),
        F.lit(" msg=blocked by rule "),
        (eid % 7).cast("string"),
        F.lit(" fname=a\\=b"),
    )
    malformed = F.lit("plain syslog line, not cef")
    ev = ev.withColumn(
        "message", F.when(eid % 101 == 0, malformed).otherwise(line)
    )
    out = cef_decode(ev, "message", ext_target="ext")
    return out.select(
        "event_id",
        "cef_version",
        "device_vendor",
        "device_product",
        "signature_id",
        "cef_name",
        "severity",
        F.col("ext").getItem("src").alias("src"),
        F.col("ext").getItem("spt").alias("spt"),
        F.col("ext").getItem("msg").alias("msg"),
        F.col("ext").getItem("fname").alias("fname"),
        F.array_contains("tags", "_cefparsefailure").cast("int").alias("failed"),
    )


@query(
    "cipher_roundtrip",
    """
    SELECT event_id,
           'msg-' || event_type || '-' || CAST(event_id % 1000 AS VARCHAR)
               AS plain_rt,
           CAST(((length('msg-' || event_type || '-'
                 || CAST(event_id % 1000 AS VARCHAR)) // 16) + 1) * 16
                AS BIGINT) AS ct_len
    FROM events
    """,
)
def cipher_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES-ECB-PKCS encrypt→decrypt round trip (reference:
    logstash-filter-cipher). DuckDB has no AES, so the oracle checks the
    two deterministic invariants end-to-end: the decrypted text equals
    the plaintext, and the ciphertext length is the exact PKCS padding
    formula ``16·(⌊len/16⌋+1)`` (ECB has no IV, so output bytes are
    deterministic too — the length pins that the real cipher ran, not a
    pass-through). Both AES exprs are JVM codegen'd; zero UDF/shuffle."""
    from logstash_spark.functions import cipher

    key = "0123456789abcdef"
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.lit("msg-"),
            F.col("event_type"),
            F.lit("-"),
            (F.col("event_id") % 1000).cast("string"),
        ).alias("plain"),
    )
    enc = cipher(
        ev, "plain", key=key, mode="encrypt",
        algorithm="AES-ECB-PKCS", target="ct",
    )
    dec = cipher(
        enc, "ct", key=key, mode="decrypt",
        algorithm="AES-ECB-PKCS", target="plain_rt",
    )
    return dec.select(
        "event_id",
        "plain_rt",
        F.octet_length(F.unbase64(F.col("ct"))).cast("long").alias("ct_len"),
    )


@query(
    "json_encode_field",
    """
    SELECT event_id,
           '{"event_type":"' || event_type || '","user_id":'
               || CAST(user_id AS VARCHAR) || '}' AS j,
           '{"value":' || CAST(event_id % 97 AS VARCHAR) || '}' AS js
    FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    """,
)
def json_encode_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_encode both forms (reference: logstash-filter-json_encode):
    a multi-column object in declared field order, and a scalar wrapped
    as a one-key object. Spark `to_json` emits compact JSON with struct
    field order — byte-identical to the oracle's string concatenation
    (values here need no JSON escaping by construction)."""
    from logstash_spark.operators.parse import json_encode

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .withColumn("value", (F.col("event_id") % 97))
    )
    out = json_encode(ev, ["event_type", "user_id"], target="j")
    out = json_encode(out, "value", target="js")
    return out.select("event_id", "j", "js")


@query(
    "json_lines_codec",
    """
    SELECT event_id, 0 AS line_no,
           CAST(event_id % 100 AS INT) AS a, event_type AS b,
           0 AS failed, CAST(NULL AS VARCHAR) AS raw_line
    FROM events
    UNION ALL
    SELECT event_id, 1, CAST(user_id % 50 AS INT), 'x', 0, NULL FROM events
    UNION ALL
    SELECT event_id, 2, NULL, NULL, 1, 'not json at all'
    FROM events WHERE event_id % 53 = 0
    """,
)
def json_lines_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-json_lines decode: an NDJSON blob splits into one
    event per line with schema'd top-level fields; a corrupt line (every
    53rd blob carries one) still yields an event, tagged
    ``_jsonparsefailure`` with the raw text preserved — detected via the
    PERMISSIVE corrupt-record channel, not struct-nullness."""
    from logstash_spark.operators.codec import json_lines_decode

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    l0 = F.concat(
        F.lit('{"a":'), (eid % 100).cast("string"),
        F.lit(',"b":"'), F.col("event_type"), F.lit('"}'),
    )
    l1 = F.concat(
        F.lit('{"a":'), (F.col("user_id") % 50).cast("string"), F.lit(',"b":"x"}')
    )
    blob = F.when(
        eid % 53 == 0,
        F.concat_ws("\n", l0, l1, F.lit("not json at all")),
    ).otherwise(F.concat_ws("\n", l0, l1))
    out = json_lines_decode(
        ev.withColumn("blob", blob).select("event_id", "blob"),
        "blob",
        "a INT, b STRING",
    )
    return out.select(
        "event_id",
        "line_no",
        "a",
        "b",
        F.array_contains("tags", "_jsonparsefailure").cast("int").alias("failed"),
        "raw_line",
    )


@query(
    "graphite_codec",
    """
    SELECT event_id,
           CASE WHEN event_id % 53 = 0 THEN NULL
                ELSE 'srv.' || event_type || '.cpu' END AS metric,
           CASE WHEN event_id % 53 = 0 THEN NULL
                ELSE CAST(event_id % 1000 AS DOUBLE) END AS value,
           CASE WHEN event_id % 53 = 0 THEN NULL
                ELSE CAST(1700000000 + event_id % 86400 AS BIGINT) END AS epoch,
           CASE WHEN event_id % 53 = 0 THEN 1 ELSE 0 END AS failed,
           CASE WHEN event_id % 53 = 0 THEN NULL
                ELSE 'srv.' || event_type || '.cpu ' || CAST(event_id % 1000 AS VARCHAR)
                     || ' ' || CAST(1700000000 + event_id % 86400 AS VARCHAR)
           END AS reencoded
    FROM events
    """,
)
def graphite_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-graphite both directions: decode ``metric value
    timestamp`` plaintext lines (malformed every 53rd event →
    ``_graphiteparsefailure``, null columns), then re-encode the decoded
    rows and confirm the round trip is byte-identical to the original
    line. Epoch is compared as integer seconds (cross-engine timestamp
    hashing avoided by design)."""
    from logstash_spark.operators.codec import graphite_decode, graphite_encode

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    line = F.concat_ws(
        " ",
        F.concat(F.lit("srv."), F.col("event_type"), F.lit(".cpu")),
        (eid % 1000).cast("string"),
        (F.lit(1700000000) + eid % 86400).cast("string"),
    )
    blob = F.when(eid % 53 == 0, F.lit("oops malformed line")).otherwise(line)
    dec = graphite_decode(
        ev.withColumn("message", blob).select("event_id", "message"), "message"
    )
    enc = graphite_encode(dec.where(F.col("metric").isNotNull()))
    dec = dec.join(
        enc.select("event_id", F.col("message").alias("reencoded")),
        "event_id",
        "left",
    )
    return dec.select(
        "event_id",
        "metric",
        "value",
        F.unix_timestamp("ts").alias("epoch"),
        F.array_contains("tags", "_graphiteparsefailure").cast("int").alias("failed"),
        "reencoded",
    )


@query(
    "es_bulk_codec",
    """
    SELECT event_id, 0 AS line_no, 'index' AS action,
           'logs-' || event_type AS bulk_index,
           CAST(event_id AS VARCHAR) AS bulk_id,
           '{"v":' || CAST(user_id AS VARCHAR) || '}' AS source,
           CAST(user_id AS BIGINT) AS v
    FROM events
    UNION ALL
    SELECT event_id, 2, 'delete', 'old', CAST(event_id % 7 AS VARCHAR),
           NULL, NULL
    FROM events
    """,
)
def es_bulk_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-codec-es_bulk decode: an ES bulk-API NDJSON body with an
    ``index`` action + source doc followed by a sourceless ``delete``
    action, paired relationally (lead over line order within each
    request blob — one window shuffle keyed on the request id). The
    source doc round-trips through get_json_object to prove it is the
    untouched raw line."""
    from logstash_spark.operators.codec import es_bulk_decode

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    body = F.concat_ws(
        "\n",
        F.concat(
            F.lit('{"index":{"_index":"logs-'), F.col("event_type"),
            F.lit('","_id":"'), eid.cast("string"), F.lit('"}}'),
        ),
        F.concat(F.lit('{"v":'), F.col("user_id").cast("string"), F.lit("}")),
        F.concat(
            F.lit('{"delete":{"_index":"old","_id":"'),
            (eid % 7).cast("string"), F.lit('"}}'),
        ),
    )
    out = es_bulk_decode(
        ev.withColumn("body", body).select("event_id", "body"),
        "body",
        group_by=["event_id"],
    )
    return out.select(
        "event_id",
        "line_no",
        "action",
        "bulk_index",
        "bulk_id",
        "source",
        F.get_json_object("source", "$.v").cast("long").alias("v"),
    )


@query(
    "syslog_statsd_encode",
    """
    SELECT event_id,
           '<' || CAST(32 + event_id % 8 AS VARCHAR) || '>'
               || strftime(ts, '%b %d %H:%M:%S') || ' '
               || 'h' || CAST(event_id % 20 AS VARCHAR)
               || ' app[' || CAST(user_id AS VARCHAR) || ']: '
               || event_type AS syslog_line,
           'ls.' || 'h' || CAST(event_id % 20 AS VARCHAR) || '.events:'
               || CASE WHEN event_id % 2 = 0
                       THEN CAST(event_id % 100 AS VARCHAR)
                       ELSE CAST(event_id % 100 AS VARCHAR) || '.5' END
               || '|c|@0.5' AS statsd_line,
           CAST(event_id AS VARCHAR) || ',' || event_type || ',' ||
           CASE
             WHEN event_id % 13 = 0 THEN '"say ""hi"" now"'
             WHEN event_id % 7 = 0
               THEN '"v=' || CAST(event_id % 50 AS VARCHAR) || ',raw"'
             ELSE 'plain-' || CAST(event_id % 50 AS VARCHAR)
           END AS csv_line
    FROM events
    """,
)
def syslog_statsd_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logstash-output-syslog + logstash-output-statsd +
    logstash-output-csv serialization in one gate (three independent
    pure-projection columns; csv folded in from the former standalone
    `csv_codec_encode` per the r03 verdict's gate-budget advice).
    Syslog: ``<PRI>`` from facility*8+severity (severity a
    per-row column here), RFC3164 header with English month
    abbreviation, ``program[pid]:`` tag. Statsd: counter lines with the
    integral/fractional value rendering and a ``|@rate`` suffix; the
    fractional case uses a dyadic-rational (.5) so double→string agrees
    across engines. CSV: native ``to_csv`` RFC-4180 rendering whose
    crafted ``note`` field exercises all three quoting regimes —
    embedded separator (quoted), embedded double-quote (quoted +
    doubled), plain (bare) — vs an oracle building the quoting by hand."""
    from logstash_spark.operators.codec import (
        csv_encode,
        statsd_encode,
        syslog_encode,
    )

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    df = (
        ev.withColumn("sev", (eid % 8).cast("int"))
        .withColumn("host", F.concat(F.lit("h"), (eid % 20).cast("string")))
        .withColumn(
            "value",
            F.when(eid % 2 == 0, (eid % 100).cast("double")).otherwise(
                (eid % 100).cast("double") + 0.5
            ),
        )
        .withColumn("metric", F.lit("events"))
    )
    out = syslog_encode(
        df,
        facility=4,
        severity_col="sev",
        ts_col="ts",
        host_col="host",
        program="app",
        pid_col="user_id",
        message_col="event_type",
        target="syslog_line",
    )
    out = statsd_encode(
        out,
        namespace="ls",
        sender_col="host",
        metric_col="metric",
        value_col="value",
        metric_type="c",
        sample_rate=0.5,
        target="statsd_line",
    )
    note = (
        F.when(eid % 13 == 0, F.lit('say "hi" now'))
        .when(eid % 7 == 0,
              F.concat(F.lit("v="), (eid % 50).cast("string"), F.lit(",raw")))
        .otherwise(F.concat(F.lit("plain-"), (eid % 50).cast("string")))
    )
    out = csv_encode(
        out.withColumn("note", note),
        ["event_id", "event_type", "note"],
        target="csv_line",
    )
    return out.select("event_id", "syslog_line", "statsd_line", "csv_line")


@query(
    "gzip_lines_codec",
    """
    SELECT d.doc_id,
           t.ln AS line_no,
           CASE t.ln
                WHEN 0 THEN 'id:' || CAST(d.doc_id AS VARCHAR)
                WHEN 1 THEN 'md5:' || md5(d.text)
                ELSE 'lang:' || d.lang
           END AS message
    FROM documents d
    CROSS JOIN (VALUES (0), (1), (2)) AS t(ln)
    ORDER BY d.doc_id, t.ln
    """,
)
def gzip_lines_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gzip_lines decode gate (reference: logstash-codec-gzip_lines
    §decode + logstash-output-file gzip option §flush): build a 3-line
    payload per document, deflate it with the deterministic gzip_encode
    (mtime=0), inflate + line-split it back through the gzip_lines op,
    and emit (doc_id, line_no, message). The oracle recomputes the three
    lines directly — any header, inflate, or split defect breaks the
    hash. Plan shape: two Arrow pandas-UDF projections + one posexplode,
    zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    payload = F.concat_ws(
        "\n",
        F.concat(F.lit("id:"), F.col("doc_id").cast("string")),
        F.concat(F.lit("md5:"), F.md5(F.col("text"))),
        F.concat(F.lit("lang:"), F.col("lang")),
    )
    blobs = gzip_encode(
        docs.select("doc_id", payload.alias("_payload")), "_payload"
    ).drop("_payload")
    decoded = gzip_lines(blobs, "gz_blob", keep_empty=True)
    return decoded.select("doc_id", "line_no", "message").orderBy(
        "doc_id", "line_no"
    )


@query(
    "netflow_codec",
    """
    WITH flows AS (
      SELECT e.event_id, CAST(gs.i AS INT) AS flow_no,
             CAST(e.event_id % 3 + 1 AS INT) AS flow_records
      FROM events e,
           LATERAL (SELECT unnest(range(0, CAST(e.event_id % 3 + 1 AS BIGINT)))
                    AS i) gs
    )
    SELECT event_id, flow_no, flow_records,
           '10.' || CAST(event_id % 200 AS VARCHAR) || '.' ||
             CAST(flow_no AS VARCHAR) || '.' ||
             CAST(event_id % 250 AS VARCHAR) AS ipv4_src_addr,
           '192.168.' || CAST(flow_no AS VARCHAR) || '.' ||
             CAST(event_id % 254 + 1 AS VARCHAR) AS ipv4_dst_addr,
           CAST(event_id % 1000 + flow_no + 1 AS BIGINT) AS in_pkts,
           CAST((event_id % 1000 + flow_no + 1) * 64 AS BIGINT) AS in_bytes,
           CAST((1700000000 + event_id % 100000) * 1000 + event_id % 1000
                - (3600000 + event_id % 1000)
                + 3500000 + flow_no * 1000 AS BIGINT) AS first_switched_ms,
           CAST((1700000000 + event_id % 100000) * 1000 + event_id % 1000
                - (3600000 + event_id % 1000)
                + 3500000 + flow_no * 1000 + 500 AS BIGINT) AS last_switched_ms,
           CAST(1024 + event_id % 60000 AS INT) AS l4_src_port,
           CAST(CASE WHEN event_id % 2 = 0 THEN 443 ELSE 80 END AS INT)
             AS l4_dst_port,
           CAST(CASE WHEN (event_id + flow_no) % 2 = 0 THEN 27 ELSE 0 END
                AS INT) AS tcp_flags,
           CAST(CASE WHEN (event_id + flow_no) % 2 = 0 THEN 6 ELSE 17 END
                AS INT) AS protocol,
           CAST(event_id % 64000 AS INT) AS src_as,
           CAST((event_id * 7) % 64000 AS INT) AS dst_as,
           CAST(24 AS INT) AS src_mask, CAST(16 AS INT) AS dst_mask,
           CAST(event_id AS BIGINT) AS flow_seq_num,
           CAST(event_id % 4 AS INT) AS engine_id,
           CAST(1700000000 + event_id % 100000 AS BIGINT) AS unix_sec
    FROM flows
    """,
)
def netflow_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow v5 round trip (reference: logstash-codec-netflow §decode,
    Netflow5PDU): packets are assembled in PURE column algebra
    (hex-concat → unhex, zero UDF) with `event_id % 3 + 1` flow records
    each, then decoded by the numpy-vectorized `netflow_decode`
    (ONE frombuffer per Arrow batch). The oracle recomputes every header
    and flow field — dotted-quad strings, the uptime→epoch-ms
    SwitchedTime conversion, two's-complement-free unsigned widths —
    from event_id arithmetic alone. Plan: one codegen projection + one
    mapInPandas, zero shuffle."""
    from logstash_spark.operators.wire import netflow_decode, netflow_encode

    e = F.col("event_id")
    pkt = netflow_encode(
        _t(spark, sf_dir, "events").select("event_id"),
        count=(e % 3 + 1).cast("int"),
        header={
            "sys_uptime": F.lit(3_600_000) + e % 1000,
            "unix_secs": F.lit(1_700_000_000) + e % 100000,
            "unix_nsecs": (e % 1000) * 1_000_000,
            "flow_sequence": e,
            "engine_type": F.lit(1),
            "engine_id": e % 4,
        },
        record={
            "srcaddr": lambda i: F.lit(167_772_160)
            + (e % 200) * 65536 + i * 256 + e % 250,
            "dstaddr": lambda i: F.lit(3_232_235_520) + i * 256 + e % 254 + 1,
            "input": F.lit(1),
            "output": F.lit(2),
            "dPkts": lambda i: e % 1000 + i + 1,
            "dOctets": lambda i: (e % 1000 + i + 1) * 64,
            "first": lambda i: F.lit(3_500_000) + i * 1000,
            "last": lambda i: F.lit(3_500_000) + i * 1000 + 500,
            "srcport": F.lit(1024) + e % 60000,
            "dstport": F.when(e % 2 == 0, 443).otherwise(80),
            "tcp_flags": lambda i: F.when((e + i) % 2 == 0, 27).otherwise(0),
            "prot": lambda i: F.when((e + i) % 2 == 0, 6).otherwise(17),
            "src_as": e % 64000,
            "dst_as": (e * 7) % 64000,
            "src_mask": F.lit(24),
            "dst_mask": F.lit(16),
        },
    )
    out = netflow_decode(pkt, "packet")
    return out.select(
        "event_id", "flow_no", "flow_records",
        "ipv4_src_addr", "ipv4_dst_addr", "in_pkts", "in_bytes",
        "first_switched_ms", "last_switched_ms",
        "l4_src_port", "l4_dst_port", "tcp_flags", "protocol",
        "src_as", "dst_as", "src_mask", "dst_mask",
        "flow_seq_num", "engine_id", "unix_sec",
    )


_AVRO_SCHEMA = [
    ("rec_id", "long"),
    ("name", "string"),
    ("ok", "boolean"),
    ("score", "double"),
    ("note", "string?"),
]


@query(
    "avro_codec",
    """
    SELECT event_id,
           CAST(event_id * 131 - 500000 AS BIGINT) AS rec_id,
           event_type AS name,
           event_id % 2 = 0 AS ok,
           CAST(event_id AS DOUBLE) / 4.0 AS score,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE 'note-' || CAST(event_id AS VARCHAR) END AS note,
           0 AS n_tags
    FROM events
    """,
)
def avro_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro binary-datum round trip (reference: logstash-codec-avro
    §decode/§encode — one schema'd datum per event, no container file):
    zigzag-varint longs incl. negatives, UTF-8 strings, booleans,
    little-endian IEEE doubles, and the ["null","string"] union with
    branch indices. Encode → decode on the Spark side; the oracle
    recomputes the record from event arithmetic. n_tags proves no row
    grew a `_avroparsefailure` tag."""
    from logstash_spark.operators.wire import avro_decode, avro_encode

    e = F.col("event_id")
    src = _t(spark, sf_dir, "events").select(
        "event_id",
        (e * 131 - 500000).alias("rec_id"),
        F.col("event_type").alias("name"),
        (e % 2 == 0).alias("ok"),
        (e.cast("double") / 4.0).alias("score"),
        F.when(e % 5 != 0, F.concat(F.lit("note-"), e.cast("string")))
        .alias("note"),
    )
    enc = avro_encode(src, _AVRO_SCHEMA).select("event_id", "avro_datum")
    dec = avro_decode(enc, "avro_datum", _AVRO_SCHEMA)
    return dec.select(
        "event_id", "rec_id", "name", "ok", "score", "note",
        F.size("tags").cast("int").alias("n_tags"),
    )


_FLUENT_SCHEMA = [("msg", "string"), ("n", "bigint"), ("ratio", "double")]


@query(
    "fluent_codec",
    """
    SELECT event_id,
           'app.' || event_type AS fluent_tag,
           CAST(1700000000 + event_id % 86400 AS BIGINT) AS fluent_time,
           'm-' || CAST(event_id AS VARCHAR) AS msg,
           CAST(event_id * 3 AS BIGINT) AS n,
           CAST(event_id AS DOUBLE) / 8.0 AS ratio,
           0 AS n_tags
    FROM events
    """,
)
def fluent_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fluent forward-protocol round trip (reference:
    logstash-codec-fluent §decode — the msgpack triple
    [tag, time, record]): tag/time plus a record map of string, uint
    varint, and float64 values, encoded with the deterministic
    key-ordered msgpack writer and decoded back through the
    schema-pinned fluent_decode. Oracle recomputes tag/time/record from
    event arithmetic; n_tags proves zero `_fluentparsefailure`."""
    from logstash_spark.operators.wire import fluent_decode, fluent_encode

    e = F.col("event_id")
    src = _t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(F.lit("m-"), e.cast("string")).alias("msg"),
        (e * 3).alias("n"),
        (e.cast("double") / 8.0).alias("ratio"),
        F.concat(F.lit("app."), F.col("event_type")).alias("tag_src"),
    )
    enc = fluent_encode(
        src,
        ["msg", "n", "ratio"],
        tag=F.col("tag_src"),
        time=F.lit(1_700_000_000) + e % 86400,
    ).select("event_id", "fluent_msg")
    dec = fluent_decode(enc, "fluent_msg", _FLUENT_SCHEMA)
    return dec.select(
        "event_id", "fluent_tag", "fluent_time", "msg", "n", "ratio",
        F.size("tags").cast("int").alias("n_tags"),
    )


@query(
    "collectd_codec",
    """
    SELECT event_id,
           'host-' || CAST(event_id % 20 AS VARCHAR) AS host,
           'cpu' AS plugin,
           'derive' AS type,
           event_type AS type_instance,
           CAST(1700000000 + event_id % 1000 AS BIGINT) AS time_s,
           CAST(60 AS BIGINT) AS interval_s,
           'derive' AS ds_type,
           CAST((event_id * 13) % 100000 - 50000 AS BIGINT) AS value_counter
    FROM events
    """,
)
def collectd_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collectd network-protocol round trip (reference:
    logstash-codec-collectd §decode — TLV parts with sticky context,
    VALUES parts emitting events): packets are assembled in pure column
    algebra (NUL-terminated length-prefixed string parts, u64 time /
    interval parts, a signed big-endian DERIVE data source — negative
    values exercise two's complement) and decoded by the part-stream
    state machine. Oracle recomputes host/context/value from event
    arithmetic."""
    from logstash_spark.operators.wire import (
        collectd_decode,
        collectd_encode_single_derive,
    )

    e = F.col("event_id")
    pkt = collectd_encode_single_derive(
        _t(spark, sf_dir, "events").select("event_id", "event_type"),
        host=F.concat(F.lit("host-"), (e % 20).cast("string")),
        plugin=F.lit("cpu"),
        type_=F.lit("derive"),
        type_instance=F.col("event_type"),
        time_s=F.lit(1_700_000_000) + e % 1000,
        interval_s=F.lit(60),
        value=(e * 13) % 100000 - 50000,
    ).select("event_id", "packet")
    out = collectd_decode(pkt, "packet")
    return out.select(
        "event_id", "host", "plugin", "type", "type_instance",
        "time_s", "interval_s", "ds_type", "value_counter",
    )


_CT_SCHEMA = (
    "eventName STRING, awsRegion STRING, sourceIPAddress STRING, "
    "userIdentity STRUCT<type:STRING>, eventID BIGINT"
)


@query(
    "cloudtrail_codec",
    """
    SELECT e.event_id,
           CAST(gs.i AS INT) AS record_no,
           e.event_type || '-' || CAST(gs.i AS VARCHAR) AS eventName,
           'us-east-' || CAST(e.event_id % 3 + 1 AS VARCHAR) AS awsRegion,
           '10.0.' || CAST(e.event_id % 256 AS VARCHAR) || '.' ||
             CAST(gs.i AS VARCHAR) AS sourceIPAddress,
           CASE WHEN (e.event_id + gs.i) % 4 = 0 THEN 'Root'
                ELSE 'IAMUser' END AS identity_type,
           CAST(e.event_id * 10 + gs.i AS BIGINT) AS eventID
    FROM events e,
         LATERAL (SELECT unnest(range(0, 2)) AS i) gs
    """,
)
def cloudtrail_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CloudTrail delivery-blob split (reference: logstash-codec-cloudtrail
    §decode — one event per element of the Records array): the blob is
    synthesized in-query as real JSON (two records per event, nested
    userIdentity struct), decoded via ONE from_json(array<struct>) +
    posexplode — zero UDF, zero shuffle. Oracle recomputes each record's
    fields from event arithmetic without parsing JSON."""
    from logstash_spark.operators.codec import cloudtrail_decode

    e = F.col("event_id")

    def rec(i: int) -> F.Column:
        ident = F.when((e + F.lit(i)) % 4 == 0, "Root").otherwise("IAMUser")
        return F.concat(
            F.lit('{"eventName":"'), F.col("event_type"), F.lit(f"-{i}"),
            F.lit('","awsRegion":"us-east-'), (e % 3 + 1).cast("string"),
            F.lit('","sourceIPAddress":"10.0.'), (e % 256).cast("string"),
            F.lit(f'.{i}"'),
            F.lit(',"userIdentity":{"type":"'), ident, F.lit('"}'),
            F.lit(',"eventID":'), (e * 10 + i).cast("string"), F.lit("}"),
        )

    blob = F.concat(F.lit('{"Records":['), rec(0), F.lit(","), rec(1), F.lit("]}"))
    src = _t(spark, sf_dir, "events").select("event_id", blob.alias("blob"))
    out = cloudtrail_decode(src, "blob", _CT_SCHEMA)
    return out.select(
        "event_id",
        F.col("record_no").cast("int"),
        "eventName", "awsRegion", "sourceIPAddress",
        F.col("userIdentity.type").alias("identity_type"),
        "eventID",
    )


_PB_SCHEMA = [
    (1, "rec_id", "sint64"),
    (2, "name", "string"),
    (3, "ok", "bool"),
    (4, "score", "double"),
    (5, "big", "fixed64"),
]


@query(
    "protobuf_codec",
    """
    SELECT event_id,
           CAST(event_id * 7 - 30000 AS BIGINT) AS rec_id,
           event_type AS name,
           event_id % 2 = 0 AS ok,
           CAST(event_id AS DOUBLE) / 4.0 AS score,
           CAST(event_id * 1000000 + 1 AS BIGINT) AS big,
           0 AS n_tags
    FROM events
    """,
)
def protobuf_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """protobuf wire-format round trip (reference:
    logstash-codec-protobuf §decode): zigzag sint64 (negatives), UTF-8
    strings, bool varints, little-endian doubles and fixed64 — encoded
    with `emit_defaults=True` so proto3 zero-skip doesn't turn falsy
    values into nulls, decoded by the schema-driven wire reader (no
    protobuf library — the wire format is varint tags + 4 payload
    kinds). Oracle recomputes every field from event arithmetic; n_tags
    proves zero `_protobufdecodefailure`."""
    from logstash_spark.operators.wire import protobuf_decode, protobuf_encode

    e = F.col("event_id")
    src = _t(spark, sf_dir, "events").select(
        "event_id",
        (e * 7 - 30000).alias("rec_id"),
        F.col("event_type").alias("name"),
        (e % 2 == 0).alias("ok"),
        (e.cast("double") / 4.0).alias("score"),
        (e * 1_000_000 + 1).alias("big"),
    )
    enc = protobuf_encode(src, _PB_SCHEMA, emit_defaults=True).select(
        "event_id", "pb_msg"
    )
    dec = protobuf_decode(enc, "pb_msg", _PB_SCHEMA)
    return dec.select(
        "event_id", "rec_id", "name", "ok", "score", "big",
        F.size("tags").cast("int").alias("n_tags"),
    )


@query(
    "lscl_codec_pipeline",
    """
    SELECT CAST(event_id AS VARCHAR) || ',' || event_type || '-'
           || CAST(user_id AS VARCHAR) AS message
    FROM events
    """,
)
def lscl_codec_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSCL `codec =>` attributes end-to-end: events serialized to a
    json_lines TEXT file, re-ingested through a `.conf` whose file input
    declares `codec => json_lines { schema => ... }` (wire → columns),
    mutated, and written through an output whose `codec => csv` picks
    two fields — the sink table holds ONE wire-form `message` column.
    Reference: per-plugin codec config (logstash-core
    lib/logstash/config/mixin.rb) + logstash-codec-json_lines/csv."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from logstash_spark.plans.lscl import bind_input, compile_conf  # noqa: PLC0415
    from logstash_spark.plans.runner import run_pipeline  # noqa: PLC0415
    from logstash_spark.sources.tableio import SnapshotTable  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="lscl_codec_gate_")
    try:
        jdir = f"{work}/jsonl"
        ev.select(
            F.to_json(F.struct("event_id", "event_type", "user_id")).alias("value")
        ).write.text(jdir)
        conf = f"""
        input {{ file {{ path => "{jdir}"
          codec => json_lines {{
            schema => "event_id BIGINT, event_type STRING, user_id BIGINT" }} }} }}
        filter {{ mutate {{ add_field => {{ "idx" => "%{{event_type}}-%{{user_id}}" }} }} }}
        output {{ file {{ path => "enc"
          codec => csv {{ fields => ["event_id", "idx"] }} }} }}
        """
        spec, ast = compile_conf(conf, aggregate_dims=["event_type"])
        df = bind_input(spark, ast)
        run_pipeline(spark, df, spec, f"{work}/sinks", resume=False)
        out = SnapshotTable(f"{work}/sinks/enc").read(spark)
        assert out.columns == ["message"], out.columns
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "message string")


@query(
    "lscl_binary_codec",
    """
    WITH pk AS (SELECT unnest(range(0, 40)) AS p),
    fl AS (
      SELECT p, CAST(gs.i AS INT) AS flow_no,
             CAST(p % 3 + 1 AS INT) AS flow_records
      FROM pk, LATERAL (SELECT unnest(range(0, p % 3 + 1)) AS i) gs
    )
    SELECT CAST(p AS BIGINT) AS flow_seq_num, flow_no, flow_records,
           '10.0.' || CAST(p AS VARCHAR) || '.' || CAST(flow_no AS VARCHAR)
             AS ipv4_src_addr,
           '192.168.1.1' AS ipv4_dst_addr,
           CAST(p * 10 + flow_no + 1 AS BIGINT) AS in_pkts,
           CAST((p * 10 + flow_no + 1) * 64 AS BIGINT) AS in_bytes,
           CAST((1700000000 + p) * 1000 - 100000 + flow_no * 1000 AS BIGINT)
             AS first_switched_ms,
           CAST(1024 + p AS INT) AS l4_src_port,
           CAST(443 AS INT) AS l4_dst_port,
           CAST(6 AS INT) AS protocol,
           CAST(1700000000 + p AS BIGINT) AS unix_sec,
           CAST(p AS VARCHAR) || '-' || CAST(flow_no AS VARCHAR) AS flow_key,
           FALSE AS meta_leaked
    FROM fl
    """,
)
def lscl_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A BINARY wire codec end-to-end through `.conf` text (the r04
    verdict's remaining LSCL gap): 40 deterministic NetFlow v5 export
    packets are written as one-packet-per-file blobs, a conf declaring
    `input { file { codec => netflow } }` re-ingests them (binaryFile
    framing, numpy-vectorized decode), a mutate chain inside the SAME
    conf writes `[@metadata][pkt]` and sprintf-consumes it into
    `flow_key` (pinning parser-level `[@metadata]` support in conf
    text — reference Event.java §getMetadata + config/mixin.rb per-
    plugin codecs), and the decoded flows land in a file sink that must
    NOT contain the metadata column (`meta_leaked` pins that schema
    fact). The oracle re-derives every flow field from packet-index
    arithmetic alone — it never sees the bytes."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from logstash_spark.operators.common import METADATA  # noqa: PLC0415
    from logstash_spark.operators.wire import netflow_encode  # noqa: PLC0415
    from logstash_spark.plans.lscl import bind_input, compile_conf  # noqa: PLC0415
    from logstash_spark.plans.runner import run_pipeline  # noqa: PLC0415
    from logstash_spark.sources.tableio import SnapshotTable  # noqa: PLC0415

    p = F.col("id")
    pkts = netflow_encode(
        spark.range(0, 40, 1, 4),
        count=(p % 3 + 1).cast("int"),
        header={
            "sys_uptime": F.lit(3_600_000),
            "unix_secs": F.lit(1_700_000_000) + p,
            "unix_nsecs": F.lit(0),
            "flow_sequence": p,
            "engine_id": p % 4,
        },
        record={
            "srcaddr": lambda i: F.lit(167_772_160) + p * 256 + i,
            "dstaddr": F.lit(3_232_235_777),
            "dPkts": lambda i: p * 10 + i + 1,
            "dOctets": lambda i: (p * 10 + i + 1) * 64,
            "first": lambda i: F.lit(3_500_000) + i * 1000,
            "last": lambda i: F.lit(3_500_000) + i * 1000 + 500,
            "srcport": F.lit(1024) + p,
            "dstport": F.lit(443),
            "prot": F.lit(6),
        },
    ).select("id", "packet").collect()

    work = tempfile.mkdtemp(prefix="lscl_nf_gate_")
    pdir = f"{work}/packets"
    os.makedirs(pdir)
    try:
        for r in pkts:
            with open(f"{pdir}/pkt-{r['id']:04d}.nf", "wb") as fh:
                fh.write(bytes(r["packet"]))
        conf = f"""
        input {{ file {{ path => "{pdir}" codec => netflow }} }}
        filter {{
          mutate {{ add_field => {{ "[@metadata][pkt]" => "%{{flow_seq_num}}" }} }}
          mutate {{ add_field => {{
            "flow_key" => "%{{[@metadata][pkt]}}-%{{flow_no}}" }} }}
        }}
        output {{ file {{ path => "flows" }} }}
        """
        spec, ast = compile_conf(conf, aggregate_dims=["protocol"])
        df = bind_input(spark, ast)
        run_pipeline(spark, df, spec, f"{work}/sinks", resume=False)
        out = SnapshotTable(f"{work}/sinks/flows").read(spark)
        rows = out.select(
            "flow_seq_num", "flow_no", "flow_records",
            "ipv4_src_addr", "ipv4_dst_addr", "in_pkts", "in_bytes",
            "first_switched_ms", "l4_src_port", "l4_dst_port", "protocol",
            "unix_sec", "flow_key",
            F.lit(METADATA in out.columns).alias("meta_leaked"),
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "flow_seq_num bigint, flow_no int, flow_records int, "
        "ipv4_src_addr string, ipv4_dst_addr string, in_pkts bigint, "
        "in_bytes bigint, first_switched_ms bigint, l4_src_port int, "
        "l4_dst_port int, protocol int, unix_sec bigint, flow_key string, "
        "meta_leaked boolean",
    )
