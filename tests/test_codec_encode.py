"""Output-side codecs: csv / syslog (RFC3164) / statsd serialization.

The driver gates (queries_codec) pin the common paths against
DuckDB; these unit goldens cover the option surface the gates omit —
custom csv separator, pid-less syslog tag with a literal severity,
statsd without sender or sample_rate, gauge type.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_spark.operators.codec import csv_encode, statsd_encode, syslog_encode


class TestCsvEncode:
    def test_custom_separator_quotes_separator_not_comma(self, spark):
        df = spark.createDataFrame(
            [(1, "a,b", "x|y"), (2, "plain", "p")], "id long, u string, v string"
        )
        out = csv_encode(df, ["id", "u", "v"], separator="|", target="line")
        got = {r["id"]: r["line"] for r in out.collect()}
        # with '|' as separator, the comma needs no quoting but '|' does
        assert got[1] == '1|a,b|"x|y"'
        assert got[2] == "2|plain|p"

    def test_null_field_renders_empty(self, spark):
        df = spark.createDataFrame([(1, None)], "id long, u string")
        out = csv_encode(df, ["id", "u"], target="line")
        assert out.first()["line"] == "1,"


class TestSyslogEncode:
    def test_literal_severity_no_pid(self, spark):
        df = spark.createDataFrame(
            [("host1", "boot ok")], "host string, message string"
        ).withColumn("ts", F.to_timestamp(F.lit("2026-08-05 07:08:09")))
        out = syslog_encode(
            df, facility=0, severity=6, host_col="host", program="kernel"
        )
        assert (
            out.first()["syslog_line"]
            == "<6>Aug 05 07:08:09 host1 kernel: boot ok"
        )

    def test_pri_composition(self, spark):
        # facility 23 (local7), severity 3 (err) -> PRI 187
        df = spark.createDataFrame([("h", "m")], "host string, message string")
        df = df.withColumn("ts", F.to_timestamp(F.lit("2026-01-02 03:04:05")))
        out = syslog_encode(df, facility=23, severity=3, host_col="host")
        assert out.first()["syslog_line"].startswith("<187>Jan 02 03:04:05 h ")


class TestStatsdEncode:
    def test_counter_minimal(self, spark):
        df = spark.createDataFrame([("hits", 3.0)], "metric string, value double")
        out = statsd_encode(df, namespace="ns")
        assert out.first()["statsd_line"] == "ns.hits:3|c"

    def test_gauge_fractional_with_sender(self, spark):
        df = spark.createDataFrame(
            [("web1", "load", 1.5)], "sender string, metric string, value double"
        )
        out = statsd_encode(
            df, namespace="ls", sender_col="sender", metric_type="g"
        )
        assert out.first()["statsd_line"] == "ls.web1.load:1.5|g"

    def test_sample_rate_suffix(self, spark):
        df = spark.createDataFrame([("m", 2.0)], "metric string, value double")
        out = statsd_encode(df, sample_rate=0.1)
        assert out.first()["statsd_line"] == "logstash.m:2|c|@0.1"
