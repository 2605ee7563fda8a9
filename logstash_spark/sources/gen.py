"""Deterministic synthetic `input_sequences` generator (FIXTURES.md §F1).

The authoritative input shape from BASELINE.json `input_hint`:
(doc_id string, tokens array<int32>, n_tok int32, source string), plus a
derived `raw` log line the parse stage consumes — mirroring how Logstash
receives a `message`. Pure column synthesis over spark.range: generation
itself is distributed, seed-free-deterministic (hash/modulo arithmetic,
never rand()), and embarrassingly parallel — the same generator runs at
N=1e3 for unit tests and N=1e12-row scale on a cluster (range is split
across partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "amber", "birch",
    "cedar", "dune", "ember", "flint",
]

EPOCH = "2026-01-01T00:00:00Z"

# source distribution by i mod 100 (web 55 / app 25 / syslog 10 / db 6 /
# crawler 3 / iot 1) — deliberately skewed to exercise salting + AQE.
_SOURCE_THRESHOLDS = [(55, "web"), (80, "app"), (90, "syslog"), (96, "db"), (99, "crawler")]


def input_sequences(
    spark: SparkSession, n: int, *, partitions: int | None = None
) -> DataFrame:
    """Build the F1 table; every value is a pure function of row index i."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    i = F.col("id")
    df = spark.range(0, n, 1, partitions)

    n_tok = (F.lit(16) + (i % 241)).cast("int")
    # i is pre-reduced mod the vocab so the product never exceeds
    # 50257^2 (~2.5e9): i * 2654435761 directly would overflow int64 at
    # i >= ~3.47e9 and wrap negative, far below the 1e12 target scale.
    # (a*b) % m == ((a%m)*(b%m)) % m, so values are unchanged.
    _MULT_MOD = 2654435761 % 50257
    i_red = F.pmod(i, F.lit(50257))
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda j: F.pmod(
            i_red * F.lit(_MULT_MOD) + j.cast("long") * F.lit(40503), F.lit(50257)
        ).cast("int"),
    )
    src_mod = i % 100
    source = F.lit("iot")
    for threshold, name in reversed(_SOURCE_THRESHOLDS):
        source = F.when(src_mod < threshold, F.lit(name)).otherwise(source)

    lvl_mod = i % 9
    level = (
        F.when(lvl_mod == 0, F.lit("ERROR"))
        .when(lvl_mod <= 4, F.lit("INFO"))
        .when(lvl_mod <= 6, F.lit("WARN"))
        .otherwise(F.lit("DEBUG"))
    )
    word_arr = F.array(*[F.lit(w) for w in WORDS])
    word = F.element_at(word_arr, (i % 32).cast("int") + 1)
    epoch_s = 1767225600  # 2026-01-01T00:00:00Z
    ts = F.timestamp_seconds(F.lit(epoch_s) + i)
    iso_ts = F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z"))
    host = F.concat(F.lit("h"), (i % 17).cast("string"))
    pid = (F.lit(100) + (i % 900)).cast("string")
    doc_id = F.format_string("doc-%012d", i)

    raw_full = F.concat(
        iso_ts, F.lit(" "), host, F.lit(" "), source, F.lit("["), pid, F.lit("]: doc="),
        doc_id, F.lit(" ntok="), n_tok.cast("string"), F.lit(" level="), level,
        F.lit(" msg="), word,
    )
    # ~0.5% malformed (i mod 211 == 0): truncated line → _grokparsefailure + dlq
    raw = F.when(i % 211 == 0, F.substring(raw_full, 1, 14)).otherwise(raw_full)

    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        raw.alias("raw"),
    )
