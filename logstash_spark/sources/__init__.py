"""Sources: readers + codec-equivalents (SURVEY.md §2.1–2.2).

Logstash inputs are transport; in Spark the equivalent ingress is a
table/file read whose codec becomes a parse expression. The `multiline`
codec — the only codec with cross-row state — is re-expressed as a
sessionization window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def generator(spark: SparkSession, count: int, message: str = "Hello world!") -> DataFrame:
    """logstash-input-generator (org/logstash/plugins/inputs/Generator.java):
    synthetic events at max rate — spark.range + column synthesis."""
    return (
        spark.range(count)
        .withColumn("message", F.lit(message))
        .withColumn("sequence", F.col("id"))
        .drop("id")
    )


# The multiline codec lives in operators/codec.py `multiline` (ordered
# reassembly via array_sort over (order, value) structs). An earlier
# duplicate here used an unordered collect_list and a nonexistent default
# order column — deleted rather than kept as a trap.
