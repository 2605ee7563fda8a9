"""Independent DuckDB oracle: expected rows per sink from the staged
input, actual rows per sink from the files a pass wrote.

The expected side re-derives each pipeline in SQL from the raw input
(regexes written here, not taken from the program's grok library), so a
wrong parse, tag, route or a lost or duplicated row shows as a count
mismatch. The actual side reads the written parquet files directly,
never through Spark or the program's own counters.
"""

from __future__ import annotations

import os

import duckdb

FLAGSHIP_SINKS = ["sink_errors", "sink_edge", "sink_service", "sink_rest", "dlq"]
CONF_SINKS = ["failures", "web", "ops"]

# the flagship grok pattern, written out as an RE2 regex
_FLAGSHIP_RE = (
    r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z \w+ \w+\[\d+\]: doc=\S+ ntok=\d+ "
    r"level=(\w+) msg=\w+"
)


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet").replace("'", "''")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def flagship_expected(input_dir: str) -> dict[str, int]:
    """Per-sink counts for the flagship routes (plans.flagship.ROUTES)
    over `input_sequences` rows: grok failures go to dlq and
    sink_errors; translate maps source to a class, `iot` falls back."""
    sql = f"""
    WITH p AS (
      SELECT source,
             regexp_matches(raw, {_sql_str(_FLAGSHIP_RE)}) AS ok,
             nullif(regexp_extract(raw, {_sql_str(_FLAGSHIP_RE)}, 1), '') AS level
      FROM read_parquet('{_glob(input_dir)}')
    ), c AS (
      SELECT ok, CASE WHEN ok THEN level END AS level,
             CASE source WHEN 'web' THEN 'edge' WHEN 'app' THEN 'service'
                         WHEN 'syslog' THEN 'infra' WHEN 'db' THEN 'infra'
                         WHEN 'crawler' THEN 'batch' ELSE 'unknown' END AS cls
      FROM p
    ), r AS (
      SELECT coalesce(level = 'ERROR', false) OR NOT ok AS sink_errors,
             cls = 'edge' AND level IS DISTINCT FROM 'DEBUG' AS sink_edge,
             cls = 'service' AS sink_service,
             NOT (cls = 'edge' AND level IS DISTINCT FROM 'DEBUG')
               AND NOT cls = 'service' AS sink_rest,
             NOT ok AS dlq
      FROM c
    )
    SELECT {", ".join(f"count(*) FILTER (WHERE {s})" for s in FLAGSHIP_SINKS)} FROM r
    """
    row = duckdb.sql(sql).fetchone()
    return dict(zip(FLAGSHIP_SINKS, map(int, row)))


# structural regexes for the three line kinds (grok is unanchored, so
# these are too)
_APACHE_RE = (
    r"\S+ \S+ \S+ \[(\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4})\] "
    r'"[^"]*" \d{3} (?:\d+|-) "[^"]*" "[^"]*"'
)
_SYSLOG_RE = (
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) +(\d{1,2}) "
    r"\d{2}:\d{2}:\d{2} \S+ [\w.-]+(?:\[\d+\])?: "
)


def conf_expected(input_dir: str) -> dict[str, int]:
    """Per-sink counts for the conf workload: `failures` takes every line
    with a grok, date or dissect failure; of the rest, Apache lines go
    to `web` and the others to `ops`."""
    sql = f"""
    WITH t AS (
      SELECT type, message FROM read_parquet('{_glob(input_dir)}')
    ), f AS (
      SELECT type,
        CASE type
          WHEN 'apache' THEN NOT regexp_matches(message, {_sql_str(_APACHE_RE)})
            OR try_strptime(regexp_extract(message, {_sql_str(_APACHE_RE)}, 1),
                            '%d/%b/%Y:%H:%M:%S %z') IS NULL
          WHEN 'syslog' THEN NOT regexp_matches(message, {_sql_str(_SYSLOG_RE)})
            OR NOT coalesce(TRY_CAST(regexp_extract(message, {_sql_str(_SYSLOG_RE)}, 1) AS INT)
                   BETWEEN 1 AND 31, false)
          ELSE NOT regexp_matches(message, '^\\S+ \\S+ .')
            OR try_strptime(split_part(message, ' ', 1), '%Y-%m-%dT%H:%M:%SZ') IS NULL
        END AS failed
      FROM t
    )
    SELECT count(*) FILTER (WHERE failed),
           count(*) FILTER (WHERE NOT failed AND type = 'apache'),
           count(*) FILTER (WHERE NOT failed AND type <> 'apache')
    FROM f
    """
    row = duckdb.sql(sql).fetchone()
    return dict(zip(CONF_SINKS, map(int, row)))


def table_counts(sinks_root: str, sinks: list[str]) -> dict[str, int]:
    """Rows per sink of a `run_pipeline` output: every parquet file under
    `<sinks_root>/<sink>/data/`. A sink with no files counts 0 rows."""
    out = {}
    for s in sinks:
        files = sink_files(os.path.join(sinks_root, s, "data"))
        out[s] = (
            int(duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0])
            if files else 0
        )
    return out


def partition_counts(sinks_root: str, sinks: list[str]) -> dict[str, int]:
    """Rows per `sink=` partition of a `run_streaming_fanout` output."""
    out = {s: 0 for s in sinks}
    files = sink_files(sinks_root)
    if files:
        rows = duckdb.sql(
            f"SELECT sink, count(*) FROM read_parquet({files!r}, "
            "hive_partitioning = true) GROUP BY sink"
        ).fetchall()
        out.update({s: int(c) for s, c in rows})
    return out


def sink_files(root: str) -> list[str]:
    """All parquet data files under `root`."""
    found = []
    for d, _, names in os.walk(root):
        found.extend(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return sorted(found)


def mismatches(expected: dict[str, int], actual: dict[str, int]) -> list[str]:
    """Human-readable differences; empty when the pass is correct."""
    return [
        f"{s}: expected {expected[s]}, got {actual.get(s)}"
        for s in expected
        if actual.get(s) != expected[s]
    ] + [f"{s}: unexpected sink" for s in actual if s not in expected]
