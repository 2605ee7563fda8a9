"""Seeded inputs for the three workloads.

The seed is the only source of variation: the same seed gives the same
rows. The program sees only the staged files.

* flagship rows are `sources.gen.input_sequences` rows. That generator is
  a pure function of the row index, so the seed picks which rows of a
  4x larger index range are kept (a seeded hash of `doc_id`).
* conf lines are a seeded mix of Apache combined (50 %), syslog (30 %)
  and `key=value` app lines (20 %), with a few malformed lines of each
  kind so the grok, date and dissect failure paths carry rows.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

POOL_FACTOR = 4
CONF_FILES = 8  # one Spark input split each


def stage_flagship(spark, n: int, seed: int, out_dir: str, files: int) -> int:
    """Write ~n `input_sequences` rows chosen by `seed` as `files` parquet
    files. Returns the exact row count written."""
    from pyspark.sql import functions as F

    from logstash_spark.sources.gen import input_sequences

    pool = input_sequences(spark, n * POOL_FACTOR)
    df = pool.where(
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(POOL_FACTOR)) == 0
    )
    df.coalesce(files).write.mode("overwrite").parquet(out_dir)
    return int(pq.ParquetDataset(out_dir).read(columns=["n_tok"]).num_rows)


_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_DAYS_IN = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
_WORDS = ["alpha", "bravo", "cedar", "delta", "ember", "flint", "golf",
          "hotel", "india", "kilo", "lima", "mike", "oscar", "papa"]
_VERBS = ["GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD"]
_STATUS = [200, 200, 200, 200, 301, 304, 404, 500]
_AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) Safari/605.1.15",
    "curl/8.5.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]
_PROGS = ["sshd", "cron", "kernel", "systemd", "postfix"]
_APPS = ["billing", "search", "auth", "cart"]


def _apache(r: random.Random) -> str:
    m = r.randrange(12)
    day = r.randint(1, _DAYS_IN[m])
    if r.random() < 0.01 and _DAYS_IN[m] == 30:
        day = 31  # passes grok, fails the date filter
    path = "/" + "/".join(r.choice(_WORDS) for _ in range(r.randint(1, 3)))
    size = str(r.randint(0, 50000)) if r.random() < 0.9 else "-"
    ref = f'"https://{r.choice(_WORDS)}.example.com/"' if r.random() < 0.7 else '"-"'
    line = (
        f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)} - "
        f"{r.choice(_WORDS) if r.random() < 0.3 else '-'} "
        f"[{day:02d}/{_MONTHS[m]}/2025:{r.randrange(24):02d}:{r.randrange(60):02d}:"
        f"{r.randrange(60):02d} +0000] "
        f'"{r.choice(_VERBS)} {path}.html HTTP/1.1" {r.choice(_STATUS)} {size} '
        f'{ref} "{r.choice(_AGENTS)}"'
    )
    if r.random() < 0.02:
        line = line[: r.randint(10, len(line) - 1)]  # truncated: grok failure
    return line


def _syslog(r: random.Random) -> str:
    month = _MONTHS[r.randrange(12)] if r.random() >= 0.02 else "Xyz"  # grok failure
    day = r.randint(1, 28)
    prog = r.choice(_PROGS)
    pid = f"[{r.randint(100, 32000)}]" if r.random() < 0.8 else ""
    msg = " ".join(r.choice(_WORDS) for _ in range(r.randint(2, 8)))
    return (
        f"{month} {day:>2} {r.randrange(24):02d}:{r.randrange(60):02d}:"
        f"{r.randrange(60):02d} host{r.randrange(40)} {prog}{pid}: {msg}"
    )


def _app(r: random.Random) -> str:
    month = r.randint(1, 12) if r.random() >= 0.01 else 13  # date failure
    ts = (
        f"2026-{month:02d}-{r.randint(1, 28):02d}T{r.randrange(24):02d}:"
        f"{r.randrange(60):02d}:{r.randrange(60):02d}Z"
    )
    if r.random() < 0.01:
        return ts  # no app / kv fields: dissect failure
    kvs = " ".join(
        f"{r.choice(_WORDS)}={r.randint(0, 9999)}" for _ in range(r.randint(1, 5))
    )
    return f"{ts} {r.choice(_APPS)} {kvs}"


def conf_lines(n: int, seed: int) -> tuple[list[str], list[str]]:
    """(type, message) columns of n seeded lines."""
    r = random.Random(seed)
    types, messages = [], []
    for _ in range(n):
        u = r.random()
        if u < 0.5:
            types.append("apache")
            messages.append(_apache(r))
        elif u < 0.8:
            types.append("syslog")
            messages.append(_syslog(r))
        else:
            types.append("app")
            messages.append(_app(r))
    return types, messages


def stage_conf(n: int, seed: int, out_dir: str) -> int:
    """Write n seeded conf lines as CONF_FILES parquet files. Returns n."""
    types, messages = conf_lines(n, seed)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // CONF_FILES)
    for i in range(CONF_FILES):
        part = slice(i * step, (i + 1) * step)
        table = pa.table({"type": types[part], "message": messages[part]})
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return n
