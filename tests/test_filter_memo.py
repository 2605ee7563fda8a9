"""Filter expressions built once per SparkContext (`common.memo_columns`):
a warm build reuses the Columns of an earlier build with the same
arguments and input shape, gives the plan a cold build gives, costs few
py4j round trips, and never reuses Columns across a session restart."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

import pytest
from pyspark.sql import functions as F

from logstash_spark.operators.parse import date, grok
from logstash_spark.operators.route import add_routes


def _memo():
    from logstash_spark.operators.common import _memo

    return _memo


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().canonicalized().toString()


def _cold_and_warm(build):
    """(plan of a build on an empty cache, plan of the same build again);
    asserts that the second build hit the cache."""
    _memo().cache_clear()
    cold = _plan(build())
    hits = _memo().cache_info().hits
    warm = _plan(build())
    assert _memo().cache_info().hits > hits
    return cold, warm


def _lines(spark):
    return spark.createDataFrame(
        [
            ("GET /a 200", "1700000000", "2024-01-02T03:04:05Z",
             "Tue, 02 Jan 2024 03:04:05", "Europe/Paris"),
            ("oops", "x", "nope", "Fri, 01 Jan 2024 00:00:00", "UTC"),
            (None, None, None, None, None),
        ],
        ["msg", "epoch", "iso", "rfc", "tz"],
    )


def test_flagship_warm_build_plan_equals_cold(spark):
    from logstash_spark.plans.flagship import build_flagship
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, 200)
    cold, warm = _cold_and_warm(lambda: build_flagship(df.select("*")))
    assert cold == warm


def test_gated_chain_warm_build_plan_and_rows_equal_cold(spark):
    """`when`-gated ops (snapshots, gated sources, restore) and their
    conditions, as a `.conf` if / else-if chain compiles them."""
    from logstash_spark.plans.runner import build_plan
    from logstash_spark.plans.spec import FilterSpec, PipelineSpec

    spec = PipelineSpec(
        name="gated",
        filters=[
            FilterSpec("grok", {"match": {"msg": "%{WORD:verb} %{NOTSPACE:path}"}},
                       when='[epoch] == "1700000000"'),
            FilterSpec("dissect", {"field": "msg", "mapping": "%{a} %{b}"},
                       when='[epoch] != "1700000000"'),
            FilterSpec("date", {"field": "iso", "formats": ["ISO8601"],
                                "target": "ts"}, when="[verb]"),
        ],
        routes={"ok": '!("_grokparsefailure" in [tags])', "all": "[msg]"},
    )
    df = _lines(spark)
    cold, warm = _cold_and_warm(lambda: build_plan(df, spec))
    assert cold == warm
    _memo().cache_clear()
    cold_rows = sorted(map(str, build_plan(df, spec).collect()))
    assert sorted(map(str, build_plan(df, spec).collect())) == cold_rows


@pytest.mark.parametrize(
    "conf",
    [
        {"match": {"msg": ["%{WORD:verb} %{NOTSPACE:path} %{INT:code:int}",
                           "%{WORD:verb}"]}},
        {"field": "msg", "match": ["%{WORD:verb}", "%{WORD:verb} %{NOTSPACE:path}"],
         "break_on_match": False},
        {"field": "msg", "match": "%{WORD:verb} %{GREEDYDATA:rest}",
         "max_input_length": 8},
        {"field": "msg", "match": "%{VERB:verb} %{PATHX:path}",
         "pattern_definitions": {"VERB": "[A-Z]+", "PATHX": "/[a-z]+"}},
    ],
    ids=["match_map", "accumulate", "max_input_length", "pattern_definitions"],
)
def test_grok_warm_build_plan_and_rows_equal_cold(spark, conf):
    df = _lines(spark)
    cold, warm = _cold_and_warm(lambda: grok(df, **conf))
    assert cold == warm
    _memo().cache_clear()
    cold_rows = sorted(map(str, grok(df, **conf).collect()))
    assert sorted(map(str, grok(df, **conf).collect())) == cold_rows


@pytest.mark.parametrize(
    "field,formats,timezone",
    [
        ("epoch", ["UNIX"], None),
        ("iso", ["ISO8601"], None),
        ("rfc", ["EEE, dd MMM yyyy HH:mm:ss"], None),  # strptime fallback
        ("rfc", ["EEE, dd MMM yyyy HH:mm:ss"], "%{[tz]}"),
    ],
    ids=["unix", "iso8601", "strptime", "sprintf_timezone"],
)
def test_date_warm_build_plan_and_rows_equal_cold(spark, field, formats, timezone):
    df = _lines(spark)

    def build():
        return date(df, field, formats, target="ts", timezone=timezone)

    cold, warm = _cold_and_warm(build)
    assert cold == warm
    _memo().cache_clear()
    cold_rows = sorted(map(str, build().collect()))
    assert sorted(map(str, build().collect())) == cold_rows


def test_warm_flagship_build_makes_few_py4j_round_trips(spark):
    """A second build of one spec on a same-schema frame reuses every
    cached Column: it pays only the per-frame projections, the schema
    reads and the lookup frame (uncached, it is session data)."""
    from logstash_spark.plans.flagship import build_flagship
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, 200)
    build_flagship(df.select("*"))
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command
    builder = threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends the deletes of collected Java
        # proxies on its own schedule: not this build's round trips
        calls[0] += threading.get_ident() == builder
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        build_flagship(df.select("*"))
    finally:
        client.send_command = send
    assert calls[0] <= 300


def test_warm_cache_follows_input_shape(spark):
    """Entries are keyed on every schema-dependent choice: with the cache
    warm, a frame with or without `tags` / the date `target`, or with a
    different column type behind an `in` condition, still gets its own
    correct rows."""
    base = spark.createDataFrame([("GET x", "2024-01-02 03:04:05", "a")],
                                 ["msg", "ts_str", "k"])
    fmt = ["yyyy-MM-dd HH:mm:ss"]
    for _ in range(2):  # second pass: every build below is a cache hit
        plain = grok(base, "msg", "%{WORD:verb} %{WORD:obj}").first()
        assert plain["tags"] == [] and plain["verb"] == "GET"
        tagged = grok(
            base.withColumn("tags", F.array(F.lit("seen"))), "msg", "%{INT:n}"
        ).first()
        assert tagged["tags"] == ["seen", "_grokparsefailure"]

        no_target = date(base, "ts_str", fmt, target="when").first()
        assert str(no_target["when"]) == "2024-01-02 03:04:05"
        kept = date(
            base.withColumn("when", F.lit("2020-05-06 07:08:09")),
            "k", fmt, target="when",
        ).first()
        assert str(kept["when"]) == "2020-05-06 07:08:09"  # failed parse keeps it
        assert kept["tags"] == ["_dateparsefailure"]

        routes = {"hit": '"a" in [k]'}
        as_string = add_routes(base.withColumn("k", F.lit("xay")), routes).first()
        as_array = add_routes(
            base.withColumn("k", F.array(F.lit("b"), F.lit("a"))), routes
        ).first()
        missing = add_routes(
            base.withColumn("k", F.array(F.lit("xay"))), routes
        ).first()
        assert as_string["routes"] == ["hit"]  # substring containment
        assert as_array["routes"] == ["hit"]  # array membership
        assert missing["routes"] == []


def test_session_restart_rebuilds_columns(tmp_path):
    """A stopped SparkContext's Columns (a strptime date holds a pandas
    UDF) are never reused: grok and a strptime date run correctly in a
    second session of the same process."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        """
        from logstash_spark.operators.common import _memo
        from logstash_spark.operators.parse import date, grok
        from logstash_spark.session import get_spark

        for _ in range(2):
            spark = get_spark(master="local[1]", shuffle_partitions=1)
            df = spark.createDataFrame(
                [("GET Tue, 02 Jan 2024 03:04:05",)], ["msg"]
            )
            out = date(
                grok(df, "msg", "%{WORD:verb} %{GREEDYDATA:stamp}"),
                "stamp", ["EEE, dd MMM yyyy HH:mm:ss"], target="ts",
            ).first()
            assert out["verb"] == "GET", out
            assert str(out["ts"]) == "2024-01-02 03:04:05", out
            assert out["tags"] == [], out
            spark.stop()
        print("misses", _memo.cache_info().misses)
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=repo, env=dict(os.environ, PYTHONPATH=repo), timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    misses = int(r.stdout.strip().splitlines()[-1].split()[1])
    per_session = misses // 2
    assert misses == 2 * per_session > 0  # the second session built anew


def test_concurrent_builds_share_the_cache_safely(spark):
    """Streaming queries build their micro-batch plans on their own
    threads: builds racing on one cache each still get their own
    pattern's plan."""
    df = _lines(spark)
    patterns = [f"%{{WORD:w{i}}} %{{NOTSPACE:p{i}}}" for i in range(4)]
    _memo().cache_clear()
    want = [_plan(grok(df, "msg", p)) for p in patterns]
    wrong: list[int] = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def worker(k: int) -> None:
            for i in range(12):
                j = (i + k) % len(patterns)
                if _plan(grok(df, "msg", patterns[j])) != want[j]:
                    wrong.append(j)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
