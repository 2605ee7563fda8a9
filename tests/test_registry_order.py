"""Registry driver-sample ordering: the correctness driver samples a
bounded prefix of the registry per round, so `driver_order` must put
the verification frontier (failed / never-sampled / stale-green queries)
ahead of queries already green in the latest round. Pure-Python tests —
no Spark session."""

from __future__ import annotations

import json

from logstash_spark import queries as Q


class TestDriverHistory:
    def test_parses_latest_round_and_pass_state(self, tmp_path):
        r1 = {
            "a": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "b": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
        }
        r2 = {
            "b": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
            "c": {"rows_match": True, "schema_match": True, "hash_match": True, "err": "boom"},
        }
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
        (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r2))
        hist = Q._driver_history(str(tmp_path))
        assert hist["a"] == (1, True)
        assert hist["b"] == (2, True)  # latest round wins over the r1 fail
        assert hist["c"] == (2, False)  # err → not green

    def test_unreadable_files_are_skipped(self, tmp_path):
        (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
        assert Q._driver_history(str(tmp_path)) == {}


class TestRegistryOrder:
    def test_real_registry_frontier_first(self):
        """Against the repo's actual CORRECTNESS records: every query that
        FAILED its latest driver sample sorts before every query that was
        green in the most recent round, and never-sampled queries sort
        before stale greens."""
        hist = Q._driver_history()
        if not hist:  # no records: registration order, nothing to check
            return
        latest = max(rnd for rnd, _ in hist.values())
        names = list(Q.QUERIES)
        pos = {n: i for i, n in enumerate(names)}

        def cls(n):
            rec = hist.get(n)
            if rec is None:
                return 1
            rnd, ok = rec
            if not ok:
                return 0
            return 2 if rnd < latest else 3

        classes = [cls(n) for n in names]
        assert classes == sorted(classes), (
            "registry order must be nondecreasing in priority class"
        )
        # sanity: the two r02 reds (if still registered) lead the registry
        for red in ("token_chunking", "sequence_packing"):
            if red in pos and cls(red) == 0:
                assert pos[red] < 5

    def test_driver_order_four_classes(self):
        """failed (newest failure first) < never sampled < stale green
        (oldest round first) < green in the latest round; ties keep
        registration order."""
        names = ["g_new", "f_old", "s3", "n1", "f_new", "s1", "n2", "s1b",
                 "f_new_b"]
        hist = {
            "g_new": (5, True),
            "f_old": (2, False),
            "s3": (3, True),
            "f_new": (4, False),
            "s1": (1, True),
            "s1b": (1, True),
            "f_new_b": (4, False),
        }
        assert Q.driver_order(names, hist) == [
            "f_new", "f_new_b", "f_old",   # failures, most recent first
            "n1", "n2",                    # never sampled
            "s1", "s1b", "s3",             # stale greens, oldest round first
            "g_new",                       # green in the latest round
        ]

    def test_driver_order_empty_history_is_registration_order(self):
        names = ["c", "a", "b"]
        assert Q.driver_order(names, {}) == names
        # names absent from the registry do not matter
        assert Q.driver_order(names, {"zz": (3, False)}) == names

    def test_queries_and_oracles_share_order(self):
        assert list(Q.QUERIES) == [n for n in Q.QUERIES if n in Q.ORACLES]
        assert list(Q.ORACLES) == list(Q.QUERIES)


def test_registry_order_independent_of_import_order(tmp_path):
    """Importing any `queries*` module first must give the same registry
    as importing `queries`: the gate modules only mark their gates, and
    `queries` assembles and orders them in one place. The package runs
    from a copy whose only CORRECTNESS record says fold gate
    `image_pipeline` failed; it must lead the registry whichever module
    is imported first. One fresh interpreter per module."""
    import os
    import shutil
    import subprocess
    import sys

    pkg = os.path.dirname(Q.__file__)
    shutil.copytree(
        pkg, tmp_path / "logstash_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"image_pipeline": {"err": "boom"}})
    )

    def registry(first: str) -> list[str] | str:
        """The registry after importing `first`, or the error tail."""
        probe = (
            f"import {first}\n"
            "from logstash_spark.queries import ORACLES, QUERIES\n"
            "assert list(ORACLES) == list(QUERIES)\n"
            "print('\\n'.join(QUERIES))\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe],
            cwd=tmp_path, capture_output=True, text=True, timeout=300,
        )
        if out.returncode != 0:
            return out.stderr.strip().splitlines()[-1]
        return out.stdout.split()

    via_queries = registry("logstash_spark.queries")
    assert isinstance(via_queries, list), via_queries
    assert via_queries[0] == "image_pipeline"
    assert "image_header_meta" not in via_queries  # folded into it
    modules = sorted(
        f[:-3] for f in os.listdir(pkg) if f.startswith("queries") and f.endswith(".py")
    )
    assert "queries_folds" in modules and "queries_common" in modules
    differ = {}
    for mod in modules:
        got = registry(f"logstash_spark.{mod}")
        if got != via_queries:
            differ[mod] = got if isinstance(got, str) else "another order"
    assert not differ, differ
