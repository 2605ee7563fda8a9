"""gzip_lines codec: deterministic deflate (gzip_encode, mtime=0) and the
inflate+line-split decode path. The driver gate (queries_codec)
pins the round trip against DuckDB; these goldens cover what the gate
can't — byte-level determinism of the encoder, corrupt/null blob
handling, keep_empty, and a multi-line payload produced outside the
encoder under test.
"""

from __future__ import annotations

import gzip

from logstash_spark.operators.codec import gzip_encode, gzip_lines


class TestGzipEncode:
    def test_bytes_are_deterministic_and_stdlib_decodable(self, spark):
        df = spark.createDataFrame([(1, "alpha\nbeta")], "id long, t string")
        b1 = gzip_encode(df, "t").first()["gz_blob"]
        b2 = gzip_encode(df, "t").first()["gz_blob"]
        assert bytes(b1) == bytes(b2)  # mtime pinned → reproducible bytes
        assert gzip.decompress(bytes(b1)).decode() == "alpha\nbeta"

    def test_null_passthrough(self, spark):
        df = spark.createDataFrame([(1, None)], "id long, t string")
        assert gzip_encode(df, "t").first()["gz_blob"] is None


class TestGzipLines:
    def _blob(self, text: str) -> bytes:
        return gzip.compress(text.encode(), mtime=0)

    def test_decode_splits_lines_with_numbers(self, spark):
        df = spark.createDataFrame(
            [(1, self._blob("a\nb\nc")), (2, self._blob("solo"))],
            "id long, gz binary",
        )
        out = gzip_lines(df, "gz").orderBy("id", "line_no").collect()
        assert [(r["id"], r["line_no"], r["message"]) for r in out] == [
            (1, 0, "a"),
            (1, 1, "b"),
            (1, 2, "c"),
            (2, 0, "solo"),
        ]

    def test_keep_empty_and_trailing_newline(self, spark):
        df = spark.createDataFrame([(1, self._blob("x\n"))], "id long, gz binary")
        assert gzip_lines(df, "gz").count() == 1  # trailing '' dropped
        assert gzip_lines(df, "gz", keep_empty=True).count() == 2

    def test_corrupt_and_null_blobs_yield_no_events(self, spark):
        df = spark.createDataFrame(
            [(1, b"not gzip at all"), (2, None), (3, self._blob("ok"))],
            "id long, gz binary",
        )
        out = gzip_lines(df, "gz").collect()
        assert [(r["id"], r["message"]) for r in out] == [(3, "ok")]
