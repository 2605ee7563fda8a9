from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from logstash_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="logstash_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def parquet_codecs():
    """`codecs(root)`: each parquet file under `root`, by its path
    relative to `root`, mapped to the set of compression codecs of its
    column chunks, read from the file's footer."""
    import os

    import pyarrow.parquet as pq

    def codecs(root) -> dict[str, set[str]]:
        out = {}
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(d, n)).metadata
                    out[os.path.relpath(os.path.join(d, n), root)] = {
                        md.row_group(g).column(c).compression
                        for g in range(md.num_row_groups)
                        for c in range(md.num_columns)
                    }
        return out

    return codecs
