"""Empty-input robustness: every catalog query must execute (not
crash) on structurally-identical but EMPTY tables.

At 100 TB empty inputs are routine, not exotic: a partition-pruned scan
that matched nothing, a quiet CDC window, a fresh collection, a filter
that eliminated every row. Operators with driver-side probes
(vocabulary checks, centroid seeding, iterative-clustering loops) are
the risky class — this sweep pins that every one of them terminates
and returns an empty (or aggregate-identity) result instead of
raising. The empty tables are schema-copies of the real testdata
(built by conftest-independent setup below), so the read path sees the
same columns with zero rows.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SRC = SF_DIR


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_empty"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet' LIMIT 0) "
            f"TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.close()
    return d


def _names():
    import __spark_entry__

    return sorted(__spark_entry__.queries())


@pytest.mark.parametrize("name", _names())
def test_query_survives_empty_input(spark, empty_dir, name):
    import __spark_entry__

    df = __spark_entry__.queries()[name](spark, empty_dir)
    # executing (not just planning) is the point: driver-side probes
    # and iterative loops only run on action
    assert df.count() >= 0
