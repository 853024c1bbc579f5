"""Driver-contract guards for __spark_entry__.

The grading driver hash-compares every queries() entry against its
oracle_sql() twin and canonicalizes results in pandas — which imposes
contract rules that are easy to break one query at a time:

* every query needs an oracle (and no orphan oracles);
* oracle SQL must BIND in DuckDB against the real tables;
* final outputs must be scalar columns only — the driver's pandas
  sort_values canonicalizer dies on list/struct cells (the
  f4_update_description incident, round 2).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod

from tests.conftest import SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_NESTED = ("STRUCT", "[]", "MAP(", "LIST", "JSON")


def test_every_query_has_an_oracle_and_vice_versa():
    q, o = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    assert q == o, f"only in queries: {q - o}; only in oracles: {o - q}"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield c
    c.close()


def test_oracles_bind_and_outputs_are_scalar_only(con):
    """DESCRIBE binds each oracle without executing it; the reported
    column types must all be scalar (driver canonicalizer rule)."""
    bad: list[str] = []
    for name, sql in entry_mod.oracle_sql().items():
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: does not bind: {str(e)[:120]}")
            continue
        for col_name, col_type, *_ in cols:
            if any(tok in col_type.upper() for tok in _NESTED):
                bad.append(f"{name}.{col_name}: nested type {col_type}")
    assert not bad, "\n".join(bad)


def test_entry_flagship_runs_with_stable_schema(spark):
    df = entry_mod.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "collection", "year", "month", "day", "hour", "n_events",
    ]
    assert df.count() > 0
