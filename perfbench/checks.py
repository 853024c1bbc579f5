"""Correctness checks, computed independently of the engine in DuckDB.

Each check returns the number of input events it could not account for
in the engine's output; the run's ``failed`` count and ``failed_frac``
are their sum.
"""

from __future__ import annotations

from collections import Counter

import duckdb

from rigatoni_spark.catalog import ORACLES
from tools.check_oracle import value_hash

SCD2_QUERY = "cdc_stream_scd2_reordered"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def backfill_expected(paths: list[str], files_per_trigger: int) -> list[int]:
    """Event ids the per-trigger dedup must keep: the first event (lowest
    resume token) of every key within each trigger's files. The file
    source takes ``files_per_trigger`` files per trigger in mtime order,
    which is ``paths`` order."""
    con = _connect()
    con.execute("CREATE TABLE f(path VARCHAR, trig BIGINT)")
    con.executemany(
        "INSERT INTO f VALUES (?, ?)",
        [(p, i // files_per_trigger) for i, p in enumerate(paths)],
    )
    rows = con.execute(
        """
        SELECT min(e.event_id)
        FROM read_parquet(?, filename = true) e JOIN f ON e.filename = f.path
        GROUP BY f.trig, e.user_id
        """,
        [paths],
    ).fetchall()
    return sorted(r[0] for r in rows)


def token_mismatch(expected: list[int], got: list[int]) -> int:
    """Events missing from ``got`` plus events in it that should not be
    there or appear more than once."""
    want, have = Counter(expected), Counter(got)
    return sum((want - have).values()) + sum((have - want).values())


def scd2_oracle(sf_dir: str) -> tuple[list[str], list[tuple]]:
    """The catalog's own DuckDB oracle for the reordered SCD2 drain,
    run over the same generated events."""
    con = _connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    res = con.execute(ORACLES[SCD2_QUERY])
    cols = [d[0] for d in res.description]
    return cols, [tuple(r) for r in res.fetchall()]


def scd2_mismatch(
    oracle: tuple[list[str], list[tuple]], cols: list[str], rows: list[tuple]
) -> bool:
    """True unless rows, column names and the order-insensitive value
    hash (the catalog gate's hashing) all match the oracle."""
    ocols, orows = oracle
    return not (
        len(rows) == len(orows)
        and sorted(cols) == sorted(ocols)
        and value_hash(rows, cols) == value_hash(orows, ocols)
    )
