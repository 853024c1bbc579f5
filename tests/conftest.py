from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a clone or a scratch copy
# tests its own code
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR = os.environ.get("RIGATONI_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from rigatoni_spark.session import get_spark

    s = get_spark(app_name="rigatoni_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def change_events(spark):
    from rigatoni_spark.sources.change_events import read_change_events

    return read_change_events(spark, SF_DIR).cache()
