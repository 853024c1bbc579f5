"""Round-13 loader optimizations: the per-(path,mtime) parquet schema
cache in tables.load_table and the lazy per-table dict behind the
relational catalog rows. Both must be behaviorally invisible: same
schema, same rows, and a changed file must never serve a stale schema.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_DIR

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


class TestSchemaCache:
    def test_matches_bare_inference(self, spark):
        """Explicit-schema read through the cache must equal the plain
        inference path for every testdata table — types and values."""
        from rigatoni_spark import tables

        for name in tables.TABLE_NAMES:
            cached = tables.load_table(spark, SF_DIR, name)
            tables.ensure_session_confs(spark)
            bare = tables.normalize_ts(
                spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet")),
                *tables._NANOS_TS_COLUMNS.get(name, []),
            )
            assert cached.schema == bare.schema, name
        # value identity on one table with a normalized ts column
        a = sorted(map(str, tables.load_table(spark, SF_DIR, "events").collect()))
        b = sorted(
            map(
                str,
                tables.normalize_ts(
                    spark.read.parquet(os.path.join(SF_DIR, "events.parquet")),
                    "ts",
                ).collect(),
            )
        )
        assert a == b

    def test_invalidates_on_file_change(self, spark, tmp_path):
        """A rewritten file (new mtime/size) must re-infer, never serve
        the stale cached schema."""
        from rigatoni_spark import tables

        d = tmp_path / "sfx"
        d.mkdir()
        dst = d / "region.parquet"
        shutil.copy(os.path.join(SF_DIR, "region.parquet"), dst)
        first = tables.load_table(spark, str(d), "region").schema
        # replace with a structurally different table
        shutil.copy(os.path.join(SF_DIR, "nation.parquet"), dst)
        os.utime(dst, ns=(1, 1))  # force a distinct mtime key
        second = tables.load_table(spark, str(d), "region").schema
        assert first != second
        assert "n_nationkey" in second.fieldNames()

    def test_cache_hit_skips_inference(self, spark, monkeypatch):
        """Second load of the same path must not re-run inference."""
        from rigatoni_spark import tables

        tables.load_table(spark, SF_DIR, "region")  # prime
        calls = {"n": 0}
        real_read = type(spark.read).parquet

        def counting(self, *paths):
            calls["n"] += 1
            return real_read(self, *paths)

        monkeypatch.setattr(type(spark.read), "parquet", counting)
        tables.load_table(spark, SF_DIR, "region")
        # one reader call for the frame itself, zero extra for inference
        assert calls["n"] == 1


class TestTsProbeCache:
    def test_probe_matches_and_caches(self, spark, tmp_path):
        """Cached ts-type probe equals a fresh probe, and a file landing
        in the directory (the feed pattern) invalidates the key."""
        import pyarrow.parquet as pq

        from rigatoni_spark.sources import change_events as ce

        d = tmp_path / "feed"
        d.mkdir()
        # empty dir: fallback, never cached
        t0 = ce._probe_ts_type(spark, str(d), None)
        assert t0.typeName().startswith("timestamp")
        # land the real events file the way feeds do (tmp + rename)
        tab = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
        tmp = tmp_path / "x.parquet"
        pq.write_table(tab, tmp)
        os.rename(tmp, d / "events.parquet")
        fresh = ce._probe_ts_type(spark, str(d), "events.parquet")
        again = ce._probe_ts_type(spark, str(d), "events.parquet")
        assert fresh == again
        # direct read agrees
        want = (
            spark.read.option("pathGlobFilter", "events.parquet")
            .parquet(str(d))
            .schema["ts"]
            .dataType
        )
        assert fresh == want

    def test_streamed_envelope_unchanged(self, spark, duck):
        """End-to-end: a stream row that goes through the cached probe
        still matches its oracle (s7_stream_hll drains the raw events
        stream twice in one process — second construction is the cache
        hit)."""
        import sys

        sys.path.insert(0, TOOLS)
        from check_oracle import value_hash

        from rigatoni_spark import catalog
        from rigatoni_spark.catalog import ORACLES

        for _ in range(2):
            sdf = catalog.QUERIES["s7_stream_hll"](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            cur = duck.execute(ORACLES["s7_stream_hll"])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            assert value_hash(srows, sdf.columns) == value_hash(orows, ocols)


class TestLazyRelTables:
    def test_loads_only_accessed_tables(self, spark, monkeypatch):
        """rel_q1 touches only lineitem; the lazy dict must not load
        the other nine tables (ten eager spark.read constructions per
        relational row was measured driver-side wall)."""
        from rigatoni_spark import catalog, tables

        loaded: list[str] = []
        real = tables.load_table

        def spy(s, sf_dir, name):
            loaded.append(name)
            return real(s, sf_dir, name)

        monkeypatch.setattr(tables, "load_table", spy)
        catalog.QUERIES["rel_q1_pricing_summary"](spark, SF_DIR)
        assert loaded == ["lineitem"]

    def test_same_table_loaded_once_per_query(self, spark, monkeypatch):
        from rigatoni_spark import catalog, tables

        loaded: list[str] = []
        real = tables.load_table

        def spy(s, sf_dir, name):
            loaded.append(name)
            return real(s, sf_dir, name)

        monkeypatch.setattr(tables, "load_table", spy)
        catalog.QUERIES["rel_q3_top_orders"](spark, SF_DIR)
        assert sorted(loaded) == ["customer", "lineitem", "orders"]

    @pytest.mark.parametrize(
        "row", ["rel_q1_pricing_summary", "rel_q9_product_profit"]
    )
    def test_rel_rows_match_oracle(self, spark, duck, row):
        """End-to-end: lazy loading + schema cache leave the relational
        results bit-identical to the DuckDB oracle."""
        import sys

        sys.path.insert(0, TOOLS)
        from check_oracle import value_hash

        from rigatoni_spark import catalog
        from rigatoni_spark.catalog import ORACLES

        sdf = catalog.QUERIES[row](spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        cur = duck.execute(ORACLES[row])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        assert len(srows) == len(orows)
        assert value_hash(srows, sdf.columns) == value_hash(orows, ocols)
