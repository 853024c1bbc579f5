"""Tests of the benchmark's own generator and correctness checks.

    python3 -m pytest perfbench -q

No Spark session is needed: the checks run in DuckDB and are exercised
here on generated feeds and deliberately corrupted outputs.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402

SMALL = gen.FeedSpec(n_files=6, rows_per_file=100)


def _read_all(paths):
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.write_feed(SMALL, 7, str(tmp_path / "a"))
    b = gen.write_feed(SMALL, 7, str(tmp_path / "b"))
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert _read_all(a) == _read_all(b)
    assert [os.stat(p).st_mtime_ns for p in a] == [os.stat(p).st_mtime_ns for p in b]


def test_other_seed_gives_other_files(tmp_path):
    a = gen.write_feed(SMALL, 7, str(tmp_path / "a"))
    b = gen.write_feed(SMALL, 8, str(tmp_path / "b"))
    assert all(x != y for x, y in zip(_read_all(a), _read_all(b)))


def test_mtimes_strictly_increase_in_file_order(tmp_path):
    paths = gen.write_feed(SMALL, 7, str(tmp_path))
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))


def test_feed_follows_the_spec():
    spec = gen.FeedSpec(n_files=2, rows_per_file=1000)
    t = gen.make_table(spec, 3)
    assert t.schema == gen.SCHEMA
    assert t.num_rows == 2000
    assert spec.keys == 30  # the testdata's 66.7 events per key
    assert set(t.column("user_id").to_pylist()) == set(range(30))
    assert set(t.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    span_h = (ts[-1] - ts[0]).total_seconds() / 3600
    assert 0.95 * gen.SPAN_HOURS < span_h <= gen.SPAN_HOURS
    props = t.column("props").to_pylist()
    assert set(props) <= {f'{{"k": {k}}}' for k in range(100)}


def _python_backfill_expected(paths, per_trigger):
    keep = []
    for i in range(0, len(paths), per_trigger):
        first = {}
        for p in paths[i : i + per_trigger]:
            t = pq.read_table(p)
            for eid, uid in zip(t.column("event_id").to_pylist(), t.column("user_id").to_pylist()):
                first[uid] = min(eid, first.get(uid, eid))
        keep += first.values()
    return sorted(keep)


def test_backfill_expectation_is_per_trigger_first_event(tmp_path):
    paths = gen.write_feed(SMALL, 5, str(tmp_path))
    expected = checks.backfill_expected(paths, 2)
    assert expected == _python_backfill_expected(paths, 2)
    # keys repeat across triggers, so per-trigger dedup keeps more than
    # one event per key overall
    assert len(expected) > SMALL.keys


def test_backfill_check_catches_corrupted_output(tmp_path):
    paths = gen.write_feed(SMALL, 5, str(tmp_path))
    expected = checks.backfill_expected(paths, 2)
    assert checks.token_mismatch(expected, list(expected)) == 0
    assert checks.token_mismatch(expected, expected[1:]) == 1  # lost
    assert checks.token_mismatch(expected, expected + expected[:1]) == 1  # twice
    wrong = [*expected[:-1], expected[-1] + 1]  # a later duplicate kept
    assert checks.token_mismatch(expected, wrong) == 2


def _sf_dir(tmp_path, seed):
    sf = tmp_path / "sf"
    sf.mkdir()
    spec = gen.FeedSpec(n_files=1, rows_per_file=300)
    pq.write_table(gen.make_table(spec, seed), str(sf / "events.parquet"))
    return str(sf)


def test_scd2_check_accepts_the_oracle_and_catches_corruption(tmp_path):
    oracle = checks.scd2_oracle(_sf_dir(tmp_path, 9))
    cols, rows = oracle
    assert rows, "the generated feed must produce SCD2 history"
    assert not checks.scd2_mismatch(oracle, list(cols), list(rows))
    # same rows in another order and column order: still a match
    perm = list(reversed(range(len(cols))))
    assert not checks.scd2_mismatch(
        oracle, [cols[i] for i in perm], [tuple(r[i] for i in perm) for r in reversed(rows)]
    )
    assert checks.scd2_mismatch(oracle, list(cols), rows[1:])  # row lost
    bad = list(rows)
    i = cols.index("document_key")
    bad[0] = tuple("corrupt" if j == i else v for j, v in enumerate(bad[0]))
    assert checks.scd2_mismatch(oracle, list(cols), bad)  # value changed
