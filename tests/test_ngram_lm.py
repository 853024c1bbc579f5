"""Stupid-backoff trigram LM: hand-computed pins on a 2-doc corpus
(every count small enough to verify on paper), plus the pruning knob
and the corpus-scale plan shape."""

from __future__ import annotations

import pytest

from rigatoni_spark.llm import ngram_lm
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def tiny(spark):
    # d0: a b a b c   d1: a b a
    # unigrams a:4 b:3 c:1 (N=8); bigrams (a,b):3 (b,a):2 (b,c):1,
    # contexts a:3 b:3; trigrams (a,b,a):2 (b,a,b):1 (a,b,c):1,
    # contexts (a,b):3 (b,a):1
    return spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b a")], "doc_id bigint, text string"
    )


def test_count_tables(tiny):
    tri, bi, uni = ngram_lm.lm_count_tables(tiny)
    tri_rows = {
        (r["t2"], r["t1"], r["t"]): (r["c3"], r["cx3"]) for r in tri.collect()
    }
    assert tri_rows == {
        ("a", "b", "a"): (2, 3),
        ("b", "a", "b"): (1, 1),
        ("a", "b", "c"): (1, 3),
    }
    bi_rows = {(r["t1"], r["t"]): (r["c2"], r["cx2"]) for r in bi.collect()}
    assert bi_rows == {
        ("a", "b"): (3, 3),
        ("b", "a"): (2, 3),
        ("b", "c"): (1, 3),
    }
    uni_rows = {r["t"]: r["c1"] for r in uni.collect()}
    assert uni_rows == {"a": 4, "b": 3, "c": 1}


def test_top_trigrams_order_and_score(tiny):
    rows = ngram_lm.lm_top_trigrams(tiny).collect()
    assert [(r["t2"], r["t1"], r["t"]) for r in rows] == [
        ("a", "b", "a"),  # c3=2 first
        ("a", "b", "c"),  # c3=1 ties break on (t2, t1, t)
        ("b", "a", "b"),
    ]
    assert rows[0]["score_x1m"] == 2 * ngram_lm.SCALE // 3  # 666666
    assert rows[2]["score_x1m"] == ngram_lm.SCALE  # 1/1


def test_surprisal_hand_pin(tiny):
    # d0: 80000 (uni a) + 400000 (bi a->b) + 666666 (tri aba)
    #     + 1000000 (tri bab) + 333333 (tri abc) = 2479999 // 5
    # d1: 80000 + 400000 + 666666 = 1146666 // 3
    rows = {r["doc_id"]: r for r in ngram_lm.lm_surprisal(tiny).collect()}
    assert (rows[0]["n_scored"], rows[0]["lm_score_x1m"]) == (5, 495999)
    assert (rows[1]["n_scored"], rows[1]["lm_score_x1m"]) == (3, 382222)


def test_gate_bands(tiny):
    # corpus mean = (495999 + 382222) // 2 = 439110:
    # d0 >= mean -> head; d1 in [mean/2, mean) -> middle
    rows = {r["doc_id"]: r["band"] for r in ngram_lm.lm_gate(tiny).collect()}
    assert rows == {0: "head", 1: "middle"}


def test_prune_min_backs_off(tiny):
    # prune_min=2 drops every trigram except (a,b,a) and every bigram
    # except (a,b)/(b,a); positions that lost their trigram fall to the
    # bigram path, e.g. d0 pos4 'b' after (b,a): trigram (b,a,b) pruned
    # -> 0.4 * c2(a,b)/cx2(a) ... context totals stay full-corpus
    rows = {
        r["doc_id"]: r
        for r in ngram_lm.lm_surprisal(tiny, prune_min=2).collect()
    }
    # d0: 80000 (uni a, c1=4 survives) + 400000 (bi a->b)
    #     + 666666 (tri aba survives) + 266666 (bi b->a? no: pos4 is
    #     'b' with t1='a': bi (a,b) c2=3 cx2=3 -> 400000*0.4? no —
    #     bigram path is 0.4 * ratio = (4*1000000)//10 = 400000)
    #     + pos5 'c': tri abc pruned, bi (b,c) pruned, uni c pruned ->
    #     (16 * ((0 * SCALE) // 8)) // 100 = 0
    assert rows[0]["lm_score_x1m"] == (80000 + 400000 + 666666 + 400000 + 0) // 5
    assert rows[1]["lm_score_x1m"] == (80000 + 400000 + 666666) // 3


def test_corpus_run_shapes(spark):
    from rigatoni_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = ngram_lm.lm_surprisal(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r["lm_score_x1m"] >= 0 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_merge_counts_equals_retrain(tiny):
    # split by doc: (a,b,c) exists ONLY in d0's model, but d1 still
    # contributes (a,b,a) to the (a,b) context — the merged cx3 must be
    # the FULL context total (3), not d0's replicated 2 (the row-wise
    # merge bug this test pins)
    d0 = tiny.filter("doc_id = 0")
    d1 = tiny.filter("doc_id = 1")
    merged = ngram_lm.lm_merge_counts(
        ngram_lm.lm_count_tables(d0), ngram_lm.lm_count_tables(d1)
    )
    whole = ngram_lm.lm_count_tables(tiny)
    for got_df, want_df, keys in zip(
        merged, whole, (["t2", "t1", "t"], ["t1", "t"], ["t"])
    ):
        got = {
            tuple(r[k] for k in keys): tuple(
                r[c] for c in sorted(set(got_df.columns) - set(keys))
            )
            for r in got_df.collect()
        }
        want = {
            tuple(r[k] for k in keys): tuple(
                r[c] for c in sorted(set(want_df.columns) - set(keys))
            )
            for r in want_df.collect()
        }
        assert got == want


def test_artifact_roundtrip_equals_inline(tiny, tmp_path):
    """lm_save -> lm_load -> score == inline lm_surprisal (the catalog
    row pins the same equality cross-engine vs the DuckDB oracle)."""
    inline = sorted(map(tuple, ngram_lm.lm_surprisal(tiny).collect()))
    via_artifact = sorted(
        map(
            tuple,
            ngram_lm.lm_surprisal_artifact(
                tiny, tiny.sparkSession, str(tmp_path / "model")
            ).collect(),
        )
    )
    assert via_artifact == inline

    # the artifact is four self-contained parquet tables: a fresh
    # lm_load sees the same counts lm_count_tables trains
    tri, bi, uni, total = ngram_lm.lm_load(
        tiny.sparkSession, str(tmp_path / "model")
    )
    assert total.collect()[0]["n_total"] == 8
    assert {
        (r["t2"], r["t1"], r["t"]): (r["c3"], r["cx3"])
        for r in tri.collect()
    } == {
        ("a", "b", "a"): (2, 3),
        ("b", "a", "b"): (1, 1),
        ("a", "b", "c"): (1, 3),
    }


def test_artifact_pruned_save(tiny, tmp_path):
    """prune_min rides into the artifact: rare grams are absent from
    the saved tables, context totals stay full-corpus."""
    ngram_lm.lm_save(tiny, str(tmp_path / "m2"), prune_min=2)
    tri, bi, uni, total = ngram_lm.lm_load(
        tiny.sparkSession, str(tmp_path / "m2")
    )
    tri_rows = {
        (r["t2"], r["t1"], r["t"]): (r["c3"], r["cx3"])
        for r in tri.collect()
    }
    # only (a,b,a) survives c3>=2; its context total stays 3 (full)
    assert tri_rows == {("a", "b", "a"): (2, 3)}
    assert {r["t"]: r["c1"] for r in uni.collect()} == {"a": 4, "b": 3}
    assert total.collect()[0]["n_total"] == 8


def test_streaming_surprisal_requires_batch_train(spark, tmp_path):
    """lm_surprisal on a stream must fail FAST with a pointer to
    lm_surprisal_stream — not die deep in _trained_tables with an
    AnalysisException (round-12 advice #1); and lm_surprisal_stream
    must reject a STREAMING training corpus the same way."""
    import os

    feed = tmp_path / "docs"
    os.makedirs(feed)
    batch = spark.createDataFrame(
        [(0, "a b a")], "doc_id bigint, text string"
    )
    batch.write.parquet(str(feed / "p"))
    sdf = spark.readStream.schema("doc_id bigint, text string").parquet(
        str(feed / "p")
    )
    with pytest.raises(TypeError, match="lm_surprisal_stream"):
        ngram_lm.lm_surprisal(sdf)
    with pytest.raises(TypeError, match="batch DataFrame"):
        ngram_lm.lm_surprisal_stream(sdf, train_docs=sdf)


def test_stream_surprisal_tables_out_lifecycle(tiny):
    """lm_surprisal_stream hands the persisted model tables to the
    caller (round-12 advice #2): every handle arrives cached — keeping
    its ACCURATE InMemoryRelation size stats so the per-trigger
    stream-static joins auto-broadcast (round-13 measurement: severed
    lineage demoted them to shuffles) — and can be unpersisted after a
    bounded drain, no session-lifetime leak."""
    handles: list = []
    scored = ngram_lm.lm_surprisal_stream(tiny, tiny, tables_out=handles)
    assert len(handles) == 3  # tri, bi, shared unigram rollup
    assert all(t.is_cached for t in handles)
    # scoring through the handles matches inline training
    got = {r["doc_id"]: r["lm_score_x1m"] for r in scored.collect()}
    want = {
        r["doc_id"]: r["lm_score_x1m"]
        for r in ngram_lm.lm_surprisal(tiny).collect()
    }
    assert got == want
    for t in handles:
        t.unpersist()
    assert not any(t.is_cached for t in handles)


def test_trained_tables_fold_total_into_rollup(tiny):
    """Round-11 ask #7: n_total rides the unigram ROLLUP instead of its
    own aggregation — materializing a model persists/counts exactly 3
    handles, and the total table reads the CACHED rollup (its plan is
    an InMemoryTableScan, not a fresh corpus aggregation)."""
    rows = ngram_lm._position_rows(tiny)
    (tri, bi, uni, total), handles, model_rows = ngram_lm._trained_tables(
        rows
    )
    try:
        assert len(handles) == 3
        # the probe is the LARGEST materialized handle's row count
        assert model_rows == max(h.count() for h in handles)
        for plan_df in (uni, total):
            plan = plan_df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
        assert total.collect()[0]["n_total"] == 8
        assert {r["t"]: r["c1"] for r in uni.collect()} == {
            "a": 4,
            "b": 3,
            "c": 1,
        }
    finally:
        for t in handles:
            t.unpersist()


def test_empty_training_corpus_keeps_per_doc_rows(spark, tiny, tmp_path):
    """Round-13 ADVICE pin: `total` must stay exactly ONE row even on
    an EMPTY training corpus (rollup over empty input yields zero
    groups, grand-total included). _score_with_model cross-joins
    broadcast(total), so a zero-row total would silently erase every
    per-doc score row; with the 1-row n_total=0 coalesce, scoring
    returns one row per document with a NULL score, and lm_save
    writes a 1-row total artifact part."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    path = str(tmp_path / "empty_lm")
    ngram_lm.lm_save(empty, path)
    tri, bi, uni, total = ngram_lm.lm_load(spark, path)
    assert [r["n_total"] for r in total.collect()] == [0]
    rows = ngram_lm._score_with_model(
        ngram_lm._position_rows(tiny), tri, bi, uni, total
    ).collect()
    assert {r["doc_id"] for r in rows} == {0, 1}
    assert all(r["lm_score_x1m"] is None for r in rows)


def test_artifact_static_schema_matches_inference(tiny, tmp_path):
    """lm_load's EXPLICIT wire-format schemas (round-13: skip per-part
    footer inference) must equal what bare inference reads off a fresh
    lm_save artifact — same dtypes, same rows — so a drift in the write
    side cannot hide behind the static read schema."""
    import os

    spark = tiny.sparkSession
    paths = ngram_lm.lm_save(tiny, str(tmp_path / "m3"))
    loaded = ngram_lm.lm_load(spark, str(tmp_path / "m3"))
    for name, df in zip(ngram_lm._ARTIFACT_PARTS, loaded):
        inferred = spark.read.parquet(paths[name])
        assert dict(df.dtypes) == dict(inferred.dtypes), name
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, inferred.collect())
        ), name
        assert os.path.isdir(paths[name])


def test_surprisal_scores_are_lineage_severed(tiny):
    """Round-13: lm_surprisal materializes the per-doc scores with
    localCheckpoint, so every downstream action (the gate's mean agg +
    banding join, repeated bench/oracle passes) re-plans a flat
    LogicalRDD instead of re-walking the corpus-sized training lineage
    (measured 3.8 s vs 0.3 s per banding-join action at sf0.1)."""
    scores = ngram_lm.lm_surprisal(tiny)
    plan = scores._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    for heavy in ("Scan parquet", "Generate", "InMemoryTableScan"):
        assert heavy not in plan, plan
    # and the banding built over it stays flat too
    gate = ngram_lm.lm_gate(tiny)
    gplan = gate._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in gplan, gplan


def test_scoring_join_strategy_is_size_probed(tiny):
    """Round-14 (r13-verdict ask #6): the stream-static scoring joins
    pick their strategy from the MATERIALIZED model size, not from
    persisted-table stats (which round 13 measured silently demoting
    the per-trigger joins to shuffles when lineage was severed). A
    model-sized probe forces broadcast; a pathological (> 5M gram
    rows) probe routes the same joins through shuffled-hash — same
    rows, no cliff."""
    rows = ngram_lm._position_rows(tiny)
    (tri, bi, uni, total), handles, model_rows = ngram_lm._trained_tables(
        rows
    )
    try:
        small = ngram_lm._score_with_model(
            rows, tri, bi, uni, total, model_rows=model_rows
        )
        plan = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

        big = ngram_lm._score_with_model(
            rows, tri, bi, uni, total, model_rows=6_000_000
        )
        bplan = big._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in bplan, bplan
        assert "SortMergeJoin" not in bplan, bplan
        # both strategies compute identical rows
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, big.collect())
        )
    finally:
        for t in handles:
            t.unpersist()
