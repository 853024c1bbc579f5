"""Text-audit operators added with the PQ round: span-level PII scan
(pinned on synthetic PII rows — the parquet corpus contains none),
rarity scoring, and source signatures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rigatoni_spark.llm import corpus, textstats
from rigatoni_spark.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def _pii_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_pii_scan_counts_and_scrubs(spark):
    df = _pii_df(
        spark,
        [
            "reach me at alice.smith+spam@mail.example.org today",
            "server 10.0.255.3 and backup 192.168.1.1 are up",
            "call +1 555-867-5309 or 020 7946 0958 now",
            "no pii here at all",
            "bob@ex.co pinged 8.8.8.8 from +44 1632 960 961",
        ],
    )
    rows = {r["doc_id"]: r for r in corpus.pii_scan(df).collect()}
    assert (rows[0]["n_email"], rows[0]["n_ipv4"], rows[0]["n_phone"]) == (1, 0, 0)
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (0, 2, 0)
    assert rows[2]["n_phone"] == 2
    assert (rows[3]["n_email"], rows[3]["n_ipv4"], rows[3]["n_phone"]) == (0, 0, 0)
    assert rows[4]["n_email"] == 1 and rows[4]["n_ipv4"] == 1
    assert rows[4]["n_phone"] >= 1


def test_pii_scan_spark_matches_duckdb_on_pii_rows(spark):
    # The parquet corpus has zero PII spans, so the catalog oracle only
    # proves the no-match side; this replays the oracle SQL over rows
    # that DO match, pinning Java-regex/RE2 agreement where it matters.
    import duckdb

    texts = [
        "alice@example.com met bob.jones@sub.domain.io",
        "ips 1.2.3.4 127.0.0.1 and phone +1 555 123 4567",
        "edge a@b.co x@y.z 999.999.999.999 12-34",
        "plain text",
    ]
    df = _pii_df(spark, texts)
    got = [tuple(r) for r in corpus.pii_scan(df).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") t(doc_id, text)"
    )
    want = [tuple(r) for r in con.execute(corpus.pii_scan_oracle()).fetchall()]
    assert got == want


def test_pii_scan_plan_is_scan_fused(docs):
    plan = (
        corpus.pii_scan(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    # the only exchange is the final orderBy's range partitioning
    assert plan.count("Exchange") <= 1


def test_rarity_scores_orders_rare_docs_up(spark):
    # Doc of one rare token vs doc of common tokens: rarer doc scores
    # strictly higher; weights are exact integer inverse frequencies.
    df = _pii_df(spark, ["zzz", "aa aa aa", "aa aa aa"])
    rows = {r["doc_id"]: r for r in textstats.rarity_scores(df).collect()}
    total = 7  # 1 + 3 + 3 tokens
    assert rows[0]["rarity_x10k"] == total * 10000
    assert rows[1]["rarity_x10k"] == total * 10000 // 6
    assert rows[0]["rarity_x10k"] > rows[1]["rarity_x10k"]


def test_source_signatures_surface_exclusive_tokens(spark):
    df = spark.createDataFrame(
        [
            (0, "common unique_a common", "src_a"),
            (1, "common common unique_a", "src_a"),
            (2, "common unique_b common", "src_b"),
            (3, "common common common", "src_b"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = textstats.source_signatures(df, k=1).collect()
    top = {r["source"]: r["token"] for r in out}
    assert top["src_a"] == "unique_a"
    assert top["src_b"] == "unique_b"
    for r in out:
        assert r["lift_x10k"] > 10000  # over-represented vs corpus


def test_funnel_window_and_greedy_anchor(spark):
    from datetime import datetime

    from rigatoni_spark.operators import advanced

    def ev(i, u, t, typ):
        return (i, datetime(2024, 1, 1, t), u, typ)

    rows = [
        # user 1 converts fully within windows
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
        # user 2: click arrives 30h after first view -> window (24h) missed,
        # even though a later view (t=20) would have allowed it (greedy
        # first-match anchors at t=0)
        ev(4, 2, 0, "view"), ev(5, 2, 20, "view"),
    ] + [
        # user 2's click at +30h, purchase right after
        (6, datetime(2024, 1, 2, 6), 2, "click"),
        (7, datetime(2024, 1, 2, 7), 2, "purchase"),
        # user 3 never views
        (8, datetime(2024, 1, 1, 0), 3, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = {r["stage"]: r for r in advanced.funnel(df).collect()}
    assert out[1]["n_reached"] == 2  # users 1 and 2 viewed
    assert out[2]["n_reached"] == 1  # only user 1 clicked in-window
    assert out[3]["n_reached"] == 1
    assert out[1]["pct_of_prev"] == 66  # 2 of 3 users, integer div
    assert out[2]["pct_of_prev"] == 50


def test_funnel_arbitrary_stage_count(spark):
    """The stage machine follows len(stages): 2-stage and 4-stage
    funnels run the same fold (regression: the fold used to hardcode
    three branches — IndexError at 2 stages, silent stage drop at 4)."""
    from datetime import datetime

    from rigatoni_spark.operators import advanced

    rows = [
        (1, datetime(2024, 1, 1, 0), 1, "view"),
        (2, datetime(2024, 1, 1, 1), 1, "click"),
        (3, datetime(2024, 1, 1, 2), 1, "cart"),
        (4, datetime(2024, 1, 1, 3), 1, "purchase"),
        (5, datetime(2024, 1, 1, 0), 2, "view"),
        (6, datetime(2024, 1, 1, 1), 2, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    two = {r["stage"]: r for r in advanced.funnel(df, ("view", "click")).collect()}
    assert len(two) == 2
    assert two[1]["n_reached"] == 2 and two[2]["n_reached"] == 2
    four = {
        r["stage"]: r
        for r in advanced.funnel(
            df, ("view", "click", "cart", "purchase")
        ).collect()
    }
    assert len(four) == 4
    assert four[4]["n_reached"] == 1 and four[4]["event_type"] == "purchase"
    assert four[2]["n_reached"] == 2


def test_retention_cohorts_week_offsets(spark):
    from datetime import datetime

    from rigatoni_spark.operators import advanced

    rows = [
        (1, datetime(2024, 1, 1), 1, "view"),   # cohort 2024-01-01
        (2, datetime(2024, 1, 10), 1, "view"),  # week offset 1
        (3, datetime(2024, 1, 1), 2, "view"),   # same cohort, week 0 only
        (4, datetime(2024, 1, 16), 3, "view"),  # own cohort
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    got = {
        (r["cohort_date"], r["week_offset"]): r["n_active"]
        for r in advanced.retention_cohorts(df).collect()
    }
    assert got[("2024-01-01", 0)] == 2
    assert got[("2024-01-01", 1)] == 1
    assert got[("2024-01-16", 0)] == 1


def test_quality_logit_matches_hand_computation(spark):
    """Pin the fastText-style gate to an out-of-engine computation:
    python md5 + the same weight table must reproduce the logit
    exactly (integer path end to end)."""
    import hashlib
    import math

    from rigatoni_spark.llm import textstats

    text = "good clean prose with varied words"
    toks = text.split(" ")
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    ws = textstats.qlf_weights()
    s = sum(
        ws[int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % textstats.QLF_DIM]
        for f in feats
    )
    expect = math.floor(s * 10000 / len(feats))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    row = textstats.quality_logit(df).collect()[0]
    assert row["n_features"] == len(feats)
    assert row["logit_x10k"] == expect
    assert row["keep"] == (1 if expect >= 0 else 0)
    # single-token doc: the bigram branch must yield [] (a naive
    # sequence(1, size-1) would DESCEND to [1, 0] at size == 1)
    one = spark.createDataFrame([(2, "word")], "doc_id bigint, text string")
    r1 = textstats.quality_logit(one).collect()[0]
    assert r1["n_features"] == 1
    w = ws[int(hashlib.md5(b"word").hexdigest()[:15], 16) % textstats.QLF_DIM]
    assert r1["logit_x10k"] == math.floor(w * 10000)


def _bpe_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_bpe_learn_matches_hand_computation(spark):
    """Sennrich et al. (2016) worked example — corpus {low:5, lower:2,
    newest:6, widest:3}; every merge, count, and tie-break below is
    hand-computed (ties resolve by (count desc, left, right))."""
    df = _bpe_docs(
        spark,
        [
            " ".join(["low"] * 5 + ["lower"] * 2),
            " ".join(["newest"] * 6 + ["widest"] * 3),
        ],
    )
    merges = textstats.bpe_learn(df, 6)
    got = [
        (m["merge_rank"], m["left_sym"], m["right_sym"], m["n_occurrences"])
        for m in merges
    ]
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "l", "o", 7),   # lo:7 ties ow:7 -> 'l' < 'o'
        (4, "lo", "w", 7),
        (5, "e", "w", 6),   # ew/ne/w+est all 6 -> 'e' first
        (6, "ew", "est", 6),
    ]


def test_bpe_encode_matches_hand_computation(spark):
    """Encode under the hand-computed merge table: token stream and
    dense sorted token ids pinned exactly."""
    train = _bpe_docs(
        spark,
        [
            " ".join(["low"] * 5 + ["lower"] * 2),
            " ".join(["newest"] * 6 + ["widest"] * 3),
        ],
    )
    merges = textstats.bpe_learn(train, 6)
    out = textstats.bpe_encode(
        _bpe_docs(spark, ["low lower newest widest"]), merges
    ).collect()
    stream = [(r["pos"], r["token"], r["token_id"]) for r in out]
    # low | low,e,r | n,ewest | w,i,d,est ; ids = rank in sorted vocab
    # {d:0, e:1, est:2, ewest:3, i:4, low:5, n:6, r:7, w:8}
    assert stream == [
        (1, "low", 5),
        (2, "low", 5),
        (3, "e", 1),
        (4, "r", 7),
        (5, "n", 6),
        (6, "ewest", 3),
        (7, "w", 8),
        (8, "i", 4),
        (9, "d", 0),
        (10, "est", 2),
    ]


def test_bpe_greedy_run_semantics(spark):
    """Runs of the merged symbol must pair LEFT-TO-RIGHT (aaa -> [aa,a],
    never [a,aa]) — the classic off-by-one that string-replace BPE
    implementations get wrong on shared boundaries (a 4-run must yield
    TWO pairs)."""
    df = _bpe_docs(spark, ["aaa aaaa aaaaa"])
    merges = textstats.bpe_learn(df, 2)
    got = [
        (m["merge_rank"], m["left_sym"], m["right_sym"], m["n_occurrences"])
        for m in merges
    ]
    # round 1: (a,a) occurs 2+3+4=9 times; after the greedy rewrite the
    # words are [aa,a], [aa,aa], [aa,aa,a] so (aa,a) and (aa,aa) both
    # count 2 and 'a' < 'aa' breaks the tie
    assert got == [(1, "a", "a", 9), (2, "aa", "a", 2)]
    enc = textstats.bpe_encode(df, merges).collect()
    assert [r["token"] for r in enc] == ["aaa", "aa", "aa", "aa", "aaa"]
    # an UNSEEN word runs through the same folds (general path, not the
    # train-state join): 6 a's -> [aa,aa,aa], untouched by merge 2
    unseen = textstats.bpe_encode(_bpe_docs(spark, ["aaaaaa"]), merges)
    assert [r["token"] for r in unseen.collect()] == ["aa", "aa", "aa"]


def test_bpe_encode_vocab_level_positions(spark):
    """Edge cases for the vocabulary-level encode (round-13): stream
    positions must restart per doc and accumulate across words of
    DIFFERENT token counts (the offset window), repeated words share
    one fold but keep distinct positions, and a whitespace-only doc
    drops out entirely."""
    df = _bpe_docs(spark, ["aaa a aaa", "   ", "a aaaa"])
    merges = textstats.bpe_learn(_bpe_docs(spark, ["aaa aaa"]), 2)
    out = textstats.bpe_encode(df, merges).collect()
    got = [(r["doc_id"], r["pos"], r["token"], r["token_id"]) for r in out]
    # merges: (a,a)->aa then (aa,a)->aaa; ids sorted: a=0, aa=1, aaa=2
    # doc 0: aaa | a | aaa -> positions 1..3 across 3 words
    # doc 1: no non-empty words -> no rows
    # doc 2: a | aaaa->[aa,aa] -> offset window spans a 2-token word
    assert got == [
        (0, 1, "aaa", 2),
        (0, 2, "a", 0),
        (0, 3, "aaa", 2),
        (2, 1, "a", 0),
        (2, 2, "aa", 1),
        (2, 3, "aa", 1),
    ]


def test_quality_logit_file_weights_match_literal(spark, docs, tmp_path):
    """The gate with weights read from a (bucket, weight) parquet
    artifact must score identically to the literal stand-in vector —
    the drop-in path for a trained fastText/DCLM-style classifier —
    and the lookup must plan as a broadcast hash join, never SMJ."""
    path = str(tmp_path / "qlf_weights.parquet")
    textstats.write_qlf_weights(spark, path)
    lit = textstats.quality_logit(docs).collect()
    fil = textstats.quality_logit(docs, weights_path=path)
    assert fil.collect() == lit
    plan = fil._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # sparse artifact: missing buckets weigh 0 (fastText implicit-zero
    # rows) and never drop features from the count. weights_dim pins
    # the hash modulus — WITHOUT it a sparse artifact whose top buckets
    # are zero would shrink the modulus and remap every feature
    sparse = [
        (j, w)
        for j, w in enumerate(textstats.qlf_weights())
        if j % 2 == 0
    ]
    spark.createDataFrame(
        sparse, "bucket int, weight long"
    ).write.mode("overwrite").parquet(path)
    got = {
        r["doc_id"]: r["n_features"]
        for r in textstats.quality_logit(
            docs, weights_path=path, weights_dim=textstats.QLF_DIM
        ).collect()
    }
    assert got == {r["doc_id"]: r["n_features"] for r in lit}
    # an empty artifact is a loud error, not a silently scoreless gate
    spark.createDataFrame(
        [], "bucket int, weight long"
    ).write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="empty"):
        textstats.quality_logit(docs, weights_path=path)


def test_bpe_oracle_survives_pair_exhaustion(spark):
    """A corpus that runs out of mergeable pairs before n_merges: the
    Spark loop breaks early, and the generated oracle's sentinel
    fallback must keep the vocab chain alive (NOT collapse to empty) so
    learn/encode/fertility all stay hash-equal."""
    import duckdb

    texts = ["ab ab cd", "ab cd"]
    df = _bpe_docs(spark, texts)
    merges = textstats.bpe_learn(df, 8)
    assert len(merges) == 2  # (a,b) then (c,d); round 3 has no pairs

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', 'src')" for i, t in enumerate(texts)
        )
        + ") t(doc_id, text, source)"
    )
    want = con.execute(textstats.bpe_learn_oracle(8)).fetchall()
    got = [
        (
            m["merge_rank"],
            m["left_sym"],
            m["right_sym"],
            m["merged"],
            m["n_occurrences"],
        )
        for m in merges
    ]
    assert got == [tuple(r) for r in want]
    # encode oracle still emits the full stream (joins a LIVE vocab)
    enc = [
        (r["doc_id"], r["pos"], r["token"], r["token_id"])
        for r in textstats.bpe_encode(df, merges).collect()
    ]
    enc_want = [
        tuple(r) for r in con.execute(textstats.bpe_encode_oracle(8)).fetchall()
    ]
    assert enc == enc_want and len(enc) == 5  # ab ab cd / ab cd
    # fertility: both engines over tokenizable docs only
    df_src = spark.createDataFrame(
        [(i, t, "src") for i, t in enumerate(texts)],
        "doc_id bigint, text string, source string",
    )
    fert = [
        tuple(r)
        for r in textstats.bpe_fertility(df_src, merges).collect()
    ]
    fert_want = [
        tuple(r)
        for r in con.execute(textstats.bpe_fertility_oracle(8)).fetchall()
    ]
    assert fert == fert_want


def test_bpe_learn_driver_and_distributed_tiers_agree(spark):
    """r9 ask #3: the bounded-vocab in-driver merge loop must be
    bitwise-identical to the distributed per-round loop (same winners,
    same tie-breaks, same greedy fold), and must collapse the Spark
    job count from O(n_merges) to O(1) — the property that makes a
    realistic 10^3-10^4-merge vocabulary schedulable."""
    docs = [
        " ".join(["low"] * 5 + ["lower"] * 2 + ["lowest"] * 4),
        " ".join(["newest"] * 6 + ["widest"] * 3 + ["newer"] * 2),
        "aaa aaaa aaaaa banana bandana abracadabra",
        "the quick brown fox jumps over the lazy dog the end",
    ]
    df = _bpe_docs(spark, docs)
    n_merges = 12
    sc = spark.sparkContext

    def _jobs(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    small_merges, driver_jobs_small = _jobs(
        "bpe_drv_4", lambda: textstats.bpe_learn(df, 4)
    )
    driver_merges, driver_jobs = _jobs(
        "bpe_drv_12", lambda: textstats.bpe_learn(df, n_merges)
    )
    dist_merges, dist_jobs = _jobs(
        "bpe_dist_12",
        lambda: textstats.bpe_learn(df, n_merges, driver_vocab_max_rows=0),
    )
    assert driver_merges == dist_merges
    assert len(driver_merges) == n_merges
    assert small_merges == dist_merges[:4]
    # job-count collapse: the driver tier's Spark job count is
    # INDEPENDENT of n_merges (2 actions — vocab count + collect; AQE
    # may stage each into a few jobs), while the distributed tier
    # schedules at least one job per merge round
    assert driver_jobs == driver_jobs_small, (
        f"driver tier jobs grew with n_merges: "
        f"{driver_jobs_small} -> {driver_jobs}"
    )
    assert dist_jobs >= n_merges
    assert driver_jobs < dist_jobs


def test_bpe_learn_driver_tier_pair_exhaustion(spark):
    """The driver loop stops early when no pair remains, like the
    distributed loop (single-char words only after all merges)."""
    df = _bpe_docs(spark, ["ab ab ab cd cd"])
    merges = textstats.bpe_learn(df, 8)
    assert [m["merged"] for m in merges] == ["ab", "cd"]
    assert merges == textstats.bpe_learn(df, 8, driver_vocab_max_rows=0)


def test_train_qlf_weights_pin_and_artifact_gate_roundtrip(spark, tmp_path):
    """r9 ask #4: the train -> artifact -> gate loop closes in-engine.
    The NB log-count-ratio trainer is closed-form, so its weights are
    pinned to an independent out-of-engine computation; the emitted
    parquet artifact then drives quality_logit and the gated logits
    match a hand computation with the same weights."""
    import hashlib
    import math

    from rigatoni_spark.llm import textstats

    dim = 16
    fixture = [
        ("good clean prose with varied words", 1),
        ("fine good text reads well", 1),
        ("buy now spam spam offer", 0),
        ("spam offer buy cheap now", 0),
    ]
    labeled = spark.createDataFrame(fixture, "text string, label int")
    ws = textstats.train_qlf_weights(labeled, dim=dim, alpha=1, scale=1000)

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % dim

    def feats(text: str) -> list[str]:
        t = text.split(" ")
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    pos: dict[int, int] = {}
    neg: dict[int, int] = {}
    for text, label in fixture:
        for f in feats(text):
            d = pos if label else neg
            d[bucket(f)] = d.get(bucket(f), 0) + 1
    want = [
        math.floor(
            1000 * math.log((pos.get(j, 0) + 1) / (neg.get(j, 0) + 1))
        )
        for j in range(dim)
    ]
    assert ws == want
    # implicit-zero contract: buckets unseen in BOTH classes weigh
    # exactly 0, even on imbalanced data — train on a lopsided fixture
    # with a tiny dim... rather, directly: any bucket untouched above
    # must be 0 (the centered form guarantees it)
    unseen = [j for j in range(dim) if j not in pos and j not in neg]
    for j in unseen:
        assert ws[j] == 0
    lopsided = spark.createDataFrame(
        [("aaa bbb", 0)] * 5 + [("ccc", 1)], "text string, label int"
    )
    ws2 = textstats.train_qlf_weights(lopsided, dim=dim)
    touched = {bucket(f) for f in ["aaa", "bbb", "aaa bbb", "ccc"]}
    for j in range(dim):
        if j not in touched:
            assert ws2[j] == 0, "unseen bucket must weigh 0 on imbalance"

    # artifact round trip: the trained parquet drives the gate
    path = str(tmp_path / "trained_weights.parquet")
    textstats.write_qlf_weights(spark, path, ws)
    docs = spark.createDataFrame(
        [(0, "good clean prose reads well"), (1, "buy spam offer now")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.quality_logit(
            docs, weights_path=path, weights_dim=dim
        ).collect()
    }
    # keep-class text scores above drop-class text and the gate agrees
    assert out[0]["logit_x10k"] > out[1]["logit_x10k"]
    assert out[0]["keep"] == 1 and out[1]["keep"] == 0
    # exact parity with hand-computed logits under the trained weights
    for doc_id, text in ((0, "good clean prose reads well"),
                         (1, "buy spam offer now")):
        fs = feats(text)
        s = sum(ws[bucket(f)] for f in fs)
        assert out[doc_id]["logit_x10k"] == math.floor(s * 10000 / len(fs))
        assert out[doc_id]["n_features"] == len(fs)


def test_bpe_fertility_vocab_level_edges(spark):
    """Round-13 restructure guard: fertility folds once per DISTINCT
    word and counts each doc's chars on its first word's row — the
    cases that shape must not break: (a) untokenizable docs (empty /
    whitespace-only text) drop out of BOTH numerator and denominator
    exactly as the old per-doc n_toks > 0 filter did; (b) a word shared
    by several sources is folded once but counted per source; (c)
    n_chars is the FULL text length including separators."""
    rows = [
        (0, "ab ab cd", "s1"),
        (1, "", "s1"),           # untokenizable: no words at all
        (2, "   ", "s2"),        # untokenizable: whitespace-only
        (3, "ab", "s2"),         # shares vocab with s1
        (4, "cd cd", "s2"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    merges = [
        {"left_sym": "a", "right_sym": "b", "merged": "ab"},
        {"left_sym": "c", "right_sym": "d", "merged": "cd"},
    ]
    got = {
        r["source"]: (
            r["n_docs"], r["n_tokens"], r["n_chars"],
            r["chars_per_token_x100"],
        )
        for r in textstats.bpe_fertility(df, merges).collect()
    }
    # s1: doc0 only — words [ab, ab, cd] -> 3 tokens, 8 chars
    # s2: doc3 (1 token, 2 chars) + doc4 (2 tokens, 5 chars)
    assert got == {
        "s1": (1, 3, 8, 266),
        "s2": (2, 3, 7, 233),
    }


def test_local_df_matches_classic_path(spark):
    """tables.local_df (Arrow local relation) must be value- and
    type-identical to createDataFrame(list, schema) for the shapes the
    engine builds driver-side: ints, strings, timestamps (UTC
    session), binary, nulls, and the empty list."""
    from datetime import datetime

    from rigatoni_spark.tables import local_df

    schema = (
        "i int, l bigint, s string, t timestamp, b binary, d double"
    )
    rows = [
        (1, 10, "x", datetime(2024, 1, 2, 3, 4, 5, 123456), b"\x00\xff", 1.5),
        (None, None, None, None, None, None),
    ]
    a = local_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect()), key=repr) == sorted(
        map(tuple, b.collect()), key=repr
    )
    empty = local_df(spark, [], schema)
    assert empty.schema == b.schema and empty.count() == 0
