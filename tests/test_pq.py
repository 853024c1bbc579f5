"""Product-quantization family (llm/pq.py): codebook determinism,
rounding rule, tie-breaks, bucket blocking, and the no-join ADC plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rigatoni_spark.llm import pq
from rigatoni_spark.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _toy(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


def test_round_half_away_matches_engines():
    # Python round() is half-even (round(0.5) == 0); Spark/DuckDB round
    # half-away. The driver-side quantizer must follow the engines.
    assert pq._round_half_away(0.5) == 1
    assert pq._round_half_away(1.5) == 2
    assert pq._round_half_away(2.5) == 3
    assert pq._round_half_away(-0.5) == -1
    assert pq._round_half_away(-2.5) == -3
    assert pq._round_half_away(2.4999) == 2


def test_seed_codebooks_shape(emb):
    books = pq._seed_codebooks(emb, m=8, k_codes=16, scale=10000)
    assert len(books) == 8
    for book in books:
        assert [cid for cid, _ in book] == list(range(16))
        assert all(len(c) == pq.DIM // 8 for _, c in book)


def test_pq_codes_self_encoding(emb):
    # A codebook seed vector reconstructs itself in every subspace:
    # code_key of vec_id j (< k_codes) is "j-j-...-j", distortion 0.
    out = pq.pq_codes(emb).filter(F.col("vec_id") < 4).collect()
    for r in out:
        j = r["vec_id"]
        assert r["code_key"] == "-".join([str(j)] * pq.M_SUBSPACES)
        assert r["distortion"] == 0


def test_pq_codes_tie_break_lowest_code(spark):
    # Two identical codebook entries (vec 0 == vec 1): every vector
    # equidistant to both must take the LOWER code id.
    base = [1.0] * 64
    df = _toy(spark, [base, base, [2.0] * 64])
    out = {
        r["vec_id"]: r["code_key"]
        for r in pq.pq_codes(df, m=4, k_codes=2).collect()
    }
    assert out[2] in {"0-0-0-0", "1-1-1-1"}
    assert out[2] == "0-0-0-0"


def test_pq_topk_matches_exact_on_seeds(emb):
    # For queries that are codebook seeds, ADC distance to another seed
    # equals the exact integer L2 (both reconstruct exactly), so the
    # top-ranked seed neighbours must agree with brute force.
    import numpy as np

    rows = emb.filter(F.col("vec_id") < 16).collect()
    M = np.array(
        [
            [pq._round_half_away(float(x) * pq.SCALE) for x in r["embedding"]]
            for r in sorted(rows, key=lambda r: r["vec_id"])
        ],
        dtype=np.int64,
    )
    d01 = int(((M[0] - M[1]) ** 2).sum())
    got = {
        (r["query_id"], r["cand_id"]): r["adist"]
        for r in pq.pq_topk(emb, n_queries=2, k=15).collect()
    }
    if (0, 1) in got:
        assert got[(0, 1)] == d01
    if (1, 0) in got:
        assert got[(1, 0)] == d01


def test_bucket_dedup_blocks_on_prefix(spark):
    # vecs 2 and 3 share subspaces 0..1 with seed 0 but diverge later:
    # prefix=2 buckets them together, full-code (prefix=4) does not.
    v0 = [0.0] * 64
    v1 = [9.0] * 64
    v2 = [0.0] * 32 + [5.0] * 32
    v3 = [0.0] * 32 + [5.1] * 32
    df = _toy(spark, [v0, v1, v2, v3])
    two = pq.pq_bucket_dedup(df, m=4, k_codes=2, prefix=2).collect()
    assert any(r["n_members"] == 3 and r["survivor_id"] == 0 for r in two)
    four = pq.pq_bucket_dedup(df, m=4, k_codes=2, prefix=4).collect()
    assert all(r["n_members"] <= 2 for r in four)


def test_adc_plans_have_no_join(emb):
    # The ADC scans are driver-closure kernels: the physical plan must
    # contain no join operator at all (and so no SMJ/cartesian).
    for frame in (pq.pq_topk(emb), pq.ivfpq_topk(emb)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan


def test_ivfpq_probes_subset_of_pq(emb):
    # IVF-PQ ranks within probed cells only: its candidate set is a
    # subset of the unrestricted ADC scan, and any shared (query, cand)
    # pair carries the identical adist.
    full = {
        (r["query_id"], r["cand_id"]): r["adist"]
        for r in pq.pq_topk(emb, k=1000).collect()
    }
    ivf = pq.ivfpq_topk(emb, k=1000).collect()
    assert ivf, "probed candidate set must not be empty"
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        assert key in full
        assert full[key] == r["adist"]
