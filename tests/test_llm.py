"""LLM-pipeline operator tests: dedup families, similarity search,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rigatoni_spark.llm import dedup, minhash, multimodal, simhash, vectors
from rigatoni_spark.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


class TestDedup:
    def test_exact_dedup_idempotent(self, documents):
        once = dedup.exact_dedup(documents)
        twice = dedup.exact_dedup(
            once.join(documents.select("doc_id", "text"), "doc_id")
        )
        assert once.count() == twice.count()

    def test_jaccard_pairs_symmetric_bounded(self, documents):
        pairs = dedup.ngram_jaccard_pairs(documents, threshold=0.8).collect()
        assert all(8000 <= r["jaccard_x10k"] <= 10000 for r in pairs)
        assert all(r["doc_a"] < r["doc_b"] for r in pairs)

    def test_oversized_block_routes_through_lsh(self, spark):
        """Blocks above max_block_rows must NOT take the O(n²) blocked
        self-join — they route through MinHash banding (bounded
        candidates), verified by exact Jaccard. Results are a subset of
        the exact pairs (banding recall), and identical docs — equal
        signatures, always bucketed together — are always found."""
        rows = [(i, f"unique{i} a b c d e", "s0") for i in range(20)]
        rows += [(100, "dup1 dup2 dup3 dup4 dup5", "s0"),
                 (101, "dup1 dup2 dup3 dup4 dup5", "s0")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard_x10k"]
            for r in dedup.ngram_jaccard_pairs(df, threshold=0.8).collect()
        }
        hatch = dedup.ngram_jaccard_pairs(df, threshold=0.8, max_block_rows=10)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard_x10k"]
            for r in hatch.collect()
        }
        assert got.get((100, 101)) == 10000
        assert set(got) <= set(exact)
        assert all(exact[k] == v for k, v in got.items())
        # plan shape: the oversized block joins on LSH bucket keys, not
        # on the block alone
        plan = hatch._jdf.queryExecution().executedPlan().toString()
        assert "band_hash" in plan

    def test_mixed_block_sizes_combine_exact_and_lsh(self, spark):
        rows = [(i, f"unique{i} a b c d e", "big") for i in range(15)]
        rows += [(100, "p q r s t", "big"), (101, "p q r s t", "big")]
        rows += [(200, "m n o", "small"), (201, "m n o", "small")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.8, max_block_rows=10
            ).collect()
        }
        assert (200, 201) in got  # small block: exact path
        assert (100, 101) in got  # oversized block: LSH path

    def test_duplicate_clusters_transitive_merge(self, spark):
        """A~B and B~C must land in ONE cluster even when A~C itself
        misses the threshold (the reason pairs alone under-merge)."""
        # A and B share 9/10 tokens; B and C share 9/10; A and C 8/12
        a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 xa"
        b = "t1 t2 t3 t4 t5 t6 t7 t8 t9 xb"
        c = "t2 t3 t4 t5 t6 t7 t8 t9 xb xc"
        df = spark.createDataFrame(
            [(1, a, "s"), (2, b, "s"), (3, c, "s"), (9, "zz yy ww", "s")],
            "doc_id bigint, text string, source string",
        )
        labels = {
            r["doc_id"]: r["label"]
            for r in dedup.duplicate_clusters(df, threshold=0.8).collect()
        }
        assert labels[1] == labels[2] == labels[3] == 1  # one cluster
        assert labels[9] == 9  # isolated doc keeps its own label

    def test_duplicate_clusters_doubling_same_fixpoint(self, spark):
        """Pointer doubling reaches the identical min-label fixpoint,
        in fewer rounds, on a CHAIN component (the shape it exists
        for: consecutive docs near-dup, distant ones don't)."""
        # chain doc i ~ doc i+1: 9/10 shared tokens per adjacent pair,
        # decaying overlap further out
        docs = [
            (i, " ".join(f"t{j}" for j in range(i, i + 10)), "s")
            for i in range(8)
        ]
        df = spark.createDataFrame(
            docs, "doc_id bigint, text string, source string"
        )
        plain = {
            r["doc_id"]: r["label"]
            for r in dedup.duplicate_clusters(df, threshold=0.8).collect()
        }
        doubled = {
            r["doc_id"]: r["label"]
            for r in dedup.duplicate_clusters(
                df, threshold=0.8, doubling=True
            ).collect()
        }
        assert plain == doubled
        assert set(plain.values()) == {0}  # one chain component
        # doubling converges within ceil(log2(chain)) + 2 rounds where
        # the plain walk needs ~chain-length rounds
        few = {
            r["doc_id"]: r["label"]
            for r in dedup.duplicate_clusters(
                df, threshold=0.8, doubling=True, max_iterations=4
            ).collect()
        }
        assert few == plain

    def test_duplicate_clusters_reliable_checkpoint_path(self, spark, tmp_path):
        """checkpoint_dir switches lineage truncation from localCheckpoint
        (executor shuffle files; dies with an executor) to reliable
        checkpoint() files under the given dir — same fixpoint either way,
        and the dir must actually receive RDD checkpoint data."""
        import os

        from rigatoni_spark.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        ckpt = str(tmp_path / "cc_ckpt")
        default = {
            (r["doc_id"], r["label"])
            for r in dedup.duplicate_clusters(docs).collect()
        }
        reliable = {
            (r["doc_id"], r["label"])
            for r in dedup.duplicate_clusters(
                docs, checkpoint_dir=ckpt
            ).collect()
        }
        assert default == reliable
        assert any(os.scandir(ckpt)), "no checkpoint data written"

    def test_minhash_identical_docs_always_candidates(self, spark):
        # identical text -> identical signature -> all bands collide
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
            ["doc_id", "text"],
        )
        cands = minhash.candidate_pairs(df).collect()
        assert (1, 2) in [(r["doc_a"], r["doc_b"]) for r in cands]
        dups = minhash.near_duplicates(df, threshold=0.9).collect()
        assert [(r["doc_a"], r["doc_b"], r["jaccard_x10k"]) for r in dups] == [
            (1, 2, 10000)
        ]

    def test_minhash_bucket_cap_drops_mega_buckets(self, spark):
        """The max_bucket guardrail: a degenerate bucket (here: 20
        identical docs -> one bucket per band of size 20) is dropped,
        while normal-sized buckets keep producing candidates."""
        rows = [(i, "same same same same same same") for i in range(20)]
        rows += [(100, "pair pair pair pair pair pair"),
                 (101, "pair pair pair pair pair pair")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in minhash.candidate_pairs(df, max_bucket=5).collect()
        }
        assert (100, 101) in capped  # size-2 bucket survives
        assert not any(a < 20 and b < 20 for a, b in capped)  # mega dropped
        # uncapped: the mega bucket floods 20*19/2 pairs
        full = minhash.candidate_pairs(df).count()
        assert full >= 190

    def test_incremental_near_duplicates(self, spark):
        """Admission semantics: an increment doc with an exact twin in
        the corpus is rejected, a doc sharing only a few shingles is
        admitted (candidate found, below threshold), a doc sharing
        nothing is admitted with zero candidates — and corpus-side
        mega-buckets can be capped without losing the normal match."""
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "x y z w v u t s"), (4, "k l m n o p q r")],
            ["doc_id", "text"],
        )
        inc = spark.createDataFrame(
            [
                (3, "a b c d e f g h"),       # exact twin of corpus 1
                (6, "a b c d q q2 q3 q4"),    # shares a prefix band, low jaccard
                (9, "zz1 zz2 zz3 zz4 zz5"),   # nothing shared
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r
            for r in minhash.incremental_near_duplicates(
                corpus, inc, threshold=0.7
            ).collect()
        }
        assert rows[3]["is_new"] == 0 and rows[3]["best_jaccard_x10k"] == 10000
        assert rows[9]["is_new"] == 1 and rows[9]["n_candidates"] == 0
        assert rows[9]["best_jaccard_x10k"] is None
        assert rows[6]["is_new"] == 1  # any candidate it found is sub-threshold
        # guardrail: a degenerate corpus bucket (20 identical docs) is
        # dropped at max_bucket=5; the normal-sized match still rejects
        mega = spark.createDataFrame(
            [(i + 100, "same same same same same same") for i in range(20)]
            + [(1, "a b c d e f g h")],
            ["doc_id", "text"],
        )
        inc2 = spark.createDataFrame(
            [(3, "a b c d e f g h"), (5, "same same same same same same")],
            ["doc_id", "text"],
        )
        capped = {
            r["doc_id"]: r
            for r in minhash.incremental_near_duplicates(
                mega, inc2, threshold=0.7, max_bucket=5
            ).collect()
        }
        assert capped[3]["is_new"] == 0          # size-1 bucket survives
        assert capped[5]["n_candidates"] == 0    # mega bucket dropped
        assert capped[5]["is_new"] == 1

    def test_incremental_agrees_with_batch_pair_operator(self, documents):
        """Cross-operator invariant: a doc's signature is independent of
        which set it sits in, so the admission gate's rejections over a
        corpus/increment split must equal the inc-side docs of the
        CROSS-set pairs that the batch near-dup operator finds on the
        union — two independent implementations, one truth."""
        corpus = documents.filter(F.col("doc_id") % 3 != 0)
        inc = documents.filter(F.col("doc_id") % 3 == 0)
        rejected = {
            r["doc_id"]
            for r in minhash.incremental_near_duplicates(
                corpus, inc, threshold=0.7
            ).collect()
            if r["is_new"] == 0
        }
        pairs = minhash.near_duplicates(
            documents.select("doc_id", "text"), threshold=0.7
        ).collect()
        expected = set()
        for r in pairs:
            a_inc, b_inc = r["doc_a"] % 3 == 0, r["doc_b"] % 3 == 0
            if a_inc != b_inc:
                expected.add(r["doc_a"] if a_inc else r["doc_b"])
        assert rejected == expected
        assert expected, "degenerate fixture: no cross-set near-dups"

    def test_vector_incremental_agrees_with_batch_pairs(self, embeddings):
        """The embedding twin of the invariant above (bucket ids are
        set-independent; max_bucket=None both sides so no chunking
        asymmetry)."""
        from rigatoni_spark.llm import vectors

        corpus = embeddings.filter(F.col("vec_id") % 3 != 0)
        inc = embeddings.filter(F.col("vec_id") % 3 == 0)
        rejected = {
            r["vec_id"]
            for r in vectors.incremental_embedding_neardup(
                corpus, inc, threshold=0.3
            ).collect()
            if r["is_new"] == 0
        }
        pairs = vectors.embedding_neardup_pairs(
            embeddings, threshold=0.3, max_bucket=None
        ).collect()
        expected = set()
        for r in pairs:
            a_inc, b_inc = r["vec_a"] % 3 == 0, r["vec_b"] % 3 == 0
            if a_inc != b_inc:
                expected.add(r["vec_a"] if a_inc else r["vec_b"])
        assert rejected == expected
        assert expected, "degenerate fixture: no cross-set near-dups"

    def test_incremental_neardup_precomputed_index(self, spark):
        """The 100 TB path: a precomputed corpus band sketch
        (``corpus_bands=lsh_bands(corpus)``) must produce row-identical
        admission verdicts to the self-computed sketch — the index is a
        cache, never a semantics change."""
        corpus = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "x y z w v u t s"), (4, "k l m n o p q r")],
            ["doc_id", "text"],
        )
        inc = spark.createDataFrame(
            [(3, "a b c d e f g h"), (9, "zz1 zz2 zz3 zz4 zz5")],
            ["doc_id", "text"],
        )
        sketch = minhash.lsh_bands(corpus).localCheckpoint()
        with_index = minhash.incremental_near_duplicates(
            corpus, inc, threshold=0.7, corpus_bands=sketch
        ).collect()
        without = minhash.incremental_near_duplicates(
            corpus, inc, threshold=0.7
        ).collect()
        assert with_index == without
        assert {r["doc_id"]: r["is_new"] for r in with_index} == {3: 0, 9: 1}

    def test_top_duplicated_spans(self, spark):
        """Cross-doc repeated passages surface with their document
        frequency; passages unique to one doc never appear (even when
        repeated WITHIN that doc, n_docs >= 2 gates them out)."""
        shared = "w1 w2 w3 w4 w5 w6 w7 w8"
        rows = [
            (1, shared + " tail1 tail2"),
            (2, "head1 " + shared),
            (3, "solo a b c d e f g solo a b c d e f g"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["span"]: r for r in dedup.top_duplicated_spans(df).collect()}
        assert shared in out
        assert out[shared]["n_docs"] == 2
        assert out[shared]["n_occurrences"] == 2
        assert out[shared]["first_doc_id"] == 1
        # doc 3's internally-repeated 8-gram is single-doc -> excluded
        assert all(r["n_docs"] >= 2 for r in out.values())
        assert not any("solo" in s for s in out)

    def test_maximal_duplicated_spans_coalesce(self, spark):
        """A long shared block reports as ONE maximal span (window
        chaining), not ~n overlapping 8-token windows; a gap splits the
        chain; asymmetric overlap yields per-doc maximal texts."""
        block = " ".join(f"b{i}" for i in range(20))  # 20 shared tokens
        rows = [
            (1, block + " t1 t2 t3"),
            (2, "h1 h2 " + block),
            # doc 3 shares only the FIRST 12 tokens of the block
            (3, " ".join(f"b{i}" for i in range(12)) + " z1 z2 z3"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = dedup.maximal_duplicated_spans(df, span_tokens=8).collect()
        by_span = {r["span"]: r for r in out}
        # the full 20-token block is maximal in docs 1 and 2
        assert block in by_span
        assert by_span[block]["n_docs"] == 2
        assert by_span[block]["span_len_tokens"] == 20
        # doc 3's maximal run covers its 12 shared tokens: windows at
        # pos 1..5 chain -> span b0..b11
        twelve = " ".join(f"b{i}" for i in range(12))
        assert twelve in by_span
        assert by_span[twelve]["span_len_tokens"] == 12
        assert by_span[twelve]["n_docs"] == 1  # maximal only in doc 3
        # nothing fragmented: no bare 8-token window of the block shows
        assert all(r["span_len_tokens"] >= 12 for r in out)

    def test_chunk_dedup_clean(self, spark):
        """First occurrence of a chunk survives; later copies are cut
        from the rebuilt text; an all-boilerplate doc survives as empty
        text rather than vanishing."""
        c1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"  # exactly one chunk
        c2 = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
        rows = [
            (1, c1 + " " + c2),   # both chunks first-seen -> unchanged
            (2, c1),              # chunk already seen -> empty
            (3, c2 + " " + "y1 y2 y3"),  # dup chunk + new short chunk
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r["doc_id"]: r for r in dedup.chunk_dedup_clean(df).collect()}
        assert out[1]["clean_text"] == c1 + " " + c2
        assert out[1]["n_kept_chunks"] == 2
        assert out[2]["clean_text"] == "" and out[2]["n_kept_chunks"] == 0
        assert out[3]["clean_text"] == "y1 y2 y3"
        assert out[3]["n_kept_chunks"] == 1

    def test_containment_pairs(self, spark):
        """A short doc fully quoted inside a long one scores 10000 with
        the short side oriented as doc_contained — the pair Jaccard
        misses (here J = 4/12); unrelated docs don't pair; an oversized
        block raises instead of degrading."""
        short = "q1 q2 q3 q4"
        long_ = short + " f1 f2 f3 f4 f5 f6 f7 f8"
        df = spark.createDataFrame(
            [
                (1, long_, "web"),
                (2, short, "web"),
                (3, "z1 z2 z3 z4 z5", "web"),
            ],
            "doc_id bigint, text string, source string",
        )
        rows = dedup.containment_pairs(df, threshold=0.9).collect()
        assert [
            (r["doc_contained"], r["doc_container"], r["containment_x10k"])
            for r in rows
        ] == [(2, 1, 10000)]
        # the same pair is invisible to Jaccard at any near-dup threshold
        assert (
            dedup.ngram_jaccard_pairs(df, threshold=0.8).count() == 0
        )
        with pytest.raises(ValueError, match="refine the blocking"):
            dedup.containment_pairs(df, max_block_rows=2)

    def test_incremental_embedding_neardup(self, spark):
        """Vector admission semantics: an increment vector identical to
        a corpus vector is rejected (cosine 1.0); its negation lands in
        the complementary bucket — zero candidates, admitted. A
        precomputed corpus_buckets index is a pure cache (identical
        rows), and max_bucket drops degenerate corpus buckets."""
        from rigatoni_spark.llm import vectors

        v = [float((i * 7) % 13 - 6) or 1.0 for i in range(64)]
        neg = [-x for x in v]
        corpus = spark.createDataFrame(
            [(1, v), (2, v)], "vec_id bigint, embedding array<float>"
        )
        inc = spark.createDataFrame(
            [(3, v), (6, neg)], "vec_id bigint, embedding array<float>"
        )
        rows = {
            r["vec_id"]: r
            for r in vectors.incremental_embedding_neardup(
                corpus, inc, threshold=0.95
            ).collect()
        }
        assert rows[3]["is_new"] == 0 and rows[3]["best_cosine"] == 1.0
        assert rows[3]["n_candidates"] == 2
        assert rows[6]["is_new"] == 1 and rows[6]["n_candidates"] == 0
        assert rows[6]["best_cosine"] is None
        # precomputed index -> identical admission rows
        idx = vectors._materialize_once(
            corpus.select(
                F.col("vec_id").alias("corpus_id"),
                F.col("embedding").alias("c_emb"),
                vectors._bucket(F.col("embedding")).alias("bucket"),
                vectors._norm(F.col("embedding")).alias("c_nrm"),
            )
        )
        with_idx = vectors.incremental_embedding_neardup(
            corpus, inc, threshold=0.95, corpus_buckets=idx
        ).collect()
        assert {r["vec_id"]: r.asDict() for r in with_idx} == {
            k: r.asDict() for k, r in rows.items()
        }
        # mega-bucket guardrail: corpus bucket of size 2 > max_bucket=1
        # is dropped -> the twin is admitted as new
        capped = {
            r["vec_id"]: r
            for r in vectors.incremental_embedding_neardup(
                corpus, inc, threshold=0.95, max_bucket=1
            ).collect()
        }
        assert capped[3]["n_candidates"] == 0 and capped[3]["is_new"] == 1

    def test_incremental_embedding_multiprobe_is_superset(self, embeddings):
        """Hamming-1 multi-probe admission sees every single-bucket
        candidate plus the one-flip neighbors: per-vector candidate
        counts dominate the plain probe, strictly somewhere on the
        testdata, and no vector flips from rejected to admitted (more
        candidates can only lower is_new)."""
        from rigatoni_spark.llm import vectors

        corpus = embeddings.filter(F.col("vec_id") % 3 != 0)
        inc = embeddings.filter(F.col("vec_id") % 3 == 0)
        plain = {
            r["vec_id"]: r
            for r in vectors.incremental_embedding_neardup(
                corpus, inc, threshold=0.3
            ).collect()
        }
        mp = {
            r["vec_id"]: r
            for r in vectors.incremental_embedding_neardup(
                corpus, inc, threshold=0.3, multiprobe=True
            ).collect()
        }
        assert set(mp) == set(plain)
        assert all(
            mp[v]["n_candidates"] >= plain[v]["n_candidates"] for v in plain
        )
        assert sum(r["n_candidates"] for r in mp.values()) > sum(
            r["n_candidates"] for r in plain.values()
        )
        assert all(
            mp[v]["is_new"] <= plain[v]["is_new"] for v in plain
        )

    def test_simhash_is_32bit(self, documents):
        sigs = simhash.simhash_signatures(documents)
        row = sigs.agg(
            F.min("simhash").alias("lo"), F.max("simhash").alias("hi")
        ).collect()[0]
        assert 0 <= row["lo"] and row["hi"] < 2**32

    def test_simhash_identical_docs_distance_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]
        )
        pairs = simhash.near_duplicates(df, max_hamming=0).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


class TestSimilarity:
    def test_topk_self_excluded_and_ranked(self, embeddings):
        out = vectors.cosine_topk(embeddings, n_queries=3, k=5).collect()
        by_q = {}
        for r in out:
            assert r["query_id"] != r["cand_id"]
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rows in by_q.items():
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            cosines = [r["cosine"] for r in rows]
            assert cosines == sorted(cosines, reverse=True)

    def test_ann_subset_of_bruteforce_universe(self, embeddings):
        ann = vectors.ann_lsh_topk(embeddings, n_queries=4, k=5)
        # every ANN hit must score exactly what brute force scores
        bf = vectors.cosine_topk(embeddings, n_queries=4, k=2000)
        joined = ann.select("query_id", "cand_id", "cosine").join(
            bf.select(
                F.col("query_id"), F.col("cand_id"),
                F.col("cosine").alias("bf_cosine"),
            ),
            ["query_id", "cand_id"],
        )
        assert joined.filter("cosine <> bf_cosine").count() == 0


class TestMultimodal:
    def test_feature_extraction_shape(self, documents):
        assets = multimodal.synthesize_assets(documents)
        feats = multimodal.extract_features(assets, deterministic_fake=True)
        row = feats.first()
        assert len(row["feature"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in row["feature"])
        assert feats.count() == documents.count()

    def test_codec_gate_raises_without_fake(self, documents):
        assets = multimodal.synthesize_assets(documents)
        with pytest.raises(Exception) as exc:
            multimodal.extract_features(assets, deterministic_fake=False).count()
        assert "CodecNotAvailable" in str(exc.value) or "codec" in str(exc.value)

    def test_frame_sample_only_video(self, documents):
        assets = multimodal.synthesize_assets(documents)
        frames = multimodal.frame_sample(assets, deterministic_fake=True)
        vids = assets.filter("media_type = 'video'").select("asset_id")
        extra = frames.join(vids, "asset_id", "left_anti")
        assert extra.count() == 0
        r = frames.first()
        assert isinstance(r["frame_payload"], (bytes, bytearray))

    def test_detect_codecs_contract(self):
        """Audio is ALWAYS real (stdlib wave parses WAV); image/video
        report whatever this environment actually has installed."""
        caps = multimodal.detect_codecs()
        assert set(caps) == {"image", "audio", "video"}
        assert caps["audio"] is True
        assert all(isinstance(v, bool) for v in caps.values())

    def test_real_audio_decode_matches_wav_truth(self, spark):
        """The REAL branch, end to end in this sandbox: genuine RIFF/WAV
        payloads decode through stdlib wave inside mapInPandas — the
        durations are the constructed ground truth, not fakes."""
        assets = multimodal.synthesize_wav_assets(spark, n=10)
        meta = {
            r["asset_id"]: r
            for r in multimodal.decode_metadata(
                assets, deterministic_fake=False
            ).collect()
        }
        assert len(meta) == 10
        for i in range(10):
            assert meta[i]["duration_ms"] == 100 + (i % 5) * 50
            assert meta[i]["width"] is None and meta[i]["height"] is None

    def test_real_audio_features_are_content_derived(self, spark):
        """Real features = per-segment mean |amplitude| of the decoded
        samples; recompute one asset's vector independently and compare
        exactly."""
        import io
        import struct
        import wave

        assets = multimodal.synthesize_wav_assets(spark, n=4)
        feats = {
            r["asset_id"]: r["feature"]
            for r in multimodal.extract_features(
                assets, deterministic_fake=False
            ).collect()
        }
        payload = bytes(
            assets.filter("asset_id = 2").first()["payload"]
        )
        with wave.open(io.BytesIO(payload)) as wv:
            raw = wv.readframes(wv.getnframes())
        samples = struct.unpack(f"<{len(raw) // 2}h", raw)
        k, dim = len(samples), multimodal.FEATURE_DIM
        expected = [
            sum(abs(s) for s in samples[k * b // dim : k * (b + 1) // dim])
            / len(samples[k * b // dim : k * (b + 1) // dim])
            / 32768.0
            for b in range(dim)
        ]
        got = feats[2]
        assert len(got) == dim
        assert all(abs(a - b) < 1e-6 for a, b in zip(got, expected))
        # tones differ by asset -> features differ (content-derived)
        assert feats[0] != feats[1]

    def test_real_image_branch_when_pil_present(self, spark):
        """Runs the PIL branch where PIL exists; here it pins the gate:
        image assets without PIL raise CodecNotAvailable, never fall
        back to the fake silently."""
        png = pytest.importorskip("PIL.Image", reason="PIL not installed")
        import io

        im = png.new("L", (64, 32), color=128)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        assets = spark.createDataFrame(
            [(1, "image", bytearray(buf.getvalue()), 1, buf.tell())],
            multimodal.ASSET_SCHEMA,
        )
        meta = multimodal.decode_metadata(
            assets, deterministic_fake=False
        ).first()
        assert (meta["width"], meta["height"]) == (64, 32)

    def test_fake_metadata_value_pin(self, spark):
        """The fake is part of the contract (replay-idempotent CI data):
        pin its md5-derived values exactly so a drive-by refactor can't
        silently reseed every downstream fixture."""
        import hashlib

        payload = b"pinned payload"
        assets = spark.createDataFrame(
            [(7, "image", bytearray(payload), 7, len(payload))],
            multimodal.ASSET_SCHEMA,
        )
        r = multimodal.decode_metadata(
            assets, deterministic_fake=True
        ).first()
        d = hashlib.md5(payload).digest()
        assert r["width"] == 16 * (1 + d[0] % 64)
        assert r["height"] == 16 * (1 + d[1] % 64)
        assert r["duration_ms"] == 1000 * (1 + d[2] % 60)
        f = multimodal.extract_features(
            assets, deterministic_fake=True
        ).first()["feature"]
        assert f == pytest.approx([d[i] / 255.0 for i in range(8)])

    def test_metadata_prunes_payload(self, documents):
        """Metadata-only reads must not deserialize payload bytes: the
        physical plan projects only the needed columns."""
        assets = multimodal.synthesize_assets(documents).select(
            "asset_id", "media_type", "n_bytes"
        )
        plan = assets._jdf.queryExecution().executedPlan().toString()
        assert "payload" not in plan


class TestIVF:
    def test_cells_are_disjoint_and_total(self, spark, embeddings):
        from rigatoni_spark.llm.vectors import ivf_assign

        assign = ivf_assign(embeddings)
        assert assign.count() == embeddings.count()
        assert assign.select("vec_id").distinct().count() == embeddings.count()

    def test_ivf_topk_shape(self, spark, embeddings):
        from pyspark.sql import functions as F

        from rigatoni_spark.llm.vectors import ivf_topk

        out = ivf_topk(embeddings, n_queries=4, k=3).collect()
        per_query = {}
        for r in out:
            per_query.setdefault(r["query_id"], []).append(r["rank"])
        for q, ranks in per_query.items():
            assert ranks == sorted(ranks)
            assert len(ranks) <= 3

    def test_kmeans_refines_toward_lower_distortion(self, spark, embeddings):
        """Lloyd's invariant: total squared distortion is non-increasing
        in the iteration count (0 iterations = the raw seed assignment
        ivf_assign uses). Assignments stay disjoint and total."""
        from pyspark.sql import functions as F

        from rigatoni_spark.llm.vectors import kmeans_cells

        d0, d2 = (
            kmeans_cells(embeddings, k=8, iterations=i)
            .agg(F.sum("dist").alias("d"))
            .collect()[0]["d"]
            for i in (0, 2)
        )
        assert d2 <= d0
        out = kmeans_cells(embeddings, k=8, iterations=1)
        assert out.count() == embeddings.count()
        assert out.select("vec_id").distinct().count() == embeddings.count()
        assert out.select("cell").distinct().count() <= 8

    def test_kmeans_clusters_identical_vectors_together(self, spark):
        from rigatoni_spark.llm.vectors import kmeans_cells

        a = [1.0] + [0.0] * 63
        b = [0.0] * 63 + [1.0]
        # seeds are vec_id 0 and 1 — one from each true cluster
        group_a, group_b = [0, 2, 3, 4], [1, 11, 12, 13]
        rows = [(i, a, 0) for i in group_a] + [(i, b, 0) for i in group_b]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )
        got = {
            r["vec_id"]: r["cell"]
            for r in kmeans_cells(df, k=2, iterations=2).collect()
        }
        assert len({got[i] for i in group_a}) == 1
        assert len({got[i] for i in group_b}) == 1
        assert got[0] != got[1]


class TestMultiProbe:
    def test_recall_dominates_single_probe(self, spark, embeddings):
        from rigatoni_spark.llm.vectors import (
            ann_lsh_topk,
            ann_multiprobe_topk,
            cosine_topk,
        )

        def pairs(df):
            return {(r["query_id"], r["cand_id"]) for r in df.collect()}

        exact = pairs(cosine_topk(embeddings, n_queries=4, k=3))
        single = pairs(ann_lsh_topk(embeddings, n_queries=4, k=3))
        multi = pairs(ann_multiprobe_topk(embeddings, n_queries=4, k=3))
        # multi-probe candidates are a superset of single-probe, so its
        # overlap with the exact answer can only grow
        assert len(multi & exact) >= len(single & exact)
        assert len(multi) >= len(single)


class TestSemanticDedup:
    def test_max_cell_guardrail_splits_oversized_cells(self, spark):
        """Cells larger than max_cell are split into contiguous
        vec_id-ordered chunks; pairs survive when they share a chunk
        OR either side is in chunk 0 (zero-chunk bridge) — the
        quadratic-cell backstop (MinHash's max_bucket twin). Nine
        identical vectors in one cell: unguarded = C(9,2)=36 pairs;
        max_cell=3 -> chunks {0,1,2},{3,4,5},{6,7,8}: same-chunk
        3*C(3,2)=9 + bridge 3*6=18 = 27 pairs; the dropped 9 are
        exactly chunk1 x chunk2."""
        from rigatoni_spark.llm.vectors import semantic_neardup_pairs

        v = [1.0] * 64
        df = spark.createDataFrame(
            [(i, v, 0) for i in range(9)],
            "vec_id bigint, embedding array<float>, label int",
        )
        unguarded = semantic_neardup_pairs(
            df, threshold=0.9, n_cells=1, max_cell=None
        ).collect()
        assert len(unguarded) == 36
        guarded = semantic_neardup_pairs(
            df, threshold=0.9, n_cells=1, max_cell=3
        ).collect()
        got = {(r["vec_a"], r["vec_b"]) for r in guarded}
        want = {
            (a, b)
            for a in range(9)
            for b in range(a + 1, 9)
            if a // 3 == b // 3 or a // 3 == 0 or b // 3 == 0
        }
        assert got == want
        assert len(got) == 27
        assert got.isdisjoint(
            {(a, b) for a in range(3, 6) for b in range(6, 9)}
        )

    def test_guardrail_noop_when_cells_fit(self, spark, embeddings):
        """With max_cell above every cell size the chunk key is
        constant 0 and results are identical to the unguarded path."""
        from rigatoni_spark.llm.vectors import semantic_neardup_pairs

        def pairs(max_cell):
            return {
                (r["vec_a"], r["vec_b"], r["cosine"])
                for r in semantic_neardup_pairs(
                    embeddings, max_cell=max_cell
                ).collect()
            }

        assert pairs(10**6) == pairs(None)

    def test_kmeans_family_reliable_checkpoint_path(
        self, spark, embeddings, tmp_path
    ):
        """checkpoint_dir threads through the k-means family (trainer,
        trained IVF, semantic dedup) — same results as localCheckpoint,
        and the dir actually receives RDD checkpoint data (the
        executor-loss-safe path for multi-node runs)."""
        import os

        from rigatoni_spark.llm.vectors import (
            ivf_trained_topk,
            kmeans_cells,
            semantic_neardup_pairs,
        )

        ckpt = str(tmp_path / "km_ckpt")
        for fn in (kmeans_cells, ivf_trained_topk, semantic_neardup_pairs):
            default = [tuple(r) for r in fn(embeddings).collect()]
            reliable = [
                tuple(r)
                for r in fn(embeddings, checkpoint_dir=ckpt).collect()
            ]
            assert default == reliable, fn.__name__
        assert any(os.scandir(ckpt)), "no checkpoint data written"


class TestSampling:
    """Deterministic hash sampling: same input -> same sample, any
    partitioning, any run; fractions hold in expectation."""

    def test_fraction_reproducible_and_partition_invariant(self, documents):
        from rigatoni_spark.llm import sampling

        a = {r["doc_id"] for r in sampling.sample_fraction(documents, 0.25).collect()}
        b = {
            r["doc_id"]
            for r in sampling.sample_fraction(
                documents.repartition(7), 0.25
            ).collect()
        }
        assert a == b and a  # identical under different partitioning
        n = documents.count()
        assert 0.15 * n < len(a) < 0.35 * n  # ~25% within tolerance

    def test_different_salt_different_sample(self, documents):
        from rigatoni_spark.llm import sampling

        a = {r["doc_id"] for r in sampling.sample_fraction(documents, 0.25, salt="s0").collect()}
        b = {r["doc_id"] for r in sampling.sample_fraction(documents, 0.25, salt="s1").collect()}
        assert a != b

    def test_stratified_respects_per_stratum_fractions(self, documents):
        from pyspark.sql import functions as F

        from rigatoni_spark.llm import sampling

        out = sampling.stratified_sample(
            documents, {"de": 1.0, "en": 0.0}, strata_col="lang"
        )
        by_lang = {
            r["lang"]: r["n"]
            for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_de = documents.filter(F.col("lang") == "de").count()
        assert by_lang.get("de") == n_de  # keep-all stratum intact
        assert "en" not in by_lang  # keep-none stratum empty
        assert set(by_lang) <= {"de"}  # default fraction 0 drops the rest

    def test_n_per_stratum_exact(self, documents):
        from pyspark.sql import functions as F

        from rigatoni_spark.llm import sampling

        out = sampling.sample_n_per_stratum(documents, 5, "lang")
        counts = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        sizes = {
            r["lang"]: r["n"]
            for r in documents.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for r in counts:
            assert r["n"] == min(5, sizes[r["lang"]])


class TestParagraphDedup:
    def test_first_occurrence_wins_and_md5_pins(self, spark):
        """Global paragraph dedup: the boilerplate segment shared by
        both docs survives only in the (doc_id, pos)-smallest owner;
        the kept-text md5 is the chr(1)-join of surviving segments."""
        import hashlib

        from rigatoni_spark.llm import corpus

        seg_a = " ".join(f"a{i}" for i in range(12))  # shared boilerplate
        seg_b = " ".join(f"b{i}" for i in range(12))
        seg_c = " ".join(f"c{i}" for i in range(12))
        docs = spark.createDataFrame(
            [
                (0, f"{seg_a} {seg_b}"),
                (1, f"{seg_a} {seg_c}"),  # seg_a duplicated from doc 0
            ],
            "doc_id bigint, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in corpus.paragraph_dedup(docs).collect()
        }
        assert (rows[0]["n_segments"], rows[0]["n_kept"]) == (2, 2)
        assert (rows[1]["n_segments"], rows[1]["n_kept"]) == (2, 1)
        assert rows[1]["n_dropped"] == 1
        md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
        assert rows[0]["clean_md5"] == md5(seg_a + "\x01" + seg_b)
        assert rows[1]["clean_md5"] == md5(seg_c)  # only the unique seg
        # within one doc, a repeated segment also dedups (pos order)
        solo = spark.createDataFrame(
            [(5, f"{seg_b} {seg_b}")], "doc_id bigint, text string"
        )
        r = corpus.paragraph_dedup(solo).collect()[0]
        assert (r["n_segments"], r["n_kept"]) == (2, 1)
        assert r["clean_md5"] == md5(seg_b)


class TestContamination:
    def test_benchmark_docs_excluded_from_training_side(self, documents):
        from rigatoni_spark.llm import contamination

        hits = contamination.contamination_hits(documents).collect()
        assert all(r["doc_id"] % 97 != 0 for r in hits)
        assert all(r["n_contaminated_grams"] >= 1 for r in hits)

    def test_clean_corpus_disjoint_from_hits(self, documents):
        from rigatoni_spark.llm import contamination

        hit_ids = {
            r["doc_id"]
            for r in contamination.contamination_hits(documents).collect()
        }
        clean_ids = {
            r["doc_id"]
            for r in contamination.decontaminated_corpus(documents).collect()
        }
        n_train = documents.filter(F.col("doc_id") % 97 != 0).count()
        assert hit_ids.isdisjoint(clean_ids)
        assert len(hit_ids) + len(clean_ids) == n_train

    def test_contamination_plan_broadcasts_benchmark(self, documents):
        """The benchmark gram set must broadcast — a corpus-sized
        shuffle of training n-grams for a tiny eval set is the scale
        bug this operator is designed to avoid."""
        from rigatoni_spark.llm import contamination

        plan = contamination.contamination_hits(documents)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_repetition_bounds(self, documents):
        from rigatoni_spark.llm import contamination

        rows = contamination.repetition_stats(documents).collect()
        assert len(rows) == documents.count()
        for r in rows:
            assert 0 <= r["dup_token_frac_x10k"] <= 10000
            assert 0 < r["top_bigram_frac_x10k"] <= 10000


class TestPacking:
    def test_pack_layout_invariants(self, documents):
        from rigatoni_spark.llm import sampling

        rows = sampling.pack_sequences(documents, seq_len=512).collect()
        assert len(rows) == documents.count()
        by_shard: dict[str, list] = {}
        for r in rows:
            assert 0 <= r["pack_offset"] < 512
            by_shard.setdefault(r["shard"], []).append(r)
        for shard_rows in by_shard.values():
            # docs laid head-to-tail: each start == previous start + len
            cum = 0
            for r in shard_rows:  # already ordered by doc_id
                assert r["pack_id"] * 512 + r["pack_offset"] == cum
                end = cum + r["n_tokens"]
                assert r["straddles"] == ((end - 1) // 512 > r["pack_id"])
                cum = end


class TestChunkDedup:
    def test_chunk_counts_and_bounds(self, documents):
        rows = dedup.chunk_dedup_stats(documents, chunk_tokens=10).collect()
        assert len(rows) == documents.count()
        n_toks = {
            r["doc_id"]: r["n"]
            for r in documents.select(
                "doc_id", F.size(F.split("text", " ")).alias("n")
            ).collect()
        }
        for r in rows:
            expect = -(-n_toks[r["doc_id"]] // 10)  # ceil
            assert r["n_chunks"] == expect
            assert 0 <= r["n_dup_chunks"] <= r["n_chunks"]
            assert (
                r["dup_chunk_frac_x10k"]
                == r["n_dup_chunks"] * 10000 // r["n_chunks"]
            )

    def test_identical_docs_second_is_all_dup(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l"), (2, "a b c d e f g h i j k l")],
            "doc_id int, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in dedup.chunk_dedup_stats(docs, chunk_tokens=10).collect()
        }
        assert rows[1]["n_dup_chunks"] == 0  # earliest occurrence canonical
        assert rows[2]["n_dup_chunks"] == rows[2]["n_chunks"]


class TestTrainingShuffle:
    def test_reproducible_and_partition_invariant(self, documents):
        from rigatoni_spark.llm import sampling

        a = sampling.training_shuffle(documents, seed="epoch0").collect()
        b = sampling.training_shuffle(
            documents.repartition(7), seed="epoch0"
        ).collect()
        assert a == b

    def test_new_seed_reshuffles_same_rows(self, documents):
        from rigatoni_spark.llm import sampling

        e0 = sampling.training_shuffle(documents, seed="epoch0").collect()
        e1 = sampling.training_shuffle(documents, seed="epoch1").collect()
        assert {r["doc_id"] for r in e0} == {r["doc_id"] for r in e1}
        assert e0 != e1  # order actually changed
        # positions are dense 0..n-1 within every shard
        for rows in (e0, e1):
            by_shard: dict[int, list] = {}
            for r in rows:
                by_shard.setdefault(r["shard"], []).append(r["shuffle_pos"])
            for pos in by_shard.values():
                assert sorted(pos) == list(range(len(pos)))


class TestQuantize:
    def test_codes_bounded_and_deterministic(self, embeddings):
        q = vectors.quantize_int8(embeddings)
        rows = q.collect()
        assert len(rows) == embeddings.count()
        for r in rows:
            assert 0 <= r["q_min"] <= r["q_max"] <= 255
            # sum is consistent with 64 dims of [0,255] codes
            assert 0 <= r["q_sum"] <= 255 * 64
        assert rows == vectors.quantize_int8(embeddings.repartition(5)).collect()


class TestResize:
    def test_resize_bounds_and_aspect(self, documents):
        assets = multimodal.synthesize_assets(documents)
        rows = multimodal.resize_images(
            assets, max_side=256, deterministic_fake=True
        ).collect()
        assert rows  # image subset is non-empty
        for r in rows:
            assert max(r["new_width"], r["new_height"]) <= 256
            if max(r["width"], r["height"]) <= 256:
                assert (r["new_width"], r["new_height"]) == (
                    r["width"],
                    r["height"],
                )
            assert r["resized_bytes"] <= r["width"] * r["height"] * 10

    def test_only_images_reach_python(self, documents):
        assets = multimodal.synthesize_assets(documents)
        df = multimodal.resize_images(assets, deterministic_fake=True)
        ids = {r["asset_id"] for r in df.collect()}
        assert all(i % 3 == 0 for i in ids)


class TestTrainValTest:
    def test_splits_partition_the_corpus(self, documents):
        from rigatoni_spark.llm import sampling

        rows = sampling.train_val_test_split(documents).collect()
        total = sum(r["n_docs"] for r in rows)
        assert total == documents.count()
        by_split: dict[str, int] = {}
        for r in rows:
            by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
        assert set(by_split) == {"train", "val", "test"}
        # 10%/10% in expectation; loose bounds for a 500-doc corpus
        assert by_split["train"] > by_split["val"]
        assert by_split["train"] > by_split["test"]


class TestBoilerplate:
    SCHEMA = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )

    def _corpus(self, spark):
        # docs 0-4 share the 3-gram "a b c" (doc frequency 5 = min_docs);
        # every other gram is unique to its doc; doc 9 shares nothing
        rows = [(i, f"a b c u{i} v{i}", "en", "s", 13) for i in range(5)]
        rows.append((9, "x y z w q", "en", "s", 9))
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_hot_gram_detected_and_fraction_exact(self, spark):
        from rigatoni_spark.llm import contamination

        per = {
            r["doc_id"]: r
            for r in contamination.boilerplate_stats(
                self._corpus(spark), n=3, min_docs=5
            ).collect()
        }
        for i in range(5):
            # grams: "a b c", "b c u{i}", "c u{i} v{i}" -> 1 of 3 hot
            assert per[i]["n_grams"] == 3
            assert per[i]["n_boilerplate"] == 1
            assert per[i]["boiler_frac_x10k"] == 3333
        assert per[9]["n_boilerplate"] == 0

    def test_clean_drops_high_fraction_docs_keeps_short(self, spark):
        from rigatoni_spark.llm import contamination

        df = self._corpus(spark).union(
            spark.createDataFrame([(50, "a b", "en", "s", 3)], self.SCHEMA)
        )
        kept = {
            r["doc_id"]
            for r in contamination.boilerplate_clean(
                df, n=3, min_docs=5, max_frac=0.3
            ).collect()
        }
        # 1/3 hot > 30% -> docs 0-4 dropped; clean doc 9 kept; the
        # 2-token doc carries no 3-gram and trivially passes
        assert kept == {9, 50}

    def test_stats_match_repetition_population(self, documents):
        """Every doc long enough to carry a 3-gram appears exactly once."""
        from rigatoni_spark.llm import contamination

        n_eligible = documents.filter(
            F.size(F.split("text", " ")) >= 3
        ).count()
        rows = contamination.boilerplate_stats(documents).collect()
        assert len(rows) == n_eligible
        for r in rows:
            assert 0 <= r["n_boilerplate"] <= r["n_grams"]
            assert 0 <= r["boiler_frac_x10k"] <= 10000


class TestTokenBudget:
    def _naive(self, documents, budget_fraction):
        """Single-ordered-prefix reference: per stratum, sort by
        md5(salt:doc_id), keep while the running token sum fits."""
        import hashlib
        from collections import defaultdict

        rows = documents.select("doc_id", "source", "text").collect()
        by_src = defaultdict(list)
        for r in rows:
            h = hashlib.md5(f"budget0:{r['doc_id']}".encode()).hexdigest()
            by_src[r["source"]].append((h, len(r["text"].split(" "))))
        out = {}
        for src, docs in by_src.items():
            docs.sort()
            total = sum(t for _, t in docs)
            budget = int(budget_fraction * total)
            cum = n_kept = tok_kept = 0
            for _, t in docs:
                cum += t
                if cum <= budget:
                    n_kept += 1
                    tok_kept += t
            out[src] = (len(docs), n_kept, total, tok_kept)
        return out

    def test_bucketed_prefix_sum_matches_naive_window(self, documents):
        """The 16-way bucketed prefix sum must produce EXACTLY the
        single-global-window answer — bucketing is a parallelization,
        not an approximation."""
        from rigatoni_spark.llm import mixing

        got = {
            r["source"]: (
                r["n_docs"],
                r["n_kept"],
                r["tokens_total"],
                r["tokens_kept"],
            )
            for r in mixing.token_budget_mix(documents, 0.3).collect()
        }
        assert got == self._naive(documents, 0.3)

    def test_budget_is_a_hard_ceiling_and_full_fraction_keeps_all(
        self, documents
    ):
        from rigatoni_spark.llm import mixing

        for r in mixing.token_budget_mix(documents, 0.3).collect():
            assert r["tokens_kept"] <= int(0.3 * r["tokens_total"])
            assert r["n_kept"] <= r["n_docs"]
        for r in mixing.token_budget_mix(documents, 1.0).collect():
            assert r["n_kept"] == r["n_docs"]
            assert r["tokens_kept"] == r["tokens_total"]

    def test_offsets_join_broadcasts(self, documents):
        """The |strata| x 16 offsets table must broadcast back onto the
        corpus — shuffling the corpus against a driver-scale table is
        the scale bug the bucketed design exists to avoid."""
        from rigatoni_spark.llm import mixing

        plan = (
            mixing.token_budget_mix(documents, 0.3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestBinaryQuantize:
    """binary_quantize_topk: sign packing matches a numpy popcount
    reference, identical vectors sit at hamming 0, and the exact
    rerank keeps cosines sorted within each query."""

    def test_sign_words_match_numpy(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from rigatoni_spark.llm.vectors import _sign_words

        rng = [
            [(-1.0) ** ((i * 7 + j) % 3) * ((i + j) % 5) for j in range(64)]
            for i in range(6)
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(rng)],
            "vec_id long, embedding array<float>",
        )
        lo, hi = _sign_words(F.col("embedding"))
        got = {
            r["vec_id"]: (r["lo"], r["hi"])
            for r in df.select("vec_id", lo.alias("lo"), hi.alias("hi")).collect()
        }
        for i, row in enumerate(rng):
            bits = [1 if np.float32(x) >= 0 else 0 for x in row]
            lo_w = sum(b << j for j, b in enumerate(bits[:32]))
            hi_w = sum(b << j for j, b in enumerate(bits[32:]))
            assert got[i] == (lo_w, hi_w)

    def test_hamming_zero_for_duplicate_vector(self, spark):
        from rigatoni_spark.llm.vectors import binary_quantize_topk

        base = [float((i % 7) - 3) for i in range(64)]
        other = [float(((i + 3) % 9) - 4) for i in range(64)]
        df = spark.createDataFrame(
            [(0, base), (1, other), (2, base)],
            "vec_id long, embedding array<float>",
        )
        out = binary_quantize_topk(df, n_queries=1, k=2, rerank=2).collect()
        assert out[0]["cand_id"] == 2 and out[0]["hamming"] == 0
        assert out[0]["cosine"] == 1.0



class TestChunkOverlap:
    """chunk_with_overlap boundary semantics on a hand-built doc:
    stride spacing, window-sized overlap, full tail coverage, and the
    single-chunk short-document case."""

    def test_windows_cover_and_overlap(self, spark):
        from rigatoni_spark.llm.corpus import chunk_with_overlap

        text = " ".join(f"t{i}" for i in range(13))  # 13 tokens
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        rows = chunk_with_overlap(df, window=5, stride=4).collect()
        got = [(r.chunk_idx, r.chunk_text.split(" ")[0], r.n_tokens)
               for r in rows]
        # starts at 0,4,8; ceil((13-5)/4)+1 = 3 windows; last covers
        # t8..t12 (5 tokens) — token t12 is covered, nothing invents a
        # 4th window
        assert got == [(0, "t0", 5), (1, "t4", 5), (2, "t8", 5)]
        # consecutive windows share window-stride = 1 token
        assert rows[0].chunk_text.split(" ")[-1] == \
            rows[1].chunk_text.split(" ")[0]

    def test_short_doc_single_chunk(self, spark):
        from rigatoni_spark.llm.corpus import chunk_with_overlap

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        rows = chunk_with_overlap(df, window=5, stride=4).collect()
        assert len(rows) == 1
        assert rows[0].chunk_text == "a b c" and rows[0].n_tokens == 3
