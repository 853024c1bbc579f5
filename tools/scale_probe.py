"""Amplified-corpus scale probes behind SCALE.md's measured claims.

Derives larger corpora from the driver testdata (never mutating it):

- embeddings x16 (32K vectors): per-copy sign-flip mask — a distinct
  rotation of a length-37 pattern per copy (37 > 16 and coprime to the
  64 positions, so no two copies share a mask and no copy is the
  identity): same value distribution, no identical copies. Sweeps
  ``semantic_neardup_pairs`` over n_cells x pair_kernel.
- documents x10 (50K docs): per-copy alphabet rotation — on the
  all-lowercase testdata text copies share no shingles (a corpus with
  digits/uppercase would leak some), so near-dup mass grows exactly
  linearly while the
  shared ``source`` blocking keys grow within-block candidate volume
  100x (adversarial for the Jaccard guardrail, which routes oversized
  blocks through MinHash-LSH banding).

- chain-shaped components: synthetic sliding-window docs whose
  consecutive windows are near-dups (Jaccard ~0.85) but distance-2
  windows are not (~0.71) — a maximally long-thin duplicate graph.
  Measures ``duplicate_clusters`` plain vs ``doubling=True`` (wall
  time + round counts), the flip threshold SCALE.md records.

Usage: python tools/scale_probe.py [embeddings|documents|chain|all]
                                   [--sf-dir DIR]
Prints one RESULT line per measurement. Wall times are single-shot on
a shared box — treat ratios, not absolutes, as the signal.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _timed(label: str, fn) -> None:
    t0 = time.time()
    n = fn().count()
    print(f"RESULT {label}: {time.time() - t0:.1f}s rows={n}", flush=True)


def _timed_write(label: str, fn) -> None:
    """noop-write variant: count() lets column pruning drop expensive
    projection expressions (chunk_clean's text reassembly agg), so
    transform-shaped operators are timed through a full-width write."""
    t0 = time.time()
    fn().write.format("noop").mode("overwrite").save()
    print(f"RESULT {label}: {time.time() - t0:.1f}s", flush=True)


def probe_embeddings(spark, sf_dir: str) -> None:
    from rigatoni_spark.llm import vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = spark.range(16).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_emb_") + "/emb.parquet"
    (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") * 16 + F.col("copy")).alias("vec_id"),
            F.expr(
                # (i + 17*copy) % 37: 17*copy mod 37 is distinct for
                # copy 0..15, so every copy gets a different flip mask
                # (a mod-7 pattern would collapse copies c and c+7
                # into bit-identical vectors)
                "transform(embedding, (x, i) ->"
                " CASE WHEN (i + 17 * copy) % 37 < 18 THEN -x ELSE x END)"
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    print(f"RESULT embeddings corpus: {emb.count()} -> {big.count()}")
    for kernel in ("expr", "blas"):
        for cells in (16, 64, 256):
            _timed(
                f"semantic n_cells={cells} kernel={kernel}",
                lambda c=cells, k=kernel: vectors.semantic_neardup_pairs(
                    big, n_cells=c, pair_kernel=k
                ),
            )
    # guardrail ENGAGED: max_cell below the ~2K-row cells forces chunk
    # splits, so this measures the zero-chunk-bridge admission (pair
    # volume ~1.5x the chunk-equal-only rule, bounded linear either
    # way) rather than asserting it scales
    for kernel in ("expr", "blas"):
        _timed(
            f"semantic n_cells=16 max_cell=1024 bridge kernel={kernel}",
            lambda k=kernel: vectors.semantic_neardup_pairs(
                big, n_cells=16, max_cell=1024, pair_kernel=k
            ),
        )


def probe_documents(spark, sf_dir: str) -> None:
    from rigatoni_spark.llm import dedup, minhash, simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = spark.range(10).select(F.col("id").alias("copy"))
    branches = (
        "CASE "
        + " ".join(
            f"WHEN copy = {c} THEN "
            f"translate(text, '{ALPHA}', '{ALPHA[c:] + ALPHA[:c]}')"
            for c in range(10)
        )
        + " END"
    )
    amp_path = tempfile.mkdtemp(prefix="scale_docs_") + "/docs.parquet"
    (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * 10 + F.col("copy")).alias("doc_id"),
            F.expr(branches).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    print(f"RESULT documents corpus: {docs.count()} -> {big.count()}")
    probes = [
        ("minhash_pairs", minhash.candidate_pairs),
        ("ngram_jaccard", dedup.ngram_jaccard_pairs),
        ("simhash_neardups", simhash.near_duplicates),
        ("clusters", dedup.duplicate_clusters),
        ("duplicated_spans", dedup.top_duplicated_spans),
    ]
    for name, fn in probes:
        for label, df in (("1x", docs), ("10x", big)):
            _timed(f"{name} {label}", lambda f=fn, d=df: f(d))
    for label, df in (("1x", docs), ("10x", big)):
        _timed_write(
            f"chunk_clean {label}",
            lambda d=df: dedup.chunk_dedup_clean(d),
        )


def _amplified_docs(spark, sf_dir: str, copies_n: int = 10):
    """(base, amplified) documents with per-copy alphabet rotation —
    copies share no shingles, so near-dup mass grows linearly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = spark.range(copies_n).select(F.col("id").alias("copy"))
    branches = (
        "CASE "
        + " ".join(
            f"WHEN copy = {c} THEN "
            f"translate(text, '{ALPHA}', '{ALPHA[c:] + ALPHA[:c]}')"
            for c in range(copies_n)
        )
        + " END"
    )
    amp_path = tempfile.mkdtemp(prefix="scale_docs_") + "/docs.parquet"
    (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * copies_n + F.col("copy")).alias("doc_id"),
            F.expr(branches).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    return docs, spark.read.parquet(amp_path)


def probe_incremental(spark, sf_dir: str) -> None:
    """Admission-cost scaling for incremental_near_duplicates.

    The operator's contract: with a precomputed corpus band sketch
    (``corpus_bands``), per-batch admission cost is ∝ |increment| (+
    candidate verification) — NEVER ∝ |corpus|. Two sweeps prove it:

    - 10x corpus, fixed increment, precomputed index -> flat wall
      (the verify stage semi-join-prunes corpus text to candidate ids,
      so 10x more corpus rows never reach the shingle expressions);
    - fixed corpus, 10x increment -> wall grows with the batch.

    The no-index walls are printed too: they grow with the corpus (the
    sketch build itself is ∝ corpus) — that cost is the once-per-corpus
    index build the 100 TB deployment amortizes, not the per-batch fee.
    """
    from rigatoni_spark.llm import minhash

    docs, big = _amplified_docs(spark, sf_dir)
    # fixed admission batch: ~10% of the BASE corpus, ids disjoint from
    # both corpora (doc_id * 10 + copy is always even-mod-10 aligned)
    inc_small = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
    ).cache()
    inc_big = docs.select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text"
    ).cache()
    n_small, n_big = inc_small.count(), inc_big.count()
    print(
        f"RESULT incremental corpora: {docs.count()} / {big.count()} docs; "
        f"increments {n_small} / {n_big}"
    )
    for label, corpus in (("1x", docs), ("10x", big)):
        t0 = time.time()
        sketch = minhash.lsh_bands(corpus).localCheckpoint()
        print(
            f"RESULT incremental index build {label}: "
            f"{time.time() - t0:.1f}s rows={sketch.count()}",
            flush=True,
        )
        _timed(
            f"incremental admit corpus={label} inc={n_small} indexed",
            lambda c=corpus, s=sketch: minhash.incremental_near_duplicates(
                c, inc_small, max_bucket=50, corpus_bands=s
            ),
        )
        _timed(
            f"incremental admit corpus={label} inc={n_small} no-index",
            lambda c=corpus: minhash.incremental_near_duplicates(
                c, inc_small, max_bucket=50
            ),
        )
    sketch_big = minhash.lsh_bands(big).localCheckpoint()
    sketch_big.count()
    _timed(
        f"incremental admit corpus=10x inc={n_big} indexed",
        lambda: minhash.incremental_near_duplicates(
            big, inc_big, max_bucket=50, corpus_bands=sketch_big
        ),
    )
    inc_small.unpersist()
    inc_big.unpersist()


def probe_incremental_vec(spark, sf_dir: str) -> None:
    """Vector-admission twin of probe_incremental: 16x-amplified
    embedding corpus (sign-flip rotations — distinct vectors, same
    distribution), fixed increment, precomputed bucket posting list ->
    flat admission wall; the no-index walls grow with the corpus (the
    once-per-corpus index build)."""
    from pyspark.sql import functions as FF

    from rigatoni_spark.llm import vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = spark.range(16).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_emb_inc_") + "/emb.parquet"
    (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") * 16 + F.col("copy")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) ->"
                " CASE WHEN (i + 17 * copy) % 37 < 18 THEN -x ELSE x END)"
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    inc = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
    ).cache()
    n_inc = inc.count()
    print(
        f"RESULT incremental-vec corpora: {emb.count()} / {big.count()}; "
        f"increment {n_inc}"
    )
    for label, corpus in (("1x", emb), ("16x", big)):
        t0 = time.time()
        idx = vectors._materialize_once(
            corpus.select(
                FF.col("vec_id").alias("corpus_id"),
                FF.col("embedding").alias("c_emb"),
                vectors._bucket(FF.col("embedding")).alias("bucket"),
                vectors._norm(FF.col("embedding")).alias("c_nrm"),
            )
        )
        idx.count()
        print(
            f"RESULT incremental-vec index build {label}: "
            f"{time.time() - t0:.1f}s",
            flush=True,
        )
        _timed(
            f"incremental-vec admit corpus={label} inc={n_inc} indexed",
            lambda c=corpus, s=idx: vectors.incremental_embedding_neardup(
                c, inc, threshold=0.3, max_bucket=4096, corpus_buckets=s
            ),
        )
        _timed(
            f"incremental-vec admit corpus={label} inc={n_inc} no-index",
            lambda c=corpus: vectors.incremental_embedding_neardup(
                c, inc, threshold=0.3, max_bucket=4096
            ),
        )
    inc.unpersist()


def probe_chain(spark, chains: int = 32, chain_len: int = 64) -> None:
    """Plain vs pointer-doubling propagation on a maximally long-thin
    duplicate graph: docs are sliding windows (72 globally-unique
    tokens, stride 6) over a per-chain token stream, so consecutive
    windows share 66 tokens (J = 66/78 ≈ 0.846 ≥ 0.8) while
    distance-2 windows share 60 (J = 60/84 ≈ 0.714 < 0.8) — each chain
    is one path-shaped component of diameter chain_len-1. Plain
    propagation needs ~chain_len rounds; doubling ~log2(chain_len)."""
    from rigatoni_spark.llm import dedup

    W, S = 72, 6
    rows = []
    doc_id = 0
    for c in range(chains):
        stream = [f"c{c}t{i}" for i in range(W + S * (chain_len - 1))]
        for d in range(chain_len):
            rows.append(
                (doc_id, " ".join(stream[d * S : d * S + W]), f"chain{c}")
            )
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    docs = docs.repartition(8).cache()
    docs.count()
    print(
        f"RESULT chain corpus: {chains} chains x {chain_len} docs "
        f"(diameter {chain_len - 1})"
    )
    results = {}
    for flag in (False, True):
        stats: dict = {}
        t0 = time.time()
        out = dedup.duplicate_clusters(
            docs, max_iterations=4 * chain_len, doubling=flag, stats=stats
        )
        n_clusters = out.select("label").distinct().count()
        wall = time.time() - t0
        results[flag] = (wall, stats.get("rounds"))
        print(
            f"RESULT clusters doubling={flag}: {wall:.1f}s "
            f"rounds={stats.get('rounds')} clusters={n_clusters} "
            f"(expect {chains})",
            flush=True,
        )
        assert n_clusters == chains, "fixpoint mismatch on chain graph"


def probe_text_gates(spark, sf_dir: str) -> None:
    """Round-8 text operators under the 10x amplified corpus: the
    quality-logit gate and BPE pair counting are scan-shaped (explode
    -> codegen'd projection -> map-side-combined agg), so wall should
    track corpus size ~linearly with a scheduling floor."""
    from rigatoni_spark.llm import dedup as _d  # noqa: F401 (amplifier dep)
    from rigatoni_spark.llm import textstats

    docs, big = _amplified_docs(spark, sf_dir)
    for label, corpus in (("1x", docs), ("10x", big)):
        _timed(
            f"quality_logit corpus={label}",
            lambda c=corpus: textstats.quality_logit(c),
        )
        _timed(
            f"bpe_pair_counts corpus={label}",
            lambda c=corpus: textstats.bpe_pair_counts(c),
        )
        _timed(
            f"maximal_spans corpus={label}",
            lambda c=corpus: _d.maximal_duplicated_spans(c),
        )


def probe_ngram_lm(spark, sf_dir: str) -> None:
    """Round-10 trigram LM under the 10x amplified corpus. Gram
    construction is scan-fused (linear); the count tables grow with
    DISTINCT grams (the alphabet-rotated copies share no vocabulary, so
    this probe is the adversarial worst case: model size grows 10x with
    the corpus instead of saturating like a natural Zipf vocabulary);
    scoring is three shuffle joins on gram keys. Expect ~linear wall —
    superlinear would mean a join or agg lost its partial-agg shape."""
    from rigatoni_spark.llm import ngram_lm

    docs, big = _amplified_docs(spark, sf_dir)
    for label, corpus in (("1x", docs), ("10x", big)):
        _timed(
            f"lm_surprisal corpus={label}",
            lambda c=corpus: ngram_lm.lm_surprisal(c),
        )
        _timed(
            f"lm_gate corpus={label}",
            lambda c=corpus: ngram_lm.lm_gate(c),
        )


def probe_ngram_lm_100x(spark, sf_dir: str) -> None:
    """LM surprisal at 1x/10x/100x (decades apart, like probe_100x):
    the scoring join is the superlinear-risk step — the amplified
    corpus grows the model WITH the corpus (per-copy token suffixing =
    disjoint vocabularies, the worst case), so a super-linear exponent
    here would mean the join or an agg lost its partial-agg/broadcast
    shape."""
    import math

    from rigatoni_spark.llm import ngram_lm

    walls: dict[int, float] = {}
    for n in (1, 10, 100):
        big = _amplified_docs_n(spark, sf_dir, n)
        t0 = time.time()
        cnt = ngram_lm.lm_surprisal(big).count()
        walls[n] = time.time() - t0
        print(
            f"RESULT lm_surprisal corpus={n}x: {walls[n]:.1f}s rows={cnt}",
            flush=True,
        )
    e1 = math.log10(max(walls[10] / walls[1], 1e-9))
    e2 = math.log10(max(walls[100] / walls[10], 1e-9))
    print(
        f"RESULT lm_surprisal exponents: 1x->10x {e1:.2f}, "
        f"10x->100x {e2:.2f} (1.0 = linear)",
        flush=True,
    )


def probe_bpe(spark, sf_dir: str) -> None:
    """Round-9 BPE loop under the 10x amplified corpus. bpe_learn's
    per-round cost is bound by the DISTINCT-WORD vocab, not the corpus
    (the corpus is word-counted exactly once up front), so learn wall
    should grow far sub-linearly in corpus size; encode/fertility are
    scan-shaped (nested folds fused into the scan) and should track
    corpus size ~linearly with a scheduling floor."""
    import time as _t

    from rigatoni_spark.llm import textstats

    docs, big = _amplified_docs(spark, sf_dir)
    for label, corpus in (("1x", docs), ("10x", big)):
        t0 = _t.time()
        merges = textstats.bpe_learn(corpus, 8)
        print(
            f"RESULT bpe_learn corpus={label}: {_t.time() - t0:.1f}s "
            f"merges={len(merges)}",
            flush=True,
        )
        _timed(
            f"bpe_fertility corpus={label}",
            lambda c=corpus, m=merges: textstats.bpe_fertility(c, m),
        )
        _timed(
            f"bpe_encode corpus={label}",
            lambda c=corpus, m=merges: textstats.bpe_encode(c, m),
        )


def probe_bpe_merges(spark, sf_dir: str) -> None:
    """Round-10 ask #3 evidence: at a realistic merge count the
    bounded-vocab driver tier's Spark job count stays O(1) while the
    distributed tier schedules O(n_merges) sequential jobs. Runs the
    driver tier at n_merges=256 (counting jobs via a job group) and
    the distributed tier at n_merges=32 (its per-round cost is flat —
    multiply out for 256)."""
    import time as _t

    from rigatoni_spark import tables
    from rigatoni_spark.llm import textstats

    docs = tables.load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext

    def _run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            t0 = _t.time()
            out = fn()
            wall = _t.time() - t0
        finally:
            sc.setJobGroup(None, None)
        return out, wall, len(sc.statusTracker().getJobIdsForGroup(group))

    merges, wall, jobs = _run(
        "bpe_drv256", lambda: textstats.bpe_learn(docs, 256)
    )
    print(
        f"RESULT bpe_learn driver-tier n_merges=256: {wall:.1f}s "
        f"spark_jobs={jobs} merges={len(merges)}",
        flush=True,
    )
    dist, dwall, djobs = _run(
        "bpe_dist32",
        lambda: textstats.bpe_learn(docs, 32, driver_vocab_max_rows=0),
    )
    assert dist == merges[:32], "tier divergence at n_merges=32"
    print(
        f"RESULT bpe_learn distributed-tier n_merges=32: {dwall:.1f}s "
        f"spark_jobs={djobs} (per-round ~{dwall / 32:.2f}s, "
        f"extrapolated 256 rounds ~{dwall * 8:.0f}s) tiers_agree=True",
        flush=True,
    )


def _amplified_docs_n(spark, sf_dir: str, copies_n: int):
    """Arbitrary-factor corpus amplification (the alphabet-rotation
    trick caps at 26 copies): every token gets a copy-distinct suffix,
    so no two copies share a single token — near-dup mass and shingle
    vocab grow linearly — while WITHIN-copy near-dup structure is
    preserved verbatim (same docs, same mutual shingles)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if copies_n == 1:
        return docs
    copies = spark.range(copies_n).select(F.col("id").alias("copy"))
    amp_path = (
        tempfile.mkdtemp(prefix=f"scale_docs{copies_n}x_") + "/docs.parquet"
    )
    (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * copies_n + F.col("copy")).alias("doc_id"),
            F.expr(
                "array_join(transform(split(text, ' '), "
                "w -> concat(w, 'q', CAST(copy AS STRING))), ' ')"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    return spark.read.parquet(amp_path)


def probe_100x(spark, sf_dir: str) -> None:
    """Round-10 ask #5: push the superlinear-risk operators from 10x
    to ~100x and fit wall-vs-N. Three corpus sizes a decade apart so
    the growth EXPONENT is readable from the two ratios (linear-ish:
    wall ratio ~ corpus ratio; quadratic would show ~100x per decade).
    """
    import math

    from rigatoni_spark.llm import dedup as ldedup
    from rigatoni_spark.llm import simhash

    walls: dict[str, dict[int, float]] = {}
    for n in (1, 10, 100):
        big = _amplified_docs_n(spark, sf_dir, n)
        rows = big.count()
        print(f"RESULT 100x corpus {n}x: {rows} docs", flush=True)
        for label, fn in (
            ("simhash_neardups", lambda d=big: simhash.near_duplicates(d)),
            (
                "clusters_doubling",
                lambda d=big: ldedup.duplicate_clusters(d, doubling=True),
            ),
        ):
            t0 = time.time()
            out_n = fn().count()
            wall = time.time() - t0
            walls.setdefault(label, {})[n] = wall
            print(
                f"RESULT {label} {n}x: {wall:.1f}s rows={out_n}",
                flush=True,
            )
    for label, per in walls.items():
        if len(per) == 3:
            # growth exponent between decades: log10(wall ratio)
            e1 = math.log10(max(per[10] / per[1], 1e-9))
            e2 = math.log10(max(per[100] / per[10], 1e-9))
            print(
                f"RESULT {label} growth exponents: "
                f"1x->10x {e1:.2f}, 10x->100x {e2:.2f} "
                f"(1.0 = linear, 2.0 = quadratic)",
                flush=True,
            )


def probe_admission_compact_100x(spark, sf_dir: str) -> None:
    """s6 admission post-compaction at ~100x (round-10 ask #5): build
    gate state from the 100x corpus across 4 committed micro-batches,
    compact+bucketize, then time one admission micro-batch — the
    steady-state per-batch fee whose flatness-vs-corpus SCALE.md
    claims."""
    import glob as _glob
    import shutil

    from rigatoni_spark.streaming.admission import AdmissionStream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inc = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text")
        .cache()
    )
    n_inc = inc.count()
    for n in (10, 100):
        big = _amplified_docs_n(spark, sf_dir, n)
        root = tempfile.mkdtemp(prefix="adm_compact100_")
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i in range(4):
            stage = os.path.join(root, f"_stage_{i}")
            (
                big.filter(F.col("doc_id") % 4 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"b{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        g = AdmissionStream(
            spark,
            src,
            os.path.join(root, "state"),
            os.path.join(root, "ckpt"),
            max_bucket=50,
        ).start()
        g.process_all_available()
        g.stop()
        g.compact(bucketize=True, n_buckets=16)
        corpus_rows = big.count()  # outside the timed region
        t0 = time.time()
        g._admit(inc, 4)
        wall = time.time() - t0
        print(
            f"RESULT admission_compact_100x corpus={n}x "
            f"({corpus_rows} docs, inc={n_inc}): {wall:.1f}s",
            flush=True,
        )
        shutil.rmtree(root, ignore_errors=True)
    inc.unpersist()


def probe_admission_compact(spark, sf_dir: str) -> None:
    """Post-compaction streaming-admission wall (SCALE.md row).

    Builds real gate state through the stream (4 committed micro-batches
    holding the 10x amplified corpus), then times the NEXT admission
    micro-batch body (``_admit``: probe + verify + state writes) in three
    states: fragmented (one partition per batch), compacted-plain, and
    compacted-bucketized (probe index read from the bucketed table —
    zero Exchange on the index side; the plan property is pinned by
    tests/test_admission_stream.py, this measures the wall)."""
    import glob as _glob
    import shutil

    from rigatoni_spark.streaming.admission import AdmissionStream

    docs, big = _amplified_docs(spark, sf_dir)
    inc = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text")
        .cache()
    )
    n_inc = inc.count()
    print(f"RESULT admission_compact corpus={big.count()} inc={n_inc}")

    def build_state():
        root = tempfile.mkdtemp(prefix="adm_compact_")
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i in range(4):
            stage = os.path.join(root, f"_stage_{i}")
            (
                big.filter(F.col("doc_id") % 4 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"b{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        g = AdmissionStream(
            spark,
            src,
            os.path.join(root, "state"),
            os.path.join(root, "ckpt"),
            max_bucket=50,
        ).start()
        g.process_all_available()
        g.stop()
        assert g.stats.batches == 4, g.stats
        return root, g

    for label, prep in (
        ("fragmented", lambda g: None),
        ("compact-plain", lambda g: g.compact()),
        ("compact-bucketized", lambda g: g.compact(bucketize=True, n_buckets=16)),
    ):
        root, g = build_state()
        prep(g)
        t0 = time.time()
        g._admit(inc, 4)
        print(
            f"RESULT admission_compact {label}: {time.time() - t0:.1f}s "
            f"admitted={g.stats.docs_admitted - 0}",
            flush=True,
        )
        shutil.rmtree(root, ignore_errors=True)
    inc.unpersist()


def probe_pq(spark, sf_dir: str) -> None:
    """PQ family under a 16x-amplified corpus: the ADC scan (pq_topk)
    and IVF-PQ against brute-force exact cosine top-k on the same
    corpus — the measurement behind SCALE.md's claim that the
    compressed-domain scan tracks corpus size linearly with a small
    constant while probing cuts it by n_probe/n_cells."""
    from rigatoni_spark.llm import pq, vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = spark.range(16).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_pq_") + "/emb.parquet"
    (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") * 16 + F.col("copy")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) ->"
                " CASE WHEN (i + 17 * copy) % 37 < 18 THEN -x ELSE x END)"
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    print(f"RESULT pq corpus: {emb.count()} -> {big.count()}")
    for label, df in (("1x", emb), ("16x", big)):
        _timed(f"cosine_exact {label}", lambda d=df: vectors.cosine_topk(d))
        _timed(f"pq_adc {label}", lambda d=df: pq.pq_topk(d))
        _timed(f"ivfpq {label}", lambda d=df: pq.ivfpq_topk(d))
        _timed(f"pq_encode {label}", lambda d=df: pq.pq_codes(d))


def probe_binary(spark, sf_dir: str) -> None:
    """Binary sign-quantization ANN under a 16x corpus (same sign-flip
    amplification as the embeddings/pq probes): the prefilter streams
    2 popcount words per pair, so wall should grow ~linearly in corpus
    size with a small constant, and the exact-cosine stage stays fixed
    at n_queries x rerank pairs regardless of corpus."""
    from rigatoni_spark.llm import vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = spark.range(16).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_bin_") + "/emb.parquet"
    (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") * 16 + F.col("copy")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) ->"
                " CASE WHEN (i + 17 * copy) % 37 < 18 THEN -x ELSE x END)"
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    _timed(
        "binary_topk base corpus",
        lambda: vectors.binary_quantize_topk(emb),
    )
    _timed(
        "binary_topk 16x corpus",
        lambda: vectors.binary_quantize_topk(big),
    )


def probe_scd2_state(spark, sf_dir: str) -> None:
    """Round-11 ask #3: live-key STATE scaling of the two per-key
    stateful streams (scd2_stream, materialize_stream) under the
    RocksDB state-store provider. Copies shift user_id/event_id into
    disjoint ranges, so KEYS (and rows) scale by the copy count while
    per-key history length stays fixed; each scale drains 4 file-fed
    micro-batches (per-key arrival order preserved — time slices
    concatenate across copies). Reported per scale: live keys, state
    rows from the engine's stateOperators metrics (scd2 state rows ==
    live keys, one struct each; deletes remove materialize rows), and
    median per-batch wall — the claim under test is state ∝ keys,
    per-batch wall ∝ batch rows, NOT log length."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rigatoni_spark.operators.materialize import (
        materialize_stream,
        scd2_stream,
    )
    from rigatoni_spark.session import rocksdb_state, start_checkpointed
    from rigatoni_spark.sources.change_events import (
        read_change_events_stream,
    )

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = t.num_rows
    base_keys = pc.count_distinct(t["user_id"]).as_py()
    uid_i = t.schema.get_field_index("user_id")
    eid_i = t.schema.get_field_index("event_id")
    off = 100_000_000
    n_slices = 4
    for copies in (1, 10, 100):
        root = tempfile.mkdtemp(prefix="scd2_state_")
        try:
            feed = os.path.join(root, "feed")
            os.makedirs(feed)
            for i in range(n_slices):
                sl = t.slice(
                    i * n // n_slices, (i + 1) * n // n_slices - i * n // n_slices
                )
                parts = [
                    sl.set_column(
                        uid_i, "user_id", pc.add(sl["user_id"], c * off)
                    ).set_column(
                        eid_i, "event_id", pc.add(sl["event_id"], c * off)
                    )
                    for c in range(copies)
                ]
                pq.write_table(
                    pa.concat_tables(parts),
                    os.path.join(feed, f"{i:03d}.parquet"),
                )
            for op_name, op in (
                ("scd2_stream", scd2_stream),
                ("materialize_stream", materialize_stream),
            ):
                sdf = read_change_events_stream(
                    spark, feed, max_files_per_trigger=1
                )
                with rocksdb_state(spark):
                    q = start_checkpointed(
                        op(sdf)
                        .writeStream.outputMode("append")
                        .format("noop")
                        .trigger(availableNow=True),
                        os.path.join(root, f"ck_{op_name}"),
                    )
                    t0 = time.time()
                    ok = q.awaitTermination(1800)
                    wall = time.time() - t0
                if not ok or q.exception() is not None:
                    raise RuntimeError(
                        f"{op_name} x{copies} failed: {q.exception()}"
                    )
                progress = [p for p in (q.recentProgress or []) if p]
                batch_ms = sorted(
                    p["durationMs"]["triggerExecution"]
                    for p in progress
                    if (p.get("durationMs") or {}).get("triggerExecution")
                    and (p.get("numInputRows") or 0) > 0
                )
                state_rows = max(
                    (
                        so.get("numRowsTotal", 0)
                        for p in progress
                        for so in (p.get("stateOperators") or [])
                    ),
                    default=0,
                )
                print(
                    f"RESULT scd2_state {op_name} x{copies} "
                    f"rows={n * copies} keys={base_keys * copies} "
                    f"state_rows={state_rows} "
                    f"batch_ms_median={batch_ms[len(batch_ms) // 2] if batch_ms else None} "
                    f"wall={wall:.1f}s provider=rocksdb",
                    flush=True,
                )
        finally:
            shutil.rmtree(root, ignore_errors=True)


def probe_scd2_reorder_state(spark, sf_dir: str, copies: int = 10) -> None:
    """Reorder-mode BUFFER state (round-12, x100 in round-13): xN key
    universe fed as 6 adjacent-swapped (ts, event_id)-sorted slices +
    a far-future sentinel, under RocksDB. The bounded-buffer claim:
    state peaks at live keys + at most one reorder window of held
    events, and drains back toward one struct per key once the
    watermark passes — and the disorder premium (swapped wall /
    in-order wall) stays flat as the key universe grows."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rigatoni_spark.operators.materialize import scd2_stream
    from rigatoni_spark.session import rocksdb_state, start_checkpointed
    from rigatoni_spark.sources.change_events import (
        read_change_events_stream,
    )

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    base_keys = pc.count_distinct(t["user_id"]).as_py()
    uid_i = t.schema.get_field_index("user_id")
    eid_i = t.schema.get_field_index("event_id")
    off = 100_000_000
    import datetime

    t10 = pa.concat_tables(
        [
            t.set_column(uid_i, "user_id", pc.add(t["user_id"], c * off))
            .set_column(eid_i, "event_id", pc.add(t["event_id"], c * off))
            for c in range(copies)
        ]
    )
    t10 = t10.take(
        pc.sort_indices(
            t10, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    n10, k_sl = t10.num_rows, 6
    ts0, ts1 = t10["ts"][0].as_py(), t10["ts"][-1].as_py()
    span_s = (
        (ts1 - ts0) / 1e9
        if isinstance(ts1, int)
        else (ts1 - ts0).total_seconds()
    )
    delay_s = int(span_s / 3) + 3600
    row0 = {c: t10.column(c)[0].as_py() for c in t10.column_names}
    row0["user_id"] = 999_999_937
    row0["event_id"] = pc.max(t10["event_id"]).as_py() + 1
    row0["ts"] = (
        ts1 + 2 * delay_s * 1_000_000_000
        if isinstance(ts1, int)
        else ts1 + datetime.timedelta(seconds=2 * delay_s)
    )
    slices = [
        t10.slice(i * n10 // k_sl, (i + 1) * n10 // k_sl - i * n10 // k_sl)
        for i in range(k_sl)
    ]
    # disordered vs in-order feed through the SAME mode: rows stay ==
    # keys either way (the hold-back buffer lives INSIDE each key's
    # struct arrays); the held events show up as state MEMORY, so the
    # disordered-minus-in-order gap IS the buffer
    for label, order in (
        ("swapped", [1, 0, 3, 2, 5, 4]),
        ("in_order", [0, 1, 2, 3, 4, 5]),
    ):
        root = tempfile.mkdtemp(prefix="scd2_reorder_state_")
        try:
            feed = os.path.join(root, "feed")
            os.makedirs(feed)
            for i, sl in enumerate(order):
                pq.write_table(
                    slices[sl], os.path.join(feed, f"{i:03d}.parquet")
                )
            pq.write_table(
                pa.Table.from_pylist([row0], schema=t10.schema),
                os.path.join(feed, "006.parquet"),
            )
            sdf = read_change_events_stream(
                spark, feed, max_files_per_trigger=1
            )
            with rocksdb_state(spark):
                q = start_checkpointed(
                    scd2_stream(sdf, reorder_within=f"{delay_s} seconds")
                    .writeStream.outputMode("append")
                    .format("noop")
                    .trigger(availableNow=True),
                    os.path.join(root, "ck_reorder"),
                )
                t0 = time.time()
                ok = q.awaitTermination(1800)
                wall = time.time() - t0
            if not ok or q.exception() is not None:
                raise RuntimeError(f"reorder probe failed: {q.exception()}")
            ops = [
                so
                for p in (q.recentProgress or [])
                for so in (p.get("stateOperators") or [])
            ]
            totals = [so.get("numRowsTotal", 0) for so in ops]
            mem = [so.get("memoryUsedBytes", 0) for so in ops]
            print(
                f"RESULT scd2_state reorder {label} x{copies} rows={n10} "
                f"keys={base_keys * copies} state_rows_peak={max(totals)} "
                f"state_rows_final={totals[-1] if totals else None} "
                f"state_mb_per_batch={[round(m / 1e6, 1) for m in mem]} "
                f"reorder_within_s={delay_s} wall={wall:.1f}s "
                f"provider=rocksdb",
                flush=True,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


def probe_fanout(spark, sf_dir: str) -> None:
    """O2 COLLECTION-level fan-out concurrency (round-13 ask #6): the
    reference claims 4 workers ≈ 20-40K events/s
    (docs/architecture.md:383-385). Here one StreamingQuery runs per
    collection, all inside one Spark scheduler — this probe measures
    the same feed drained by 1 DATABASE-level query vs 2 and 4
    concurrent per-collection queries (collection = user_id % 4, so
    each query keeps ~1/N of the rows it scans; the fan-out trades N×
    scan amplification for per-collection checkpoint/key isolation).
    Each variant runs twice; min is reported (steal guard)."""
    import shutil

    import pyarrow.parquet as pq

    from rigatoni_spark.config import (
        PipelineConfig,
        S3SinkConfig,
        SerializationFormat,
        PartitionStrategy,
        WatchLevel,
    )
    from rigatoni_spark.streaming.pipeline import Pipeline

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = table.num_rows

    def run(colls: list[str] | None) -> float:
        root = tempfile.mkdtemp(prefix="fanout_probe_")
        try:
            src = os.path.join(root, "src")
            os.makedirs(src)
            n_chunks = 8
            step = (n + n_chunks - 1) // n_chunks
            for i in range(n_chunks):
                pq.write_table(
                    table.slice(i * step, step),
                    os.path.join(src, f"{i:03d}.parquet"),
                )
            cfg = (
                PipelineConfig(batch_timeout_secs=0.1, batch_size=400)
                if colls is None
                else PipelineConfig(
                    batch_timeout_secs=0.1,
                    batch_size=400,
                    watch_level=WatchLevel.COLLECTION,
                    collections=colls,
                )
            )
            sink = S3SinkConfig(
                bucket=os.path.join(root, "out"),
                format=SerializationFormat.JSON,
                partition_strategy=PartitionStrategy.COLLECTION_BASED,
                single_file_per_group=False,
            )
            p = Pipeline(
                spark, cfg, sink, src, os.path.join(root, "ckpt")
            ).start()
            t0 = time.time()
            p.process_all_available()
            wall = time.time() - t0
            p.stop()
            return wall
        finally:
            shutil.rmtree(root, ignore_errors=True)

    for label, colls in (
        ("1q_database", None),
        ("2q_collection", ["c0", "c1"]),
        ("4q_collection", ["c0", "c1", "c2", "c3"]),
    ):
        walls = [run(colls) for _ in range(2)]
        wall = min(walls)
        # the N-query variants only KEEP the selected collections'
        # rows; normalize eps to rows actually flowing to sinks
        kept = n if colls is None else round(n * len(colls) / 4)
        print(
            f"RESULT fanout {label} rows={n} kept~={kept} "
            f"wall_min={wall:.2f}s walls={[round(w, 2) for w in walls]} "
            f"eps_kept={round(kept / wall)}",
            flush=True,
        )


def probe_events(spark, sf_dir: str) -> None:
    """SCD2 history and gapfill under a 10x event log (copies shift
    event_id/user_id so the key universe scales too). Both are
    single-exchange shapes — wall should track the log linearly."""
    from rigatoni_spark.operators.advanced import time_bucket_gapfill
    from rigatoni_spark.operators.materialize import scd2_history
    from rigatoni_spark.sources.change_events import as_change_events
    from rigatoni_spark.tables import load_table, normalize_ts

    ev = load_table(spark, sf_dir, "events")
    copies = spark.range(10).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_ev_") + "/events.parquet"
    (
        ev.crossJoin(F.broadcast(copies))
        .select(
            (F.col("event_id") * 10 + F.col("copy")).alias("event_id"),
            "ts",
            (F.col("user_id") * 10 + F.col("copy")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = normalize_ts(spark.read.parquet(amp_path), "ts")
    from rigatoni_spark.operators.advanced import (
        similar_user_pairs,
        value_motifs,
    )

    for label, df in (("base", ev), ("10x", big)):
        _timed(
            f"scd2_history {label} log",
            lambda d=df: scd2_history(as_change_events(d)),
        )
        _timed(
            f"gapfill_locf {label} log",
            lambda d=df: time_bucket_gapfill(d),
        )
        # round-10 ts ops: motifs are one Exchange+Sort (∝ log);
        # similar_users' pair volume grows with the 10x user universe
        # inside 24 peak-hour blocks (the guardrail's regime)
        _timed(
            f"value_motifs {label} log",
            lambda d=df: value_motifs(d),
        )
        _timed(
            f"similar_users {label} log",
            lambda d=df: similar_user_pairs(d),
        )


def probe_ts_similarity(spark, sf_dir: str) -> None:
    """Round-11 asks #3/#6: (a) at 100x users, each added sign-LSH
    contrast bit should shrink the worst bucket (the escape hatch's
    own guardrail remedy); (b) a single hot event_type at 10x volume
    should break value_motifs' per-key sort bound while the day-salted
    twin stays flat."""
    from rigatoni_spark.operators.advanced import (
        _lsh_bucket_expr,
        user_activity_profiles,
        value_motifs,
        value_motifs_salted,
    )
    from rigatoni_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")

    # --- (a) LSH bucket distribution vs n_bits at 100x users ---------
    copies = spark.range(100).select(F.col("id").alias("copy"))
    big_users = (
        ev.crossJoin(F.broadcast(copies))
        .select(
            (F.col("event_id") * 100 + F.col("copy")).alias("event_id"),
            "ts",
            (F.col("user_id") * 100 + F.col("copy")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
    )
    prof = user_activity_profiles(big_users).persist()
    n_users = prof.count()
    print(f"[ts_similarity] 100x profiles: {n_users} users")
    for n_bits in (4, 6, 8, 10):
        stats = (
            prof.selectExpr(f"({_lsh_bucket_expr(n_bits)}) AS bucket")
            .groupBy("bucket")
            .count()
            .agg(
                F.max("count").alias("worst"),
                F.sum(F.expr("count * (count - 1) / 2")).alias("pairs"),
                F.count(F.lit(1)).alias("buckets"),
            )
            .first()
        )
        print(
            f"[ts_similarity] n_bits={n_bits}: buckets={stats['buckets']} "
            f"worst_bucket={stats['worst']} "
            f"within_bucket_pairs={int(stats['pairs'])}"
        )
    prof.unpersist()

    # --- (b) hot-type skew: unsalted vs salted motif mining ----------
    amp = 100
    hot = (
        ev.crossJoin(
            F.broadcast(spark.range(amp).select(F.col("id").alias("copy")))
        )
        .select(
            (F.col("event_id") * amp + F.col("copy")).alias("event_id"),
            "ts",
            "user_id",
            F.lit("hot").alias("event_type"),  # ONE key owns the log
            "value",
            "props",
        )
    )
    amp_path = tempfile.mkdtemp(prefix="scale_hot_") + "/events.parquet"
    hot.write.mode("overwrite").parquet(amp_path)
    from rigatoni_spark.tables import normalize_ts

    hot_ev = normalize_ts(spark.read.parquet(amp_path), "ts")
    n_hot = hot_ev.count()
    print(f"[ts_similarity] hot-type log: {n_hot} rows, 1 event_type")
    _timed(
        f"value_motifs hot {amp}x (per-key sort = whole log, 1 partition)",
        lambda: value_motifs(hot_ev),
    )
    _timed(
        f"value_motifs_salted hot {amp}x (per type-day partitions)",
        lambda: value_motifs_salted(hot_ev),
    )
    _timed("value_motifs base", lambda: value_motifs(ev))
    _timed("value_motifs_salted base", lambda: value_motifs_salted(ev))


def probe_sketches(spark, sf_dir: str) -> None:
    """HLL / CMS / Bloom under a 10x event log: output size is fixed
    by construction (1024 registers / 2048 cells / 8192 bits), so wall
    should track the single input scan and nothing else."""
    from rigatoni_spark.operators.sketches import (
        bloom_semijoin_report,
        cms_point_estimates,
        hll_distinct,
    )
    from rigatoni_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    copies = spark.range(10).select(F.col("id").alias("copy"))
    amp_path = tempfile.mkdtemp(prefix="scale_sk_") + "/events.parquet"
    (
        ev.crossJoin(F.broadcast(copies))
        .select(
            (F.col("event_id") * 10 + F.col("copy")).alias("event_id"),
            "ts",
            (F.col("user_id") * 10 + F.col("copy")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(amp_path)
    )
    big = spark.read.parquet(amp_path)
    cust = load_table(spark, sf_dir, "customer")
    for label, df in (("base", ev), ("10x", big)):
        _timed(
            f"hll_distinct {label} log",
            lambda d=df: hll_distinct(d, "user_id"),
        )
        _timed(
            f"cms_estimates {label} log",
            lambda d=df: cms_point_estimates(d, "event_type"),
        )
        _timed(
            f"bloom_report {label} log",
            lambda d=df: bloom_semijoin_report(
                d, "user_id", cust, "c_custkey"
            ),
        )


def main() -> None:
    from rigatoni_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "which",
        nargs="?",
        default="all",
        choices=["embeddings", "documents", "chain", "incremental", "incremental_vec", "admission_compact", "admission_compact_100x", "hundredx", "text_gates", "bpe", "bpe_merges", "ngram_lm", "ngram_lm_100x", "pq", "binary", "events", "scd2_state", "scd2_reorder", "scd2_reorder_100x", "fanout", "sketches", "ts_similarity", "all"],
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    spark = get_spark(app_name="scale_probe")
    if args.which in ("embeddings", "all"):
        probe_embeddings(spark, args.sf_dir)
    if args.which in ("documents", "all"):
        probe_documents(spark, args.sf_dir)
    if args.which in ("chain", "all"):
        probe_chain(spark)
    if args.which in ("incremental", "all"):
        probe_incremental(spark, args.sf_dir)
    if args.which in ("incremental_vec", "all"):
        probe_incremental_vec(spark, args.sf_dir)
    if args.which in ("text_gates", "all"):
        probe_text_gates(spark, args.sf_dir)
    if args.which in ("bpe", "all"):
        probe_bpe(spark, args.sf_dir)
    if args.which in ("bpe_merges", "all"):
        probe_bpe_merges(spark, args.sf_dir)
    if args.which in ("ngram_lm", "all"):
        probe_ngram_lm(spark, args.sf_dir)
    if args.which == "ngram_lm_100x":  # too heavy for "all"
        probe_ngram_lm_100x(spark, args.sf_dir)
    if args.which in ("admission_compact", "all"):
        probe_admission_compact(spark, args.sf_dir)
    if args.which == "hundredx":  # too heavy for "all"
        probe_100x(spark, args.sf_dir)
    if args.which == "admission_compact_100x":  # too heavy for "all"
        probe_admission_compact_100x(spark, args.sf_dir)
    if args.which in ("pq", "all"):
        probe_pq(spark, args.sf_dir)
    if args.which in ("binary", "all"):
        probe_binary(spark, args.sf_dir)
    if args.which in ("events", "all"):
        probe_events(spark, args.sf_dir)
    if args.which == "scd2_state":  # 100x key amplification, not in "all"
        probe_scd2_state(spark, args.sf_dir)
    if args.which == "scd2_reorder":  # reorder-buffer state, not in "all"
        probe_scd2_reorder_state(spark, args.sf_dir)
    if args.which == "scd2_reorder_100x":  # round-13 ask #5, not in "all"
        probe_scd2_reorder_state(spark, args.sf_dir, copies=100)
    if args.which == "fanout":  # O2 concurrency probe, not in "all"
        probe_fanout(spark, args.sf_dir)
    if args.which in ("sketches", "all"):
        probe_sketches(spark, args.sf_dir)
    if args.which == "ts_similarity":  # 100x amplification, not in "all"
        probe_ts_similarity(spark, args.sf_dir)


if __name__ == "__main__":
    main()
