"""Text analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All pure ``pyspark.sql.functions`` column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each has an exact
ANSI-SQL twin for the DuckDB oracle (kept adjacent here so they evolve
together).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rigatoni_spark.tables import spread, tokenize_once


def _tokens(col: str = "text"):
    """Whitespace tokenization. ``split`` on single space matches the
    synthetic corpus; real corpora would use ``\\s+``."""
    return F.split(F.col(col), " ")


def token_counts(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + distinct tokens + a BPE-ish
    proxy (4 chars/token heuristic ceil(len/4), the public
    rule-of-thumb for byte-pair-encoded subwords)."""
    toks = _tokens()
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.ceil(F.length("text") / F.lit(4)).cast("bigint").alias("n_bpe_est"),
    ).orderBy("doc_id")


TOKEN_COUNTS_ORACLE = """
SELECT doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
  CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM documents ORDER BY doc_id
"""


def quality_scores(documents: DataFrame) -> DataFrame:
    """Quality scoring: length, type-token ratio, mean token length,
    stopword ratio — the standard cheap pre-filter signals for corpus
    cleaning. Ratios are exact rational values rounded once (IEEE
    division is deterministic across engines)."""
    toks = _tokens()
    stop = F.array([F.lit(w) for w in ["the", "a", "of", "and", "to", "in"]])
    n_tok = F.size(toks)
    return documents.select(
        "doc_id",
        F.length("text").alias("text_len"),
        n_tok.alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 4).alias("ttr"),
        F.round(
            (F.length("text") - n_tok + 1) / n_tok, 4
        ).alias("mean_token_len"),
        F.round(
            F.size(F.array_intersect(toks, stop)) / n_tok, 4
        ).alias("stopword_kind_ratio"),
    ).orderBy("doc_id")


QUALITY_ORACLE = """
SELECT doc_id,
  LENGTH(text) AS text_len,
  len(string_split(text, ' ')) AS n_tokens,
  ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
        / len(string_split(text, ' ')), 4) AS ttr,
  ROUND((LENGTH(text) - len(string_split(text, ' ')) + 1) * 1.0
        / len(string_split(text, ' ')), 4) AS mean_token_len,
  ROUND(len(list_intersect(list_distinct(string_split(text, ' ')),
        ['the','a','of','and','to','in'])) * 1.0
        / len(string_split(text, ' ')), 4) AS stopword_kind_ratio
FROM documents ORDER BY doc_id
"""


def lang_profile(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic output profile.

    The corpus carries a ``lang`` label; the heuristic re-derives a
    latin/cjk signal from the text (ASCII ratio) and aggregates per
    label — per-language corpus composition, the groupBy every corpus
    audit runs. One shuffle over ~10 groups."""
    ascii_ratio = F.round(
        F.length(F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", ""))
        / F.length("text"),
        4,
    )
    return (
        documents.withColumn("ascii_ratio", ascii_ratio)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # cast: DuckDB types bare SUM(BIGINT) as HUGEINT; pin both
            # engines to BIGINT so the driver's value-hash agrees
            F.sum(F.col("n_chars")).cast("bigint").alias("total_chars"),
            # scaled int (basis points x100) instead of a rounded double:
            # rounded doubles are 1-ulp fragile across engines in hashed
            # output columns
            F.round(F.min("ascii_ratio") * 10000)
            .cast("bigint")
            .alias("min_ascii_ratio_x10k"),
        )
        .orderBy("lang")
    )


LANG_PROFILE_ORACLE = """
WITH t AS (
  SELECT lang, n_chars,
    ROUND(LENGTH(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) * 1.0
          / LENGTH(text), 4) AS ascii_ratio
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(ROUND(MIN(ascii_ratio) * 10000) AS BIGINT) AS min_ascii_ratio_x10k
FROM t GROUP BY lang ORDER BY lang
"""


def langid_heuristic(documents: DataFrame) -> DataFrame:
    """Per-document language-family classification (n-gram/charset
    heuristic): CJK if any CJK codepoint, accented-latin if the ASCII
    ratio dips below 0.9, else latin — plus the evidence columns.

    This is the cheap first-pass router real pipelines run before an
    expensive model-based identifier; pure regexp/length expressions,
    fused into the scan."""
    n_cjk = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]", "")
    )
    ascii_ratio = F.round(
        F.length(F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", ""))
        / F.length("text"),
        4,
    )
    return documents.select(
        "doc_id",
        "lang",
        n_cjk.alias("n_cjk_chars"),
        ascii_ratio.alias("ascii_ratio"),
        F.when(n_cjk > 0, "cjk")
        .when(ascii_ratio < 0.9, "accented_latin")
        .otherwise("latin")
        .alias("lang_family"),
    ).orderBy("doc_id")


LANGID_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
    LENGTH(text) - LENGTH(regexp_replace(text,
      '[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]', '', 'g')) AS n_cjk_chars,
    ROUND(LENGTH(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) * 1.0
          / LENGTH(text), 4) AS ascii_ratio
  FROM documents
)
SELECT doc_id, lang, n_cjk_chars, ascii_ratio,
  CASE WHEN n_cjk_chars > 0 THEN 'cjk'
       WHEN ascii_ratio < 0.9 THEN 'accented_latin'
       ELSE 'latin' END AS lang_family
FROM t ORDER BY doc_id
"""


def fingerprints(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: full-text MD5 plus a word-order-
    insensitive content fingerprint (MD5 of the sorted distinct token
    list) — the cheap building block for exact and shuffled-text dedup."""
    toks = _tokens()
    return documents.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.md5(
            F.concat_ws("\x01", F.array_sort(F.array_distinct(toks)))
        ).alias("bag_md5"),
    ).orderBy("doc_id")


FINGERPRINTS_ORACLE = """
SELECT doc_id,
  md5(text) AS text_md5,
  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),
      chr(1))) AS bag_md5
FROM documents ORDER BY doc_id
"""


def top_tokens(documents: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-wide token frequencies, top-k (the vocabulary head — the
    first thing every corpus audit and stopword-list build looks at).

    explode -> ONE groupBy(token) count (map-side combine crushes the
    Zipf head before the exchange) -> small global top-k sort."""
    toks = spread(documents).select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def top_tokens_oracle(k: int = 50) -> str:
    return f"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT {k}
"""


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF ordering.

    The score is the exact-integer surrogate ``floor(tf * N * 10000 /
    df)`` (linear inverse document frequency instead of log): identical
    ordering properties for ranking within a document, but pure integer
    arithmetic — no ``ln`` whose last-ulp differs between libm
    implementations, so the output hash-matches across engines.

    Shape: tf = one groupBy (doc, token); df = one groupBy (token) over
    distinct (doc, token) — both map-side-combined; df joins back on
    token (at 100 TB: broadcast the vocabulary head, shuffle the tail).
    """
    documents = spread(documents)
    toks = documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("token")
    )
    tf = (
        documents.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = documents.select(F.countDistinct("doc_id").alias("n"))
    df_ = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            F.floor(
                F.col("tf") * F.col("n") * 10000 / F.col("df")
            ).alias("score_x10k"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_x10k").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


def tfidf_oracle(k: int = 3) -> str:
    return f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text,' ')))
          AS token FROM documents)
  GROUP BY token
), n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT doc_id, token, tf,
    CAST(FLOOR(tf * n * 10000.0 / df) AS BIGINT) AS score_x10k
  FROM tf JOIN df USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_x10k DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, tf, score_x10k, rank
FROM ranked WHERE rank <= {k} ORDER BY doc_id, rank
"""


def bigram_counts(documents: DataFrame, k: int = 30) -> DataFrame:
    """Top-k word bigrams corpus-wide (the LM-style n-gram count table,
    n=2). One explode of per-row 2-grams -> one count shuffle. The
    token array is materialized in its own projection BEFORE the gram
    lambda (round-13, guide §4/§2.3): a split() referenced inside the
    transform would re-tokenize the doc once per window position —
    O(words²) per doc (the ``_qlf_features`` / ``ngram_lm._grams``
    pattern; CollapseProject keeps the multi-referenced alias)."""
    toks = F.col("__toks")
    # guard: Spark's sequence(1, 0) counts DOWN (step defaults to -1),
    # unlike DuckDB's empty generate_series — make <2-token docs
    # explicitly empty so both engines agree
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        tokenize_once(spread(documents))
        .select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(k)
    )


def bigram_oracle(k: int = 30) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
grams AS (
  SELECT unnest(list_transform(
    generate_series(1, greatest(len(w) - 1, 0)),
    i -> array_to_string(w[i:i+1], ' '))) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n
FROM grams GROUP BY bigram ORDER BY n DESC, bigram LIMIT {k}
"""


# Conservative character-class pattern shared by Java regex (Spark) and
# RE2 (DuckDB): letter runs | digit runs | single other non-space chars
# — the GPT-style pre-tokenizer shape without engine-specific syntax.
_BPE_PATTERN = "([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])"


def regex_token_counts(documents: DataFrame) -> DataFrame:
    """BPE-ish regex tokenization (pre-tokenizer counts): letter runs,
    digit runs, and punctuation singletons counted per document —
    the accurate sibling of token_counts' 4-chars heuristic."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN))
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_regex_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_regex_tokens"),
    ).orderBy("doc_id")


REGEX_TOKENS_ORACLE = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_BPE_PATTERN}'))
    AS n_regex_tokens,
  len(list_distinct(regexp_extract_all(text, '{_BPE_PATTERN}')))
    AS n_distinct_regex_tokens
FROM documents ORDER BY doc_id
"""


def rarity_scores(documents: DataFrame) -> DataFrame:
    """Corpus-surprisal quality score per document — the log-free twin
    of a unigram-LM perplexity filter (CCNet-style: docs whose tokens
    are improbable under the corpus model are outliers worth gating).

    Each token's weight is its linear inverse corpus frequency
    ``(total_tokens * 10000) div cnt(token)`` and a document scores
    the integer mean weight of its tokens — pure int64 arithmetic end
    to end (``div``, never ``/``), the same cross-engine-exactness rule
    as :func:`tfidf_top_terms`; a true ``-log p`` weighting would order
    documents identically at the tails but its last ulp differs between
    libm implementations.

    Shape: one explode -> token groupBy (map-side combined) for the
    vocabulary, broadcast 1-row total, token join back, doc groupBy.
    At 100 TB the vocabulary join is the only real shuffle; its Zipf
    head is tiny and AQE broadcast-joins it at test scale.
    """
    documents = spread(documents)
    toks = documents.select("doc_id", F.explode(_tokens()).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    weights = vocab.join(F.broadcast(total)).select(
        "token", F.expr("total * 10000 div cnt").alias("weight")
    )
    return (
        toks.join(weights, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("weight").alias("sw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("sw div n_tokens").alias("rarity_x10k"),
        )
        .orderBy("doc_id")
    )


RARITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
), total AS (SELECT SUM(cnt) AS total FROM vocab),
weights AS (
  SELECT token, (total * 10000) // cnt AS weight
  FROM vocab CROSS JOIN total
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(w.weight) // COUNT(*) AS BIGINT) AS rarity_x10k
FROM toks t JOIN weights w USING (token)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


QLF_DIM = 128
QLF_BIAS = 0


def qlf_weights(dim: int = QLF_DIM) -> list[int]:
    """Deterministic stand-in weight vector for the fastText-style
    quality gate: a Knuth multiplicative scramble of the bucket id
    into [-500, 500]. A trained classifier ships its real weights the
    same way — a driver-held integer vector riding the plan as a
    literal; only the VALUES change."""
    return [((j * 2654435761) % 1001) - 500 for j in range(dim)]


def write_qlf_weights(
    spark, path: str, weights: list[int] | None = None
) -> None:
    """Materialize a weight vector as the (bucket, weight) parquet
    artifact ``quality_logit(weights_path=...)`` consumes — the wire
    format a trained fastText/DCLM-style classifier would export."""
    from rigatoni_spark.tables import local_df

    ws = weights if weights is not None else qlf_weights()
    local_df(
        spark,
        [(j, int(w)) for j, w in enumerate(ws)],
        "bucket int, weight long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _qlf_feats_expr(toks=None):
    """Hashed unigram+bigram feature array — the ONE feature pipeline
    shared verbatim by the gate (``quality_logit``) and the trainer
    (``train_qlf_weights``): train/serve skew here would silently
    mis-score every document.

    ``toks`` must be a PRE-MATERIALIZED token-array column (round-13
    optimization): with the old inline ``split()``, every
    ``element_at`` inside the bigram transform lambda re-tokenized the
    whole document once per sequence element — O(words²) characters
    per doc, the exact trap ``ngram_lm._grams`` documents and avoids.
    Referencing an attribute makes the split run once per row. Callers
    go through :func:`_qlf_features`, which owns the materializing
    projection."""
    if toks is None:
        toks = _tokens()
    unis = toks
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return F.concat(unis, bis)


def _qlf_features(df: DataFrame, *keep: str) -> DataFrame:
    """One row per hashed-feature occurrence: (*keep, f). The shared
    explode spine of the gate and the trainer — the token array is
    materialized in its own projection BEFORE the bigram lambda (see
    ``_qlf_feats_expr``; CollapseProject keeps the multi-referenced
    split un-inlined, which is what makes tokenization once-per-row)."""
    return tokenize_once(df, *keep).select(
        *keep, F.explode(_qlf_feats_expr(F.col("__toks"))).alias("f")
    )


def _qlf_bucket(dim: int):
    """md5-hash a feature string (column ``f``) into [0, dim)."""
    h = F.conv(
        F.substring(F.md5(F.col("f").cast("binary")), 1, 15), 16, 10
    ).cast("bigint")
    return (h % dim).cast("int")


def train_qlf_weights(
    labeled: DataFrame,
    dim: int = QLF_DIM,
    alpha: int = 1,
    scale: int = 1000,
) -> list[int]:
    """Train the quality gate's weight vector in-engine, closing the
    train -> artifact -> gate loop (round-9 ask #4): the output list
    feeds ``write_qlf_weights`` and the resulting parquet is exactly
    what ``quality_logit(weights_path=..., weights_dim=dim)`` consumes.

    Method: per-bucket CENTERED naive-Bayes log-count ratio (the
    Wang & Manning 2012 "Baselines and Bigrams" NBSVM feature weight,
    with the class-prior term removed)::

        w_j = floor(scale * log( (pos_j + a) / (neg_j + a) ))

    over the SAME hashed unigram+bigram buckets the gate scores with
    (``_qlf_feats_expr`` / ``_qlf_bucket`` are shared, so there is no
    train/serve feature skew by construction). Closed-form, so the
    result is deterministic and hand-pinnable — no optimizer seed.

    Centering is what honors the artifact's implicit-zero contract:
    a bucket absent from BOTH classes weighs EXACTLY 0 (log(a/a)),
    even on imbalanced training data — the uncentered NBSVM form
    would give every unseen bucket the constant class prior
    log(neg_tot/pos_tot), silently scoring all-novel-vocabulary
    documents by training-set imbalance alone. The excluded prior is
    a per-feature constant; fold it into ``quality_logit(bias=)`` if
    the deployment wants calibrated class odds rather than a ranking
    gate.

    ``labeled`` needs columns ``text`` and ``label`` (1 = keep-class
    exemplar, 0 = drop-class). Distributed shape: one explode + one
    map-side-combined (bucket -> pos/neg count) agg — a single shuffle
    of at most ``dim`` groups; the bounded (≤ dim rows) count table is
    collected and the log-odds computed in-driver (the same
    driver-held-bounded-artifact shape as the k-means centroids and
    the BPE merge table)."""
    import math

    counts = (
        _qlf_features(
            labeled.select(
                F.col("label").cast("bigint").alias("label"), "text"
            ),
            "label",
        )
        .select("label", _qlf_bucket(dim).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum("label").alias("pos"),
            F.sum(1 - F.col("label")).alias("neg"),
        )
        .collect()
    )
    pos = {r["bucket"]: int(r["pos"]) for r in counts}
    neg = {r["bucket"]: int(r["neg"]) for r in counts}
    return [
        math.floor(
            scale
            * math.log((pos.get(j, 0) + alpha) / (neg.get(j, 0) + alpha))
        )
        for j in range(dim)
    ]


def quality_logit(
    documents: DataFrame,
    threshold_x10k: int = 0,
    dim: int = QLF_DIM,
    bias: int = QLF_BIAS,
    weights_path: str | None = None,
    weights_dim: int | None = None,
) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier gate
    shape every public pretraining pipeline runs (CCNet / GPT-3's
    WebText-vs-CommonCrawl filter; fastText: Joulin et al. 2016,
    "Bag of Tricks for Efficient Text Classification"): hashed
    unigram+bigram features x a weight vector -> mean feature weight
    as the document logit, keep/drop at a threshold.

    Exactness: features hash through the engine-portable md5 idiom
    (operators/sketches.py) into ``dim`` buckets; weights are integers
    riding the plan as an array literal, so the feature sum is exact
    int64 and the mean is the one shared-IEEE ``floor(x10k)`` division
    every near-dup operator already uses.

    Plan shape: explode one row per feature (the bigram builder is the
    only higher-order lambda — string concat, cheap interpreted), then
    hash + weight lookup run as a CODEGEN'D projection over the
    exploded rows (higher-order ``aggregate`` folds are
    CodegenFallback — pushing the md5 into one cost 10x wall), then one
    map-side-combined per-doc agg. One shuffle of (doc_id, weight)
    pairs, zero joins, no UDF; the weight vector is ~1 KB of plan
    literal, never a table.

    ``weights_path`` swaps the literal stand-in vector for a TRAINED
    artifact: a (bucket int, weight long) parquet table (the shape a
    fastText/DCLM-style classifier exports; see ``write_qlf_weights``)
    and the lookup becomes a broadcast hash join on the bucket id — at
    real fastText dims (2M buckets ≈ 16 MB) that broadcast is cheap
    while a 2M-element array literal would bloat every task's plan.
    Buckets absent from the artifact weigh 0 (fastText's implicit-zero
    rows). The hash modulus for a file artifact is ``weights_dim`` when
    given; a SPARSE artifact whose top buckets are all zero MUST pass
    it (the max(bucket)+1 fallback would shrink the modulus and remap
    every feature)."""
    weights_df = None
    if weights_path is not None:
        spark = documents.sparkSession
        weights_df = spark.read.parquet(weights_path).select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("weight").cast("bigint").alias("wt"),
        )
        if weights_dim is not None:
            dim = int(weights_dim)
        else:
            top = weights_df.agg(F.max("bucket")).collect()[0][0]
            if top is None:
                raise ValueError(
                    f"weight artifact {weights_path} is empty; a gate "
                    "with no weights scores nothing"
                )
            dim = int(top) + 1
    exploded = _qlf_features(spread(documents), "doc_id")
    bucket = _qlf_bucket(dim)
    if weights_df is not None:
        scored = (
            exploded.select("doc_id", bucket.alias("bucket"))
            .join(F.broadcast(weights_df), "bucket", "left")
            .select("doc_id", F.coalesce(F.col("wt"), F.lit(0)).alias("wt"))
        )
    else:
        warr = F.array(*[F.lit(w) for w in qlf_weights(dim)])
        wt = F.element_at(warr, bucket + 1)
        scored = exploded.select("doc_id", wt.alias("wt"))
    return (
        scored
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            (F.sum("wt") + bias).alias("s"),
        )
        .select(
            "doc_id",
            "n_features",
            F.floor(F.col("s") * 10000 / F.col("n_features")).alias(
                "logit_x10k"
            ),
        )
        .select(
            "doc_id",
            "n_features",
            "logit_x10k",
            (F.col("logit_x10k") >= threshold_x10k)
            .cast("bigint")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


def quality_logit_oracle(
    threshold_x10k: int = 0, dim: int = QLF_DIM, bias: int = QLF_BIAS
) -> str:
    rows = ", ".join(f"({j}, {w})" for j, w in enumerate(qlf_weights(dim)))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
feats AS (
  SELECT doc_id, f FROM toks, LATERAL unnest(w) AS u(f)
  UNION ALL
  SELECT doc_id, w[i] || ' ' || w[i+1] AS f
  FROM toks, LATERAL unnest(generate_series(1, len(w) - 1)) AS g(i)
),
weights(j, wt) AS (VALUES {rows}),
scored AS (
  SELECT doc_id, COUNT(*) AS n_features, SUM(wt) + {bias} AS s
  FROM feats JOIN weights
    ON (('0x' || substring(md5(f), 1, 15))::BIGINT % {dim}) = j
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
       CAST(FLOOR(s * 10000.0 / n_features) AS BIGINT) AS logit_x10k,
       CAST(CASE WHEN FLOOR(s * 10000.0 / n_features) >= {threshold_x10k}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored ORDER BY doc_id
"""


def bpe_pair_counts(documents: DataFrame, k: int = 30) -> DataFrame:
    """Tokenizer induction, round one: corpus-wide adjacent
    character-pair counts within words — the merge-candidate table the
    first BPE iteration ranks (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units"; the same counting
    loop GPT-2's byte-level BPE runs per merge). Output: the top-``k``
    pairs by occurrence count (ties broken by pair text — a total
    order, so the cut is hash-stable).

    Full BPE alternates count -> merge -> recount; each round is THIS
    shape (the merge rewrites the symbol column between rounds), so one
    round is the representative distributed kernel: explode words ->
    explode in-word adjacent pairs (both scan-stage) -> one map-side
    combined count agg -> TakeOrdered top-k. At 100 TB nothing but
    (pair, partial count) rows ever shuffles."""
    toks = _tokens()
    word = F.col("word")
    # substring(col, i, 2) with a COLUMN start position needs expr form
    pairs = F.when(
        F.length(word) >= 2,
        F.expr(
            "transform(sequence(1, length(word) - 1),"
            " i -> substring(word, i, 2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        spread(documents)
        .select(F.explode(toks).alias("word"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(k)
    )


def bpe_pair_counts_oracle(k: int = 30) -> str:
    return f"""
WITH words AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
pairs AS (
  SELECT word[i:i+1] AS pair
  FROM words, LATERAL unnest(generate_series(1, len(word) - 1)) AS g(i)
)
SELECT pair, COUNT(*) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC LIMIT {k}
"""


def _sq(s: str) -> str:
    """Escape a literal for a Spark SQL single-quoted string."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _merge_fold_expr(inner: str, left: str, right: str, lvl: int) -> str:
    """Spark SQL for one greedy BPE merge application: a left fold over
    a symbol array. Scanning left-to-right, ``left`` followed by
    ``right`` collapses into ``left || right``; the freshly merged
    symbol is strictly longer than ``left`` so it can never re-match as
    the left element of the same pair within the round — exactly the
    textbook greedy semantics (run "a a a" under pair (a,a) -> [aa, a],
    never [a, aa]). ``lvl`` uniquifies the lambda variable names so the
    folds nest (Spark rejects shadowed lambda variables)."""
    l, m = _sq(left), _sq(left + right)
    r = _sq(right)
    a, s = f"acc{lvl}", f"s{lvl}"
    return (
        f"aggregate({inner}, CAST(array() AS array<string>), "
        f"({a}, {s}) -> IF(size({a}) > 0 "
        f"AND element_at({a}, -1) = '{l}' AND {s} = '{r}', "
        f"concat(slice({a}, 1, size({a}) - 1), array('{m}')), "
        f"concat({a}, array({s}))))"
    )


_CHARS_EXPR = "filter(split({col}, ''), c -> c <> '')"


# Above this many distinct words the merge loop stays distributed (one
# small Spark job per round over the persisted vocab); at or below it
# the vocab is collected ONCE and every merge round folds in-driver —
# SentencePiece's shape. Real vocabularies need 10^3-10^4 merges, and
# one Spark job + driver round-trip per merge round means thousands of
# sequential jobs whose scheduling overhead dwarfs the work; the
# distinct-word table is bounded (heaps law: ~vocabulary size, not
# corpus size), so the driver loop is the 100 TB default for any
# realistic threshold. Same guarded-bounded-collect pattern as
# AdmissionStream.BUCKETIZE_MIN_ROWS.
BPE_DRIVER_VOCAB_MAX_ROWS = 1_000_000

# Distributed-tier lineage-truncation window: nested greedy folds are
# safe to this depth (measured), and truncating only every Nth round
# keeps the materialized vocab copies N× fewer.
_BPE_CKPT_EVERY = 8


def _bpe_apply_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Driver twin of ``_merge_fold_expr``: greedy left fold — the
    freshly merged symbol never re-matches as the left element of the
    same pair within the round ("a a a" under (a,a) -> [aa, a])."""
    out: list[str] = []
    merged = left + right
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = merged
        else:
            out.append(s)
    return out


def _bpe_learn_driver(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[dict]:
    """In-driver merge loop over the collected (word, count) vocab —
    bitwise-identical results to the distributed loop: each round's
    winner is max by (count, then SMALLEST left, SMALLEST right
    symbol), matching ``orderBy(n desc, l, r).limit(1)`` under Spark's
    default UTF8_BINARY collation (Python str comparison is the same
    code-point order); merge application is the same greedy fold."""
    vocab: list[tuple[list[str], int]] = [
        (list(word), cnt) for word, cnt in word_counts
    ]
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (l, r), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append(
            {
                "merge_rank": rank,
                "left_sym": l,
                "right_sym": r,
                "merged": l + r,
                "n_occurrences": int(n),
            }
        )
        vocab = [
            (
                _bpe_apply_merge(syms, l, r)
                if len(syms) >= 2
                else syms,
                cnt,
            )
            for syms, cnt in vocab
        ]
    return merges


def bpe_learn(
    documents: DataFrame,
    n_merges: int = 8,
    driver_vocab_max_rows: int = BPE_DRIVER_VOCAB_MAX_ROWS,
) -> list[dict]:
    """Tokenizer induction, the full loop: iterate ``n_merges`` rounds
    of count -> pick -> merge over the distinct-word frequency table
    (Sennrich et al. 2016) and return the ordered merge table — the
    driver-held, bounded artifact every later encode broadcasts (the
    same driver-held-small-state shape as the k-means centroids).

    Deterministic by construction: each round's winner is the max by
    (occurrence count, left symbol, right symbol) — a total order — and
    merge application is the greedy left fold of ``_merge_fold_expr``.

    Two tiers on the same corpus-scanned-once vocab (the corpus is
    word-counted exactly once up front, the only full-data shuffle):

    - vocab row count ≤ ``driver_vocab_max_rows`` (the realistic case —
      distinct words grow ~Heaps-law-sublinearly, not with the corpus):
      collect the bounded (word, count) table ONCE and fold ALL merge
      rounds in-driver. Total Spark jobs: 2 (count + collect),
      independent of ``n_merges`` — a 32k-merge vocabulary no longer
      schedules 32k sequential jobs.
    - above the threshold: the distributed loop — per round, one
      scan-stage pair explode over the persisted vocab, one
      map-side-combined count agg, a 1-row collect, and a fold
      projection; the previous round's vocab is unpersisted so lineage
      stays one round deep.

    Both tiers produce identical merge tables (pinned in pytest)."""
    words = (
        spread(documents)
        .select(F.explode(_tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words_persisted = False
    if driver_vocab_max_rows > 0:
        # persist: the count probe and the collect (or the distributed
        # loop's first vocab materialization) must not re-scan the corpus
        words = words.persist()
        words_persisted = True
        if words.count() <= driver_vocab_max_rows:
            try:
                rows = words.collect()
            finally:
                words.unpersist()
            return _bpe_learn_driver(
                [(r["word"], int(r["cnt"])) for r in rows], n_merges
            )
    # localCheckpoint every _BPE_CKPT_EVERY rounds: persist alone does
    # NOT truncate lineage, so the greedy fold nests one level deeper
    # per round and the analyzed plan / generated code grow with the
    # round count — a 32-round always-nested loop OOMed the JVM heap
    # in codegen (measured r10; r9 only ever ran 8 rounds, which is
    # safe — hence the truncation window of 8). Checkpointing only
    # every 8th round bounds fold depth AND keeps the number of
    # materialized vocab copies 8x lower; superseded checkpoint blocks
    # are freed when the ContextCleaner collects the dropped DataFrame
    # (GC-tied lifetime — the same accepted trade as the family's lazy
    # localCheckpoints, see SCALE.md; a persist here would pin a
    # CacheManager entry per round instead). Local checkpoints are
    # executor-local — on a multi-node cluster the driver tier above
    # is the realistic path anyway.
    vocab = words.select(
        "word",
        "cnt",
        F.expr(_CHARS_EXPR.format(col="word")).alias("syms"),
    ).localCheckpoint(eager=True)
    if words_persisted:
        words.unpersist()
        words_persisted = False
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pair = F.expr(
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS l, "
            "element_at(syms, i + 1) AS r))"
        )
        best = (
            vocab.filter(F.size("syms") >= 2)
            .select("cnt", F.explode(pair).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append(
            {
                "merge_rank": rank,
                "left_sym": l,
                "right_sym": r,
                "merged": l + r,
                "n_occurrences": n,
            }
        )
        vocab = vocab.withColumn(
            "syms", F.expr(_merge_fold_expr("syms", l, r, rank))
        )
        if rank % _BPE_CKPT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def bpe_learn_table(
    documents: DataFrame,
    n_merges: int = 8,
    merges: list[dict] | None = None,
) -> DataFrame:
    """``bpe_learn`` as a DataFrame (merge_rank, left_sym, right_sym,
    merged, n_occurrences) for the oracle-checked catalog entry.
    Pass precomputed ``merges`` to skip re-running the learn loop."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("merge_rank", LongType()),
            StructField("left_sym", StringType()),
            StructField("right_sym", StringType()),
            StructField("merged", StringType()),
            StructField("n_occurrences", LongType()),
        ]
    )
    from rigatoni_spark.tables import local_df

    if merges is None:
        merges = bpe_learn(documents, n_merges)
    rows = [tuple(m[f.name] for f in schema.fields) for m in merges]
    return local_df(documents.sparkSession, rows, schema).orderBy(
        "merge_rank"
    )


def bpe_encode(documents: DataFrame, merges: list[dict]) -> DataFrame:
    """Apply a learned merge table: tokenize every document to the BPE
    symbol stream it would feed a trainer, as (doc_id, pos, token,
    token_id) rows. Encoding is the same greedy fold as training,
    applied per word in merge-rank order — so for words seen at train
    time the output equals the trainer's final vocab state (the
    standard BPE train/encode equivalence), while unseen words still
    encode correctly through the same folds.

    Scale shape (round-13: vocabulary-level fold, guide §2.3 "decide
    with small rows" — the same restructure as ``bpe_fertility``): the
    nested greedy folds are an interpreted CodegenFallback higher-order
    expression whose value depends only on the word string, so they run
    once per DISTINCT word (Heaps'-law bounded, corpus-size-
    independent) instead of once per word occurrence. The distinct-word
    table with its folded symbol arrays is broadcast back onto the word
    stream (the same vocabulary boundedness ``bpe_learn``'s driver tier
    relies on); a token's stream position is its word's running token
    offset (one word-level sum window per doc — word rows, not token
    rows) plus its within-word index, exactly the oracle's
    ``ROW_NUMBER() OVER (ORDER BY wpos, j)``. The merge table rides the
    plan as literals (bounded, driver-held). Token ids are a dense rank
    over the distinct symbols actually emitted (≤ |alphabet| + n_merges
    strings); the driver probe that collects them reads the folded
    VOCAB table, not the token stream — vocab-sized job, no second
    corpus pass."""
    from pyspark.sql import Window

    inner = _CHARS_EXPR.format(col="w")
    for lvl, m in enumerate(merges, start=1):
        inner = _merge_fold_expr(inner, m["left_sym"], m["right_sym"], lvl)
    words = spread(documents).select(
        "doc_id",
        F.posexplode(
            F.expr("filter(split(text, ' '), w0 -> w0 <> '')")
        ).alias("wpos", "w"),
    )
    # fold once per distinct word; every emitted token is a symbol of
    # some word's fold, so the distinct symbols of THIS table are the
    # distinct tokens of the stream. The vocab table is model-sized
    # (Heaps'-law bounded); localCheckpoint materializes it in ONE
    # corpus pass so its four consumers below (the size probe, two
    # attach joins, and the token-id probe) read the blocks instead of
    # each re-running the distinct-words aggregation (an extra corpus
    # scan per use).
    vocab = (
        words.select("w")
        .distinct()
        .withColumn("syms", F.expr(inner))
        .localCheckpoint()
    )
    win = Window.partitionBy("doc_id").orderBy("wpos")
    # scale hatch (single-scalar probe, the containment_pairs pattern —
    # safe to collect at any corpus scale since vocab is materialized):
    # broadcast the vocab only while it is model-sized. A pathological
    # whitespace vocabulary (URLs/IDs at web scale can push Heaps'
    # growth past Spark's 8 GB / 512M-row broadcast cap) routes both
    # attach joins through shuffled-hash instead — same rows, no cliff.
    if vocab.count() <= 5_000_000:
        _attach = F.broadcast
    else:

        def _attach(df: DataFrame) -> DataFrame:
            return df.hint("shuffle_hash")

    # two joins against the same vocab so the window exchange ships
    # only (doc_id, wpos, w, nt) — the folded symbol arrays are
    # re-attached AFTER the shuffle (guide §2.3: shuffle keys and
    # metadata, move the payload once)
    stream = (
        words.join(
            _attach(vocab.select("w", F.size("syms").alias("nt"))), "w"
        )
        .withColumn("off", F.sum("nt").over(win) - F.col("nt"))
        .join(_attach(vocab), "w")
        .select("doc_id", "off", F.posexplode("syms").alias("j", "token"))
        .select(
            "doc_id",
            (F.col("off") + F.col("j") + 1).cast("long").alias("pos"),
            "token",
        )
    )
    spark = documents.sparkSession
    # bounded vocabulary: base alphabet + one new string per merge
    toks = sorted(
        r["token"]
        for r in vocab.select(F.explode("syms").alias("token"))
        .distinct()
        .collect()
    )
    from rigatoni_spark.tables import local_df

    ids = local_df(
        spark,
        [(t, i) for i, t in enumerate(toks)],
        "token string, token_id long",
    )
    return (
        stream.join(F.broadcast(ids), "token")
        .select("doc_id", "pos", "token", "token_id")
        .orderBy("doc_id", "pos")
    )


def bpe_fertility(documents: DataFrame, merges: list[dict]) -> DataFrame:
    """Tokenizer fertility audit: characters per BPE token by source —
    the compression-ratio table every tokenizer change ships with (a
    source whose fertility jumps is one the tokenizer serves badly;
    the multilingual-fertility concern raised for GPT-style BPEs).

    Token counts are computed at the VOCABULARY level (round-13
    optimization, guide §2.3 "decide with small rows"): per-doc token
    counts are a sum over the doc's words of toks(word), and toks(word)
    depends only on the word string — so the nested greedy folds (the
    expensive interpreted higher-order expression, CodegenFallback)
    run once per DISTINCT (source, word) instead of once per word
    occurrence. Word occurrences are Zipf-distributed: the grouped
    table is Heaps'-law bounded (~vocabulary size, not corpus size —
    the same bound ``bpe_learn``'s driver tier already relies on), so
    the fold count is corpus-size-independent while the old
    per-occurrence form paid it O(corpus tokens) times. One corpus
    scan (posexplode of the word array; a doc's char length rides its
    pos-0 row so doc counts need no second pass), one
    vocabulary-bounded map-side-combined shuffle, then the fold as a
    plain projection over the grouped rows — no join, no second pass.
    A doc with zero non-empty words has no pos-0 row and drops out
    exactly like the old ``n_toks > 0`` filter (every word folds to
    >= 1 token). Ratios are integer (x100) for engine-exact hashing."""
    inner = _CHARS_EXPR.format(col="w")
    for lvl, m in enumerate(merges, start=1):
        inner = _merge_fold_expr(inner, m["left_sym"], m["right_sym"], lvl)
    # doc_chars is materialized BELOW the explode (round-13, guide
    # §4/§2.3): left in the same select, it lands in the Project above
    # Generate and length(text) re-runs once per word row — O(words x
    # chars) per doc — while the text payload itself rides through the
    # Generate; as an attribute it is a 4-byte column and text is
    # pruned at the scan boundary
    words = (
        spread(documents)
        .select("source", F.length("text").alias("doc_chars"), "text")
        .select(
            "source",
            "doc_chars",
            F.posexplode(
                F.expr("filter(split(text, ' '), w0 -> w0 <> '')")
            ).alias("pos", "w"),
        )
    )
    # (source, word) counts; each doc's n_chars and existence counted
    # once, on the row of its first word. The fold then runs as a plain
    # projection over THESE grouped rows — |sources| x |vocab| evals,
    # no second corpus pass, no join.
    wc = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("pos") == 0, True)).alias("lead_docs"),
        F.sum(F.when(F.col("pos") == 0, F.col("doc_chars"))).alias(
            "lead_chars"
        ),
    )
    return (
        wc.withColumn("toks_w", F.expr(f"size({inner})"))
        .groupBy("source")
        .agg(
            F.sum("lead_docs").alias("n_docs"),
            F.sum(F.col("cnt") * F.col("toks_w"))
            .cast("bigint")
            .alias("n_tokens"),
            F.sum("lead_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("n_chars * 100 div n_tokens").alias(
                "chars_per_token_x100"
            ),
        )
        .orderBy("source")
    )


def bpe_fertility_oracle(n_merges: int = 8) -> str:
    return f"""
WITH {_bpe_vocab_ctes(n_merges)},
doc_words AS MATERIALIZED (
  SELECT doc_id, words[g.i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       LATERAL unnest(generate_series(1, len(words))) AS g(i)
  WHERE words[g.i] <> ''
),
per_doc AS (
  SELECT d.doc_id, SUM(len(v.syms)) AS n_toks
  FROM doc_words d JOIN vocab_{n_merges} v USING (word)
  GROUP BY d.doc_id
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
       CAST(SUM(LENGTH(text)) * 100 // SUM(n_toks) AS BIGINT)
         AS chars_per_token_x100
FROM documents JOIN per_doc USING (doc_id)
GROUP BY source ORDER BY source
"""


def _bpe_vocab_ctes(n_merges: int) -> str:
    """DuckDB CTE chain computing the BPE training state: ``words`` ->
    ``vocab_0`` (character symbols) -> per round r: pair counts,
    deterministic best pair, and a POSITIONAL greedy rewrite. The
    rewrite mirrors the Spark fold without a fold: a match chain (runs
    of overlapping matches, only possible when left==right) executes at
    even offsets from its chain start — exactly which pairs the
    left-to-right greedy scan merges."""
    parts = [
        """words AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
vocab_0 AS MATERIALIZED (
  SELECT word, cnt,
         list_transform(generate_series(1, length(word)), i -> word[i])
           AS syms
  FROM words
)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(
            f"""pairs_{r} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS r2, SUM(cnt) AS n
  FROM vocab_{p}, LATERAL unnest(generate_series(1, len(syms) - 1)) AS g(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
),
best_{r} AS MATERIALIZED (
  -- sentinel fallback keeps the chain alive when the corpus exhausts
  -- mergeable pairs before round {r} (pairs_{r} empty means no word
  -- has >= 2 symbols, so the sentinel can never match and vocab_{r}
  -- passes through unchanged — mirroring bpe_learn's early break)
  SELECT * FROM
    (SELECT l, r2, n FROM pairs_{r} ORDER BY n DESC, l, r2 LIMIT 1)
  UNION ALL
  SELECT chr(1) AS l, chr(1) AS r2, CAST(0 AS BIGINT) AS n
  WHERE NOT EXISTS (SELECT 1 FROM pairs_{r})
),
pos_{r} AS MATERIALIZED (
  SELECT v.word, v.cnt, g.i, v.syms[g.i] AS sym,
         (g.i < len(v.syms) AND v.syms[g.i] = b.l
          AND v.syms[g.i + 1] = b.r2) AS m
  FROM vocab_{p} v CROSS JOIN best_{r} b,
       LATERAL unnest(generate_series(1, len(v.syms))) AS g(i)
),
chain_{r} AS MATERIALIZED (
  SELECT word, i,
         ((i - MIN(i) OVER (PARTITION BY word, grp)) % 2 = 0) AS ex
  FROM (
    SELECT word, i,
           i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
    FROM pos_{r} WHERE m
  )
),
vocab_{r} AS MATERIALIZED (
  SELECT p.word, p.cnt,
         list(CASE WHEN COALESCE(c.ex, FALSE) THEN p.sym || b.r2
              ELSE p.sym END ORDER BY p.i) AS syms
  FROM pos_{r} p
  CROSS JOIN best_{r} b
  LEFT JOIN chain_{r} c ON c.word = p.word AND c.i = p.i
  LEFT JOIN chain_{r} cp ON cp.word = p.word AND cp.i = p.i - 1 AND cp.ex
  WHERE cp.word IS NULL
  GROUP BY p.word, p.cnt
)"""
        )
    return ",\n".join(parts)


def bpe_learn_oracle(n_merges: int = 8) -> str:
    rows = "\n  UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, l AS left_sym, "
        f"r2 AS right_sym, l || r2 AS merged, "
        f"CAST(n AS BIGINT) AS n_occurrences FROM best_{r} WHERE n > 0"
        for r in range(1, n_merges + 1)
    )
    return (
        f"WITH {_bpe_vocab_ctes(n_merges)}\n"
        f"SELECT * FROM (\n  {rows}\n) ORDER BY merge_rank"
    )


def bpe_encode_oracle(n_merges: int = 8, sample_mod: int | None = None) -> str:
    """Encode oracle; merges always learn on the full corpus, while
    ``sample_mod`` restricts the ENCODED documents (doc_id % mod = 0)
    to bound the hashed output — mirrored by the catalog's Spark side."""
    gate = f"WHERE doc_id % {sample_mod} = 0" if sample_mod else ""
    return f"""
WITH {_bpe_vocab_ctes(n_merges)},
doc_words AS MATERIALIZED (
  SELECT doc_id, g.i AS wpos, words[g.i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS words
        FROM documents {gate}),
       LATERAL unnest(generate_series(1, len(words))) AS g(i)
  WHERE words[g.i] <> ''
),
doc_syms AS (
  SELECT d.doc_id, d.wpos, g.j, v.syms[g.j] AS token
  FROM doc_words d JOIN vocab_{n_merges} v USING (word),
       LATERAL unnest(generate_series(1, len(v.syms))) AS g(j)
),
stream AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wpos, j) AS pos,
         token
  FROM doc_syms
),
ids AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id
  FROM (SELECT DISTINCT token FROM stream)
)
SELECT s.doc_id, CAST(s.pos AS BIGINT) AS pos, s.token AS token,
       CAST(i.token_id AS BIGINT) AS token_id
FROM stream s JOIN ids i USING (token)
ORDER BY doc_id, pos
"""


def source_signatures(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-source signature terms: the k tokens most over-represented
    in each source vs the whole corpus — the domain-shift audit a
    training-mix pipeline runs when a new crawl/source lands (a
    pointwise-mutual-information proxy without the log).

    ``lift_x10k`` is the integer ratio of the source's per-10k token
    rate to the corpus rate, computed as two chained integer divisions
    (each bounded, overflow-free at any scale) — deterministic across
    engines by construction; tokens whose corpus rate floors to zero
    (< 1 per 10k) are excluded, which is the right semantics anyway:
    lift against a vanishing base rate is noise, and the guard also
    bounds the join to the vocabulary head.

    Shape: two token groupBys (per-source and corpus-wide, both
    map-side combined), a vocabulary-head join, top-k window per
    source.
    """
    documents = spread(documents)
    toks = documents.select("source", F.explode(_tokens()).alias("token"))
    src = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt_src")
    )
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("total_src"))
    allc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_all"))
    all_tot = toks.agg(F.count(F.lit(1)).alias("total_all"))
    rates = (
        allc.join(F.broadcast(all_tot))
        .select(
            "token",
            F.expr("cnt_all * 10000 div total_all").alias("rate_all_x10k"),
        )
        .filter(F.col("rate_all_x10k") >= 1)
    )
    scored = (
        src.join(F.broadcast(src_tot), "source")
        .join(rates, "token")
        .select(
            "source",
            "token",
            F.expr(
                "(cnt_src * 10000 div total_src) * 10000 div rate_all_x10k"
            ).alias("lift_x10k"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("lift_x10k").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("source", "rank")
    )


def source_signatures_oracle(k: int = 5) -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), src AS (
  SELECT source, token, COUNT(*) AS cnt_src FROM toks
  GROUP BY source, token
), src_tot AS (
  SELECT source, COUNT(*) AS total_src FROM toks GROUP BY source
), allc AS (
  SELECT token, COUNT(*) AS cnt_all FROM toks GROUP BY token
), all_tot AS (SELECT COUNT(*) AS total_all FROM toks),
rates AS (
  SELECT * FROM (
    SELECT token, (cnt_all * 10000) // total_all AS rate_all_x10k
    FROM allc CROSS JOIN all_tot)
  WHERE rate_all_x10k >= 1
), scored AS (
  SELECT s.source, s.token,
         ((s.cnt_src * 10000 // t.total_src) * 10000)
           // r.rate_all_x10k AS lift_x10k
  FROM src s JOIN src_tot t USING (source) JOIN rates r USING (token)
), ranked AS (
  SELECT source, token, CAST(lift_x10k AS BIGINT) AS lift_x10k,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY lift_x10k DESC, token) AS rank
  FROM scored
)
SELECT source, token, lift_x10k, rank FROM ranked
WHERE rank <= {k} ORDER BY source, rank
"""
