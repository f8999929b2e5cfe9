"""Corpus-quality operators over the ``documents`` table — Gopher-style
repetition filtering and benchmark decontamination.

The reference has no text processing at all (its surface is the
DataFusion 48 SQL engine, SURVEY.md §2.B); these are LLM-data-pipeline
north-star extensions (BASELINE.json) alongside operators/text.py.

Scale posture:

- ``text_repetition_stats`` is the explode → two-phase-aggregate
  shape: the shuffle key is (doc_id, token), so partition size tracks
  tokens-per-document, never corpus size.  For 10k-token web documents
  at 100 TB this stays uniform; the per-row higher-order-function
  alternative (O(L²) per document) would not.
- ``dedup_decontaminate`` joins training shingles against the
  *benchmark* shingle set.  Benchmark/eval corpora are tiny relative
  to training data (MBs vs TBs), so the eval side is broadcast —
  contamination checking at 100 TB is then one shuffle-free scan over
  the training shingles plus a per-doc partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.operators.memo import memoize
from adt_spark.queries import register, tables

#: Shingle width for decontamination (published pipelines use 8–13-gram
#: word overlap; 4 fits the driver's short synthetic documents).
NGRAM = 4

#: Deterministic benchmark split: every 20th document stands in for the
#: held-out eval set being protected from contamination.
EVAL_MOD = 20




def _word_shingles(with_toks: DataFrame) -> DataFrame:
    """(doc_id, toks) → exploded word {NGRAM}-gram shingles — the one
    shingle definition decontamination and the composed pipeline
    share (a width change must move both in lockstep)."""
    return with_toks.filter(F.size("toks") >= NGRAM).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {NGRAM}),"
                f" i -> array_join(slice(toks, i + 1, {NGRAM}), ' '))"
            )
        ).alias("shingle"),
    )


def _eval_shingle_set(shingled: DataFrame) -> DataFrame:
    """The held-out benchmark's distinct shingles (broadcast side)."""
    return (
        shingled.filter(F.col("doc_id") % EVAL_MOD == 0).select("shingle").distinct()
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), c AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
             AS top_token_ratio,
           CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE) AS dup_token_ratio
    FROM c GROUP BY doc_id
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition ratios per document: the fraction of
    tokens taken by the single most frequent token, and the fraction
    belonging to any repeated token.  High values flag boilerplate /
    degenerate documents for removal from a training mix.

    Two-phase aggregation: count per (doc_id, token) — map-side
    partial combine absorbs the within-document repetition before the
    shuffle — then fold per doc_id.  Ratios are double divisions of
    exact integer counts, bit-identical to the oracle.
    """
    docs = tables(spark, sf_dir)["documents"]
    per_token = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_token.groupBy("doc_id")
        .agg(
            F.max("cnt").alias("max_cnt"),
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup"),
        )
        .select(
            "doc_id",
            (F.col("max_cnt").cast("double") / F.col("n_tokens").cast("double")).alias(
                "top_token_ratio"
            ),
            (F.col("dup").cast("double") / F.col("n_tokens").cast("double")).alias(
                "dup_token_ratio"
            ),
        )
    )


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(len(toks) - {NGRAM - 1}),
                                   i -> array_to_string(toks[i+1:i+{NGRAM}], ' ')))
               AS shingle
      FROM t WHERE len(toks) >= {NGRAM}
    ), ev AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT s.doc_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_hit_shingles
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % {EVAL_MOD} <> 0
    GROUP BY s.doc_id
    """,
    tags=("dedup", "decontamination", "ngram"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word {NGRAM}-gram with the held-out eval split, with the count of
    distinct overlapping shingles (the PaLM/GPT-3 eval-overlap rule).

    The eval shingle set is broadcast (benchmarks are MBs; training
    data is TBs), so the training side is a single scan — explode to
    shingles, broadcast-hash-join, per-doc aggregate — with its only
    shuffle keyed by doc_id for the final count-distinct.
    """
    docs = tables(spark, sf_dir)["documents"]
    shingled = _word_shingles(docs.select("doc_id", F.split("text", " ").alias("toks")))
    eval_shingles = _eval_shingle_set(shingled)
    return (
        shingled.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hit_shingles"))
    )




#: token budget per packed training sequence (shared by the bin
#: assignment operator and the packing consumer — they must agree).
PACK_BUDGET = 256


def _token_bins(docs: DataFrame) -> DataFrame:
    """Greedy in-order bin assignment: per-source cumulative token sum
    DIV the budget — the ONE definition both packing operators use."""
    from pyspark.sql import Window as W

    toks = F.size(F.split(F.col("text"), " "))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    return docs.select(
        "doc_id",
        "source",
        "text",
        toks.alias("n_tokens"),
        F.floor(F.coalesce(F.sum(toks).over(w), F.lit(0)) / float(PACK_BUDGET))
        .cast("bigint")
        .alias("bin_id"),
    )


@register(
    "q_token_pack_bins",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(cum_before / 256.0) AS BIGINT) AS bin_id
    FROM c
    """,
    tags=("text", "packing", "window"),
)
def q_token_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign documents to
    fixed token-budget bins (256 tokens) per source — the deterministic
    first-fit-by-order approximation of example packing.  bin_id =
    floor(running-token-count-before / budget), a single window pass.

    Scale posture: the window partitions by source, so state is one
    running sum per partition; for a source too large for one task,
    pre-shard the key (source, hash(doc_id) % k) — same plan shape.
    One shuffle total; no iteration, no driver loop.
    """
    docs = tables(spark, sf_dir)["documents"]
    return _token_bins(docs).select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "bin_id",
    )


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), stats AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN
               ('the','a','an','and','or','of','to','in','is','on')))
               AS DOUBLE) / len(toks) AS stop_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS distinct_ratio
      FROM tok
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(len(toks) - {NGRAM - 1}),
                    i -> array_to_string(toks[i+1:i+{NGRAM}], ' '))) AS shingle
      FROM tok WHERE len(toks) >= {NGRAM}
    ), contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM sh s JOIN (SELECT DISTINCT shingle FROM sh
                      WHERE doc_id % {EVAL_MOD} = 0) ev USING (shingle)
      WHERE s.doc_id % {EVAL_MOD} <> 0
    )
    SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           s.stop_ratio, s.distinct_ratio
    FROM stats s
    WHERE s.lang = 'en' AND s.doc_id % {EVAL_MOD} <> 0
      AND s.n_tokens >= 20 AND s.stop_ratio <= 0.30
      AND s.distinct_ratio >= 0.35
      AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    tags=("pipeline", "quality", "decontamination"),
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composed filter chain a
    training-data pipeline actually ships: language gate → length
    gate → stopword-ratio gate → repetition (distinct-ratio) gate →
    benchmark decontamination, emitting the surviving documents with
    their quality stats.

    The composition stays one pass over the corpus: the quality gates
    are shuffle-free per-row expressions; the only joins are the
    broadcast eval-shingle hit list (anti-join) — so the whole
    pipeline costs one scan + one broadcast anti-join at any corpus
    size.  Each stage is individually oracle-checked by its own
    operator (text_quality_score, text_repetition_stats,
    dedup_decontaminate); this query pins their composition.
    """
    from adt_spark.operators.text import STOPWORDS

    docs = tables(spark, sf_dir)["documents"]
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    stats = docs.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "toks",
        F.size("toks").alias("n_tokens"),
        (
            F.expr(f"size(filter(toks, x -> x IN ({sw})))").cast("double")
            / F.size("toks")
        ).alias("stop_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "distinct_ratio"
        ),
    )
    shingled = _word_shingles(stats)
    eval_shingles = _eval_shingle_set(shingled)
    contaminated = (
        shingled.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_shingles), "shingle")
        .select("doc_id")
        .distinct()
    )
    return (
        stats.filter(
            (F.col("lang") == "en")
            & (F.col("doc_id") % EVAL_MOD != 0)
            & (F.col("n_tokens") >= 20)
            & (F.col("stop_ratio") <= 0.30)
            & (F.col("distinct_ratio") >= 0.35)
        )
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "stop_ratio",
            "distinct_ratio",
        )
    )


@register(
    "text_vocab_topk",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    tags=("text", "vocab", "heavy-hitters"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters: the top-20 tokens by frequency —
    vocabulary induction / stop-list discovery for a tokenizer
    pipeline.

    Exact formulation: explode → partial+final count (map-side combine
    absorbs per-partition repetition) → ``TakeOrderedAndProject``
    (per-partition heaps, no global sort), with a token tiebreak so
    the result set is deterministic across engines.  For extreme
    cardinalities where even the counted shuffle hurts, Spark 4's
    ``approx_top_k`` sketch is the drop-in approximate path (kept out
    of the oracle-checked corpus because its equal-count tie order is
    engine-internal).
    """
    docs = tables(spark, sf_dir)["documents"]
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "q_per_source_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5('cap-' || CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
    tags=("sampling", "cap", "curation"),
)
def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most 10 documents per source,
    chosen by seeded-hash order (uniform, deterministic, engine-
    independent) — the domain-cap stage that stops a single crawl
    source from dominating a training mix.

    One window per source partition; Spark's WindowGroupLimit pushes
    the rank bound into per-partition heaps, so state per task is the
    cap, not the partition.  Selection by md5 of a seeded key, not by
    rand(): reproducible across engines and runs.
    """
    from pyspark.sql import Window

    docs = tables(spark, sf_dir)["documents"]
    key = F.md5(F.concat(F.lit("cap-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS h
      FROM documents
    )
    SELECT h AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM n GROUP BY h
    """,
    tags=("dedup", "exact", "normalization"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text normalization (lowercase + strip
    non-alphanumerics): catches the case/punctuation variants plain
    byte-level exact dedup misses — the cheap first rung between
    ``dedup_exact`` and the near-dup operators.

    Same scale shape as dedup_exact: normalize is a per-row JVM
    expression, then one hash shuffle on the 16-byte digest with
    map-side combine.  Hashing the *normalized* text keeps the shuffle
    payload fixed-width regardless of document length.
    """
    docs = tables(spark, sf_dir)["documents"]
    norm_hash = F.md5(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    )
    return (
        docs.select("doc_id", norm_hash.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-LM quality scoring: per-doc mean unigram probability
# ---------------------------------------------------------------------------

def _lm_pairs_expr():
    """Adjacent (pos, w1, w2) structs over a ``_ts`` token-array column
    — the ONE copy of the bigram construction (sequence(1,0) DESCENDS,
    so single-token docs are guarded to an empty array)."""
    ts = F.col("_ts")
    return F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.element_at(ts, i).alias("w1"),
                F.element_at(ts, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,w1:string,w2:string>>"))


def _lm_stems(spark: SparkSession, sf_dir: str):
    """(toked, uni, bcnt): tokenized documents (doc_id, source, _ts),
    unigram counts (token, cu) and bigram counts (w1, w2, cb) —
    each localCheckpointed and memoized per session+corpus
    and shared by text_unigram_prob / text_bigram_lm_score (here) and
    q_mixture_doremi_weights / q_select_learnable_docs (sampling.py),
    which previously each re-tokenized and re-counted the corpus per
    call.  The count tables are the two heavy uniform shuffles of the
    whole LM family; computing them once per session is the same
    measured win as the PQ codes memo."""
    return memoize(spark, sf_dir, "lm_stems", lambda: _lm_stems_build(spark, sf_dir))


def _lm_stems_build(spark: SparkSession, sf_dir: str):
    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    toked = (
        spread(docs)
        .select("doc_id", "source", F.split("text", " ").alias("_ts"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toked.select(F.explode(F.col("_ts")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=False)
    )
    bcnt = (
        toked.select(F.inline(_lm_pairs_expr()))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)
    )
    return toked, uni, bcnt


@register(
    "text_unigram_prob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.i AS pos, ts[i] AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
           unnest(generate_series(1, len(ts))) AS u(i)
    ),
    vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
    total AS (SELECT count(*) AS n FROM tok),
    scored AS (
      SELECT tok.doc_id, tok.pos,
             CAST(vocab.freq AS DOUBLE) / (SELECT n FROM total) AS p
      FROM tok JOIN vocab USING (token)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           list_sum(list_transform(
               list_sort(list({'pos': pos, 'p': p})), s -> s.p)) / count(*)
             AS mean_token_prob
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "quality", "unigram"),
)
def text_unigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-language-model quality score: each doc's mean unigram
    probability under the corpus's own empirical distribution — the
    cheap proxy for "is this doc made of normal corpus language?"
    (outliers on either end are boilerplate or garbage; real pipelines
    threshold on exactly this kind of LM score before training).

    Two-pass shape that survives 100 TB: pass 1 is one shuffle
    building the unigram table (vocab is tiny relative to the corpus —
    heavy-hitter tokens partial-aggregate map-side); pass 2 re-joins
    tokens to frequencies (broadcast when vocab fits, shuffle-hash
    otherwise — Catalyst chooses) and folds per-doc in POSITION order.

    Bit-exactness: probabilities are single exact double divisions
    (int/int); the per-doc sum folds over tokens sorted by position —
    the same left-to-right double-add order as DuckDB's list_sum over
    list_sort — so cross-engine values are bit-identical with no
    transcendentals involved (log scoring would hit libm-vs-StrictMath
    last-ulp divergence; a monotone transform adds no information to a
    threshold filter anyway).
    """
    toked, uni, _bcnt = _lm_stems(spark, sf_dir)
    tok = toked.select(
        "doc_id", F.posexplode(F.col("_ts")).alias("pos", "token")
    )
    # 1-row exact token total, broadcast-cross-joined so the whole
    # operator stays ONE lazy DAG (no driver-side count job at plan
    # construction; the row is exact int either way)
    total = uni.agg(F.sum("cu").alias("tot"))
    scored = (
        tok.join(uni, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "pos",
            (F.col("cu").cast("double") / F.col("tot")).alias("p"),
        )
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "p"))), lambda s: s["p"]
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (fold / F.count(F.lit(1))).alias("mean_token_prob"),
    )


@register(
    "text_bigram_lm_score",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    big AS (
      SELECT doc_id, u.i AS pos, ts[u.i] AS w1, ts[u.i + 1] AS w2
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
    ),
    uni AS (
      SELECT token, count(*) AS cu
      FROM (SELECT unnest(ts) AS token FROM t) GROUP BY token
    ),
    vocab AS (SELECT count(*) AS v FROM uni),
    bcnt AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    scored AS (
      SELECT b.doc_id, b.pos,
             CAST(bcnt.cb + 1 AS DOUBLE) / (uni.cu + (SELECT v FROM vocab))
               AS p
      FROM big b
      JOIN bcnt ON bcnt.w1 = b.w1 AND bcnt.w2 = b.w2
      JOIN uni ON uni.token = b.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           list_sum(list_transform(
               list_sort(list({'pos': pos, 'p': p})), s -> s.p)) / count(*)
             AS mean_bigram_prob
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "quality", "bigram", "lm"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: each doc's mean Laplace-smoothed
    conditional bigram probability P(w_i | w_{i-1}) = (c(w_{i-1}w_i) +
    1) / (c(w_{i-1}) + V) under the corpus's own counts — the CCNet
    idea (Wenzek et al. 2020 score docs with an LM and threshold on
    the per-token score) with the corpus itself as the model, one
    order above text_unigram_prob (word-soup with plausible words but
    implausible SEQUENCES scores low here and normal there).

    Deliberate deviation, documented: CCNet reports perplexity
    (exp of mean negative log-prob); log is libm-dependent (the
    text_unigram_prob / text_bm25_topk rule), so the score is the
    mean raw probability — a monotone-equivalent threshold signal
    with zero transcendentals.

    Bit-exactness: each probability is ONE exact-int-ratio double
    division ((cb+1) and (cu+V) are exact BIGINTs); the per-doc sum
    folds in POSITION order (array_sort struct fold == DuckDB
    list_sum over list_sort), so no cross-row accumulation-order
    hazard; single-token docs have no bigram and are absent from both
    engines' outputs by construction.

    Scale shape: bigrams are built in array-land per row (no window,
    no self-join) and exploded; counts are two uniform two-phase
    shuffles (bigram table and unigram table — both heavy-hitter
    tolerant via map-side partials); the re-join is equi-keyed on
    (w1, w2) / w1 (broadcast when the tables fit, shuffle-hash
    otherwise — Catalyst picks); V and nothing else touches the
    driver.  Survives 100 TB because every stage keys on
    uniformly-distributed token text, never on doc_id skew.
    """
    # the tokenized docs and the two LM count tables come from the
    # shared session memo (_lm_stems) — four operators consume them
    toked, uni, bcnt = _lm_stems(spark, sf_dir)
    big = toked.select("doc_id", F.inline(_lm_pairs_expr()))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(uni, big["w1"] == uni["token"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            ((F.col("cb") + F.lit(1)).cast("double") / (F.col("cu") + F.col("v"))).alias("p"),
        )
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "p"))), lambda s: s["p"]
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (fold / F.count(F.lit(1))).alias("mean_bigram_prob"),
    )


# ---------------------------------------------------------------------------
# Gopher rule-based quality gate (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

#: Minimal stop-word list for the Gopher "contains >= 2 stop words"
#: rule (the published rule uses a similar tiny English set).
_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "that")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
             AS mean_word_len,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                AS DOUBLE) / len(toks) AS frac_alpha_words,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS BIGINT)
             AS n_stopwords,
           (len(toks) BETWEEN 20 AND 100000
            AND CAST(len(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
                BETWEEN 3 AND 10
            AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                     AS DOUBLE) / len(toks) >= 0.80
            AND len(list_filter(toks, x -> x IN ({_STOP_SQL}))) >= 2)
             AS gopher_pass
    FROM t
    """,
    tags=("text", "quality", "gopher"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based document filter (Rae et al. 2021, A1.1): word
    count bounds, mean word length bounds, alphabetic-word fraction,
    and minimum stop-word presence, combined into one pass/fail gate —
    the standard first-stage heuristic filter of LLM pretraining
    pipelines (word-count bound lowered 50 -> 20 for the driver's short
    synthetic documents; every other threshold is the published one).

    Scale posture: a pure projection — zero shuffles, zero explodes.
    Word statistics come from higher-order functions over the split
    array (JVM codegen), and mean word length is derived arithmetically
    (total chars minus separators over word count) so no per-token
    row blow-up ever happens.  At 100 TB this is a single scan whose
    cost is the decompression bandwidth.

    Bit-exactness: every ratio is one double division of exact integer
    counts; threshold comparisons on those doubles are then identical
    across engines.
    """
    docs = tables(spark, sf_dir)["documents"]
    t = docs.select("doc_id", "text", F.split("text", " ").alias("toks"))
    n_words = F.size("toks").cast("long")
    mean_wl = (F.length("text") - (n_words - 1)).cast("double") / n_words
    alpha = F.size(
        F.filter(F.col("toks"), lambda x: x.rlike("[a-z]"))
    ).cast("double") / n_words
    stops = F.size(
        F.filter(F.col("toks"), lambda x: x.isin(*_STOPWORDS))
    ).cast("long")
    return t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha.alias("frac_alpha_words"),
        stops.alias("n_stopwords"),
        (
            n_words.between(20, 100000)
            & mean_wl.between(3, 10)
            & (alpha >= 0.80)
            & (stops >= 2)
        ).alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# Character-distribution diversity (transcendental-free entropy proxy)
# ---------------------------------------------------------------------------


@register(
    "text_char_diversity",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c FROM documents
    ), cnt AS (
      SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           1.0 - CAST(sum(n * n) AS DOUBLE)
                 / CAST(sum(n) * sum(n) AS DOUBLE) AS char_gini_simpson
    FROM cnt GROUP BY doc_id
    """,
    tags=("text", "quality", "diversity"),
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity of each document's character distribution
    (1 - sum p_c^2): the transcendental-free entropy proxy.  Degenerate
    documents (one repeated character / token soup) score near 0;
    natural text sits high and stable — the same screening signal as
    Shannon entropy without log(), which the exactness rules ban
    (libm vs StrictMath last-ulp divergence; queries/__init__.py).

    Shape: explode to characters, two-phase count per (doc_id, char)
    — map-side combine absorbs within-document repetition before the
    shuffle — then one integer fold per doc.  sum(n^2) and sum(n) are
    exact BIGINT aggregates (order-independent), so the final value is
    ONE double division: bit-identical across engines by construction.
    Partition size tracks document length, never corpus size.
    """
    docs = tables(spark, sf_dir)["documents"]
    from adt_spark.context import spread

    cnt = (
        spread(docs)
        # code-POINT explode via regex (both engines are code-point
        # based: Java Pattern and RE2) — split(text, '') would explode
        # Java UTF-16 code units, so an astral-plane character (emoji,
        # rare CJK) becomes two lone surrogates on Spark but ONE char
        # in DuckDB, diverging on any non-ASCII corpus.
        .select(
            "doc_id",
            F.explode(F.expr("regexp_extract_all(text, '(?s).', 0)")).alias("c"),
        )
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        (
            F.lit(1.0)
            - F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n") * F.sum("n")).cast("double")
        ).alias("char_gini_simpson"),
    )


# ---------------------------------------------------------------------------
# Corpus document-frequency / rare-token statistics
# ---------------------------------------------------------------------------


@register(
    "text_df_stats",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), df AS (
      SELECT token, count(*) AS doc_freq FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_unique_tokens,
           CAST(sum(CASE WHEN df.doc_freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax_tokens,
           CAST(sum(CASE WHEN df.doc_freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS hapax_frac,
           CAST(min(df.doc_freq) AS BIGINT) AS min_doc_freq
    FROM tok t JOIN df USING (token)
    GROUP BY t.doc_id
    """,
    tags=("text", "vocabulary", "df"),
)
def text_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-rarity profile: unique-token count, number
    of corpus-hapax tokens (document frequency = 1), and the hapax
    fraction.  A high hapax fraction flags OCR noise / gibberish /
    code-mixed text whose vocabulary the rest of the corpus never
    uses — a standard lexical-quality signal next to the frequency-
    based LM score (text_unigram_prob).

    Shape: distinct (doc_id, token) pairs — partial-aggregated map-side
    — feed both the document-frequency table (one shuffle on token;
    the vocabulary is tiny relative to the corpus) and a re-join that
    Catalyst broadcasts when the DF table fits, shuffle-hash-joins
    otherwise.  Final fold keys on doc_id.  All counts are exact
    integers; the single ratio is one double division.
    """
    docs = tables(spark, sf_dir)["documents"]
    from adt_spark.context import spread

    tok = (
        spread(docs)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    df_tbl = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    hapax = F.sum(F.when(F.col("doc_freq") == 1, 1).otherwise(0))
    return (
        tok.join(df_tbl, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique_tokens"),
            hapax.cast("long").alias("n_hapax_tokens"),
            (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_frac"),
            F.min("doc_freq").cast("long").alias("min_doc_freq"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer-vocabulary coverage (OOV rate)
# ---------------------------------------------------------------------------

#: vocabulary size for the coverage check (top-K corpus tokens stand
#: in for a trained tokenizer's vocab; the synthetic corpus has ~40
#: distinct tokens, so 25 leaves a real OOV tail)
_VOCAB_K = 25


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS n FROM tok GROUP BY token
        ORDER BY n DESC, token LIMIT {_VOCAB_K}
      )
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
    tags=("text", "vocab", "oov"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage per document: the fraction of
    token occurrences outside the corpus top-{_VOCAB_K} vocabulary —
    the signal that tells you whether a tokenizer (or a candidate
    vocab size) fits a data source before committing a training run,
    and per-document the screen for out-of-domain/gibberish text.

    Shape: one token-count shuffle builds the top-K vocabulary
    (partial+final + TakeOrderedAndProject, as text_vocab_topk); the
    vocabulary — K rows at ANY corpus size — broadcasts into a left
    join against the token stream, and the per-doc fold keys on
    doc_id.  Exact integer counts; one double division.
    """
    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    tok = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            oov.cast("long").alias("n_oov"),
            (oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style scoring shape)
# ---------------------------------------------------------------------------

#: hash-bucket count (2 hex chars of md5) and the Knuth multiplicative
#: constant deriving a deterministic weight per bucket.
_HB = 256
_KNUTH = 2654435761


@register(
    "quality_hash_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_aggregate(list_transform(toks, w ->
                   ((instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
                   * {_KNUTH} % 2048 - 1024), 'sum') AS score_fp
        FROM t
    )
    SELECT doc_id,
           CAST(score_fp AS BIGINT) AS score_fp,
           CAST(score_fp AS DOUBLE) / (n_tokens * 1024) AS mean_logit,
           CAST(CASE WHEN score_fp > 0 THEN 1 ELSE 0 END AS INT) AS label_pred
    FROM s
    """,
    tags=("quality", "classifier", "hashing"),
)
def quality_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text classifier over hashed token features — the
    fastText-style quality/domain scoring shape (Joulin et al. 2016:
    hash tokens into B buckets, score = mean of bucket weights).  The
    weight table here is derived deterministically from the bucket id
    (Knuth multiplicative hash → integer weight in [-1024, 1024)) so
    both engines score identically; swapping in trained weights means
    replacing that arithmetic with a broadcast ``bucket → weight``
    map-literal — the plan shape does not change.

    Cross-engine exactness: the per-token weights are INTEGERS and the
    fold is an integer sum (order-independent), so the only float op
    is one final division — bit-identical everywhere.

    Scale shape: pure projection — tokens hash and fold inside a
    single higher-order expression per row, zero shuffles, zero
    explodes; at 100 TB this runs at scan speed like the other
    text-quality gates.
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    weight = (
        lambda w: (F.conv(F.substring(F.md5(w), 1, 2), 16, 10).cast("bigint") * _KNUTH)
        % 2048
        - 1024
    )
    score = F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    return docs.select(
        "doc_id",
        score.alias("score_fp"),
        (score.cast("double") / (F.size(toks) * 1024)).alias("mean_logit"),
        F.when(score > 0, 1).otherwise(0).cast("int").alias("label_pred"),
    )


# ---------------------------------------------------------------------------
# CCNet-style LM-score bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

#: trained-threshold constants (CCNet buckets by perplexity cutoffs
#: chosen offline from a reference LM; here cutoffs on the mean
#: relative token frequency, the transcendental-free LM score this
#: corpus uses — see text_unigram_prob).
_CC_HEAD = 0.0334
_CC_MID = 0.0333


@register(
    "quality_ccnet_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, ts[i] AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
           unnest(generate_series(1, len(ts))) AS u(i)
    ),
    vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
    total AS (SELECT count(*) AS n FROM tok),
    d AS (
      SELECT tok.doc_id, count(*) AS n_tokens,
             CAST(sum(vocab.freq) AS BIGINT) AS sum_freq
      FROM tok JOIN vocab USING (token) GROUP BY tok.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_freq AS DOUBLE) / (n_tokens * (SELECT n FROM total))
             AS mean_token_prob,
           CASE WHEN CAST(sum_freq AS DOUBLE) / (n_tokens * (SELECT n FROM total))
                     >= {_CC_HEAD} THEN 'head'
                WHEN CAST(sum_freq AS DOUBLE) / (n_tokens * (SELECT n FROM total))
                     >= {_CC_MID} THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM d
    """,
    tags=("quality", "ccnet", "lm"),
)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2019): score each
    document with a corpus LM and split into head/middle/tail by
    trained cutoffs — the standard step that keeps only the
    highest-quality web slices for pre-training.

    The LM score is the transcendental-free surrogate this corpus uses
    for cross-engine exactness: mean relative token frequency — all
    counting is exact BIGINT (partial+final aggs), with ONE double
    division at the output boundary, so both engines compute
    bit-identical scores and identical bucket labels.

    Scale shape: the CCNet production posture — thresholds are
    CONSTANTS trained offline, so assignment is a row-local
    comparison: one vocab count (shuffle bytes track the vocabulary
    via map-side combine), one freq re-join (broadcast when the vocab
    fits), one per-doc aggregate.  No global sort/ntile — the naive
    quantile formulation would serialize the corpus through one
    window partition at 100 TB.
    """
    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    tok = spread(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    d = (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").cast("bigint").alias("sum_freq"),
        )
    )
    score = F.col("sum_freq").cast("double") / (F.col("n_tokens") * F.col("n"))
    return (
        d.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            score.alias("mean_token_prob"),
            F.when(score >= _CC_HEAD, "head")
            .when(score >= _CC_MID, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@register(
    "doc_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, text, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, text, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    ), b AS (
      SELECT source, CAST(floor(cum_before / 256.0) AS BIGINT) AS bin_id,
             doc_id, text, n_tokens
      FROM c
    )
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(text, '<|endofdoc|>' ORDER BY doc_id)) AS packed_md5
    FROM b GROUP BY source, bin_id
    """,
    tags=("text", "packing", "sequences"),
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, the CONSUMER side: materialize each
    token-budget bin (same assignment as q_token_pack_bins) as one
    packed training sequence — documents concatenated in a
    deterministic order with an end-of-document separator — the final
    step that turns a curated corpus into fixed-budget training rows.
    The packed text is md5-fingerprinted at the output boundary (the
    full concatenation is what's hashed, so any ordering or
    separator mistake changes the digest).

    Scale shape: one window pass per source partition assigns bins
    (identical to q_token_pack_bins), then ONE groupBy(source, bin)
    with an order-struct collect re-assembles each sequence —
    per-group state is one bin's documents (~the token budget), never
    the corpus.  At 100 TB, pre-shard the window key for huge sources
    (documented in q_token_pack_bins).
    """
    docs = tables(spark, sf_dir)["documents"]
    binned = _token_bins(docs)
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "<|endofdoc|>",
            )
        ).alias("packed_md5"),
    )


# ---------------------------------------------------------------------------
# Robust per-source length outliers (median / MAD)
# ---------------------------------------------------------------------------

#: MAD multiplier for the outlier gate
_MAD_K = 3


@register(
    "quality_length_outliers",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tokens, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM t
    ),
    med AS (
      SELECT source,
             CAST(sum(n_tokens) AS DOUBLE) / count(*) AS med
      FROM r
      WHERE rn IN (CAST(floor((cnt + 1) / 2.0) AS BIGINT),
                   CAST(ceil((cnt + 1) / 2.0) AS BIGINT))
      GROUP BY source
    ),
    d AS (
      SELECT t.doc_id, t.source, t.n_tokens, med.med,
             abs(t.n_tokens - med.med) AS dev
      FROM t JOIN med USING (source)
    ),
    rd AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY dev, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM d
    ),
    mad AS (
      SELECT source, CAST(sum(dev) AS DOUBLE) / count(*) AS mad
      FROM rd
      WHERE rn IN (CAST(floor((cnt + 1) / 2.0) AS BIGINT),
                   CAST(ceil((cnt + 1) / 2.0) AS BIGINT))
      GROUP BY source
    )
    SELECT d.doc_id, d.source, CAST(d.n_tokens AS BIGINT) AS n_tokens,
           d.med, mad.mad,
           d.dev > {_MAD_K} * mad.mad AS is_outlier
    FROM d JOIN mad USING (source)
    """,
    tags=("quality", "outliers", "robust"),
)
def quality_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source token-length outlier flags: |len − median| >
    {_MAD_K}·MAD — the median/MAD gate quality pipelines prefer over
    mean/stddev because one 10M-token page doesn't shift the
    threshold for its whole source.

    Exactness: both medians are computed by the SAME explicit
    row_number construction on both engines — (lo + hi)/2 over
    integers, then over integer-or-half deviations — so every med/mad
    is an exact binary fraction and the comparison is engine-exact;
    native median()/percentile() interpolation differs between
    engines and is deliberately avoided.

    Scale shape: one shuffle per window pass keyed by source, counts
    computed in the same pass; the per-source med/MAD tables are
    source-cardinality-sized and BROADCAST back onto the documents —
    the corpus itself shuffles exactly twice (the two sorts), never
    for the joins.  A single hot source exceeding one task's sort
    budget pre-shards on (source, hash(doc_id) % k) with per-shard
    rank merge — same plan family.
    """
    from pyspark.sql import Window as W

    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    t = spread(docs).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )

    def _median(df: DataFrame, val: str) -> DataFrame:
        w = W.partitionBy("source").orderBy(val, "doc_id")
        r = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "cnt", F.count("*").over(W.partitionBy("source"))
        )
        mid = r.filter(
            (F.col("rn") == F.floor((F.col("cnt") + 1) / 2.0).cast("long"))
            | (F.col("rn") == F.ceil((F.col("cnt") + 1) / 2.0).cast("long"))
        )
        return mid.groupBy("source").agg(
            (F.sum(val).cast("double") / F.count("*")).alias(f"med_{val}")
        )

    med = _median(t, "n_tokens").withColumnRenamed("med_n_tokens", "med")
    d = t.join(F.broadcast(med), ["source"]).withColumn(
        "dev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = _median(d, "dev").withColumnRenamed("med_dev", "mad")
    return (
        d.join(F.broadcast(mad), ["source"])
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "med",
            "mad",
            (F.col("dev") > F.lit(_MAD_K) * F.col("mad")).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Weak-label classifier training (the CCNet/RefinedWeb "train a quality
# classifier on rule-derived labels" loop — trained HERE, from the corpus)
# ---------------------------------------------------------------------------


#: the classifier-score derivation with per-doc source attached, as
#: composable oracle CTEs (lab/tl/ts/tot/contrib/w ending in
#: ``scored2`` with (source, doc_id, n_tokens, score, good)) — the
#: ONE copy of the exactness-critical Laplace-ratio/ordered-fold text,
#: shared by ALL FOUR consumers' oracles: quality_weaklabel_classifier,
#: quality_classifier_calibration, quality_threshold_select and
#: pipeline_quality_filtered.
_WL_SCORED_CTES = """lab AS (
        SELECT doc_id, source,
               CASE WHEN len(string_split(text, ' ')) >= 20
                     AND CAST(len(list_distinct(string_split(text, ' ')))
                              AS DOUBLE)
                         / len(string_split(text, ' ')) > 0.3
                    THEN 1 ELSE 0 END AS good
        FROM documents
    ),
    tl AS (
        SELECT t.doc_id, t.term, l.good
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) t
        JOIN lab l USING (doc_id)
    ),
    ts AS (
        SELECT term, sum(good) AS cg, count(*) AS ctot FROM tl GROUP BY term
    ),
    tot AS (
        SELECT sum(cg) AS g, sum(ctot - cg) AS b, count(*) AS v FROM ts
    ),
    contrib AS (
        SELECT tl.doc_id, tl.term,
               (CAST(ts.cg + 1 AS DOUBLE) * CAST(tot.b + tot.v AS DOUBLE))
             / (CAST(ts.ctot - ts.cg + 1 AS DOUBLE)
                * CAST(tot.g + tot.v AS DOUBLE)) AS c
        FROM tl JOIN ts USING (term) CROSS JOIN tot
    ),
    w AS (
        SELECT doc_id, count(*) AS n_tokens,
               list_reduce(
                 list_transform(
                   list_sort(list(struct_pack(t := term, c := c))),
                   x -> x.c),
                 (a, b) -> a + b) AS s
        FROM contrib GROUP BY doc_id
    ),
    scored2 AS (
        SELECT l.source, w.doc_id, CAST(w.n_tokens AS BIGINT) AS n_tokens,
               w.s / CAST(w.n_tokens AS DOUBLE) AS score, l.good
        FROM w JOIN lab l USING (doc_id)
    )"""

#: per-source best cut over the empirical score distribution —
#: candidates are every observed score (cut := predict good iff
#: score > threshold) plus the predict-all-good sentinel 0.0 (scores
#: are means of strictly positive ratios); agreement(threshold) =
#: #(score > t AND good) + #(score <= t AND NOT good), computed from
#: per-(source, score) cumulative counts; tiebreak (agreement DESC,
#: threshold ASC) — a total order since thresholds are distinct.
_WL_BEST_CTES = """per AS (
        SELECT source, score,
               sum(good) AS g_at, count(*) - sum(good) AS b_at
        FROM scored2 GROUP BY source, score
    ),
    cum AS (
        SELECT source, score,
               sum(g_at) OVER (PARTITION BY source ORDER BY score) AS cg,
               sum(b_at) OVER (PARTITION BY source ORDER BY score) AS cb,
               sum(g_at) OVER (PARTITION BY source) AS tg,
               sum(b_at) OVER (PARTITION BY source) AS tb
        FROM per
    ),
    cand AS (
        SELECT source, score AS threshold, (tg - cg) + cb AS agreement,
               tg + tb AS nd
        FROM cum
        UNION ALL
        SELECT source, 0.0 AS threshold, sum(g_at) AS agreement,
               sum(g_at) + sum(b_at) AS nd
        FROM per GROUP BY source
    ),
    best AS (
        SELECT source, threshold, agreement, nd FROM cand
        QUALIFY row_number() OVER (PARTITION BY source
                                   ORDER BY agreement DESC, threshold) = 1
    )"""



@register(
    "quality_weaklabel_classifier",
    oracle=f"""
    WITH {_WL_SCORED_CTES}
    SELECT doc_id, n_tokens, score,
           score > 1.0e0 AS predicted_good,
           good = 1 AS weak_label
    FROM scored2
    """,
    tags=("quality", "classifier", "training", "weak-label"),
)
def quality_weaklabel_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a quality classifier from weak rule labels and score the
    corpus with it — the CCNet/RefinedWeb loop (Wenzek 2020 trains a
    fastText model on Wikipedia-vs-crawl labels; Penedo 2023 on rule
    gates) with the corpus itself as both training set and scoring
    target: the weak label is the rule gate pipeline_cluster_quality_report
    already uses (≥20 tokens, distinct-token ratio > 0.3), the model is
    a per-token Laplace-smoothed naive-Bayes likelihood ratio
    ``(cg+1)(B+V) / (cb+1)(G+V)`` over the REAL vocabulary (cg/cb =
    token occurrences under good/bad labels, G/B = class token totals,
    V = vocab size), and a document's score is its mean token ratio.
    Output: (doc_id, n_tokens, score, predicted_good, weak_label) —
    the self-consistency audit (predicted vs weak label) a pipeline
    inspects before trusting the classifier on unlabeled data.

    This closes the classifier-training loop the same way round 5
    closed PQ training: quality_hash_classifier scores with FIXED
    weights in a hashed space; here the weights are LEARNED from the
    corpus over real tokens.

    Cross-engine exactness (the q_dsir_weights discipline, per real
    token instead of hashed bucket): all counts are exact integers;
    each ratio is four exact int→double casts, two correctly-rounded
    multiplies, one division; per-doc accumulation folds contributions
    sorted by (term, c) — equal terms carry equal c, so the struct
    sort is a total order on values — never a cross-row float sum;
    log is avoided entirely (ratio mean ranks the same direction).

    Scale shape: one token explode feeding the (term)-keyed two-phase
    class-count aggregate (vocab-scale output); the token stream
    re-joins that vocab table on the uniform term key (AQE-sized,
    NEVER force-broadcast — vocab is unbounded, the
    text_unigram_prob discipline); the class totals are a 1-row
    broadcast; the per-doc fold is the second uniform shuffle.  Token
    skew (stop words) is absorbed by partial aggregation on the count
    side and is uniform on the (doc, term) fold side.

    The output is localCheckpointed and memoized per session+corpus
    (the q_dsir_weights discipline): quality_classifier_calibration
    re-consumes the scores, so without the memo every consumer re-ran
    the two token shuffles; plan-shape tests assert on the
    un-checkpointed ``_weaklabel_build``.
    """
    return memoize(spark, sf_dir, "weaklabel", lambda: (
        _weaklabel_build(spark, sf_dir).localCheckpoint(eager=False)
    ))


def weak_label_col() -> "F.Column":
    """The rule-gate weak label over a ``text`` column (≥20 tokens,
    distinct-token ratio > 0.3) — the ONE copy shared by the batch
    classifier and the streaming ingest gate."""
    toks = F.split(F.col("text"), " ")
    return (
        F.when(
            (F.size(toks) >= 20)
            & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) > 0.3),
            1,
        )
        .otherwise(0)
    )


def weaklabel_term_ratios(
    docs: DataFrame,
    lab: DataFrame | None = None,
    tl: DataFrame | None = None,
) -> DataFrame:
    """(term, c): the Laplace-smoothed naive-Bayes likelihood ratio
    per token, trained from the rule-gate weak labels over ``docs`` —
    the MODEL half of quality_weaklabel_classifier, shared with
    streaming_docs_quality_ingest so offline training and online
    scoring use one derivation (the band_keys_projection discipline).
    ``lab`` (doc_id, good) and ``tl`` (doc_id, term) may be passed in
    precomputed so a caller that also needs them (_weaklabel_build)
    derives the label projection and the token explode ONCE.
    """
    if lab is None:
        lab = docs.select("doc_id", weak_label_col().alias("good"))
    if tl is None:
        tl = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
    tl = tl.join(lab, "doc_id")
    ts = tl.groupBy("term").agg(
        F.sum("good").alias("cg"), F.count(F.lit(1)).alias("ctot")
    )
    tot = ts.agg(
        F.sum("cg").alias("g"),
        F.sum(F.col("ctot") - F.col("cg")).alias("b"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio = (
        (F.col("cg") + 1).cast("double") * (F.col("b") + F.col("v")).cast("double")
    ) / (
        (F.col("ctot") - F.col("cg") + 1).cast("double")
        * (F.col("g") + F.col("v")).cast("double")
    )
    return ts.crossJoin(F.broadcast(tot)).select("term", ratio.alias("c"))


def _weaklabel_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed quality_weaklabel_classifier plan (see its
    docstring).  The label projection and token explode are built
    once here and passed into weaklabel_term_ratios, so the plan
    contains ONE derivation of each (Catalyst reuses the subplans;
    previously both were re-derived inside the ratio builder)."""
    docs = tables(spark, sf_dir)["documents"]
    lab = docs.select("doc_id", weak_label_col().alias("good"))
    tl = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    contrib = (
        # vocab-scale ratio table: AQE decides the join, never forced
        tl.join(weaklabel_term_ratios(docs, lab=lab, tl=tl), "term")
        .select("doc_id", "term", "c")
    )
    w = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "c"))),
                lambda x: x["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    score = F.col("s") / F.col("n_tokens").cast("double")
    return w.join(lab, "doc_id").select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        (score > F.lit(1.0)).alias("predicted_good"),
        (F.col("good") == 1).alias("weak_label"),
    )


@register(
    "quality_classifier_calibration",
    oracle=f"""
    WITH {_WL_SCORED_CTES},
    scored AS (
        SELECT source,
               CASE WHEN score > 1.0e0 THEN 1 ELSE 0 END AS pred, good
        FROM scored2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred = 1 AND good = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN pred = 1 AND good = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN pred = 0 AND good = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN pred = 0 AND good = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           CASE WHEN sum(pred) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN pred = 1 AND good = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / sum(pred) END AS precision_good,
           CASE WHEN sum(good) = 0 THEN NULL
                ELSE CAST(sum(CASE WHEN pred = 1 AND good = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / sum(good) END AS recall_good
    FROM scored GROUP BY source
    """,
    tags=("quality", "classifier", "eval", "calibration"),
)
def quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source calibration of the weak-label classifier — the
    confusion matrix (tp/fp/fn/tn) plus precision/recall of
    ``predicted_good`` against the weak rule label, BY SOURCE: the
    eval a pipeline reads before trusting the trained filter on a new
    source (a classifier trained mostly on one source's vocabulary
    can be systematically mis-calibrated on another — exactly what
    this surfaces).  Completes the train → score → EVALUATE loop the
    way the ANN family's recall queries complete search.

    Cross-engine exactness: the scores are
    quality_weaklabel_classifier's hash-gate-proven doubles; the
    threshold compare, confusion counts and per-source sums are exact
    integers; precision/recall are NULL-guarded single divisions at
    the boundary (rule 2).

    Scale shape: inherits the classifier's two uniform shuffles, then
    ONE |sources|-row partial+final aggregate — the eval itself adds
    no corpus-scale work.
    """
    scored = quality_weaklabel_classifier(spark, sf_dir).select(
        "doc_id", F.when(F.col("predicted_good"), 1).otherwise(0).alias("pred"),
        F.when(F.col("weak_label"), 1).otherwise(0).alias("good"),
    )
    src = tables(spark, sf_dir)["documents"].select("doc_id", "source")
    s = scored.join(src, "doc_id")
    tp = F.sum(F.when((F.col("pred") == 1) & (F.col("good") == 1), 1).otherwise(0))
    fp = F.sum(F.when((F.col("pred") == 1) & (F.col("good") == 0), 1).otherwise(0))
    fn = F.sum(F.when((F.col("pred") == 0) & (F.col("good") == 1), 1).otherwise(0))
    tn = F.sum(F.when((F.col("pred") == 0) & (F.col("good") == 0), 1).otherwise(0))
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        F.when(
            F.sum("pred") > 0,
            tp.cast("double") / F.sum("pred"),
        ).alias("precision_good"),
        F.when(
            F.sum("good") > 0,
            tp.cast("double") / F.sum("good"),
        ).alias("recall_good"),
    )


def _source_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized classifier scores with each document's source
    attached — ONE doc-keyed join off the localCheckpointed score
    table, shared by quality_threshold_select and
    pipeline_quality_filtered (no token shuffle re-runs)."""
    scores = quality_weaklabel_classifier(spark, sf_dir)
    src = tables(spark, sf_dir)["documents"].select("doc_id", "source")
    return scores.join(src, "doc_id")


def _threshold_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, threshold, agreement, n_docs): the per-source best
    score cut (see _WL_BEST_CTES for the selection rule) over the
    batch classifier's scores."""
    s = _source_scores(spark, sf_dir).select(
        "source", "score", F.when(F.col("weak_label"), 1).otherwise(0).alias("good")
    )
    return select_thresholds(s)


def select_thresholds(s: DataFrame) -> DataFrame:
    """The per-source agreement-maximizing cut selection over ANY
    (source, score, good) frame — the ONE copy of the _WL_BEST_CTES
    logic, shared by the batch quality_threshold_select and the
    streaming threshold-gated ingest (whose thresholds train over the
    STREAM's own scoring function), so offline selection and online
    deployment cannot diverge."""
    from pyspark.sql import Window as W

    per = s.groupBy("source", "score").agg(
        F.sum("good").alias("g_at"),
        (F.count(F.lit(1)) - F.sum("good")).alias("b_at"),
    )
    w_ord = W.partitionBy("source").orderBy("score")
    w_all = W.partitionBy("source")
    cum = per.select(
        "source",
        "score",
        F.sum("g_at").over(w_ord).alias("cg"),
        F.sum("b_at").over(w_ord).alias("cb"),
        F.sum("g_at").over(w_all).alias("tg"),
        F.sum("b_at").over(w_all).alias("tb"),
    )
    cand = cum.select(
        "source",
        F.col("score").alias("threshold"),
        ((F.col("tg") - F.col("cg")) + F.col("cb")).alias("agreement"),
        (F.col("tg") + F.col("tb")).alias("nd"),
    ).unionByName(
        per.groupBy("source").agg(
            F.lit(0.0).alias("threshold"),
            F.sum("g_at").alias("agreement"),
            (F.sum("g_at") + F.sum("b_at")).alias("nd"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("agreement").desc(), "threshold")
    )
    return (
        cand.withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
        .select("source", "threshold", "agreement", "nd")
    )


@register(
    "quality_threshold_select",
    oracle=f"""
    WITH {_WL_SCORED_CTES},
    {_WL_BEST_CTES}
    SELECT source, threshold, CAST(agreement AS BIGINT) AS agreement,
           CAST(nd AS BIGINT) AS n_docs
    FROM best
    """,
    tags=("quality", "classifier", "calibration", "threshold"),
)
def quality_threshold_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source THRESHOLD SELECTION from the trained classifier's
    score distribution — the CCNet step the calibration table
    motivates (Wenzek 2020 §4.3 picks per-language/per-source score
    cuts rather than one global gate): for each source, the cut
    maximizing agreement with the weak rule label over the empirical
    distribution (candidates = every observed score + the
    predict-all-good sentinel 0.0; tiebreak (agreement DESC,
    threshold ASC)).  Output: (source, threshold, agreement, n_docs)
    — the bounded model table pipeline_quality_filtered deploys.

    Cross-engine exactness: scores are the classifier's hash-proven
    doubles (grouping on them is exact — both engines hold identical
    bit patterns); cumulative/total counts are exact integer window
    sums over distinct (source, score) keys (default RANGE frame, no
    peer ambiguity); the sentinel 0.0 is strictly below every score
    (means of strictly positive ratios), so thresholds are distinct
    and the tiebreak total.

    Scale shape: reads the MEMOIZED score table (no token shuffles),
    one doc-keyed source join, one (source, score) partial+final
    aggregate, then per-source cumulative windows over the DISTINCT
    SCORE distribution.  The per-source window sort is the honest
    cost (|sources| partitions — skew-prone at corpus scale; the
    at-scale swap is selecting over the score-decile grid
    quality_classifier_calibration already materializes, same shape
    as q_event_funnel_latency's documented exact-percentile stance).
    """
    return _threshold_table(spark, sf_dir).select(
        "source",
        "threshold",
        F.col("agreement").cast("bigint").alias("agreement"),
        F.col("nd").cast("bigint").alias("n_docs"),
    )


@register(
    "pipeline_quality_filtered",
    oracle=f"""
    WITH {_WL_SCORED_CTES},
    {_WL_BEST_CTES}
    SELECT s.doc_id, s.source, s.n_tokens, s.score
    FROM scored2 s JOIN best t USING (source)
    WHERE s.score > t.threshold
    """,
    tags=("quality", "classifier", "pipeline", "curation"),
)
def pipeline_quality_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYED quality filter: keep every document whose
    classifier score clears ITS SOURCE'S selected threshold — the
    train → calibrate → select → FILTER loop closed end-to-end (the
    CCNet/RefinedWeb production step; quality_threshold_select is
    the model, this is the corpus pass).  Output: the surviving
    (doc_id, source, n_tokens, score).

    Cross-engine exactness: one strict double comparison between two
    hash-proven derivations (scores and thresholds), no new
    arithmetic.

    Scale shape: ONE pass over the memoized score table (the token
    shuffles ran once at training; this re-reads the checkpoint) +
    the doc-keyed source join; the threshold table is a FORCED
    broadcast — |sources| is metadata-scale (a model table, like the
    BPE merge ranks), never corpus-scale — so the filter adds no
    shuffle of its own (plan-checked,
    test_plans.py::test_quality_filtered_reuses_memo_broadcast_threshold).
    """
    th = _threshold_table(spark, sf_dir).select("source", "threshold")
    s = _source_scores(spark, sf_dir)
    return (
        s.join(F.broadcast(th), "source")
        .filter(F.col("score") > F.col("threshold"))
        .select("doc_id", "source", "n_tokens", "score")
    )


#: fixed-point scale (2^40) for the chi-square fold: per-term
#: contributions are doubles, and a cross-row double sum is
#: shuffle-order-nondeterministic — floor(x·2^40) summed as
#: DECIMAL(38,0) is exact and order-free on both engines.
_CHI_FP = 1099511627776.0

#: the shared token/count derivation for the source-drift pair:
#: per-term corpus counts, per-(source, term) observed counts, corpus
#: total (1 row) and per-source totals (bounded), and each observed
#: term's chi-square contribution under the sparse identity
#:   chi2(source) = Σ_observed obs²·N_corpus/(c_corpus·N_s) − N_s
#: (unobserved terms contribute exactly their expectation, which the
#: −N_s term absorbs — no |sources|×|vocab| densification).
#: ``n_corpus`` rides every contrib row so the lift drill-down needs
#: no second cross join.
_DRIFT_CTES = """tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    ct AS (SELECT term, count(*) AS c_corpus FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS n_corpus FROM tok),
    st AS (
        SELECT source, term, count(*) AS obs
        FROM tok GROUP BY source, term
    ),
    ns AS (
        SELECT source, sum(obs) AS n_s FROM st GROUP BY source
    ),
    contrib AS (
        SELECT st.source, st.term, st.obs, ct.c_corpus, ns.n_s,
               tot.n_corpus,
               (CAST(st.obs AS DOUBLE) * CAST(st.obs AS DOUBLE)
                * CAST(tot.n_corpus AS DOUBLE))
               / (CAST(ct.c_corpus AS DOUBLE) * CAST(ns.n_s AS DOUBLE))
                 AS term_stat
        FROM st JOIN ct USING (term) CROSS JOIN tot JOIN ns USING (source)
    )"""


def _drift_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _DRIFT_CTES' ``contrib``: one derivation
    shared by the chi2 audit and the lift drill-down, so the oracle
    constant and BOTH consumers move together."""
    docs = tables(spark, sf_dir)["documents"]
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    ct = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_corpus"))
    tot = tok.agg(F.count(F.lit(1)).alias("n_corpus"))
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("obs"))
    ns = st.groupBy("source").agg(F.sum("obs").alias("n_s"))
    term_stat = (
        F.col("obs").cast("double")
        * F.col("obs").cast("double")
        * F.col("n_corpus").cast("double")
    ) / (F.col("c_corpus").cast("double") * F.col("n_s").cast("double"))
    return (
        st.join(ct, "term")
        .crossJoin(F.broadcast(tot))
        .join(ns, "source")
        .select(
            "source",
            "term",
            "obs",
            "c_corpus",
            "n_s",
            "n_corpus",
            term_stat.alias("term_stat"),
        )
    )


@register(
    "quality_source_drift_chi2",
    oracle=f"""
    WITH {_DRIFT_CTES}
    SELECT source,
           CAST(any_value(n_s) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(CAST(floor(term_stat) AS HUGEINT)) AS DOUBLE)
             + CAST(sum(CAST(floor((term_stat - floor(term_stat))
                                   * {_CHI_FP}) AS HUGEINT)) AS DOUBLE)
               / {_CHI_FP}
             - CAST(any_value(n_s) AS DOUBLE) AS chi2
    FROM contrib GROUP BY source
    """,
    tags=("quality", "drift", "stats", "mixing"),
)
def quality_source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution DRIFT per source: the chi-square statistic
    of each source's token distribution against the corpus-wide one —
    the mixing-QA number a pipeline watches when a new crawl snapshot
    or source lands (a source whose distribution diverges hard from
    the mix either needs its own temperature weight or is broken
    upstream; same monitoring intent as quality_classifier_calibration
    but model-free).  Output: (source, n_tokens, n_terms, chi2).

    Sparse identity — the 100 TB shape: over ALL corpus terms,
    Σ (obs−exp)²/exp = Σ_observed obs²·N/(c_t·N_s) − N_s, so only the
    (source, term) pairs that EXIST are computed — no
    |sources|×|vocab| densification; unobserved cells are absorbed
    exactly by the −N_s term.

    Cross-engine exactness: all counts exact integers; each term's
    statistic is four exact int→double casts, two multiplies, one
    division in fixed order; the cross-term sum is ORDER-FREE by
    construction, in a SPLIT fixed point: integer parts floor to
    BIGINT directly (term_stat ≤ N_corpus — obs ≤ c_t and obs ≤ N_s
    — so no overflow at any corpus size), fractional parts floor at
    2⁴⁰ (always < 2⁴⁰), both summed as DECIMAL(38,0).  A single-scale
    floor(x·2⁴⁰) would overflow BIGINT once term_stat exceeds ~8.4e6
    — reachable for a dominant term at the 100 TB scale this audit
    targets — where the HUGEINT oracle kept computing; the split
    keeps both engines exact and identical everywhere.  The three
    boundary doubles combine in fixed order: i + f/2⁴⁰ − N_s.

    Scale shape: one token explode feeding two two-phase aggregates
    (term-keyed corpus counts, (source, term)-keyed observed counts);
    the observed table re-joins the vocab-scale corpus counts on the
    uniform term key (AQE-sized, never force-broadcast); corpus total
    is a 1-row broadcast, per-source totals a bounded join; the final
    aggregate has |sources| groups.
    """
    contrib = _drift_contrib(spark, sf_dir)
    i_part = F.floor(F.col("term_stat"))
    f_part = F.floor((F.col("term_stat") - F.floor(F.col("term_stat"))) * _CHI_FP)
    return contrib.groupBy("source").agg(
        F.any_value("n_s").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (
            F.sum(i_part.cast("decimal(38,0)")).cast("double")
            + F.sum(f_part.cast("decimal(38,0)")).cast("double") / F.lit(_CHI_FP)
            - F.any_value("n_s").cast("double")
        ).alias("chi2"),
    )


@register(
    "quality_source_drift_terms",
    oracle=f"""
    WITH {_DRIFT_CTES},
    lifted AS (
        SELECT source, term, CAST(obs AS BIGINT) AS obs,
               (CAST(obs AS DOUBLE) * CAST(n_corpus AS DOUBLE))
               / (CAST(c_corpus AS DOUBLE) * CAST(n_s AS DOUBLE)) AS lift
        FROM contrib
    )
    SELECT source, term, obs, lift
    FROM lifted
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY lift DESC, term) <= 5
    """,
    tags=("quality", "drift", "stats", "mixing", "topk"),
)
def quality_source_drift_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-5 OVER-REPRESENTED terms per source by lift
    (obs/expected = obs·N_corpus/(c_corpus·N_s)) — the drill-down for
    quality_source_drift_chi2's one number: when a source drifts,
    these are the tokens doing it (boilerplate, spam vocabulary, a
    template header).  Deterministic: lift is a single fixed-order
    double expression; top-k tiebreaks (lift DESC, term).

    Scale shape: the shared _drift_contrib derivation (same shuffles
    as the chi2 audit) plus ONE per-source WindowGroupLimit top-k —
    rank pushdown keeps per-partition heaps of 5.
    """
    from pyspark.sql import Window as W

    lift = (F.col("obs").cast("double") * F.col("n_corpus").cast("double")) / (
        F.col("c_corpus").cast("double") * F.col("n_s").cast("double")
    )
    lifted = _drift_contrib(spark, sf_dir).select(
        "source",
        "term",
        F.col("obs").cast("bigint").alias("obs"),
        lift.alias("lift"),
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("lift").desc(), "term")
    )
    return lifted.withColumn("_rn", rn).filter(F.col("_rn") <= 5).drop("_rn")
