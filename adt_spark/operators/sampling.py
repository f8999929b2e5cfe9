"""Dataset sampling / mixing operators — the steps between "deduped
corpus" and "training mix" in an LLM data pipeline.

All sampling here is **deterministic hash sampling**: membership is a
pure function of (seed, row key), so the same rows are selected on any
engine, any cluster size, any run — reproducibility that
``TABLESAMPLE`` / ``rand()`` cannot give, and the property the DuckDB
oracles rely on.  (Same scheme as ``q_hash_sample``; cf. the
fingerprint-hash splits used by large-corpus pipeline papers.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.context import local_frame
from adt_spark.operators.memo import memoize
from adt_spark.queries import register, tables

#: lang → (hex threshold on md5 prefix, repeat factor).  '40'/256 ≈ 25%
#: (downsample dominant English), 'c0' ≈ 75%, 'ff'+2 ≈ keep-all ×2
#: (upweight the underrepresented language by epoch repetition).
_MIX = [("en", "40", 1), ("de", "c0", 1), ("es", "c0", 1), ("fr", "c0", 1), ("zh", "ff", 2)]


@register(
    "q_stratified_sample",
    oracle="""
    WITH rates(lang, thresh, repeats) AS (
        VALUES ('en', '40', 1), ('de', 'c0', 1), ('es', 'c0', 1),
               ('fr', 'c0', 1), ('zh', 'ff', 2)
    )
    SELECT d.doc_id AS doc_id, d.lang AS lang, CAST(u.i AS INT) AS repeat_idx
    FROM documents d
    JOIN rates r ON d.lang = r.lang,
         unnest(generate_series(1, r.repeats)) AS u(i)
    WHERE substr(md5('strat-' || CAST(d.doc_id AS VARCHAR)), 1, 2) < r.thresh
    """,
    tags=("sampling", "mixing"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling + repeat-based upweighting: per-language
    sampling rates (downsample the dominant stratum, repeat the
    underrepresented one) — the core of training-mix construction.

    Scale shape: the rate table is a literal broadcast (no shuffle),
    membership is a partition-local md5 test, and upweighting is a
    row-local ``explode(sequence(...))`` — the whole operator is
    embarrassingly parallel with zero shuffles, so it costs one corpus
    scan at any scale.
    """
    docs = tables(spark, sf_dir)["documents"]
    rates = local_frame(spark, _MIX, "lang string, thresh string, repeats int")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(
            F.substring(F.md5(F.concat(F.lit("strat-"), F.col("doc_id").cast("string"))), 1, 2)
            < F.col("thresh")
        )
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("repeats"))).alias("repeat_idx"),
        )
    )


@register(
    "q_deterministic_shuffle",
    oracle="""
    SELECT doc_id, md5('shuf-' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    """,
    tags=("sampling", "shuffle"),
)
def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: a reproducible training order via
    total sort on a seeded content hash (identical order every run and
    on every engine, unlike ``orderBy(rand())``).

    Scale shape: one range-partitioned sort — Spark samples key
    ranges, so output partitions are balanced regardless of input
    order; at 100 TB this is the canonical "shuffle the corpus once,
    write it back ordered" job.
    """
    docs = tables(spark, sf_dir)["documents"]
    key = F.md5(F.concat(F.lit("shuf-"), F.col("doc_id").cast("string")))
    return docs.select("doc_id", key.alias("shuffle_key")).orderBy("shuffle_key")


#: fixed-point scale for the √count sampling weights (2^20).
_MIX_FP = 1 << 20


@register(
    "q_mixture_temperature",
    oracle=f"""
    WITH w AS (
        SELECT source,
               CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {_MIX_FP}) AS BIGINT)
                 AS w_fp
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w_fp) AS HUGEINT) AS tot_fp FROM w),
    keyed AS (
        SELECT d.doc_id, d.source, w.w_fp,
               list_aggregate(list_transform(generate_series(1, 8), i ->
                   CAST(instr('0123456789abcdef',
                              substr(md5('mix-' || CAST(d.doc_id AS VARCHAR)),
                                     CAST(i AS INT), 1)) - 1 AS BIGINT)
                   * CAST(power(16, 8 - i) AS BIGINT)), 'sum') AS frac32
        FROM documents d JOIN w USING (source)
    )
    SELECT doc_id, source
    FROM keyed, tot
    WHERE CAST(frac32 AS HUGEINT) * tot_fp
          < CAST(4294967296 AS HUGEINT) * CAST(w_fp AS HUGEINT)
    """,
    tags=("sampling", "mixing", "temperature"),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (α = 1/2): per-source
    sampling rate ∝ count^α / Σ count^α — the multinomial-smoothing
    scheme multilingual/multi-source training mixes use to keep small
    sources from vanishing (cf. mBERT / XLM-R exponential smoothing).

    Cross-engine exactness: α = 1/2 means ``sqrt`` (IEEE-correctly-
    rounded on both engines, unlike ``pow``); weights become tie-free
    fixed-point BIGINTs (floor × 2^20), and the membership test
    ``md5_frac32 × Σw < 2^32 × w`` is pure integer arithmetic (widened
    to DECIMAL(38)/HUGEINT so it cannot overflow at any corpus size)
    — identical row selection on every engine.

    Scale shape: one tiny two-phase count agg (|sources| rows), its
    result broadcast back onto the corpus scan, then a zero-shuffle
    row-local md5 membership test — at 100 TB this is one agg plus one
    embarrassingly-parallel pass.
    """
    docs = tables(spark, sf_dir)["documents"]
    w = docs.groupBy("source").agg(
        F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * _MIX_FP)
        .cast("bigint")
        .alias("w_fp")
    )
    tot = w.agg(F.sum("w_fp").alias("tot_fp"))
    frac32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        docs.join(F.broadcast(w), "source")
        .crossJoin(F.broadcast(tot))
        .filter(dec(frac32) * dec(F.col("tot_fp")) < dec(F.lit(4294967296)) * dec(F.col("w_fp")))
        .select("doc_id", "source")
    )


@register(
    "q_source_token_share",
    oracle="""
    WITH t AS (
      SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share,
           CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source)
                AS BIGINT) AS cum_tokens
    FROM s
    """,
    tags=("sampling", "mixture", "report"),
)
def q_source_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture audit every training run starts from: per-source
    document and token counts, each source's share of the corpus
    token budget, and the cumulative token total in descending-share
    order (the 'top k sources cover X% of the mix' curve that drives
    per-source caps and temperature choices — see q_per_source_cap /
    q_mixture_temperature for the interventions).

    Shape: one two-phase aggregation keyed by source, then windows
    over the SOURCE-cardinality-sized aggregate only (a global sum
    and a running sum over ~hundreds of rows, never the corpus).
    Counts are exact integers; the share is one sum/sum double
    division; the cumulative sort tiebreaks on source for a total
    order.
    """
    from pyspark.sql import Window as W

    docs = tables(spark, sf_dir)["documents"]
    s = (
        docs.select("source", F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    w_all = W.partitionBy()
    w_cum = W.partitionBy().orderBy(F.col("n_tokens").desc(), F.col("source"))
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(w_all).cast("double")
        ).alias("token_share"),
        F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed-unigram importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 64           # hashed feature buckets
_DSIR_TARGET = "src0"  # the "high-quality domain" whose distribution we match

# term → bucket: fold the first 4 hex chars of md5(term) to an int
# (the _D_DHASH discipline from dedup.py, truncated), mod the bucket
# count — deterministic and engine-identical.
_DSIR_H4 = " + ".join(
    f"CAST(instr('0123456789abcdef', substr(md5(term), {i + 1}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (3 - i)}"
    for i in range(4)
)


#: the DSIR weight derivation as composable oracle CTEs (`w` ends with
#: per-doc (doc_id, n_tokens, s)) — shared by q_dsir_weights and
#: q_dsir_resample.
_DSIR_CTES = f"""toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tb AS (
        SELECT doc_id, source, ({_DSIR_H4}) % {_DSIR_B} AS bucket FROM toks
    ),
    bstats AS (
        SELECT bucket,
               sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
               count(*) AS cr
        FROM tb GROUP BY bucket
    ),
    totals AS (SELECT sum(ct) AS tt, sum(cr) AS rr FROM bstats),
    db AS (
        SELECT doc_id, bucket, count(*) AS nb FROM tb GROUP BY 1, 2
    ),
    contrib AS (
        SELECT d.doc_id, d.bucket, d.nb,
               CAST(d.nb AS DOUBLE)
               * ((CAST(b.ct + 1 AS DOUBLE) * CAST(t.rr + {_DSIR_B} AS DOUBLE))
                  / (CAST(b.cr + 1 AS DOUBLE) * CAST(t.tt + {_DSIR_B} AS DOUBLE))) AS c
        FROM db d JOIN bstats b USING (bucket) CROSS JOIN totals t
    ),
    w AS (
        SELECT doc_id,
               CAST(sum(nb) AS BIGINT) AS n_tokens,
               list_reduce(
                 list_transform(
                   list_sort(list(struct_pack(b := bucket, c := c))),
                   x -> x.c),
                 (a, b) -> a + b) AS s
        FROM contrib GROUP BY doc_id
    )"""


@register(
    "q_dsir_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_tokens,
           s / CAST(n_tokens AS DOUBLE) AS weight,
           s / CAST(n_tokens AS DOUBLE) > 1.0e0 AS selected
    FROM w
    """,
    tags=("sampling", "importance", "dsir"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-unigram importance weights for data selection (the DSIR
    recipe — Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", public): estimate a target ('{_DSIR_TARGET}')
    and a raw unigram distribution over {_DSIR_B} hashed buckets with
    Laplace smoothing, weight every document by its mean per-token
    likelihood ratio, and flag the target-like half (weight > 1).

    Estimator note (the text_tfidf_top_terms discipline): DSIR's
    per-token LOG-ratio sum is replaced by the exact-rational ratio
    mean — log is libm-dependent and not bit-reproducible across
    engines, while the ratio ((ct+1)(R+B))/((cr+1)(T+B)) is four
    exact integer→double casts, two correctly-rounded multiplies and
    one division, identical everywhere.  High-ratio-bucket-rich
    documents rank high under both forms; the selection gate is
    deterministic.  Per-doc accumulation folds the ≤{_DSIR_B} bucket
    contributions in bucket order (array_sort → in-order aggregate ==
    DuckDB's list_reduce over list_sort), never a cross-row float
    sum.  Counts stay exact for corpora up to 2^53 tokens (≈9e15 —
    two orders past a 100 TB text corpus); beyond that the casts
    saturate gracefully rather than overflow.

    Scale shape: one token explode feeding a (doc, bucket)-keyed
    two-phase count (the fact shuffle) and a {_DSIR_B}-row bucket
    aggregate; the bucket table and the 1-row totals are broadcast —
    bounded by construction ({_DSIR_B} is a constant), the one join
    pattern F.broadcast is FOR.  The per-doc fold is the second
    uniform shuffle.  No corpus-sized table is ever broadcast or
    collected.

    The output is localCheckpointed and memoized per session+corpus
    (the PQ codes discipline): q_dsir_resample consumes the stem
    TWICE (the 1-row max and the per-doc join), so without the memo
    every consumer re-ran both token shuffles; plan-shape tests
    assert on the un-checkpointed ``_dsir_weights_build``.
    """
    return memoize(spark, sf_dir, "dsir_weights", lambda: (
        _dsir_weights_build(spark, sf_dir).localCheckpoint(eager=False)
    ))


def _dsir_weights_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed q_dsir_weights plan (see its docstring)."""
    docs = tables(spark, sf_dir)["documents"]
    tb = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("bigint")
            % _DSIR_B
        ).alias("bucket"),
    )
    bstats = tb.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)
        ).alias("ct"),
        F.count("*").alias("cr"),
    )
    totals = bstats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("rr"))
    db = tb.groupBy("doc_id", "bucket").agg(F.count("*").alias("nb"))
    ratio = (
        (F.col("ct") + 1).cast("double") * (F.col("rr") + _DSIR_B).cast("double")
    ) / (
        (F.col("cr") + 1).cast("double") * (F.col("tt") + _DSIR_B).cast("double")
    )
    contrib = (
        db.join(F.broadcast(bstats), ["bucket"])
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "bucket",
            "nb",
            (F.col("nb").cast("double") * ratio).alias("c"),
        )
    )
    w = contrib.groupBy("doc_id").agg(
        F.sum("nb").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                lambda x: x["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    weight = F.col("s") / F.col("n_tokens").cast("double")
    return w.select(
        "doc_id",
        "n_tokens",
        weight.alias("weight"),
        (weight > F.lit(1.0)).alias("selected"),
    )


#: 2^52 — 13 md5 hex chars as an exact-in-double integer, so
#: u = h13 / 2^52 ∈ [0, 1) is an EXACT power-of-two division on both
#: engines (no rounding anywhere in the acceptance test's left side).
_U_DENOM = float(1 << 52)

#: DuckDB fold: first 13 hex chars of column ``h`` → BIGINT (the
#: _DSIR_H4 instr discipline, widened).
_U_H13 = " + ".join(
    f"CAST(instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (12 - i)}"
    for i in range(13)
)


@register(
    "q_dsir_resample",
    oracle=f"""
    WITH {_DSIR_CTES},
    mw AS (SELECT max(s / CAST(n_tokens AS DOUBLE)) AS max_w FROM w),
    u0 AS (
        SELECT doc_id, md5('dsir-' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    uu AS (
        SELECT doc_id, CAST(({_U_H13}) AS DOUBLE) / {_U_DENOM!r} AS u
        FROM u0
    )
    SELECT w.doc_id AS doc_id, w.n_tokens AS n_tokens,
           w.s / CAST(w.n_tokens AS DOUBLE) AS weight,
           uu.u AS u,
           uu.u * mw.max_w < w.s / CAST(w.n_tokens AS DOUBLE) AS kept
    FROM w JOIN uu USING (doc_id) CROSS JOIN mw
    """,
    tags=("sampling", "importance", "dsir"),
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance RESAMPLING under the DSIR weights — the consumer
    step that actually builds the selected corpus (Xie et al. 2023 §3
    samples with probability ∝ weight; the paper's Gumbel top-k needs
    log, which the libm rule bans, so this is the equivalent
    DETERMINISTIC acceptance sampler): keep a document iff
    ``u · max_weight < weight``, where u is a seeded per-doc uniform —
    acceptance probability is exactly weight/max_weight, reproducible
    on every run and engine.

    Cross-engine exactness: u = (first 13 md5 hex chars) / 2⁵² — an
    exact 52-bit integer divided by a power of two, so u itself has
    NO rounding; the acceptance test is one correctly-rounded multiply
    and a strict compare of doubles the q_dsir_weights gate already
    proves identical; max is order-independent.

    Scale shape: the weight stem is q_dsir_weights' two uniform
    shuffles; max_weight is a 1-row aggregate broadcast back (the
    q_events_value_concentration pattern — at deployment you'd
    checkpoint the weights table once and share it between the max
    and the join); u is a scan-local projection.  Nothing corpus-sized
    moves to the driver or a broadcast.
    """
    wdf = q_dsir_weights(spark, sf_dir).select("doc_id", "n_tokens", "weight")
    maxw = wdf.agg(F.max("weight").alias("max_w"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir-"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(_U_DENOM)
    )
    return (
        wdf.crossJoin(F.broadcast(maxw))
        .select(
            "doc_id",
            "n_tokens",
            "weight",
            u.alias("u"),
            (u * F.col("max_w") < F.col("weight")).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023) — one exact DRO step
# ---------------------------------------------------------------------------

#: fixed-point scale for the per-source probability sums and the
#: weight normalization (2^40 — the corpus-wide tie-free recipe).
_DRM_FP = 1099511627776.0
#: multiplicative step size for the excess-loss update.
_DRM_ETA = 10

#: the DoReMi per-source derivation as composable oracle CTEs (`fx`
#: ends with one row per source carrying n_docs / n_tok / mean_ref /
#: mean_proxy / excess / raw / raw_fp) — shared by
#: q_mixture_doremi_weights (the weights table) and
#: pipeline_doremi_resample (the sampler that consumes it), the same
#: sharing discipline as _DSIR_CTES.
_DRM_CTES = f"""t AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    tok AS (SELECT source, unnest(ts) AS token FROM t),
    uni AS (SELECT token, count(*) AS cu FROM tok GROUP BY token),
    ntot AS (SELECT count(*) AS n FROM tok),
    vocab AS (SELECT count(*) AS v FROM uni),
    uscored AS (
      SELECT tok.source,
             CAST(uni.cu AS DOUBLE) / (SELECT n FROM ntot) AS p
      FROM tok JOIN uni USING (token)
    ),
    usrc AS (
      SELECT source, count(*) AS n_tok,
             CAST(sum(CAST(floor(p * {_DRM_FP}) AS HUGEINT)) AS DOUBLE)
               / (count(*) * {_DRM_FP}) AS mean_ref
      FROM uscored GROUP BY source
    ),
    big AS (
      SELECT source, ts[u.i] AS w1, ts[u.i + 1] AS w2
      FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
    ),
    bcnt AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    bscored AS (
      SELECT b.source,
             CAST(bcnt.cb + 1 AS DOUBLE) / (uni.cu + (SELECT v FROM vocab))
               AS p
      FROM big b
      JOIN bcnt ON bcnt.w1 = b.w1 AND bcnt.w2 = b.w2
      JOIN uni ON uni.token = b.w1
    ),
    bsrc AS (
      SELECT source,
             CAST(sum(CAST(floor(p * {_DRM_FP}) AS HUGEINT)) AS DOUBLE)
               / (count(*) * {_DRM_FP}) AS mean_proxy
      FROM bscored GROUP BY source
    ),
    ndocs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    joined AS (
      -- LEFT join: a source whose docs are all single-token has no
      -- bigrams and no bsrc row; it must keep its baseline token
      -- share (excess 0), not silently vanish from the mixture
      SELECT u.source, ndocs.n_docs, u.n_tok, u.mean_ref,
             coalesce(b.mean_proxy, u.mean_ref) AS mean_proxy,
             greatest(u.mean_ref - coalesce(b.mean_proxy, u.mean_ref), 0)
               AS excess,
             (CAST(u.n_tok AS DOUBLE) / (SELECT n FROM ntot))
               * (1 + {_DRM_ETA}
                  * greatest(u.mean_ref - coalesce(b.mean_proxy,
                                                   u.mean_ref), 0))
               AS raw
      FROM usrc u LEFT JOIN bsrc b USING (source) JOIN ndocs USING (source)
    ),
    fx AS (
      SELECT *, CAST(floor(raw * {_DRM_FP}) AS HUGEINT) AS raw_fp FROM joined
    )"""


@register(
    "q_mixture_doremi_weights",
    oracle=f"""
    WITH {_DRM_CTES}
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tok AS BIGINT) AS n_tokens,
           mean_ref, mean_proxy, excess,
           CAST(raw_fp AS DOUBLE)
             / CAST((SELECT sum(raw_fp) FROM fx) AS DOUBLE) AS weight
    FROM fx
    """,
    tags=("sampling", "mixing", "doremi", "lm"),
)
def q_mixture_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023): up-weight
    the sources where a context-aware proxy model still underperforms
    a context-free reference — one exact multiplicative DRO step over
    the corpus's own language models, the per-source analog of the
    repo's one-exact-Lloyd-iteration convention.

    Models (zero training, fully deterministic — the repo's corpus-as-
    model idiom): reference = unigram probabilities under the corpus
    distribution (text_unigram_prob's model), proxy = Laplace-smoothed
    bigram conditionals (text_bigram_lm_score's).  Per source:
    mean_ref − mean_proxy clipped at 0 is the EXCESS-loss stand-in
    (probabilities instead of log-losses — the documented
    no-transcendentals deviation, monotone-equivalent for ranking
    sources), the baseline weight is the source's exact token share,
    and the update is baseline × (1 + η·excess) — exp(η·x)'s one-step
    linearization, again transcendental-free — normalized to sum 1.

    Cross-engine exactness: every probability is one exact-int-ratio
    double division; per-source means accumulate in the tie-free
    fixed point floor(p·2⁴⁰) summed as DECIMAL(38,0)/HUGEINT (one
    double division at the boundary), so no cross-row float
    accumulation order exists; the weight normalization divides
    fixed-point integers (Σ over |sources| rows would otherwise be an
    order-sensitive double sum).

    Machinery note: the tokenize/bigram/Laplace construction
    deliberately mirrors quality.text_bigram_lm_score (its docstring
    is the canonical description) and the fixed-point mean is corpus
    rule 6's recipe — the per-module copies exist because each
    operator's DuckDB oracle must carry the full derivation in its own
    SQL text; a semantic fix must move all copies together.

    Scale shape: two uniform token-keyed count shuffles (unigram +
    bigram tables, heavy-hitter tolerant via map-side partials), the
    probability re-joins key on token text (broadcast or shuffle-hash
    — Catalyst picks), and everything after the per-source aggregate
    is |sources|-row metadata.  Nothing corpus-sized is collected or
    broadcast; the output IS the mixture table a sampler
    (q_mixture_temperature / q_stratified_sample) consumes.
    """
    joined = _doremi_sources(spark, sf_dir)
    denom = joined.agg(F.sum("raw_fp").alias("den"))
    return (
        joined.crossJoin(F.broadcast(denom))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tok").cast("long").alias("n_tokens"),
            "mean_ref",
            "mean_proxy",
            "excess",
            (F.col("raw_fp").cast("double") / F.col("den").cast("double")).alias("weight"),
        )
    )


def _doremi_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DoReMi per-source table (one row per source: n_docs, n_tok,
    mean_ref, mean_proxy, excess, raw, raw_fp) — the Spark twin of the
    ``_DRM_CTES`` oracle chain, shared by q_mixture_doremi_weights
    (which normalizes raw_fp into the weights) and
    pipeline_doremi_resample (which turns excess into per-source
    acceptance rates).  See q_mixture_doremi_weights' docstring for
    the model/exactness rationale."""
    from adt_spark.operators.quality import _lm_stems, _lm_pairs_expr

    # shared session LM stems (quality._lm_stems): tokenized docs +
    # the two count tables, each computed once per session+corpus
    toked, uni, bcnt = _lm_stems(spark, sf_dir)
    tok = toked.select("source", F.explode(F.col("_ts")).alias("token"))
    ntot = uni.agg(F.sum("cu").alias("n"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))

    fp = F.lit(_DRM_FP)

    def fx_mean(p_col):
        return (
            F.sum(F.floor(p_col * fp).cast("decimal(38,0)")).cast("double")
            / (F.count(F.lit(1)).cast("double") * fp)
        )

    usrc = (
        tok.join(uni, "token")
        .crossJoin(F.broadcast(ntot))
        .select("source", (F.col("cu").cast("double") / F.col("n")).alias("p"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tok"), fx_mean(F.col("p")).alias("mean_ref"))
    )

    big = toked.select("source", F.inline(_lm_pairs_expr())).drop("pos")
    bsrc = (
        big.join(bcnt, ["w1", "w2"])
        .join(uni, big["w1"] == uni["token"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            ((F.col("cb") + F.lit(1)).cast("double") / (F.col("cu") + F.col("v"))).alias("p"),
        )
        .groupBy("source")
        .agg(fx_mean(F.col("p")).alias("mean_proxy"))
    )

    ndocs = toked.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # LEFT join bsrc (all-single-token sources have no bigrams) —
    # COALESCE to mean_ref so excess is 0 and the baseline share holds
    proxy = F.coalesce(F.col("mean_proxy"), F.col("mean_ref"))
    joined = (
        usrc.join(bsrc, "source", "left")
        .join(ndocs, "source")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "n_docs",
            "n_tok",
            "mean_ref",
            proxy.alias("mean_proxy"),
            F.greatest(F.col("mean_ref") - proxy, F.lit(0.0)).alias("excess"),
            (
                (F.col("n_tok").cast("double") / F.col("n"))
                * (
                    F.lit(1.0)
                    + F.lit(float(_DRM_ETA))
                    * F.greatest(F.col("mean_ref") - proxy, F.lit(0.0))
                )
            ).alias("raw"),
        )
        .withColumn("raw_fp", F.floor(F.col("raw") * fp).cast("decimal(38,0)"))
    )
    return joined


@register(
    "pipeline_doremi_resample",
    oracle=f"""
    WITH {_DRM_CTES},
    acc AS (
      SELECT source,
             CAST(floor((1 + {_DRM_ETA} * excess) * {_MIX_FP}) AS BIGINT)
               AS acc_fp
      FROM fx
    ),
    mx AS (SELECT max(acc_fp) AS max_fp FROM acc),
    keyed AS (
      SELECT d.doc_id, d.source, a.acc_fp,
             list_aggregate(list_transform(generate_series(1, 8), i ->
                 CAST(instr('0123456789abcdef',
                            substr(md5('drm-' || CAST(d.doc_id AS VARCHAR)),
                                   CAST(i AS INT), 1)) - 1 AS BIGINT)
                 * CAST(power(16, 8 - i) AS BIGINT)), 'sum') AS frac32
      FROM documents d JOIN acc a USING (source)
    )
    SELECT doc_id, source
    FROM keyed, mx
    WHERE CAST(frac32 AS HUGEINT) * CAST(max_fp AS HUGEINT)
          < CAST(4294967296 AS HUGEINT) * CAST(acc_fp AS HUGEINT)
    """,
    tags=("sampling", "mixing", "doremi", "pipeline"),
)
def pipeline_doremi_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DoReMi pipeline: derive the domain weights
    (q_mixture_doremi_weights' per-source step) and immediately
    CONSUME them as a deterministic resampler over the corpus — the
    composition the weights table exists for.

    Sampler algebra: the DoReMi weight is raw_s / Σraw with raw_s =
    token_share_s × (1 + η·excess_s).  Accepting each document of
    source s with probability p_s ∝ (1 + η·excess_s) — normalized so
    the largest factor accepts everything — makes the EXPECTED token
    share of the accepted corpus ∝ share_s × p_s ∝ raw_s, i.e. the
    resampled mix converges to the DoReMi weights without any
    per-document weight column (the q_mixture_temperature trick with
    the DRO factor in place of count^α).

    Cross-engine exactness: acceptance factors become tie-free
    fixed-point BIGINTs (floor((1+η·excess)·2^20) — excess is already
    a bit-identical double on both engines, see
    q_mixture_doremi_weights); membership is the pure-integer
    ``md5_frac32 × max_fp < 2^32 × acc_fp`` test (widened to
    DECIMAL(38)/HUGEINT), salt ``drm-`` so the draw is independent of
    q_mixture_temperature's.

    Scale shape: everything corpus-sized upstream is the shared
    memoized LM stems (two uniform token-keyed count shuffles); the
    per-source table and its max are |sources|-row metadata BROADCAST
    back onto one corpus scan — the acceptance pass itself is
    zero-shuffle and row-local, so composing "reweight" with
    "resample" costs one extra corpus scan and no new shuffle
    (machine-checked in test_plans.py).
    """
    src = _doremi_sources(spark, sf_dir)
    acc = src.select(
        "source",
        F.floor(
            (F.lit(1.0) + F.lit(float(_DRM_ETA)) * F.col("excess")) * F.lit(float(_MIX_FP))
        )
        .cast("bigint")
        .alias("acc_fp"),
    )
    mx = acc.agg(F.max("acc_fp").alias("max_fp"))
    docs = tables(spark, sf_dir)["documents"]
    frac32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("drm-"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        docs.join(F.broadcast(acc), "source")
        .crossJoin(F.broadcast(mx))
        .filter(
            dec(frac32) * dec(F.col("max_fp"))
            < dec(F.lit(4294967296)) * dec(F.col("acc_fp"))
        )
        .select("doc_id", "source")
    )


#: top-k for the learnability selection.
_RHO_K = 100


#: the per-document LM scoring as composable oracle CTEs (`uref` /
#: `bprox` end with one row per doc_id carrying mean_ref /
#: mean_proxy) — shared by q_select_learnable_docs (ranks the excess)
#: and pipeline_curriculum_stages (buckets the proxy difficulty), the
#: _DRM_CTES discipline at document grain.
_DOCLM_CTES = f"""tok AS (
      SELECT doc_id, u.i AS pos, ts[i] AS token
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
           unnest(generate_series(1, len(ts))) AS u(i)
    ),
    vocab AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
    ntot AS (SELECT count(*) AS n FROM tok),
    uscored AS (
      SELECT tok.doc_id, tok.pos,
             CAST(vocab.freq AS DOUBLE) / (SELECT n FROM ntot) AS p
      FROM tok JOIN vocab USING (token)
    ),
    uref AS (
      SELECT doc_id,
             list_sum(list_transform(
                 list_sort(list({{'pos': pos, 'p': p}})), s -> s.p)) / count(*)
               AS mean_ref
      FROM uscored GROUP BY doc_id
    ),
    t2 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    big AS (
      SELECT doc_id, u.i AS pos, ts[u.i] AS w1, ts[u.i + 1] AS w2
      FROM t2, unnest(generate_series(1, len(ts) - 1)) AS u(i)
    ),
    nvocab AS (SELECT count(*) AS v FROM vocab),
    bcnt AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
    bscored AS (
      SELECT b.doc_id, b.pos,
             CAST(bcnt.cb + 1 AS DOUBLE) / (vocab.freq + (SELECT v FROM nvocab))
               AS p
      FROM big b
      JOIN bcnt ON bcnt.w1 = b.w1 AND bcnt.w2 = b.w2
      JOIN vocab ON vocab.token = b.w1
    ),
    bprox AS (
      SELECT doc_id,
             list_sum(list_transform(
                 list_sort(list({{'pos': pos, 'p': p}})), s -> s.p)) / count(*)
               AS mean_proxy
      FROM bscored GROUP BY doc_id
    )"""


@register(
    "q_select_learnable_docs",
    oracle=f"""
    WITH {_DOCLM_CTES},
    ranked AS (
      SELECT u.doc_id, u.mean_ref,
             coalesce(b.mean_proxy, u.mean_ref) AS mean_proxy,
             greatest(u.mean_ref - coalesce(b.mean_proxy, u.mean_ref), 0)
               AS excess,
             row_number() OVER (
               ORDER BY greatest(u.mean_ref
                                 - coalesce(b.mean_proxy, u.mean_ref), 0)
                        DESC, u.doc_id) AS rn
      FROM uref u LEFT JOIN bprox b USING (doc_id)
    )
    SELECT doc_id, mean_ref, mean_proxy, excess, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= {_RHO_K}
    """,
    tags=("sampling", "selection", "lm", "rho"),
)
def q_select_learnable_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss-style data selection (Mindermann et al. 2022:
    prioritize points that are learnable, worth learning, and not yet
    learnt): rank documents by REDUCIBLE loss — how much worse the
    context-aware proxy model scores a doc than the context-free
    reference — and keep the top {_RHO_K}.  Docs of normal words in
    surprising SEQUENCES rank high (learnable signal); word soup ranks
    low on both models (noise, excess ≈ 0); boilerplate ranks low
    (already "learnt" by even the weak model).  The per-document
    companion of q_mixture_doremi_weights' per-source step — same
    corpus-as-model idiom, same no-transcendentals deviation (clipped
    probability differences stand in for log-loss gaps,
    monotone-equivalent for ranking).

    Cross-engine exactness: both per-doc means fold in POSITION order
    (the text_unigram_prob / text_bigram_lm_score recipe — no
    cross-row float accumulation); the ranking tiebreaks (excess DESC,
    doc_id) into a total order; single-token docs (no bigrams)
    LEFT-join in with excess 0 rather than vanishing.

    Scale shape: the two LM scorings are uniform token-keyed count
    shuffles + equi-joins (heavy-hitter tolerant; Catalyst picks
    broadcast vs shuffle-hash); the doc-level join is doc_id-keyed;
    the global top-k is one WindowGroupLimit pass over doc-level rows
    (k constant).  Nothing corpus-sized touches the driver.
    """
    from pyspark.sql import Window as W

    uref, bprox = _doc_lm_means(spark, sf_dir)
    proxy = F.coalesce(F.col("mean_proxy"), F.col("mean_ref"))
    ranked = (
        uref.join(bprox, "doc_id", "left")
        .select(
            "doc_id",
            "mean_ref",
            proxy.alias("mean_proxy"),
            F.greatest(F.col("mean_ref") - proxy, F.lit(0.0)).alias("excess"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("excess").desc(), F.col("doc_id"))
            ),
        )
    )
    return ranked.filter(F.col("rank") <= _RHO_K)


def _doc_lm_means(spark: SparkSession, sf_dir: str):
    """(uref, bprox): the per-document reference/proxy LM means — the
    Spark twin of the ``_DOCLM_CTES`` oracle chain, shared by
    q_select_learnable_docs (ranks the excess) and
    pipeline_curriculum_stages (buckets the proxy difficulty).
    ``bprox`` has no rows for all-single-token docs; callers LEFT-join
    and coalesce to mean_ref."""
    from adt_spark.operators.quality import _lm_stems, _lm_pairs_expr

    toked, uni, bcnt = _lm_stems(spark, sf_dir)
    tok = toked.select("doc_id", F.posexplode(F.col("_ts")).alias("pos", "token"))
    ntot = uni.agg(F.sum("cu").alias("n"))
    nvocab = uni.agg(F.count(F.lit(1)).alias("v"))

    def pos_mean(df):
        fold = F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "p"))),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return df.groupBy("doc_id").agg(
            (fold / F.count(F.lit(1))).alias("m")
        )

    uref = pos_mean(
        tok.join(uni, "token")
        .crossJoin(F.broadcast(ntot))
        .select("doc_id", "pos", (F.col("cu").cast("double") / F.col("n")).alias("p"))
    ).withColumnRenamed("m", "mean_ref")

    big = toked.select("doc_id", F.inline(_lm_pairs_expr()))
    bprox = pos_mean(
        big.join(bcnt, ["w1", "w2"])
        .join(uni, big["w1"] == uni["token"])
        .crossJoin(F.broadcast(nvocab))
        .select(
            "doc_id",
            "pos",
            ((F.col("cb") + F.lit(1)).cast("double") / (F.col("cu") + F.col("v"))).alias("p"),
        )
    ).withColumnRenamed("m", "mean_proxy")

    return uref, bprox


# ---------------------------------------------------------------------------
# Token-budget epoch allocation, curriculum staging, and holdout splits
# ---------------------------------------------------------------------------

#: training token budget as a multiple of the corpus token count.
_EPOCH_BUDGET_X = 2
#: repeat-count beyond which a source is flagged (Muennighoff et al.
#: 2023, "Scaling Data-Constrained Language Models": value decays
#: rapidly past ~4 epochs of repeated data).
_EPOCH_CAP = 4.0


@register(
    "pipeline_token_budget_epochs",
    oracle=f"""
    WITH {_DRM_CTES},
    den AS (SELECT sum(raw_fp) AS den FROM fx),
    w AS (
      SELECT f.source, f.n_tok,
             CAST(f.raw_fp AS DOUBLE) / CAST(d.den AS DOUBLE) AS weight
      FROM fx f, den d
    ),
    e AS (
      SELECT source, n_tok, weight,
             CAST(floor({_EPOCH_BUDGET_X}.0 * (SELECT n FROM ntot) * weight)
                  AS BIGINT) AS target_tokens
      FROM w
    )
    SELECT source,
           CAST(n_tok AS BIGINT) AS n_tokens,
           weight,
           target_tokens,
           CAST(target_tokens AS DOUBLE) / n_tok AS epochs,
           target_tokens // n_tok AS full_repeats,
           target_tokens - (target_tokens // n_tok) * n_tok AS rem_tokens,
           (CAST(target_tokens AS DOUBLE) / n_tok) > {_EPOCH_CAP} AS capped
    FROM e
    """,
    tags=("sampling", "mixing", "budget", "pipeline"),
)
def pipeline_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch allocation — the table a training run's data
    loader is actually configured from: given the DoReMi mixture
    weights and a total token budget ({_EPOCH_BUDGET_X}× the corpus),
    each source's token target splits into FULL passes over the
    source (``full_repeats``) plus a remainder partial pass
    (``rem_tokens`` — drawn via a q_mixture_temperature-style
    deterministic membership test in practice), with sources pushed
    past {_EPOCH_CAP} epochs flagged ``capped`` (Muennighoff et al.
    2023: repeated-data value decays rapidly past ~4 epochs, so a
    capped source signals the mixture wants more data than the source
    has).

    Cross-engine exactness: weight is one fixed-point-integer ratio
    division (q_mixture_doremi_weights' recipe); the budget×weight
    product is a double of exact-int factors floored to BIGINT;
    epochs is one exact-int double division; full_repeats/rem_tokens
    are pure BIGINT floor-division arithmetic.  No cross-row float
    accumulation anywhere.

    Scale shape: everything corpus-sized is the shared memoized LM
    stems (q_mixture_doremi_weights' two token-keyed count shuffles);
    this operator adds only |sources|-row arithmetic against two
    broadcast 1-row totals — free at any corpus size.
    """
    src = _doremi_sources(spark, sf_dir)
    # ONE auxiliary aggregate for both totals (Σ n_tok == ntot: every
    # token has a source): a separate den/tot pair would re-derive the
    # whole per-source pipeline a third time — the plan-shape test
    # pins this at the weights plan's shuffle count
    tots = src.agg(F.sum("raw_fp").alias("den"), F.sum("n_tok").alias("n"))
    w = (
        src.crossJoin(F.broadcast(tots))
        .select(
            "source",
            "n_tok",
            (F.col("raw_fp").cast("double") / F.col("den").cast("double")).alias("weight"),
            F.floor(
                F.lit(float(_EPOCH_BUDGET_X))
                * F.col("n").cast("double")
                * (F.col("raw_fp").cast("double") / F.col("den").cast("double"))
            )
            .cast("bigint")
            .alias("target_tokens"),
        )
    )
    return w.select(
        "source",
        F.col("n_tok").cast("long").alias("n_tokens"),
        "weight",
        "target_tokens",
        (F.col("target_tokens").cast("double") / F.col("n_tok")).alias("epochs"),
        F.expr("target_tokens div n_tok").alias("full_repeats"),
        (F.col("target_tokens") - F.expr("target_tokens div n_tok") * F.col("n_tok")).alias(
            "rem_tokens"
        ),
        (
            (F.col("target_tokens").cast("double") / F.col("n_tok"))
            > F.lit(_EPOCH_CAP)
        ).alias("capped"),
    )


#: fixed histogram width for the curriculum difficulty buckets.
_CURR_BUCKETS = 1024
#: number of curriculum stages.
_CURR_STAGES = 10


@register(
    "pipeline_curriculum_stages",
    oracle=f"""
    WITH {_DOCLM_CTES},
    d AS (
      SELECT u.doc_id, coalesce(b.mean_proxy, u.mean_ref) AS difficulty
      FROM uref u LEFT JOIN bprox b USING (doc_id)
    ),
    db AS (
      SELECT doc_id, difficulty,
             CAST(least(floor(difficulty * {_CURR_BUCKETS}),
                        {_CURR_BUCKETS - 1}) AS INT) AS bucket
      FROM d
    ),
    hist AS (SELECT bucket, count(*) AS cnt FROM db GROUP BY bucket),
    nd AS (SELECT count(*) AS n FROM db),
    st AS (
      SELECT bucket,
             coalesce(sum(cnt) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM hist
    )
    SELECT db.doc_id, db.difficulty, db.bucket,
           CAST(least(({_CURR_STAGES} * st.cum_prev) // (SELECT n FROM nd),
                      {_CURR_STAGES - 1}) AS INT) AS stage,
           md5('curr-' || CAST(db.doc_id AS VARCHAR)) AS shuffle_key
    FROM db JOIN st USING (bucket)
    """,
    tags=("sampling", "curriculum", "lm", "pipeline"),
)
def pipeline_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging — assign every document an easy→hard
    training stage from its language-model difficulty (the
    Bengio et al. 2009 curriculum recipe at corpus scale): difficulty
    = the proxy bigram-LM mean probability (q_select_learnable_docs'
    mean_proxy; HIGH probability = easy, so stage 0 holds the
    easiest decile), and the training order is (stage, shuffle_key) —
    a deterministic intra-stage shuffle the trainer range-sorts on.

    The decile boundaries are deliberately HISTOGRAM-GRAIN, not exact
    order statistics: docs bucket into {_CURR_BUCKETS} fixed
    difficulty bins, the bin histogram's descending cumulative counts
    yield the stage of every bin, and all docs in a bin share a
    stage.  An exact global decile needs a corpus-wide rank — a
    single-partition window at any scale — while the histogram is one
    tiny aggregate plus a broadcast map-back; production curricula
    use exactly this approximation (quantiles from histograms).

    Cross-engine exactness: difficulty is the position-ordered LM
    fold (bit-identical both engines); bucketing is one
    floor(x·2¹⁰) on that double; the cumulative window runs over
    ≤{_CURR_BUCKETS} integer rows ordered by the integer bucket (no
    ties possible); the stage division is pure integer floor
    division.

    Scale shape: the LM scorings are the shared memoized stems; new
    cost is one ≤{_CURR_BUCKETS}-row aggregate, a window over those
    rows only, and a broadcast join of the bucket→stage map back onto
    doc-level rows.  Nothing corpus-sized is sorted, windowed, or
    collected.
    """
    from pyspark.sql import Window as W

    uref, bprox = _doc_lm_means(spark, sf_dir)
    db = (
        uref.join(bprox, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("mean_proxy"), F.col("mean_ref")).alias("difficulty"),
        )
        .withColumn(
            "bucket",
            F.least(
                F.floor(F.col("difficulty") * _CURR_BUCKETS),
                F.lit(_CURR_BUCKETS - 1),
            ).cast("int"),
        )
    )
    hist = db.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    nd = db.agg(F.count(F.lit(1)).alias("n"))
    st = hist.select(
        "bucket",
        F.coalesce(
            F.sum("cnt").over(
                W.orderBy(F.col("bucket").desc()).rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("cum_prev"),
    )
    return (
        db.join(F.broadcast(st), "bucket")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "difficulty",
            "bucket",
            F.least(
                F.expr(f"({_CURR_STAGES} * cum_prev) div n"),
                F.lit(_CURR_STAGES - 1),
            )
            .cast("int")
            .alias("stage"),
            F.md5(F.concat(F.lit("curr-"), F.col("doc_id").cast("string"))).alias(
                "shuffle_key"
            ),
        )
    )


#: split thresholds on the 32-bit md5 fraction: floor(0.90·2^32) and
#: floor(0.95·2^32) — a 90/5/5 train/val/test split.
_SPLIT_TRAIN = 3865470566
_SPLIT_VAL = 4080218931


@register(
    "q_split_assign",
    oracle=f"""
    SELECT doc_id, source, lang,
           CASE WHEN frac32 < {_SPLIT_TRAIN} THEN 'train'
                WHEN frac32 < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, source, lang,
             list_aggregate(list_transform(generate_series(1, 8), i ->
                 CAST(instr('0123456789abcdef',
                            substr(md5('split-' || CAST(doc_id AS VARCHAR)),
                                   CAST(i AS INT), 1)) - 1 AS BIGINT)
                 * CAST(power(16, 8 - i) AS BIGINT)), 'sum') AS frac32
      FROM documents
    )
    """,
    tags=("sampling", "split"),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5): membership
    is a pure function of the document id's salted md5, so the same
    document lands in the same split on any engine, any cluster size,
    any run — the property that makes holdout decontamination
    (dedup_decontaminate) and eval-set stability possible at all.
    Being a per-doc hash, the split is AUTOMATICALLY stratified in
    expectation across any grouping (source, lang) without
    co-ordination; the salt ``split-`` keeps it independent of every
    other sampling draw in this module.

    Cross-engine exactness: the md5-prefix fraction is the module's
    integer frac32 recipe compared against fixed integer thresholds
    (floor(0.90·2³²), floor(0.95·2³²)) — no floats anywhere.

    Scale shape: zero shuffles, zero joins — one row-local projection
    at corpus scan speed.
    """
    docs = tables(spark, sf_dir)["documents"]
    frac32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split-"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.when(frac32 < _SPLIT_TRAIN, "train")
        .when(frac32 < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "q_global_rank_chars",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS rnk
    FROM documents
    """,
    tags=("sampling", "rank", "scale"),
)
def q_global_rank_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GLOBAL ranking — ``row_number() OVER (ORDER BY …)``
    without the single-partition cliff.  Spark executes an
    unpartitioned window on ONE task (every ranking/top-k pipeline's
    scale wall; the repo's other global orderings either avoid ranks
    — q_deterministic_shuffle — or stay histogram-grain —
    pipeline_curriculum_stages).  This operator is the classic
    two-phase construction that scales:

    1. range-partition on the total-order key (n_chars, doc_id) via
       the DETERMINISTIC bounds partitioner (global_window._range_pid_assigner:
       sample once → literal split bounds → broadcast interval join),
       so partitions are balanced and partition i's keys all precede
       partition i+1's;
    2. rank LOCALLY within each range partition (a PARTITIONED
       window — parallel);
    3. collect the per-partition COUNTS (≤ n_parts rows — bounded
       driver state, the Lloyd-collect discipline), prefix-sum them,
       and join each partition's offset back as a ≤ n_parts-row
       BROADCAST table (round-10: data, not plan literals — the plan
       is byte-stable in n_parts, and nothing O(data) materializes).

    global_rank = partition_offset + local_rank is exact because the
    bounds partitioner puts every key of partition i strictly before
    partition i+1 under the SAME total order the local rank uses
    (the tiebreak doc_id makes the key unique, so no key straddles a
    boundary).  The sampled split bounds only steer BALANCE; the
    output ranks are boundary-invariant — the cross-engine hash
    compare proves exactly that.

    Scale shape: ONE pid-keyed shuffle for the local window + two
    key-pruned sampling scans + a ≤ n_parts-row collect.  No
    single-partition exchange anywhere (plan-checked: the only
    Window is partitioned).
    """
    from adt_spark.operators.global_window import OrderWindows, plan_global_windows

    docs = tables(spark, sf_dir)["documents"]
    return plan_global_windows(
        docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars")),
        [
            OrderWindows(
                [(F.col("n_chars"), "asc"), (F.col("doc_id"), "asc")],
                ranks=[("row_number", "rnk")],
            )
        ],
    ).select("doc_id", "n_chars", "rnk")


_SQL_RANK_STMT = """
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS rn,
           CAST(rank() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk,
           CAST(dense_rank() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS dr
    FROM documents
    WHERE n_chars > 200
"""


@register(
    "q_sql_global_rank",
    oracle=_SQL_RANK_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-SURFACE global rank (round-9: a ported adt script's
    ``row_number()/rank()/dense_rank() OVER (ORDER BY …)`` — the
    reference passes such SQL straight to DataFusion, main.rs:116,
    which ranks in parallel; Spark's native plan is a
    single-partition WindowExec).  The statement here is EXACTLY what
    the oracle runs, but executed through the dialect rewrite
    (``dialect/global_rank.py`` → ``global_window._attach_ranks``): the same
    text a user would feed ``ADTContext.sql``.  The oracle proves the
    rewrite end-to-end — all three ranking functions, a DESC key, a
    tiebreak column, and a pushed-down WHERE — and the plan check in
    tests/test_plans.py proves no SinglePartition Window survives."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    ranked = maybe_rewrite_global_rank(spark, _SQL_RANK_STMT)
    if ranked is None:  # the rewrite MUST engage for this shape
        raise RuntimeError("global-rank rewrite did not match its own query")
    return ranked


_SQL_DIST_STMT = """
    SELECT doc_id,
           CAST(percent_rank() OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
             AS pr,
           CAST(cume_dist() OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
             AS cd,
           CAST(ntile(7) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS nt
    FROM documents
"""


@register(
    "q_sql_global_dist",
    oracle=_SQL_DIST_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_global_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTION half of the global-window family (round-9
    extension of q_sql_global_rank): unpartitioned percent_rank /
    cume_dist / ntile(k) hit the same single-partition WindowExec
    cliff, and all three derive from the two-phase construction's own
    offsets — percent_rank from the global rank, cume_dist from a
    globalized RANGE ≤-count, ntile from the global row_number and
    the driver-known total with SQL:2016 bucket sizing (first n mod k
    buckets hold ceil(n/k) rows — both engines).  Executed through
    the SAME dialect rewrite a ported script would take; plan check
    pins no SinglePartition Window."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    ranked = maybe_rewrite_global_rank(spark, _SQL_DIST_STMT)
    if ranked is None:
        raise RuntimeError("global-rank rewrite did not match its own query")
    return ranked


#: UniMax epoch cap: no language may be repeated more than this many
#: times regardless of how much budget is left (Chung et al. 2023 §3).
#: 1 at the fixture so the en-heavy language skew exercises BOTH
#: waterfilling branches (small languages saturate at one epoch, the
#: dominant one takes the equalized remainder).
_UNIMAX_EPOCHS = 1
#: token budget as a fraction of the corpus: B = (4/5)·Σ tokens —
#: kept RATIONAL so every saturation test below stays pure integer
#: arithmetic (multiply through by the denominator, never divide).
#: 4/5 sits between the fixture's small-language caps (~13-15% each
#: at one epoch) and the en-dominant remainder, so the fixture
#: exercises BOTH waterfilling branches.
_UNIMAX_B_NUM, _UNIMAX_B_DEN = 4, 5


@register(
    "q_mixture_unimax",
    oracle=f"""
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS c_tokens
      FROM t GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(c_tokens) AS HUGEINT) AS tot FROM c),
    w AS (
      SELECT lang, c_tokens,
             CAST({_UNIMAX_EPOCHS} AS BIGINT) * c_tokens AS cap,
             row_number() OVER (ORDER BY {_UNIMAX_EPOCHS} * c_tokens, lang)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             COALESCE(CAST(sum({_UNIMAX_EPOCHS} * c_tokens) OVER (
                 ORDER BY {_UNIMAX_EPOCHS} * c_tokens, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS p_prev
      FROM c
    ),
    s AS (
      SELECT w.*,
             (CAST({_UNIMAX_B_DEN} AS HUGEINT)
              * (CAST(cap AS HUGEINT) * (n - rn + 1)
                 + CAST(p_prev AS HUGEINT))
              <= CAST({_UNIMAX_B_NUM} AS HUGEINT) * tot.tot) AS saturated
      FROM w, tot
    ),
    agg AS (
      SELECT s.*,
             CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) OVER ()
                  AS BIGINT) AS k,
             COALESCE(CAST(sum(CASE WHEN saturated THEN cap END) OVER ()
                  AS BIGINT), 0) AS p_sat,
             CAST(tot AS BIGINT) AS tot_b
      FROM s, tot
    )
    SELECT lang, CAST(c_tokens AS BIGINT) AS c_tokens,
           CAST(cap AS BIGINT) AS cap_tokens, saturated,
           CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                ELSE CAST({_UNIMAX_B_NUM} * tot_b
                          - {_UNIMAX_B_DEN} * p_sat AS DOUBLE)
                     / CAST({_UNIMAX_B_DEN} * (n - k) AS DOUBLE)
           END AS alloc_tokens,
           CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                ELSE CAST({_UNIMAX_B_NUM} * tot_b
                          - {_UNIMAX_B_DEN} * p_sat AS DOUBLE)
                     / CAST({_UNIMAX_B_DEN} * (n - k) AS DOUBLE)
           END / CAST(c_tokens AS DOUBLE) AS epochs
    FROM agg
    """,
    tags=("sampling", "mixing", "unimax"),
)
def q_mixture_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language/source budget allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling"): distribute
    a token budget B over sources by WATERFILLING under a per-source
    epoch cap — every source gets min(cap_i, L) tokens where the
    water level L equalizes the unsaturated sources and Σ alloc = B.
    This is the budget-allocation step between q_source_token_share
    (the audit) and pipeline_token_budget_epochs (the consumption):
    the closed form is sort-by-cap + prefix arithmetic, NOT an
    iterative loop.

    Cross-engine exactness: caps are integers (epoch cap × token
    count); B = (_UNIMAX_B_NUM/_UNIMAX_B_DEN)·Σ tokens stays
    RATIONAL and every saturation
    test multiplies through by the denominator — pure widened-integer
    comparisons (DECIMAL(38,0) / HUGEINT), no rounding anywhere until
    the final water-level division of two exact integers (one IEEE
    division, bit-identical on both engines).

    Scale shape: one corpus token-count aggregation, then every
    window runs over the |sources|-row table (rows = source count,
    never the corpus) — at 100 TB this is one agg plus metadata-grain
    arithmetic.
    """
    from pyspark.sql import Window as W

    docs = tables(spark, sf_dir)["documents"]
    E, BN, BD = _UNIMAX_EPOCHS, _UNIMAX_B_NUM, _UNIMAX_B_DEN
    c = (
        docs.select("lang", F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("lang")
        .agg(F.sum("n_tokens").cast("bigint").alias("c_tokens"))
        .withColumn("cap", (F.lit(E).cast("bigint") * F.col("c_tokens")))
    )
    w_ord = W.orderBy("cap", "lang")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    w = (
        c.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy()).cast("bigint"))
        # tot as a window over the |lang|-row aggregate, NOT a second
        # aggregation lineage — keeps the plan at ONE corpus scan
        # (machine-checked in tests/test_plans.py)
        .withColumn(
            "tot", F.sum("c_tokens").over(W.partitionBy()).cast("bigint")
        )
        .withColumn(
            "p_prev",
            F.coalesce(
                F.sum("cap").over(
                    w_ord.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .withColumn(
            "saturated",
            dec(F.lit(BD))
            * (dec(F.col("cap")) * (F.col("n") - F.col("rn") + 1)
               + dec(F.col("p_prev")))
            <= dec(F.lit(BN)) * dec(F.col("tot")),
        )
    )
    w_all = W.partitionBy()
    agg = (
        w.withColumn(
            "k",
            F.sum(F.when(F.col("saturated"), 1).otherwise(0))
            .over(w_all)
            .cast("bigint"),
        )
        .withColumn(
            "p_sat",
            F.coalesce(
                F.sum(F.when(F.col("saturated"), F.col("cap"))).over(w_all),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    level = (
        (F.lit(BN) * F.col("tot") - F.lit(BD) * F.col("p_sat")).cast("double")
        / (F.lit(BD) * (F.col("n") - F.col("k"))).cast("double")
    )
    alloc = F.when(F.col("saturated"), F.col("cap").cast("double")).otherwise(
        level
    )
    return agg.select(
        "lang",
        "c_tokens",
        F.col("cap").alias("cap_tokens"),
        "saturated",
        alloc.alias("alloc_tokens"),
        (alloc / F.col("c_tokens").cast("double")).alias("epochs"),
    )


#: priority-sample size per source
_PRIO_K = 5


@register(
    "q_priority_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(list_aggregate(list_transform(generate_series(1, 8), i ->
                 CAST(instr('0123456789abcdef',
                            substr(md5('prio-' || CAST(doc_id AS VARCHAR)),
                                   CAST(i AS INT), 1)) - 1 AS BIGINT)
                 * CAST(power(16, 8 - i) AS BIGINT)), 'sum') AS DOUBLE)
               / CAST(n_chars AS DOUBLE) AS prio_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           prio_key, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY prio_key, doc_id) AS rn
          FROM keyed)
    WHERE rn <= {_PRIO_K}
    """,
    tags=("sampling", "weighted"),
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via PRIORITY SAMPLING
    (Duffield, Lund & Thorup 2007): each row draws a deterministic
    uniform u (md5-frac32, salt ``prio-``) and gets priority key
    u / w; the k smallest keys per source are the sample — inclusion
    probability rises with the weight w (here n_chars: length-biased
    selection, the subsample shape curriculum/inspection tooling
    wants), and the estimator properties are the published ones.

    Chosen over Efraimidis–Spirakis (u^(1/w)) deliberately: ES needs
    pow/log — transcendentals whose low bits may differ across
    engines — while the priority key is ONE IEEE division of two
    exact small integers, bit-identical everywhere (the corpus
    convention: q_mixture_temperature's sqrt carve-out, DoReMi's
    clipped-difference deviation).

    Scale shape: a row-local md5 projection, then per-source top-k
    through WindowGroupLimit (per-partition k-row heaps, one
    shuffle on source) — no global sort, no corpus-wide window.
    """
    from pyspark.sql import Window as W

    docs = tables(spark, sf_dir)["documents"]
    frac32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("prio-"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    keyed = docs.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (frac32.cast("double") / F.col("n_chars").cast("double")).alias(
            "prio_key"
        ),
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy("prio_key", "doc_id")
    )
    return keyed.withColumn("rn", rn).filter(F.col("rn") <= _PRIO_K)


_SQL_RUNNING_STMT = """
    SELECT doc_id,
           CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS cum_chars,
           CAST(count(*) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS cum_docs,
           CAST(avg(n_chars) OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
             AS run_avg,
           CAST(max(n_chars) OVER (ORDER BY n_chars) AS BIGINT) AS run_max
    FROM documents
"""


@register(
    "q_sql_running_totals",
    oracle=_SQL_RUNNING_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL RUNNING TOTALS on the SQL surface (round-9: the
    cumulative-distribution curve — "how many docs / chars sit below
    each length" — that corpus analysis scripts write as
    ``sum(x) OVER (ORDER BY …)``, which Spark executes on ONE task).
    The statement here is EXACTLY what the oracle runs, executed
    through the dialect rewrite (``dialect/global_rank.py`` →
    ``global_window._attach_running``): sum / count(*) / avg on the
    two-key total order, plus a single-key max whose TIES exercise
    the peer-inclusive default RANGE frame across the split (the
    max's order differs from the others', proving the per-family
    independent-order path).  Integer arguments keep the combine
    exact (the helper's documented float caveat does not apply)."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_RUNNING_STMT)
    if out is None:
        raise RuntimeError("running-totals rewrite did not match its own query")
    return out


_SQL_OFFSETS_STMT = """
    SELECT doc_id,
           CAST(lag(n_chars) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS prev_chars,
           CAST(n_chars - lag(n_chars) OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS gap,
           CAST(lead(doc_id, 3) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS next3_doc
    FROM documents
    WHERE lang <> 'zh'
"""


@register(
    "q_sql_global_offsets",
    oracle=_SQL_OFFSETS_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_global_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL OFFSET functions on the SQL surface (round-9 third
    wave): ``lag/lead(expr[, j]) OVER (ORDER BY …)`` — the length-gap
    statistics a curriculum/packing analysis writes as deltas in a
    global order, single-partition in native Spark.  The statement is
    EXACTLY what the oracle runs, executed through the dialect
    rewrite (``dialect/global_rank.py`` → ``global_window._attach_offsets``):
    a bare lag, the same lag inside an arithmetic expression (span
    substitution under composition), and a lead with an explicit
    offset of 3 (boundary rows patch from neighbor-partition heads
    three deep).  Values are carried verbatim, so the rewrite is
    exact for every type; the WHERE proves offsets see the filtered
    row sequence."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_OFFSETS_STMT)
    if out is None:
        raise RuntimeError("offset rewrite did not match its own query")
    return out


_SQL_FIRSTLAST_STMT = """
    SELECT doc_id,
           CAST(first_value(n_chars) OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS first_chars,
           last_value(lang) OVER (ORDER BY n_chars, doc_id) AS last_lang,
           CAST(nth_value(doc_id, 10) OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS tenth_doc
    FROM documents
    WHERE lang <> 'de'
"""


@register(
    "q_sql_global_firstlast",
    oracle=_SQL_FIRSTLAST_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_global_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL FRAME-VALUE functions on the SQL surface (round-10,
    closing the unpartitioned-window family): ``first_value /
    last_value / nth_value(expr, n) OVER (ORDER BY …)`` — the
    "compare every row to the head / the running peer-group tail /
    the n-th smallest" statements corpus analysis writes, which
    DataFusion executes parallel (datafusion-functions-window,
    Cargo.lock:1818) and native Spark puts on ONE task.  The
    statement is EXACTLY what the oracle runs, executed through the
    dialect rewrite (``dialect/global_rank.py`` →
    ``global_window._attach_first_last``): under the default peer-inclusive
    frame first_value is the global head (one typed literal),
    last_value is the purely LOCAL peer-group tail (range partitioner
    co-locates peers — no patching at all), and nth_value guards the
    global n-th row's value behind the broadcast ≤-count.  The WHERE
    proves frame values see the filtered sequence; the plan check
    pins no SinglePartition Window."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_FIRSTLAST_STMT)
    if out is None:
        raise RuntimeError("first/last rewrite did not match its own query")
    return out


_SQL_MOVING_STMT = """
    SELECT doc_id,
           CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS trail_chars,
           CAST(avg(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
             AS ctr_avg,
           CAST(min(doc_id) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT)
             AS next_min_doc,
           CAST(count(*) OVER (ORDER BY n_chars, doc_id ROWS 9 PRECEDING)
                AS BIGINT) AS trail_n
    FROM documents
    WHERE lang <> 'es'
"""


@register(
    "q_sql_moving_agg",
    oracle=_SQL_MOVING_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_moving_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-FRAME aggregates on the global SQL surface (round-11,
    the r10 verdict's #2 — the global moving average was the most
    common remaining unpartitioned shape still on Spark's
    single-partition cliff; DataFusion runs it parallel,
    datafusion-functions-window, Cargo.lock:1818; SQL pass-through
    main.rs:116).  The statement is EXACTLY what the oracle runs,
    executed through the dialect rewrite (``dialect/global_rank.py``
    → ``global_window._attach_bounded``): a trailing sum (j PRECEDING ..
    CURRENT ROW), a centered avg (PRECEDING .. FOLLOWING), a
    forward-looking min (CURRENT ROW .. FOLLOWING), and the
    abbreviated ROWS j PRECEDING count — every supported bound shape
    in one statement, one shared pid assignment.  Boundary frames
    patch from pre-folded suffix/prefix-aggregate arrays (driver
    state ≤ n_parts × (a+b) values re-entered as ONE broadcast join);
    integer sums are exact, so the avg's single double division is
    bit-identical cross-engine.  Plan check pins no SinglePartition
    Window."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_MOVING_STMT)
    if out is None:
        raise RuntimeError("bounded-agg rewrite did not match its own query")
    return out


_SQL_OFFSET_DEFAULT_STMT = """
    SELECT doc_id,
           CAST(lag(n_chars, 2, -1) OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS prev2,
           CAST(lead(n_chars, 5, 0) OVER (ORDER BY n_chars, doc_id)
                AS BIGINT) AS next5
    FROM documents
    WHERE lang <> 'de'
"""


@register(
    "q_sql_offsets_default",
    oracle=_SQL_OFFSET_DEFAULT_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_offsets_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-ARG lag/lead on the global SQL surface (round-11, r10
    verdict #3): the default value must replace the result ONLY past
    the global edge (offset row nonexistent) — never where an
    existing offset row's value is merely NULL — which the
    construction reads off the boundary-array patch index itself
    (``global_window._attach_offsets``; the array holds min(j, rows-beyond-
    the-edge) values, so an out-of-range index IS the edge).  The
    statement is EXACTLY what the oracle runs; lag 2-deep and lead
    5-deep cross partition boundaries at both global ends."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_OFFSET_DEFAULT_STMT)
    if out is None:
        raise RuntimeError("3-arg offset rewrite did not match its own query")
    return out


#: the Spark-side statement uses the STANDARD postfix IGNORE NULLS
#: (what Spark parses); DuckDB 1.0 only accepts the in-parens form, so
#: the oracle spells the SAME calls that way — columns/values identical
_SQL_IGNORE_NULLS_STMT = """
    SELECT doc_id,
           CAST(first_value(CASE WHEN lang = 'fr' THEN NULL ELSE n_chars END)
                IGNORE NULLS OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS first_nn,
           CAST(last_value(CASE WHEN lang = 'fr' THEN NULL ELSE n_chars END)
                IGNORE NULLS OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS last_nn
    FROM documents
"""

_SQL_IGNORE_NULLS_ORACLE = """
    SELECT doc_id,
           CAST(first_value(CASE WHEN lang = 'fr' THEN NULL ELSE n_chars END
                IGNORE NULLS) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS first_nn,
           CAST(last_value(CASE WHEN lang = 'fr' THEN NULL ELSE n_chars END
                IGNORE NULLS) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS last_nn
    FROM documents
"""


@register(
    "q_sql_ignore_nulls",
    oracle=_SQL_IGNORE_NULLS_ORACLE,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS first_value/last_value on the global SQL surface
    (round-11, r10 verdict #3).  first: ONE global value (the first
    non-null under the order) gated per row on whether the default
    frame has reached its position — the broadcast row-offset +
    local RANGE-count guard; last: the local peer-inclusive
    ``last(ignorenulls)`` coalesced with the latest non-null of
    EARLIER pids (a prefix-folded ≤ n_parts-row broadcast).  The
    nullable argument is a CASE over a real lang, so NULL runs span
    partition boundaries at sf0.01.  Spark parses the standard
    postfix IGNORE NULLS; the oracle spells DuckDB's in-parens form
    of the SAME calls.  nth_value IGNORE NULLS and lag/lead IGNORE
    NULLS stay native — documented pass-throughs."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_IGNORE_NULLS_STMT)
    if out is None:
        raise RuntimeError("ignore-nulls rewrite did not match its own query")
    return out


_SQL_TWO_ORDERS_STMT = """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS rn_len,
           CAST(rank() OVER (ORDER BY doc_id DESC) AS BIGINT) AS rk_rev,
           CAST(sum(n_chars) OVER (ORDER BY doc_id DESC) AS BIGINT)
             AS cum_rev
    FROM documents
    WHERE lang <> 'en'
"""


@register(
    "q_sql_two_rank_orders",
    oracle=_SQL_TWO_ORDERS_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_two_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO DISTINCT RANKING ORDERS in one statement (round-11, r10
    verdict #4 — the one-shared-ranking-order restriction is lifted):
    the executor builds one deterministic pid assignment per DISTINCT
    order, so rn_len rides its own partitioning while rk_rev and
    cum_rev share the second order's single assignment (one bounds
    sample + one data shuffle per order, families chained on the
    pid-carrying frame).  The statement is EXACTLY what the oracle
    runs; the plan check pins no SinglePartition Window for EITHER
    order."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_TWO_ORDERS_STMT)
    if out is None:
        raise RuntimeError("two-order rewrite did not match its own query")
    return out


_SQL_CUMROWS_STMT = """
    SELECT doc_id,
           CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_chars,
           CAST(min(doc_id) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) AS BIGINT)
             AS run_min_doc,
           CAST(max(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)
             AS tail_max,
           CAST(count(*) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS n_total
    FROM documents
    WHERE lang <> 'zh'
"""


@register(
    "q_sql_cumulative_rows",
    oracle=_SQL_CUMROWS_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_cumulative_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED-SIDE ROWS frames on the global SQL surface (round-11
    second wave): the row-exclusive cumulative frame (UNBOUNDED
    PRECEDING .. CURRENT ROW — which differs from the family's
    default RANGE frame under tied keys, so it needs the ROW-space
    construction), both mixed unbounded/finite forms, and the
    whole-input two-sided frame.  An unbounded side's
    out-of-partition contribution is the exclusive prefix/suffix
    FOLD of per-pid totals (one bounded ≤ n_parts-row collect)
    re-entered as a typed broadcast scalar — the running-aggregate
    family's offsets in row space — while the finite side keeps the
    edge-array patch (``global_window._attach_bounded``).  The statement
    is EXACTLY what the oracle runs; the plan check pins no
    SinglePartition Window."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_CUMROWS_STMT)
    if out is None:
        raise RuntimeError("cumulative-rows rewrite did not match its query")
    return out


_SQL_SHIFTED_STMT = """
    SELECT doc_id,
           CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS BIGINT)
             AS sum_before,
           CAST(min(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS BIGINT)
             AS min_back_window,
           CAST(max(n_chars) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 2 FOLLOWING AND 6 FOLLOWING) AS BIGINT)
             AS max_ahead_window,
           CAST(count(*) OVER (ORDER BY n_chars, doc_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT)
             AS n_after
    FROM documents
    WHERE lang <> 'en'
"""


@register(
    "q_sql_shifted_frames",
    oracle=_SQL_SHIFTED_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_shifted_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BOUND ROWS frames on the global SQL surface (round-11
    third wave, completing the integer ROWS-frame grammar): frames
    strictly before or after the current row — ``[UNBOUNDED/a
    PRECEDING, j PRECEDING]`` and the FOLLOWING mirror, including the
    reversed complements the moving-start UBF rewrite emits.
    Construction: the value of a shifted frame is the
    SHIFTED-TO-CURRENT frame's value at the shifted position, so the
    executor chains two existing attachments on ONE pid assignment —
    ``global_window._attach_bounded`` for the [lo−hi, 0] inner
    aggregate, then ``global_window._attach_offsets`` lag/lead by |hi| — and
    the offset's global-edge NULL is exactly the empty frame's value
    (count coalesces to its empty-frame 0).  The statement is EXACTLY
    what the oracle runs; plan check pins no SinglePartition
    Window."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_SHIFTED_STMT)
    if out is None:
        raise RuntimeError("shifted-frame rewrite did not match its query")
    return out


_SQL_RATIO_STMT = """
    SELECT doc_id,
           CAST(n_chars AS DOUBLE) / sum(n_chars) OVER () AS chars_share,
           CAST(count(*) OVER () AS BIGINT) AS n_docs,
           CAST(max(n_chars) OVER () AS BIGINT) AS max_chars
    FROM documents
    WHERE lang <> 'fr'
"""


@register(
    "q_sql_ratio_to_total",
    oracle=_SQL_RATIO_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_ratio_to_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-input SCALAR window aggregates — ``x / sum(x) OVER ()``,
    the canonical ratio-to-total projection (round-11 second wave).
    Spark plans an empty OVER() as a SinglePartition window over the
    whole input; the rewrite computes ONE parallel partial+final
    aggregation (no data shuffle), collects the single row, and
    substitutes typed literals (``global_window._attach_scalars``) — the
    share division then runs at scan speed.  Integer sums are exact,
    so the one double division is bit-identical cross-engine.  The
    statement is EXACTLY what the oracle runs, with a call composed
    inside arithmetic (span substitution under composition)."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_RATIO_STMT)
    if out is None:
        raise RuntimeError("ratio-to-total rewrite did not match its query")
    return out


_SQL_GROUPBY_RANK_STMT = """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(rank() OVER (ORDER BY count(*) DESC, lang) AS BIGINT)
             AS lang_rank,
           CAST(sum(count(*)) OVER (ORDER BY count(*) DESC, lang) AS BIGINT)
             AS cum_docs
    FROM documents
    GROUP BY lang
"""


@register(
    "q_sql_rank_over_groupby",
    oracle=_SQL_GROUPBY_RANK_STMT,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_rank_over_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL WINDOWS OVER A GROUP BY on the SQL surface (round-10
    scope widening, r9 verdict #4: "ported analytics scripts often
    rank an aggregated result" — the league-table statement).  The
    rewrite evaluates the AGGREGATED block as the inner statement
    (window keys and arguments are aggregate expressions, computed
    inside it as ``_adt_wk*/_adt_wa*`` columns), then applies the
    same two-phase constructions over the group rows: rank over
    (count(*) DESC, lang) plus the running share ``sum(count(*))
    OVER``.  Projection items stay bare columns / explicit AS
    aliases; the CAST-wrapped window items prove call substitution
    under composition in GROUP mode.  The statement is EXACTLY what
    the oracle runs; the plan check pins no SinglePartition exchange
    even though the window input here is metadata-grain (the
    |lang|-row aggregate) — at 100 TB the same statement over a
    high-cardinality GROUP BY keeps the corpus-sized aggregate AND
    the window parallel."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_GROUPBY_RANK_STMT)
    if out is None:
        raise RuntimeError("group-mode rewrite did not match its own query")
    return out


_SQL_VARIANCE_STMT = """
    SELECT doc_id,
           stddev_samp(n_chars) OVER (ORDER BY n_chars, doc_id) AS run_std,
           var_pop(n_chars) OVER (ORDER BY n_chars, doc_id) AS run_varp
    FROM documents
    WHERE lang <> 'fr'
"""

#: the oracle spells the EXACT closed form the rewrite computes —
#: integer moments (BIGINT sums of x and x², a count) and ONE float
#: expression per function — so binary64 results hash-match
#: bit-for-bit (sqrt is correctly rounded; greatest/clamp identical).
_SQL_VARIANCE_ORACLE = """
    SELECT doc_id,
           CASE WHEN n >= 2 THEN
             sqrt(greatest(0.0, (s2 - (s1 * s1) / n) / (n - 1.0)))
           END AS run_std,
           CASE WHEN n >= 1 THEN
             greatest(0.0, (s2 - (s1 * s1) / n) / n)
           END AS run_varp
    FROM (
      SELECT doc_id,
             CAST(sum(CAST(n_chars AS BIGINT))
                  OVER (ORDER BY n_chars, doc_id) AS DOUBLE) AS s1,
             CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                  OVER (ORDER BY n_chars, doc_id) AS DOUBLE) AS s2,
             CAST(count(n_chars)
                  OVER (ORDER BY n_chars, doc_id) AS DOUBLE) AS n
      FROM documents
      WHERE lang <> 'fr'
    )
"""


@register(
    "q_sql_running_variance",
    oracle=_SQL_VARIANCE_ORACLE,
    tags=("sampling", "rank", "dialect", "scale"),
)
def q_sql_running_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING VARIANCE/STDDEV on the SQL surface (round-10, the last
    member of the r9-verdict missing list: DataFusion runs
    unpartitioned stddev/variance windows parallel,
    datafusion-functions-window / Cargo.lock:1818; native Spark puts
    them on ONE task).  The rewrite decomposes into prefix-combined
    integer MOMENTS — S1 = Σx, S2 = Σx² (BIGINT, exact), n — plus one
    closed-form float expression per function, ``(S2 − S1²/n) /
    (n | n−1)`` clamped at 0, sqrt for stddev.

    Cross-engine exactness, deliberately NOT via native stddev on the
    oracle side: engines disagree in low bits because their natives
    use different algorithms (Welford / incremental vs moments), so
    the ORACLE spells the same closed form over the same exact
    integer moments — both engines then evaluate an identical binary64
    expression tree and the hash compare is exact (the corpus
    convention's derived-double rule; sqrt is correctly rounded by
    IEEE 754, and the EXCLUDE variance family set the moment-algebra
    precedent, dialect/window_frames.py).  Float ARGUMENTS would
    reintroduce both caveats and are documented as approximate.
    """
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    tables(spark, sf_dir)
    out = maybe_rewrite_global_rank(spark, _SQL_VARIANCE_STMT)
    if out is None:
        raise RuntimeError("variance rewrite did not match its own query")
    return out
