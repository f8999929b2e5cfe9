"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north-star; beyond the
reference's own operators, which have no text processing at all).

Every operator is pure Catalyst expressions (split / transform /
filter / aggregate higher-order functions) — no Python UDFs — so the
hot path stays inside whole-stage codegen and scales linearly with
partitions.  Each has an exact DuckDB oracle: the computations are
integer counts, md5 hex strings, and double ratios derived from
integers, all bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.context import local_frame, spread
from adt_spark.operators.dedup import _SHINGLE_SQL, _tokenized
from adt_spark.operators.memo import memoize
from adt_spark.queries import register, tables

# Shared stopword profile (tiny, deterministic; used by quality + langid).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def _toks():
    return F.split(F.col("text"), " ")


# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_actual,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique_tokens
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, char counts, type/token stats.

    Pure projection — no shuffle at all; at 100 TB this is a single
    embarrassingly-parallel scan.
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = _toks()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '), x -> x IN {_SW_SQL}))
                 AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents
    )
    SELECT doc_id,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_uniq AS DOUBLE) / n_tokens AS distinct_ratio,
           CAST(length(text) AS DOUBLE) / n_tokens AS chars_per_token,
           CAST(CASE WHEN n_tokens >= 20
                      AND CAST(n_uniq AS DOUBLE) / n_tokens > 0.3
                     THEN 1 ELSE 0 END AS INT) AS passes_quality
    FROM t
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, lexical diversity, length
    heuristics + a boolean quality gate (the classic pre-training
    filter shape, cf. Gopher/C4 rules).  Shuffle-free projection.
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_uniq = F.size(F.array_distinct(toks))
    distinct_ratio = n_uniq.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (F.length("text").cast("double") / n_tokens).alias("chars_per_token"),
        F.when((n_tokens >= 20) & (distinct_ratio > 0.3), 1)
        .otherwise(0)
        .cast("int")
        .alias("passes_quality"),
    )


# Language marker profiles: deterministic n-gram-style heuristic.
# (The driver's synthetic corpus is English-vocabulary; what matters
# for the correctness gate is that the heuristic is deterministic and
# engine-independent, and for the design that it is shuffle-free.)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({inlist})))"


#: the ONE langid scoring + tie-break definition (en>es>fr>de fixed
#: priority, und on zero evidence) — text_langid and
#: quality_langid_confusion, and both their oracles, must move
#: together on any marker/priority change.
_LANG_SCORES_SQL = ",\n               ".join(
    f"{_lang_score_sql(m)} AS s_{lang}" for lang, m in _LANG_MARKERS.items()
)
_LANG_PRED_SQL = """
               CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
                    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                    WHEN s_fr >= s_de THEN 'fr'
                    ELSE 'de' END"""


def _lang_scores_and_pred():
    """(scores dict, prediction Column) — the Python twin of
    _LANG_SCORES_SQL/_LANG_PRED_SQL."""
    toks = _toks()

    def marker_count(markers: tuple[str, ...]):
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in _LANG_MARKERS.items()}
    pred = (
        F.when(
            (scores["en"] == 0) & (scores["es"] == 0)
            & (scores["fr"] == 0) & (scores["de"] == 0),
            "und",
        )
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]), "es")
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return scores, pred


@register(
    "text_langid",
    oracle=f"""
    WITH scores AS (
        SELECT doc_id,
               {_LANG_SCORES_SQL}
        FROM documents
    )
    SELECT doc_id,
           {_LANG_PRED_SQL} AS lang_pred,
           CAST(s_en AS INT) AS s_en
    FROM scores
    """,
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-marker profiles (n-gram-heuristic
    family).  Ties resolve by fixed priority en>es>fr>de — a total,
    engine-independent order.  Shuffle-free."""
    docs = tables(spark, sf_dir)["documents"]
    scores, pred = _lang_scores_and_pred()
    return docs.select(
        "doc_id",
        pred.alias("lang_pred"),
        scores["en"].cast("int").alias("s_en"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_aggregate(
               list_transform(generate_series(1, greatest(length(text) - 7, 1)),
                              i -> md5(substr(text, CAST(i AS INT), 8))),
               'min') AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash over all character 8-grams
    (rolling-window winnowing, collapsed to the global minimum).

    Implemented as transform(sequence) + array_min — a single
    codegen'd projection per row, NO explode and NO shuffle; the
    rolling window never materializes as rows.  md5-hex strings
    compare identically across engines.
    """
    # spread: ~one md5 per character → compute-bound; the exchange
    # is cheap relative to the hashing (2.9s → 0.95s at sf0.1).
    # The other text ops are scan-bound: an exchange would cost more
    # than it parallelizes (measured regressions), so they stay on
    # the scan partitioning.
    docs = spread(tables(spark, sf_dir)["documents"])
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1))),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    return docs.select("doc_id", F.array_min(grams).alias("fingerprint"))


@register(
    "text_winnowing_fingerprints",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
        SELECT doc_id, len(ts) - 2 AS ng,
               list_transform(generate_series(1, len(ts) - 2),
                   i -> md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        FROM t WHERE len(ts) >= 3
    ),
    sel AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(ng - 3, 1)),
                   j -> list_sort(list_transform(
                            generate_series(j, least(j + 3, ng)),
                            i -> {'fp': grams[i], 'np': -i}))[1]) AS fps
        FROM g
    )
    SELECT DISTINCT doc_id, CAST(-u.s.np AS INT) AS pos, u.s.fp AS fp
    FROM sel, unnest(fps) AS u(s)
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every word 3-gram, slide a
    window of w=4 consecutive gram hashes, and select each window's
    minimum (ties → rightmost, the paper's rule); the distinct
    selected (position, hash) set is the fingerprint.  Guarantees any
    shared run of ≥ w+k−1 tokens yields a shared fingerprint — the
    local-selection property text_fingerprint's single global min
    lacks — at expected density 2/(w+1), so matching is robust to
    partial overlap (plagiarism / memorized-span detection, the MOSS
    use case) while storing ~40 % of the gram count.

    Cross-engine exactness: gram hashes are md5 hex strings (the
    shared convention), window minima compare (fp ASC, −pos ASC) via
    struct ordering — identical lexicographic rules in Spark's
    array_min and DuckDB's list_sort; docs with < 3 tokens have no
    grams and are absent from both engines' outputs.

    Scale shape: the entire selection is ONE codegen'd projection per
    row (transform/sequence/array_min in array-land — no explode of
    windows, no self-join, no shuffle); only the ~2N/(w+1) selected
    fingerprints ever become rows.  Downstream fingerprint-match
    joins then key on fp — uniformly-distributed md5, never doc skew.
    spread(): compute-bound like text_fingerprint (one md5 per token),
    so the exchange pays for itself.
    """
    return _winnow_rows(spread(tables(spark, sf_dir)["documents"]))


def _winnow_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, fp) winnowing selection — the kernel of
    text_winnowing_fingerprints, factored so the property tests can
    drive it over CONSTRUCTED documents and machine-check the paper's
    guarantee (any shared run of ≥ w+k−1 tokens yields at least one
    shared fingerprint hash).  The gram lambda reads the staged
    ``_toks`` column (``_tokenized``), never ``split(text)``, and the
    selection lambda reads the staged ``grams`` column."""
    toks = F.col("_toks")
    with_g = _tokenized(docs).select(
        "doc_id",
        (F.size(toks) - F.lit(2)).alias("ng"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 3))),
        ).alias("grams"),
    ).filter(F.col("ng") >= 1)
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("ng") - 3, F.lit(1))),
            lambda j: F.array_min(
                F.transform(
                    F.sequence(j, F.least(j + 3, F.col("ng"))),
                    lambda i: F.struct(
                        F.element_at("grams", i).alias("fp"),
                        (-i).alias("np"),
                    ),
                )
            ),
        )
    )
    return with_g.select("doc_id", F.explode(sel).alias("s")).select(
        "doc_id",
        (-F.col("s.np")).cast("int").alias("pos"),
        F.col("s.fp").alias("fp"),
    )


# GPT-2-style pre-tokenizer approximation: letter runs, digit runs,
# and non-alnum-non-space runs are separate pieces.  Identical RE2 /
# Java regex semantics on this corpus (ASCII).
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


@register(
    "text_bpe_token_count",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS pieces
        FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS INT) AS n_pieces,
           CAST(list_sum(list_transform(pieces, x -> floor((length(x) + 3) / 4)))
                AS BIGINT) AS n_bpe_est
    FROM p
    """,
    tags=("text", "tokens", "bpe"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: pre-tokenize with the GPT-2-style run
    regex, then estimate BPE tokens as ceil(piece_len / 4) per piece
    (the ~4-chars-per-token heuristic used for budget estimates).

    Pure projection (regexp_extract_all + aggregate fold) — zero
    shuffles, scan-partition parallel; the regex and the integer
    arithmetic are engine-portable, so the estimate is deterministic
    everywhere.
    """
    docs = tables(spark, sf_dir)["documents"]
    pieces = F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")
    est = F.aggregate(
        F.transform(pieces, lambda x: F.floor((F.length(x) + 3) / 4)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        est.alias("n_bpe_est"),
    )


_BPE_TRAIN_ROUNDS = 4


@register(
    "text_bpe_train_merges",
    oracle=None,  # iterative (data-dependent argmax per round) — not
    # SQL-expressible; pinned EXACTLY to an independent pure-Python
    # BPE reference in tests/test_bpe_train.py instead
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table TRAINING (Sennrich et al. 2016 §3.2) — the
    actual tokenizer-training loop, not just one pair census
    (text_bpe_merge_pairs is round 1's counts): K=4 rounds of
    [count adjacent symbol pairs weighted by word frequency → adopt
    the most frequent pair (ties: lexicographic (left, right)) →
    greedily merge its occurrences left-to-right in every word].
    Words carry a terminal '</w>' symbol, the paper's word-boundary
    convention.  Output: the learned merge table
    (rank, left, right, pair_count).

    Determinism: pair counts are exact integer sums; the per-round
    argmax tiebreaks (count DESC, left, right) — a total order — and
    the greedy left-to-right merge is order-defined, so the merge
    table is identical on every run, engine, and cluster size (the
    local test pins it to an independent Python implementation).

    Scale shape (the kmeans pattern — iterative with BOUNDED driver
    state): the corpus is scanned ONCE for the word-frequency vocab;
    every census round after that works on the VOCAB table (distinct
    words ≪ corpus tokens), one explode + two-phase weighted count +
    a top-N collect (bounded driver state), a driver-side BATCH
    acceptance of provably-independent merges (_bpe_accept_batch —
    prefix of the pick order with disjointness + count-gap guards,
    exactly equal to the merge-by-merge argmax), then ALL accepted
    merges applied in one vocab pass, lineage truncated via
    localCheckpoint.  Spark job count grows with K ÷ batch size, not
    K — a K=30k tokenizer is thousands of rounds, not 30k
    (tests/test_bpe_train.py pins a K=32 run to the sequential
    Python reference AND asserts its round count ≪ K).
    """
    # the trained merge rows (K tuples of driver state, the whole point
    # of the bounded-iteration design) are memoized, so the encoder
    # doesn't re-run the K training rounds per call
    merges = memoize(spark, sf_dir, "bpe_merges", lambda: (
        _bpe_train(spark, sf_dir, _BPE_TRAIN_ROUNDS)[0]
    ))
    return local_frame(
        spark, merges, "rank int, left string, right string, pair_count bigint"
    )


def _bpe_accept_batch(
    rows: list[tuple[str, str, int]], maxn: int, truncated: bool
) -> list[tuple[str, str, int]]:
    """Accept a PREFIX of the census pick order ((count DESC, left,
    right) — ``rows`` arrives already sorted) that is provably equal
    to running the sequential argmax loop merge-by-merge, without
    recounting between merges.  This is how a real trainer amortizes
    K≈30k merges over far fewer cluster rounds.

    Soundness argument (each accepted m_j must be exactly what the
    sequential loop would pick at step j):

    1. PREFIX, never skip.  Every census pair ranked above candidate
       j is one of m_1..m_{j-1} (a skipped conflict would instead
       STOP the batch), so no original pair outranks m_j at step j —
       applied merges only DECREASE other original pairs' counts.
    2. Disjointness.  A merge (Li, Ri → Ni) changes the count of
       candidate (L, R) iff an occurrence overlaps a merge site:
       R == Li (candidate's right token consumed as a left member),
       L == Ri (left token consumed as a right member), the same
       pair, or a string coincidence L == Ni / R == Ni (the new
       symbol spelling an existing one, inflating its pairs).  Any
       of these → STOP; m_j's recorded pair_count stays the exact
       census value the sequential loop would see.
    3. Count gap vs CREATED pairs.  Merge i creates pairs (x, Ni)
       and (Ni, y) with counts ≤ min(C_i, census(x, Li)) and
       ≤ min(C_i, census(Ri, y)) — every bound is a census entry
       with second element Li or first element Ri (uncollected ones
       are ≤ the truncation boundary).  Candidate j is accepted only
       if C_j STRICTLY exceeds every accepted merge's bound, so no
       created pair can win step j (nor tie into the lexicographic
       tiebreak).
    4. One-pass application.  Disjointness also means applying the
       accepted merges in rank order within one vocab pass IS the
       sequential application: a merge neither creates nor destroys
       occurrences of a disjoint later merge (neighbors of a merge
       site become adjacent to Ni, never to each other).
    """
    boundary = rows[-1][2] if truncated and rows else 0
    accepted: list[tuple[str, str, int]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    news: set[str] = set()
    bmax = 0
    for L, R, C in rows:
        if accepted and (
            R in lefts
            or L in rights
            or L in news
            or R in news
            or C <= bmax
        ):
            break
        adj = max(
            [
                c2
                for l2, r2, c2 in rows
                if (r2 == L or l2 == R) and (l2, r2) != (L, R)
            ]
            + [boundary]
        )
        accepted.append((L, R, C))
        lefts.add(L)
        rights.add(R)
        news.add(L + R)
        bmax = max(bmax, min(C, adj))
        if len(accepted) >= maxn:
            break
    return accepted


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    top: int = 64,
    max_batch: int = 16,
) -> tuple[list[tuple[int, str, str, int]], int]:
    """The distributed BPE training loop, returning (merge table,
    census rounds run).  Per round: ONE top-``top`` pair census
    (bounded collect), a driver-side batch acceptance
    (_bpe_accept_batch — provably equal to the merge-by-merge argmax),
    then all accepted merges applied in ONE vocab pass (≤``max_batch``
    folds per projection, so plan depth per round is bounded), one
    localCheckpoint lineage truncation.  Census rounds — the Spark
    job count — grow with K / batch size, not K."""
    docs = tables(spark, sf_dir)["documents"]
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(chars, F.array(F.lit("</w>"))).alias("syms"),
        )
        .localCheckpoint(eager=False)
    )
    return _bpe_train_vocab(vocab, k, top=top, max_batch=max_batch)


def _bpe_train_vocab(
    vocab: DataFrame, k: int, top: int = 64, max_batch: int = 16
) -> tuple[list[tuple[int, str, str, int]], int]:
    """The census→accept→apply loop over a prepared (word, freq,
    syms) vocab table — separated so tests can drive RANDOM vocabs
    through the exact batching guards against the sequential Python
    reference."""
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(merges) < k:
        rounds += 1
        adj = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("l"),
                    F.element_at("syms", i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        census = [
            (r.l, r.r, int(r.cnt))
            for r in (
                vocab.select("freq", F.explode(adj).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "l", "r")
                .limit(top)
                .collect()
            )
        ]
        if not census:
            break
        accepted = _bpe_accept_batch(
            census, min(k - len(merges), max_batch), truncated=len(census) == top
        )
        for L, R, C in accepted:
            merges.append((len(merges) + 1, L, R, C))
            vocab = vocab.select(
                "word", "freq", _bpe_merge_fold(L, R).alias("syms")
            )
        vocab = vocab.localCheckpoint(eager=False)
    return merges, rounds


def _bpe_merge_fold(L: str, R: str):
    """Greedy left-to-right merge of adjacent (L, R) over the ``syms``
    column: CaseWhen branches evaluate lazily per row, so
    element_at(-1) never runs on the empty accumulator (the size-0
    branch short-circuits it)."""

    def step(acc, x):
        return F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                (F.element_at(acc, -1) == F.lit(L)) & (x == F.lit(R)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(L + R)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        )

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step
    )


def _bpe_apply_merges(enc: DataFrame, merges: DataFrame) -> tuple[DataFrame, int]:
    """Apply a trained BPE merge table to (word, syms) rows in RANK
    ORDER with plan size O(1) in K.  (Round-4 verdict item 3: the
    previous encoder chained one nested ``F.aggregate`` fold per
    merge as plan literals, so Catalyst analysis/codegen grew
    linearly with K — correct at K=4, hopeless at a real tokenizer's
    K≈30k.)

    Rank-monotone fixpoint: every word carries a cursor (the next
    merge rank it may apply, starting at 1).  Per round, each active
    word explodes its adjacent symbol pairs, equi-joins them against
    the K-row merge-rank table (a bounded MODEL table — broadcast is
    justified the way codebook/calendar tables are), keeps ranks ≥
    its cursor, and takes the MINIMUM surviving rank; one greedy
    left-to-right pass of that single merge is applied as a
    column-parameterized fold (the pair comes from the joined row,
    never a plan literal), and the cursor advances past the applied
    rank.  A greedy pass leaves no (L, R) adjacency behind, so this
    is exactly "apply merges in rank order, one pass each, skipping
    non-occurring ranks" — the Sennrich 2016 encoder the Python
    reference in tests/test_bpe_train.py pins.

    Rounds are bounded by the longest word's symbol count (every
    applied pass shortens its word by ≥1), INDEPENDENT of K; lineage
    is truncated per round with eager localCheckpoint (the trainer's
    own pattern), so plan depth is O(1) in both K and round count.
    Quiesced words LEAVE the loop: each round joins and
    re-checkpoints only the still-active set, so per-round work
    tracks the shrinking active vocabulary, not the full one.

    Returns (encoded (word, syms), rounds run) — the round count so
    tests can assert the K-independence bound.
    """
    from functools import reduce

    mdf = merges.select(
        F.col("rank").alias("m_rank"),
        F.col("left").alias("m_l"),
        F.col("right").alias("m_r"),
    )
    active = enc.select("word", "syms", F.lit(1).alias("cur"))
    done: list[DataFrame] = []
    rounds = 0
    while True:
        adj = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("l"),
                    F.element_at("syms", i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            active.select("word", "cur", F.explode(adj).alias("p"))
            .join(
                F.broadcast(mdf),
                (F.col("p.l") == F.col("m_l")) & (F.col("p.r") == F.col("m_r")),
            )
            .filter(F.col("m_rank") >= F.col("cur"))
            .groupBy("word")
            .agg(
                F.min(
                    F.struct(
                        F.col("m_rank").alias("rank"),
                        F.col("m_l").alias("l"),
                        F.col("m_r").alias("r"),
                    )
                ).alias("b")
            )
        )
        # one greedy pass of the word's chosen merge; the pair is a
        # COLUMN (b.l/b.r) so the fold is one plan node for any K
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(F.size(acc) == 0, F.array(x)).otherwise(
                F.when(
                    (F.element_at(acc, -1) == F.col("b.l")) & (x == F.col("b.r")),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(F.col("b.l"), F.col("b.r"))),
                    ),
                ).otherwise(F.concat(acc, F.array(x)))
            ),
        )
        joined = (
            active.join(best, "word", "left")
            .select(
                "word",
                F.when(F.col("b").isNull(), F.col("syms"))
                .otherwise(merged)
                .alias("syms"),
                F.when(F.col("b").isNull(), F.lit(None).cast("int"))
                .otherwise((F.col("b.rank") + 1).cast("int"))
                .alias("cur"),
            )
            .localCheckpoint(eager=True)
        )
        rounds += 1
        # checkpoint the (small) quiesced slice on its own so the
        # round's full frame becomes unreferenced when `active`
        # rebinds — otherwise every round's checkpoint blocks stay
        # pinned until the final union is consumed
        done.append(
            joined.filter(F.col("cur").isNull())
            .select("word", "syms")
            .localCheckpoint(eager=True)
        )
        active = joined.filter(F.col("cur").isNotNull())
        if active.limit(1).count() == 0:
            break
    return reduce(DataFrame.unionByName, done), rounds


@register(
    "text_bpe_encode",
    oracle=None,  # consumes the (data-dependent) trained merge table —
    # pinned exactly to an independent Python encoder in
    # tests/test_bpe_train.py
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table (text_bpe_train_merges) to
    the corpus — the ENCODE half of the tokenizer loop: per document,
    the exact BPE token count under the learned merges (vs
    text_bpe_token_count's ceil(len/4) estimate).  Output:
    (doc_id, n_words, n_bpe_tokens).

    Scale shape — encode the VOCAB, not the corpus: the merge rounds
    run over DISTINCT words (vocab ≪ corpus tokens; the same
    observation that makes training vocab-scale), and documents join
    their words against the encoded vocab on the uniform word key —
    one explode, one equi-join, one doc-keyed sum.  Merge application
    is the rank-monotone fixpoint ``_bpe_apply_merges`` — plan size
    O(1) in K and rounds bounded by word length, so a real 30k-merge
    tokenizer is feasible (round-4 verdict item 3; the previous
    encoder inlined K nested folds as plan literals).

    Determinism: inherited — the merge table is deterministic
    (text_bpe_train_merges), each merge application is the same
    order-defined greedy fold, and the counts are exact integers.
    """
    docs = tables(spark, sf_dir)["documents"]
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))

    def encode_vocab() -> DataFrame:
        merges_df = text_bpe_train_merges(spark, sf_dir).select(
            "rank", "left", "right"
        )
        chars = F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        )
        enc0 = tok.select("word").distinct().select(
            "word", F.concat(chars, F.array(F.lit("</w>"))).alias("syms")
        )
        enc, _rounds = _bpe_apply_merges(enc0, merges_df)
        return enc.select("word", F.size("syms").alias("n_sym"))

    # the encoded vocab (word, n_sym) is memoized: the fixpoint rounds
    # run once per session+corpus, not once per call
    vocab_enc = memoize(spark, sf_dir, "bpe_enc", encode_vocab)
    return (
        tok.join(vocab_enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


@register(
    "text_bpe_fertility_by_lang",
    oracle=f"""
    WITH p AS (
        SELECT lang,
               len(regexp_extract_all(text, '{_BPE_RE}')) AS p,
               len(string_split(text, ' ')) AS w,
               coalesce(list_sum(list_transform(
                   regexp_extract_all(text, '{_BPE_RE}'),
                   x -> length(x))), 0) AS pc
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(p) AS BIGINT) AS n_pieces,
           CAST(sum(p) AS DOUBLE) / sum(w) AS fertility,
           CASE WHEN sum(p) = 0 THEN NULL
                ELSE CAST(sum(pc) AS DOUBLE) / sum(p) END AS chars_per_piece
    FROM p GROUP BY lang
    """,
    tags=("text", "tokenizer", "fertility", "lang"),
)
def text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — pieces per whitespace word
    and characters per piece, the standard per-language tokenizer
    audit (fertility ≫ 1 for a language means the tokenizer fragments
    it, inflating compute per content-word and skewing effective
    mixture weights; cf. the multilingual-tokenizer analyses around
    BLOOM/XGLM).  Uses the same GPT-2-style run pre-tokenizer as
    text_bpe_token_count so the two audits agree on what a piece is.

    Cross-engine exactness: every per-doc stat is an exact integer
    (regex piece count, whitespace word count, summed piece length);
    per-lang sums are exact BIGINT partial+final aggregates; the two
    ratios are single exact-int-ratio double divisions at the output
    boundary (rule 2).

    Scale shape: one scan-speed projection (regex + array fold, zero
    Python), then ONE two-phase aggregate keyed on lang — bounded
    cardinality, map-side partials absorb any language skew (a 90 %%
    English corpus is the normal case and costs nothing extra).
    """
    docs = tables(spark, sf_dir)["documents"]
    pieces = F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")
    per_doc = docs.select(
        "lang",
        F.size(pieces).cast("bigint").alias("p"),
        F.size(F.split("text", " ")).cast("bigint").alias("w"),
        F.aggregate(
            F.transform(pieces, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("pc"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("p").alias("n_pieces"),
        (F.sum("p").cast("double") / F.sum("w")).alias("fertility"),
        # NULL (not inf/ANSI-error) when a lang has zero pieces — the
        # guard keeps Spark and DuckDB bit-identical on that edge
        F.when(
            F.sum("p") > 0, F.sum("pc").cast("double") / F.sum("p")
        ).alias("chars_per_piece"),
    )


# ---------------------------------------------------------------------------
# Document chunking (RAG / context-window splitting)
# ---------------------------------------------------------------------------

#: chunk width / stride in whitespace tokens (25% overlap) — the
#: standard RAG/pre-training context-window split.
_CHUNK_W = 32
_CHUNK_STRIDE = 24


@register(
    "doc_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(s.i // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           array_to_string(toks[CAST(s.i + 1 AS INT):CAST(s.i + {_CHUNK_W} AS INT)], ' ')
             AS chunk_text,
           CAST(len(toks[CAST(s.i + 1 AS INT):CAST(s.i + {_CHUNK_W} AS INT)]) AS INT)
             AS n_chunk_tokens
    FROM t, unnest(generate_series(0, greatest(n - 1, 0), {_CHUNK_STRIDE})) AS s(i)
    """,
    tags=("text", "chunking", "rag"),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the split step every
    RAG / long-context training pipeline runs before embedding or
    packing: fixed token windows (width 32, stride 24 → 25% overlap),
    each chunk addressable as (doc_id, chunk_idx).

    Scale shape: tokens never leave the row until the one
    ``explode(sequence(...))`` over chunk *starts* (≤ n/stride rows
    per doc, not n), and each chunk is a row-local ``slice`` — no
    shuffle anywhere, so the operator runs at scan speed and output
    size is input size × (1 + overlap), the information-theoretic
    floor for overlapped chunking.
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = _toks()
    n = F.size(toks)
    chunked = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(_CHUNK_W))
    return chunked.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting (one tokenizer-training iteration)
# ---------------------------------------------------------------------------


@register(
    "text_bpe_merge_pairs",
    oracle="""
    WITH wc AS (
        SELECT w AS word, count(*) AS cnt
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        GROUP BY w
    ),
    pairs AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair, cnt
        FROM wc, unnest(generate_series(1, length(word) - 1)) AS u(i)
        WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration (Sennrich et al. 2016):
    count adjacent symbol pairs weighted by word frequency and rank
    the top merge candidates (here at the character level, i.e. the
    first merge round).

    Scale shape — the classic BPE trick, distributed: the corpus-sized
    work is ONE explode + hash-agg into the word-frequency table
    (map-side combine absorbs Zipf mass, so shuffle bytes track the
    VOCABULARY, not the corpus); pair expansion then runs over that
    vocab-sized table only — at 100 TB of text the pair stage touches
    a few million distinct words, not the corpus.  Final top-k is a
    partial+final agg + TakeOrderedAndProject with a total-order
    tiebreak (count desc, pair asc).
    """
    docs = tables(spark, sf_dir)["documents"]
    wc = (
        docs.select(F.explode(_toks()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wc.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PII detection + redaction
# ---------------------------------------------------------------------------

#: patterns kept to the regex subset with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+"
_PII_PHONE = "555-[0-9]+"
_PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

#: deterministic PII injection (the synthetic corpus carries none):
#: every 3rd doc gets an email + phone + ip derived from doc_id, so
#: detection has known ground truth on BOTH engines.
_PII_DIRTY_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact u' || CAST(doc_id AS {str_t})"
    " || '@example.com or 555-' || CAST(doc_id % 10000 AS {str_t})"
    " || ' from 10.0.' || CAST(doc_id % 256 AS {str_t}) || '.1' ELSE text END"
)


@register(
    "text_pii_redact",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id, {_PII_DIRTY_SQL.format(str_t='VARCHAR')} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IP}', '[IP]', 'g') AS redacted
    FROM dirty
    """,
    tags=("text", "pii", "redaction"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — a standard pre-training scrub pass
    (emails / phone-prefix / IPv4 here; the same regexp_replace chain
    extends to any pattern set with Java∩RE2-portable syntax).

    Pure Catalyst projection: regexp_extract_all counts + a
    regexp_replace chain, zero shuffles, whole-stage codegen'd — at
    100 TB this runs at scan speed.  The corpus is synthetic word
    streams (no real PII), so known PII is injected deterministically
    from doc_id on both engines, giving the detector exact ground
    truth: every doc_id % 3 == 0 row must report 1 email, 1 phone,
    1 ip and a fully masked suffix.
    """
    docs = tables(spark, sf_dir)["documents"]
    # patterns go through the Python API (F.lit / literal args), NOT
    # F.expr SQL strings — Spark SQL string literals process
    # backslash escapes, which would silently turn '\.' into '.'
    dirty = F.expr(_PII_DIRTY_SQL.format(str_t="STRING"))  # no backslashes
    red = dirty
    for pat, tag in [(_PII_EMAIL, "[EMAIL]"), (_PII_PHONE, "[PHONE]"), (_PII_IP, "[IP]")]:
        red = F.regexp_replace(red, pat, tag)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(dirty, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(dirty, F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        red.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Corpus-relative term statistics: tf-idf distinctive terms, rarity
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT source) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(DISTINCT source) AS n FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf,
             CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT source, term, CAST(tf AS BIGINT) AS tf, score
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY score DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    tags=("text", "tfidf", "topk"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source by tf-idf (idf as the exact
    rational N/df rather than its log — identical ranking class,
    and the double arithmetic is a correctly-rounded single
    division+multiply, engine-identical; log is libm-dependent and
    not bit-reproducible across engines).

    Scale shape: one token explode feeding two two-phase aggregates —
    (source, term) term frequencies (shuffle key ~ vocabulary x
    sources, partial-combined map-side) and per-term source document
    frequencies.  The df table is VOCABULARY-sized — unbounded on a
    heavy-tailed web corpus — so it is NOT force-broadcast: the
    term-keyed equi-join is left to AQE (runtime broadcast only when
    the measured size allows).  The source count joins as a 1-row
    broadcast literal, and the top-5 is WindowGroupLimit (rank pushed
    into the shuffle) with a term tiebreak for cross-engine
    determinism.
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = spread(docs).select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = toks.select("source", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n = docs.agg(F.countDistinct("source").alias("n"))
    scored = (
        tf.join(df, ["term"])
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n").cast("double") / F.col("df")),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("score").desc(), F.col("term"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 5)
        .select("source", "term", F.col("tf").cast("long").alias("tf"), "score")
    )


#: fixed-point scale for rarity sums (2^20; power-of-two multiply is
#: exact, floor never ties — rule 6 in queries/__init__.py)
_RARITY_FP = 1 << 20


@register(
    "text_doc_rarity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS tot FROM toks),
    per_tok AS (
      SELECT doc_id,
             CAST(floor((CAST(tot.tot AS DOUBLE) / vocab.cnt) * {_RARITY_FP})
                  AS BIGINT) AS fp
      FROM toks JOIN vocab USING (term) CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           (CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / {_RARITY_FP}) / count(*)
             AS rarity
    FROM per_tok GROUP BY doc_id
    """,
    tags=("text", "rarity", "lm"),
)
def text_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean inverse corpus frequency per document — the unigram-LM
    "surprise" proxy quality pipelines use to flag gibberish (high
    rarity) and boilerplate (low rarity).  Defined on the exact
    rational total/count rather than -log p: same ordering, and the
    per-token value is one correctly-rounded division (log is
    libm-dependent across engines).

    Scale shape: token explode -> vocabulary aggregate (two-phase,
    keyed by term) which then BROADCASTS back onto the token stream
    (vocabulary is dictionary-sized; the fact table never shuffles
    for the join), corpus total joins as a 1-row broadcast, and the
    per-doc mean is one final doc_id-keyed two-phase aggregate over
    fixed-point integers (2^-20 quantization buys exact cross-engine
    sums; summation order is then irrelevant).
    """
    docs = tables(spark, sf_dir)["documents"]
    toks = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    tot = toks.agg(F.count("*").alias("tot"))
    fp = F.floor(
        (F.col("tot").cast("double") / F.col("cnt")) * F.lit(_RARITY_FP)
    ).cast("bigint")
    return (
        # vocab is vocabulary-sized (unbounded): term-keyed equi-join,
        # AQE decides broadcast; only the 1-row total is forced
        toks.join(vocab, ["term"])
        .join(F.broadcast(tot))
        .select("doc_id", fp.alias("fp"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("fp").alias("sfp"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                (F.col("sfp").cast("double") / F.lit(_RARITY_FP))
                / F.col("n_tokens")
            ).alias("rarity"),
        )
    )


@register(
    "quality_langid_confusion",
    oracle=f"""
    WITH scores AS (
        SELECT doc_id, lang,
               {_LANG_SCORES_SQL}
        FROM documents
    ),
    pred AS (
        SELECT lang,
               {_LANG_PRED_SQL} AS lang_pred
        FROM scores
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE) AS frac
    FROM pred GROUP BY lang, lang_pred
    """,
    tags=("quality", "langid", "eval"),
)
def quality_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the corpus's labeled
    ``lang`` column: per (label, prediction) counts and within-label
    fractions — the calibration check run before trusting a heuristic
    classifier to gate a training mix (`zh` has no marker profile, so
    its rows land on `und`/confusions and expose the classifier's
    coverage hole rather than hiding it).

    One shuffle-free scoring projection (the same marker-count
    expressions text_langid uses) + one two-phase count aggregation;
    the per-label normalization is a window over the
    label-cardinality-sized aggregate, not the corpus.  Exactness:
    integer counts; the fraction is one count/count double division.
    """
    docs = tables(spark, sf_dir)["documents"]
    _scores, pred = _lang_scores_and_pred()
    from pyspark.sql import Window as W

    counts = (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    return counts.select(
        "lang",
        "lang_pred",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("lang")).cast("double")
        ).alias("frac"),
    )


@register(
    "text_shingle_novelty",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    first_seen AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
    FROM sh JOIN first_seen USING (shingle)
    GROUP BY sh.doc_id
    """,
    tags=("text", "novelty", "dedup"),
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty: the fraction of a document's
    distinct word-3-grams whose FIRST corpus appearance (min doc_id)
    is this document — the novel-n-gram curve deduplication papers
    plot (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public) to show how much of each new
    document is genuinely new text.

    Shape: the memoized shingle arrays feed a first-seen aggregate
    (shingle-keyed two-phase min) that joins back to the exploded
    index and folds per doc — two shuffles total (shingle, doc_id),
    both on uniform keys, reusing the same materialized shingle table
    every other near-dup operator shares.  Exactness: integer counts
    and one count/count double division.
    """
    from adt_spark.operators.dedup import _shingles

    docs = tables(spark, sf_dir)["documents"]
    sh = _shingles(docs)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, ["shingle"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 more-like-this retrieval
# ---------------------------------------------------------------------------

_BM25_NQ = 3        # query docs: doc_id < 3
_BM25_QTERMS = 8    # query = distinct first-8 tokens of the query doc
_BM25_TOPK = 5


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH qt AS (
        SELECT doc_id AS query_id,
               list_sort(list_distinct((string_split(text, ' '))[1:{_BM25_QTERMS}])) AS terms
        FROM documents WHERE doc_id < {_BM25_NQ}
    ),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS nn,
               CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS sumdl
        FROM documents
    ),
    df AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dfv
        FROM toks
        WHERE term IN (SELECT unnest(terms) FROM qt)
        GROUP BY term
    ),
    dfl AS (SELECT list(struct_pack(t := term, d := dfv) ORDER BY term) AS l FROM df),
    scored AS (
        SELECT q.query_id, d.doc_id,
               list_reduce(list_transform(q.terms, t ->
                 ((st.nn - list_filter(fl.l, p -> p.t = t)[1].d + 0.5e0)
                   / (list_filter(fl.l, p -> p.t = t)[1].d + 0.5e0))
                 * ((CAST(len(list_filter(string_split(d.text, ' '), w -> w = t)) AS DOUBLE) * 2.2e0)
                   / (CAST(len(list_filter(string_split(d.text, ' '), w -> w = t)) AS DOUBLE)
                      + 1.2e0 * (0.25e0 + ((0.75e0 * CAST(len(string_split(d.text, ' ')) AS DOUBLE))
                                           / (st.sumdl / st.nn)))))),
                 (a, b) -> a + b) AS score
        FROM qt q CROSS JOIN documents d CROSS JOIN stats st CROSS JOIN dfl fl
        WHERE d.doc_id <> q.query_id
    )
    SELECT query_id, doc_id, score, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= {_BM25_TOPK}
    """,
    tags=("text", "retrieval", "bm25", "topk"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 more-like-this retrieval (Robertson–Sparck Jones / Okapi,
    k1=1.2, b=0.75): for each of the {_BM25_NQ} lowest doc_ids, use
    its distinct first-{_BM25_QTERMS} tokens as the query and return
    the top-{_BM25_TOPK} other documents — the lexical-retrieval
    primitive of RAG pipelines and the classic sparse baseline next
    to the ANN family here.

    Cross-engine exactness (the text_tfidf_top_terms discipline,
    extended): idf is the exact RATIONAL form (N − df + 0.5)/(df +
    0.5) — same ranking class as the log form, but log is
    libm-dependent and not bit-reproducible across engines; every
    constant (1.2, 2.2, 0.25, 0.75) appears as the same literal on
    both sides (never computed: 1.2+1.0 and the literal 2.2 are
    DIFFERENT doubles); and the per-document score folds the
    term scores in sorted-term order as one fixed expression chain —
    no cross-row float accumulation anywhere, so the sum is
    bit-identical to DuckDB's list_reduce over list_sort'ed terms.

    Scale shape: the query-term list ({_BM25_NQ}×{_BM25_QTERMS},
    bounded by construction) is collected to plan literals; corpus
    statistics (N, Σdl, per-term df) are ONE 1-row scan-aggregate
    cross-joined as a broadcast — so scoring is a zero-shuffle
    corpus scan (tf via per-row array filters, no inverted index
    materialized), and the only shuffle is the per-query top-k
    window (WindowGroupLimit heaps).  This is the same
    broadcast-bounded / scan-linear shape as ann_topk_bruteforce,
    with the df aggregate replacing the query-vector literals.
    """
    from pyspark.sql import Window as W

    docs = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    qrows = (
        docs.filter(F.col("doc_id") < _BM25_NQ)
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(F.slice(toks, 1, _BM25_QTERMS))
            ).alias("terms"),
        )
        .collect()
    )
    queries = {int(r.doc_id): list(r.terms) for r in qrows}
    all_terms = sorted({t for ts in queries.values() for t in ts})
    stats = docs.agg(
        F.count("*").cast("double").alias("nn"),
        F.sum(F.size(toks)).cast("double").alias("sumdl"),
        *[
            F.sum(F.array_contains(toks, t).cast("long")).cast("double").alias(f"df_{i}")
            for i, t in enumerate(all_terms)
        ],
    )
    dfcol = {t: F.col(f"df_{i}") for i, t in enumerate(all_terms)}
    dl = F.size(toks).cast("double")
    avgdl = F.col("sumdl") / F.col("nn")

    def term_score(t: str):
        tfv = F.size(F.filter(toks, lambda w: w == F.lit(t))).cast("double")
        dfv = dfcol[t]
        idf = (F.col("nn") - dfv + F.lit(0.5)) / (dfv + F.lit(0.5))
        return idf * (
            (tfv * F.lit(2.2))
            / (tfv + F.lit(1.2) * (F.lit(0.25) + ((F.lit(0.75) * dl) / avgdl)))
        )

    structs = []
    for qid in sorted(queries):
        sc = None
        for t in queries[qid]:  # array_sort order == oracle's list_sort order
            s = term_score(t)
            sc = s if sc is None else sc + s
        structs.append(
            F.struct(
                F.lit(qid).cast("long").alias("query_id"), sc.alias("score")
            )
        )
    scored = (
        spread(docs)
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.explode(F.array(*structs)).alias("qs"))
        .select(
            F.col("qs.query_id").alias("query_id"),
            "doc_id",
            F.col("qs.score").alias("score"),
        )
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= _BM25_TOPK)
        .withColumn("rn", F.col("rn").cast("int"))
    )
