#!/usr/bin/env python
"""One-step scale measurement for the heavy LLM-pipeline families
(round-6 verdict item 4: "measure one scale step instead of asserting
plan shape").

Generates seed-derived synthetic documents/embeddings corpora at 1x,
3x and 10x the sf0.1 shape (5k docs / 2k vectors at 1x) into /tmp —
NEVER touching /root/testdata — then runs the heavy families at each
point in ONE session, recording wall seconds, shuffle read/write bytes
(Spark REST status API, diffed per query) and gc'd driver JVM heap.
All three points come from the SAME generator, so the ratios are
apples-to-apples; near-duplicate and exact-duplicate implant RATES are
constant across scale, so candidate populations grow with the corpus
the way a real crawl's do.

Usage:  python tools/scaling_probe.py [--mults 1,3,10] [--json out.json]
Writes a markdown table to stdout (paste into SCALING.md) and the raw
JSON next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DOCS = 5_000   # sf0.1 shape
BASE_VECS = 2_000
DIM = 64
SEED = 42

#: the families the round-6 verdict names, one representative each
FAMILIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_containment",
    "dedup_substring_mask",
    "dedup_semantic",
    "ann_ivfpq_recall",
    "text_bigram_lm_score",
]

#: --vocab zipf measures the TEXT families only (round-7 verdict item
#: 1): SCALING.md note 2 attributed containment's 20× shuffle growth
#: to the 32-word fixture vocabulary (PPJoin prefix postings collide
#: when the shingle space is tiny), and the token-keyed LM joins'
#: heavy-hitter tolerance under real Zipf skew was an argument, not a
#: measurement — this mode settles both.  The embedding families are
#: vocabulary-independent and keep their fixture-vocab numbers.
ZIPF_FAMILIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_containment",
    "dedup_ngram_jaccard",
    "text_bigram_lm_score",
    "q_mixture_doremi_weights",
    "q_select_learnable_docs",
    # round-8 consumers of the same LM stems — their marginal cost
    # under Zipf skew rides the memoized tables like doremi's does
    "pipeline_doremi_resample",
    "pipeline_curriculum_stages",
]

#: Zipf vocabulary shape: ~50k types, exponent 1.1 — the standard
#: natural-text fit (Zipf 1949; α for web corpora measured 1.0–1.2),
#: so the head tokens are genuine heavy hitters (rank-1 token covers
#: 1/H(50000, 1.1) ≈ 13.9% of all positions — the ≈14% head mass
#: SCALING.md v2 reports) while the tail stays mostly-unique, exactly
#: the posting-list/skew regime a real crawl presents.
ZIPF_TYPES = 50_000
ZIPF_ALPHA = 1.1

VOCAB = (
    "batch part spark line column order small sort fast value scan query "
    "agg table hash key group stream filter customer vector slow join "
    "merge index cache disk row page block plan stage task shuffle"
).split()

LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # en-heavy like the fixture


def gen_corpus(mult: int, root: str, vocab: str = "fixture") -> str:
    """documents.parquet + embeddings.parquet at ``mult``x the sf0.1
    shape, fully determined by (SEED, mult, vocab).  2% exact
    duplicates and 8% near-duplicates (one-word perturbations of a
    recent doc) keep the dedup candidate population proportional to
    corpus size.  vocab="zipf" draws tokens rank-wise from a ~50k-type
    Zipf(α=1.1) distribution instead of the 32-word fixture list —
    realistic head skew AND a mostly-unique tail in one corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    suffix = "" if vocab == "fixture" else f"_{vocab}"
    out = os.path.join(root, f"scale_{mult}x{suffix}")
    if os.path.exists(os.path.join(out, "embeddings.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED + mult)
    n_docs = BASE_DOCS * mult

    if vocab == "zipf":
        # rank r drawn with p(r) ∝ r^-α, truncated at ZIPF_TYPES —
        # numpy's rng.zipf is the unbounded variant, so draw from the
        # exact truncated pmf instead (deterministic given SEED+mult)
        ranks = np.arange(1, ZIPF_TYPES + 1, dtype=np.float64)
        pmf = ranks ** -ZIPF_ALPHA
        cdf = np.cumsum(pmf / pmf.sum())

        def draw_words(n: int) -> list[str]:
            # inverse-CDF sampling: O(n log types) per call vs
            # rng.choice(p=...) rebuilding the 50k-entry CDF each doc
            return [f"w{r + 1}" for r in np.searchsorted(cdf, rng.random(n))]

    else:

        def draw_words(n: int) -> list[str]:
            return [VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), n)]

    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if i > 50 and i % 50 == 1:
            texts.append(texts[i - 1])  # exact duplicate
        elif i > 50 and i % 12 == 3:
            words = texts[i - 3].split()
            j = int(rng.integers(0, len(words)))
            words[j] = draw_words(1)[0]
            texts.append(" ".join(words))  # near duplicate
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(draw_words(n)))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{i % 20}")
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        }
    )
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    n_vecs = BASE_VECS * mult
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = np.arange(n_vecs) % 10
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n_vecs, DIM))
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    return out


def shuffle_totals(ui: str) -> tuple[int, int]:
    """(cumulative shuffle read bytes, write bytes) across all
    completed stages, from the REST status API."""
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def driver_heap_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    spark._jvm.java.lang.System.gc()
    time.sleep(0.5)
    return (rt.totalMemory() - rt.freeMemory()) / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,3,10")
    ap.add_argument("--root", default="/tmp/adt_scaling")
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--vocab", default="fixture", choices=["fixture", "zipf"],
        help="zipf: ~50k-type Zipf(1.1) text, measures the text/LM "
             "families only (round-7 verdict item 1)",
    )
    ap.add_argument(
        "--families", default=None,
        help="comma-separated subset of the family list (sweep-only "
             "re-measures: e.g. --families dedup_semantic)",
    )
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    families = ZIPF_FAMILIES if args.vocab == "zipf" else FAMILIES
    if args.families:
        keep = set(args.families.split(","))
        families = [f for f in families if f in keep]

    from adt_spark.context import build_session
    from adt_spark.queries import load_all

    spark = build_session(
        app_name="adt-scaling-probe",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    ui = "http://localhost:4049"
    registry = load_all()
    # pre-warm the Python worker pool (Arrow seams) once, untimed
    spark.range(spark.sparkContext.defaultParallelism * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    for mult in mults:
        sf_dir = gen_corpus(mult, args.root, args.vocab)
        point = {}

        def run_one(name: str, label: str | None = None) -> None:
            rd0, wr0 = shuffle_totals(ui)
            t0 = time.perf_counter()
            registry[name].spark_fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            rd1, wr1 = shuffle_totals(ui)
            point[label or name] = {
                "wall_sec": round(wall, 2),
                "shuffle_read_mb": round((rd1 - rd0) / 1e6, 2),
                "shuffle_write_mb": round((wr1 - wr0) / 1e6, 2),
            }
            print(f"[{mult}x] {label or name}: {point[label or name]}",
                  file=sys.stderr)

        for name in families:
            run_one(name)
        if args.vocab == "fixture":
            # SemDeDup with its production k (∝ corpus / target cluster
            # size) — the ADT_SEM_K scale knob the fixed-k measurement
            # forces (clusters otherwise grow with the corpus and pairs
            # go n²/k); expected to restore ~linear growth
            os.environ["ADT_SEM_K"] = str(max(4, (BASE_VECS * mult) // 2000))
            try:
                run_one("dedup_semantic", "dedup_semantic_scaled_k")
            finally:
                os.environ.pop("ADT_SEM_K", None)
        # local-mode caveat: executor block-manager state (the
        # memoized localCheckpoints) lives in the SAME JVM as the
        # driver, so heap is reported both with the memos live and
        # after releasing them — the second number approximates true
        # driver-side state on a real cluster
        point["_heap_with_memos_mb"] = round(driver_heap_mb(spark), 1)
        from adt_spark.operators import memo

        # every memo goes, the LM stems included: text_bigram_lm_score
        # (a FAMILIES member) fills three localCheckpointed stems per
        # (session, corpus), and leaving them live would both bias
        # _heap_after_clear_mb and accumulate across the 1x/3x/10x
        # points (round-7 ADVICE item 2)
        memo.clear()
        time.sleep(3)  # let the ContextCleaner reclaim checkpoint blocks
        point["_heap_after_clear_mb"] = round(driver_heap_mb(spark), 1)

        if args.vocab == "fixture":
            # round-8 (verdict item 3): the DISTRIBUTED SemDeDup
            # assignment — k ∝ n forced past the literal ceiling so
            # centroids stay a DataFrame.  Runs AFTER the heap-clear
            # metrics (each point clears state first) so the per-run
            # heap numbers share one baseline.  Across 1x/3x/10x the
            # corpus (and its block-manager residue, a local-mode
            # artifact) grows, so the k-ISOLATING evidence is the
            # k-SWEEP at the LARGEST corpus: 10x the k at a fixed
            # corpus must leave driver heap flat — the literal path
            # would grow both the seed collect and the plan with k.
            from adt_spark.operators.similarity import _SEM_K_LITERAL_MAX

            base_k = max(_SEM_K_LITERAL_MAX + 16, (BASE_VECS * mult) // 25)
            ks = [base_k]
            if mult == mults[-1]:
                ks = sorted({_SEM_K_LITERAL_MAX + 16, base_k // 3, base_k})
            for dk in ks:
                memo.clear()
                os.environ["ADT_SEM_K"] = str(dk)
                label = (
                    "dedup_semantic_distributed_k"
                    if dk == base_k
                    else f"dedup_semantic_distributed_k{dk}"
                )
                try:
                    run_one("dedup_semantic", label)
                    point[label]["k"] = dk
                    point[label]["driver_heap_mb"] = round(
                        driver_heap_mb(spark), 1
                    )
                finally:
                    os.environ.pop("ADT_SEM_K", None)
            memo.clear()

            # round-9 (verdict item 1): the TWO-LEVEL router — C
            # forced past the literal ceiling so cell anchors stay a
            # DataFrame (plan flat in C is machine-checked in
            # tests/test_plans.py; this sweep is the RUNTIME
            # evidence: at the largest corpus, 8x the router width
            # at fixed k must leave driver heap flat — the literal
            # router would grow the plan and the anchor collect with
            # C).  C spans the production contract C ≈ √(n·k) around
            # this corpus size.
            if mult == mults[-1]:
                from adt_spark.operators.similarity import (
                    _SEM_CELLS_LITERAL_MAX,
                )

                cs = [_SEM_CELLS_LITERAL_MAX * 2, _SEM_CELLS_LITERAL_MAX * 16]
                for dc in cs:
                    memo.clear()
                    os.environ["ADT_SEM_K"] = str(base_k)
                    os.environ["ADT_SEM_CELLS"] = str(dc)
                    label = f"dedup_semantic_two_level_c{dc}"
                    try:
                        run_one("dedup_semantic", label)
                        point[label]["k"] = base_k
                        point[label]["cells"] = dc
                        point[label]["driver_heap_mb"] = round(
                            driver_heap_mb(spark), 1
                        )
                    finally:
                        os.environ.pop("ADT_SEM_K", None)
                        os.environ.pop("ADT_SEM_CELLS", None)
                memo.clear()

        results[f"{mult}x"] = point

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)

    # markdown table
    print("| family | " + " | ".join(
        f"{m}x wall s / shuf W MB" for m in mults) + " |")
    print("|" + "---|" * (len(mults) + 1))
    table_rows = families + (
        ["dedup_semantic_scaled_k", "dedup_semantic_distributed_k"]
        if args.vocab == "fixture"
        else []
    )
    for name in table_rows:
        cells = [
            f"{results[f'{m}x'][name]['wall_sec']} / "
            f"{results[f'{m}x'][name]['shuffle_write_mb']}"
            for m in mults
        ]
        print(f"| {name} | " + " | ".join(cells) + " |")
    for key in ("_heap_with_memos_mb", "_heap_after_clear_mb"):
        print(
            f"| {key} | "
            + " | ".join(str(results[f"{m}x"][key]) for m in mults)
            + " |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
