"""Negative controls for the ANN recall evals (round-6 verdict item 1).

A recall eval only earns its keep if it would MOVE when the quantizer
it grades regresses.  Round 6 shipped evals that read 0.0 at every
test scale — saturated, so a broken quantizer deployment would have
read identically.  Round 7 widened the operating point (K=32
codebooks, 8 queries, recall@10) so the deployed numbers sit strictly
inside (0,1); these tests pin the other half of the contract: a
deliberately degraded quantizer, graded through the IDENTICAL scoring
path (`_adc_topk` / `_ivf_codes_with`), measurably lowers recall.

Reference basis: Jégou et al. 2011 report recall@k as interior curve
points that respond to codebook size (PAPERS.md); an eval pinned at an
extreme cannot reproduce that response.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from adt_spark.operators import memo
from adt_spark.operators import similarity as S
from adt_spark.queries import tables


def _mean_recall(spark, sf_dir, anchors) -> float:
    """Mean recall@_PQ_TOPK of plain ADC search under the GIVEN
    codebook — encode + score via the deployed kernels, graded
    against the shared memoized exact truth."""
    v = tables(spark, sf_dir)["embeddings"].select(
        "vec_id", S._vec_double().alias("vec")
    )
    small = S._small_vecs(spark, sf_dir)
    queries = {
        k: small[k] for k in range(S._PQ_K, S._PQ_K + S._PQ_NQ) if k in small
    }
    codes = S._pq_encode(v, anchors).select(
        "vec_id", "code_0", "code_1", "code_2", "code_3"
    )
    adc = S._adc_topk(codes, anchors, queries).select(
        F.col("query_id").alias("lq"), F.col("vec_id").alias("lnb")
    )
    rows = S._overlap_vs_exact(
        S._true_l2_topk(spark, sf_dir), adc, k=S._PQ_TOPK
    ).collect()
    assert len(rows) == S._PQ_NQ
    return sum(r.recall_at_k for r in rows) / len(rows)


def test_deployed_pq_recall_is_interior(spark, sf_dir):
    """The deployed operating point is discriminative: mean recall is
    strictly inside (0,1) — neither saturated-low (the round-6 failure
    mode: 0.0 at K=4) nor saturated-high."""
    trained = S._pq_trained_codebooks(spark, sf_dir)
    r = _mean_recall(spark, sf_dir, trained)
    assert 0.0 < r < 1.0, r


def test_collapsed_codebook_measurably_lowers_recall(spark, sf_dir):
    """Negative control: collapse every centroid onto centroid 0 (a
    K=1 quantizer wearing K=32's shape — the degenerate endpoint of
    any training regression).  All codes tie to 0, ADC distances
    collapse per query, and the top-k degrades to a vec_id prefix:
    recall must drop strictly below the deployed value.  This is the
    check the round-6 eval could not perform (degraded and deployed
    both read 0.0)."""
    trained = S._pq_trained_codebooks(spark, sf_dir)
    base = trained[min(trained)]
    collapsed = {cid: list(base) for cid in trained}
    r_trained = _mean_recall(spark, sf_dir, trained)
    r_collapsed = _mean_recall(spark, sf_dir, collapsed)
    assert r_collapsed < r_trained, (r_collapsed, r_trained)


def test_untrained_cells_shift_ivfpq_retrieval(spark, sf_dir):
    """The compare eval's two sides are genuinely different retrieval
    systems at this operating point: the anchor-cell and trained-cell
    IVFPQ searches return non-identical probe lists or results (if
    they coincided bit-for-bit, recall_delta would be structurally 0
    and the compare eval would be decoration).  Checked at the codes
    level: the two memoized codes tables differ in cell assignment
    for at least one vector."""
    anchor = S._ivf_codes_anchor(spark, sf_dir)
    trained = S._ivf_codes(spark, sf_dir)
    diff = (
        anchor.select("vec_id", F.col("cell").alias("a_cell"))
        .join(trained.select("vec_id", F.col("cell").alias("t_cell")), "vec_id")
        .filter(F.col("a_cell") != F.col("t_cell"))
        .count()
    )
    assert diff > 0


def test_sem_k_distributed_path(spark, sf_dir, monkeypatch):
    """ADT_SEM_K beyond _SEM_K_LITERAL_MAX takes the DISTRIBUTED
    assignment (round-7 verdict item 3: centroids as a DataFrame,
    cell-equi-join candidates, driver state bounded regardless of k):
    the assignment must still be a total partition of the corpus with
    cluster ids drawn from the seed range, and dedup_semantic must
    run green on top of it.  Cell-confined (nprobe=1) assignment is
    deliberately different clustering semantics, so this is a
    self-consistency pin, not an oracle."""
    memo.clear()
    try:
        monkeypatch.setenv("ADT_SEM_K", "80")
        assert 80 > S._SEM_K_LITERAL_MAX
        assigned, _both, _multi = S._sem_block_input(spark, sf_dir)
        emb = S.tables(spark, sf_dir)["embeddings"]
        total = emb.count()
        # total partition: every vector assigned exactly once
        assert assigned.count() == total
        assert assigned.select("vec_id").distinct().count() == total
        # cluster ids are seed ids
        bad = assigned.filter(
            (F.col("cluster_id") < 0) | (F.col("cluster_id") >= 80)
        ).count()
        assert bad == 0
        # the router spread vectors across more clusters than the
        # fixture k (assignment isn't collapsed)
        ncl = assigned.select("cluster_id").distinct().count()
        assert ncl > 4
        from adt_spark.queries import REGISTRY

        n = REGISTRY["dedup_semantic"].spark_fn(spark, sf_dir).count()
        assert 0 <= n <= total
    finally:
        memo.clear()


def test_sem_k_scale_knob(spark, sf_dir, monkeypatch):
    """ADT_SEM_K (the SemDeDup production-k knob the round-7 scaling
    probe forced — fixed k makes pairs n²/k): a larger k yields a
    valid SemDeDup run whose cluster count matches the knob, whose
    per-cluster sizes sum to the corpus, and whose kept set is a
    subset of the default run's universe.  The ORACLED configuration
    is the unset default; a different k is genuinely different
    SemDeDup semantics, so this is a self-consistency pin, not an
    oracle."""
    memo.clear()
    try:
        monkeypatch.setenv("ADT_SEM_K", "8")
        assigned, _both, _multi = S._sem_block_input(spark, sf_dir)
        clusters = dict(
            (r.cluster_id, r.cnt)
            for r in assigned.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        total = S.tables(spark, sf_dir)["embeddings"].count()
        assert sum(clusters.values()) == total
        assert 4 < len(clusters) <= 8  # more clusters than the fixture k
        from adt_spark.queries import REGISTRY

        n = REGISTRY["dedup_semantic"].spark_fn(spark, sf_dir).count()
        assert 0 <= n <= total
    finally:
        memo.clear()


def test_sem_cells_two_level_router(spark, sf_dir, monkeypatch):
    """ADT_SEM_CELLS beyond _SEM_CELLS_LITERAL_MAX takes the round-9
    TWO-LEVEL router (super-cells as literals, cells as a DataFrame):
    assignment must remain a total partition with cluster ids in the
    seed range, and dedup_semantic must run green on top — the forced
    large-C configuration the verdict asked to be exercised.  Like
    the distributed-k pin, cell-confined routing is deliberately
    approximate, so this is self-consistency, not an oracle."""
    memo.clear()
    try:
        monkeypatch.setenv("ADT_SEM_K", "80")
        monkeypatch.setenv("ADT_SEM_CELLS", "128")
        assert 128 > S._SEM_CELLS_LITERAL_MAX
        assigned, _both, _multi = S._sem_block_input(spark, sf_dir)
        emb = S.tables(spark, sf_dir)["embeddings"]
        total = emb.count()
        assert assigned.count() == total
        assert assigned.select("vec_id").distinct().count() == total
        bad = assigned.filter(
            (F.col("cluster_id") < 0) | (F.col("cluster_id") >= 80)
        ).count()
        assert bad == 0
        assert assigned.select("cluster_id").distinct().count() > 4
        from adt_spark.queries import REGISTRY

        n = REGISTRY["dedup_semantic"].spark_fn(spark, sf_dir).count()
        assert 0 <= n <= total
    finally:
        memo.clear()
