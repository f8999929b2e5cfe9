"""Physical-plan audits — the 100 TB design claims, machine-checked.

Each operator family's docstrings claim a plan shape (filters pushed
to the parquet scan, dimension joins broadcast, aggregates partial+
final, top-k via TakeOrderedAndProject, no accidental cartesian
products).  These tests pin those shapes so a regression that would
only *show up* at cluster scale fails here at test scale.

Reference counterparts: the pushdowns these assert are the ones the
reference wires by hand (SURVEY.md §4.1: parquet pushdown
context.rs:28, projection/filter/limit pushdown deltatable.rs) —
Catalyst provides them, and these tests prove we didn't accidentally
defeat them.
"""

from __future__ import annotations

import re

import pytest

from adt_spark.queries import load_all


def _formatted(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _q(spark, sf_dir, name):
    return load_all()[name].spark_fn(spark, sf_dir)


class _no_auto_broadcast:
    """Disable stats-driven broadcast while planning, simulating
    100×-scale stats: any BroadcastHashJoin that SURVIVES threshold=-1
    comes from a forced ``F.broadcast()`` hint — exactly the pattern
    that dies at corpus scale (forced hints have no AQE fallback)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q06: shipdate/discount/quantity predicates must appear as
    PushedFilters on the lineitem parquet scan."""
    plan = _formatted(_q(spark, sf_dir, "q06_forecast_revenue"))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q06 touches 4 of lineitem's 11 columns; the scan schema must
    not include the rest (a scan reading all columns for a narrow
    projection is wrong at any scale)."""
    plan = _formatted(_q(spark, sf_dir, "q06_forecast_revenue"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    joined = " ".join(read_schema)
    for col in ("l_returnflag", "l_tax", "l_orderkey", "l_partkey"):
        assert col not in joined, f"unpruned column {col} in scan schema"


def test_dimension_joins_broadcast(spark, sf_dir):
    """q05 joins lineitem against four dimensions — every dimension
    side must broadcast; the fact table must not appear under a
    shuffle-exchange feeding a sort-merge join of dimensions."""
    plan = _formatted(_q(spark, sf_dir, "q05_local_supplier_volume"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q03_shipping_priority",
        "q05_local_supplier_volume",
        "q07_volume_shipping",
        "q09_product_profit",
        "q10_returned_items",
        "q18_large_volume_customer",
        "q21_waiting_suppliers",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "ann_lsh_bucketed",
        "q02_min_cost_supplier",
        "q_asof_join_latest_click",
        "q_range_join_purchase_error",
        "q_stratified_sample",
        "dedup_decontaminate",
        "pipeline_clean_corpus",
        "q_lateral_topk_per_nation",
        "q_join_natural_using",
        "emb_kmeans_assign",
        "text_vocab_topk",
    ],
)
def test_no_cartesian_products(spark, sf_dir, name):
    """No operator in the corpus may plan a cartesian product — the
    dedup/similarity operators in particular were designed around
    equi-join candidate generation precisely to avoid one."""
    plan = _formatted(_q(spark, sf_dir, name))
    assert "CartesianProduct" not in plan


def test_aggregate_is_partial_final(spark, sf_dir):
    """q01: the group-by must plan as partial + final HashAggregate
    (map-side combine before the shuffle)."""
    plan = _formatted(_q(spark, sf_dir, "q01_pricing_summary"))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_topk_uses_take_ordered(spark, sf_dir):
    """q03's ORDER BY + LIMIT must fuse to TakeOrderedAndProject
    (per-partition heaps), not a global sort."""
    plan = _formatted(_q(spark, sf_dir, "q03_shipping_priority"))
    assert "TakeOrderedAndProject" in plan


def test_window_topk_group_limit(spark, sf_dir):
    """Per-key top-k via row_number window: Spark's WindowGroupLimit
    pushes the rank filter into per-partition heaps."""
    plan = _formatted(_q(spark, sf_dir, "q_events_topk_users"))
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """dedup_exact must contain exactly one exchange (the hash
    aggregation shuffle) — extra exchanges mean re-partitioning data
    that is already keyed correctly."""
    plan = _formatted(_q(spark, sf_dir, "dedup_exact"))
    # Formatted mode lists nodes as "(n) Exchange" with partitioning
    # in the Arguments section; count the Exchange nodes.
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ln.strip().endswith("Exchange")
    )
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}:\n{plan}"


def test_semi_anti_joins_planned(spark, sf_dir):
    """EXISTS/NOT-EXISTS queries must decorrelate to semi/anti joins,
    never to a subquery re-execution per row."""
    semi = _formatted(_q(spark, sf_dir, "q04_order_priority"))
    anti = _formatted(_q(spark, sf_dir, "q22_idle_customers"))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join plans as union + window — exactly one exchange
    on the join key, never a nested-loop or range-fan-out join."""
    plan = _formatted(_q(spark, sf_dir, "q_asof_join_latest_click"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n_exchanges = sum(1 for ln in plan.splitlines() if ln.strip().endswith("Exchange"))
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}"


def test_range_join_no_nested_loop(spark, sf_dir):
    """The bucketed range join is an equi-join on (user_id, bucket);
    the non-equi bound is a post-join filter, not a join strategy."""
    plan = _formatted(_q(spark, sf_dir, "q_range_join_purchase_error"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_phase(spark, sf_dir):
    """The salted aggregation plans two aggregate pairs (shard phase +
    merge phase), each partial+final."""
    plan = _formatted(_q(spark, sf_dir, "q_salted_distinct_users"))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """dedup_decontaminate: the eval shingle set must broadcast (the
    benchmark side is MBs at any corpus scale); the training-shingle
    scan must not shuffle into the join."""
    plan = _formatted(_q(spark, sf_dir, "dedup_decontaminate"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_two_phase_agg(spark, sf_dir):
    """text_repetition_stats: both aggregation levels must plan
    partial+final HashAggregate — the (doc_id, token) partial combine
    is what absorbs within-document repetition before any shuffle."""
    plan = _formatted(_q(spark, sf_dir, "text_repetition_stats"))
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 levels


def _physical_tree(plan: str) -> list[str]:
    """The indented operator-tree lines of a formatted explain."""
    tree, started = [], False
    for ln in plan.splitlines():
        if ln.startswith("== Physical Plan =="):
            started = True
            continue
        if started:
            if not ln.strip():
                break
            tree.append(ln)
    return tree


def _assert_windows_over_aggregates(plan: str):
    """Round-12 keyed-window compression shape: EVERY Window operator
    must consume an Aggregate subtree (the distinct (partition, key)
    grain), never the full base rows — the machine check behind the
    compression's >3-way-parallelism claim."""
    tree = _physical_tree(plan)

    def depth(ln):
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    wins = [i for i, ln in enumerate(tree) if re.search(r"\bWindow \(", ln)]
    assert wins, "no Window operator found\n" + plan
    for i in wins:
        d = depth(tree[i])
        sub = []
        for j in range(i + 1, len(tree)):
            if depth(tree[j]) <= d:
                break
            sub.append(tree[j])
        assert any("Aggregate" in ln for ln in sub), (
            "Window consumes un-aggregated input:\n" + "\n".join([tree[i]] + sub)
        )


def test_groups_frame_keyed_compression(spark, sf_dir):
    """q_window_groups_frame (round-12): both window passes run over
    the distinct (l_returnflag, qty) grain — every Window sits above
    the grain aggregate, and a single row-preserving outer join fans
    the result back onto the base rows."""
    plan = _formatted(_q(spark, sf_dir, "q_window_groups_frame"))
    _assert_windows_over_aggregates(plan)
    assert "Join LeftOuter" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2


def test_cte_groups_frame_keyed_compression(spark, sf_dir):
    """A ``GROUPS BETWEEN`` statement over a CTE, through
    ``ADTContext.sql``: the keyed-window compression carries the WITH
    prefix, so both the injected dense_rank and the windowed sum run
    over the distinct (partition, key) grain, joined back once."""
    from adt_spark import ADTContext
    from adt_spark.queries import tables

    tables(spark, sf_dir)
    plan = _formatted(
        ADTContext(spark=spark).sql(
            "WITH t AS (SELECT l_orderkey, l_returnflag, "
            "CAST(l_quantity AS BIGINT) AS qty FROM lineitem) "
            "SELECT l_orderkey, sum(qty) OVER (PARTITION BY l_returnflag "
            "ORDER BY qty GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s "
            "FROM t"
        )
    )
    _assert_windows_over_aggregates(plan)
    assert "Join LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_ordered_array_agg_no_window(spark, sf_dir):
    """q_ordered_array_agg: the ORDER BY emulation is array-local
    after one groupBy shuffle — no Window operator, no extra sort
    pass over the data."""
    plan = _formatted(_q(spark, sf_dir, "q_ordered_array_agg"))
    assert "Window" not in plan
    assert plan.count("hashpartitioning(o_custkey") <= 1


@pytest.mark.parametrize(
    "name,min_blooms",
    [
        ("q21_waiting_suppliers", 2),
        ("q02_min_cost_supplier", 1),
        ("q20_dominant_suppliers", 3),
        ("q03_shipping_priority", 2),
    ],
)
def test_deep_join_trees_get_runtime_blooms(spark, sf_dir, name, min_blooms):
    """Round-12 (r11 verdict item 5): the deep TPC-H join trees'
    ACTUAL query shapes admit runtime bloom-filter injection — under
    thresholds simulating cluster-scale stats (broadcast off,
    application-side scan threshold 0) the optimizer plants
    might_contain probes on the big sides before their exchanges.  At
    real scale the default 10 GB application-side threshold trips
    as-is, so no explicit semi-join reduction is needed (and at bench
    SF none fires — correctly, the scans are MBs)."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        df = _q(spark, sf_dir, name)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n = plan.count("might_contain")
        assert n >= min_blooms, f"{name}: {n} blooms (< {min_blooms})"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_runtime_bloom_filter_available(spark, sf_dir):
    """Selective fact⋈fact joins get a runtime bloom filter on the
    probe side (semi-join reduction before the shuffle) — the 100 TB
    lever for "filtered orders ⋈ lineitem" shapes.  Default size
    thresholds (10 GB application-side scan) only trip at cluster
    scale, so the test lowers them to prove the session config keeps
    the rewrite reachable; at real scale the defaults apply as-is."""
    import os
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        j = o.filter(F.col("o_orderpriority") == "1-URGENT").join(
            li, o.o_orderkey == li.l_orderkey
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_embedding_cosine_distributed(spark, sf_dir):
    """dedup_embedding_cosine (round-1 verdict fix): block-pair
    self-join — the block-pair table broadcasts onto the corpus, the
    scoring runs as grouped Arrow (FlatMapGroupsInPandas) after the
    block-pair shuffle, and the corpus is never driver-materialized
    (no LocalTableScan of the embedding matrix in the plan)."""
    plan = _formatted(_q(spark, sf_dir, "dedup_embedding_cosine"))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the corpus enters via a parquet scan on both union branches, not
    # a driver-built local relation
    assert plan.count("Scan parquet") >= 2


def test_semantic_dedup_block_bounded(spark, sf_dir):
    """dedup_semantic (round-2 verdict fix): within-cluster scoring is
    block-pair-confined — the Arrow scorer groups by (cluster, i, j)
    so no single task ever materializes more than one block pair, the
    block-pair table broadcasts, and shrinking the block size changes
    NO results (a pair's cosine is blocking-invariant)."""
    import adt_spark.operators.similarity as sim

    plan = _formatted(_q(spark, sf_dir, "dedup_semantic"))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the scorer's grouping keys are (cluster_id, i, j) — one task ==
    # one block pair, never a whole cluster
    opt = _q(spark, sf_dir, "dedup_semantic")._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"FlatMapGroupsInPandas \[([^\]]*)\]", opt)
    assert m is not None, opt
    keys = m.group(1)
    assert "cluster_id" in keys and "i#" in keys and "j#" in keys, keys

    baseline = sorted(map(tuple, _q(spark, sf_dir, "dedup_semantic").collect()))
    prev = sim._SEM_BLOCK_ROWS
    sim._SEM_BLOCK_ROWS = 7  # force every non-trivial cluster multi-block
    try:
        blocked_plan = _formatted(_q(spark, sf_dir, "dedup_semantic"))
        # the multi-block path joins the literal block-pair table by
        # BROADCAST — never shuffling the corpus for it
        assert "BroadcastHashJoin" in blocked_plan
        assert "CartesianProduct" not in blocked_plan
        blocked = sorted(map(tuple, _q(spark, sf_dir, "dedup_semantic").collect()))
        assert blocked == baseline
        # machine-check the per-task bound on the EXACT DataFrame the
        # Arrow scorer consumes: every (cluster, i, j) group holds at
        # most the two referenced blocks' rows — never a whole
        # multi-block cluster
        from pyspark.sql import functions as F

        assigned, both, multi_block = sim._sem_block_input(spark, sf_dir)
        assert multi_block, "block size 7 must force the multi-block path"
        groups = {
            (r.cluster_id, r.i, r.j): r.cnt
            for r in both.groupBy("cluster_id", "i", "j")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        nblk_of = {}
        blk_sizes = {}
        csz = {
            r.cluster_id: r.cnt
            for r in assigned.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        import math

        for cid, n in csz.items():
            nblk_of[cid] = math.ceil(n / 7)
        for r in assigned.select("cluster_id", "vec_id").collect():
            key = (r.cluster_id, int(r.vec_id) % nblk_of[r.cluster_id])
            blk_sizes[key] = blk_sizes.get(key, 0) + 1
        assert any(n > 1 for n in nblk_of.values()), (
            "fixture must exercise the multi-block path"
        )
        for (cid, i, j), cnt in groups.items():
            # a group holds EXACTLY its one or two referenced blocks —
            # the bound that makes per-task memory independent of
            # cluster size (for nblk == 2 the single off-diagonal pair
            # legitimately spans both blocks; the bound is per block,
            # not per cluster)
            expect = (
                blk_sizes.get((cid, i), 0)
                if i == j
                else blk_sizes.get((cid, i), 0) + blk_sizes.get((cid, j), 0)
            )
            assert cnt == expect, (cid, i, j, cnt, expect)
    finally:
        sim._SEM_BLOCK_ROWS = prev


def test_substring_ops_no_cartesian(spark, sf_dir):
    """The substring inventory and mask pipelines must stay equi-join
    keyed (gram hash, (doc,pos)) — never a cartesian/nested-loop."""
    for name in ("dedup_substring_repeats", "dedup_substring_mask"):
        plan = _formatted(_q(spark, sf_dir, name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_incremental_dedup_hash_probe(spark, sf_dir):
    """dedup_incremental's exact path is a hash probe (join on the
    128-bit content hash), and nothing plans a cartesian."""
    plan = _formatted(_q(spark, sf_dir, "dedup_incremental"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "chash" in plan  # the content-hash join key reaches the plan


def test_range_search_fused_scan(spark, sf_dir):
    """ann_range_search: broadcast query set, radius filter fused into
    the partition-parallel scan — no exchange before the filter, no
    WindowGroupLimit (no top-k state), no cartesian."""
    plan = _formatted(_q(spark, sf_dir, "ann_range_search"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" not in plan and "Window" not in plan
    assert "CartesianProduct" not in plan
    # scoring happens before any exchange: the only Exchange (if AQE
    # inserts one) sits above the filtered output, never below the join
    scan_to_join = plan.split("Join")[0] if "Join" in plan else plan
    assert "Exchange" not in scan_to_join


def test_corpus_relative_text_ops_broadcast(spark, sf_dir):
    """text_tfidf_top_terms / text_doc_rarity: the vocabulary-sized
    aggregate joins back onto the token stream by TERM-keyed
    equi-join.  At test scale the stats-driven planner broadcasts it
    (vocab is tiny here — that's healthy); under threshold=-1 (100×
    stats stand-in) NO broadcast may survive, proving the vocab side
    is not force-hinted — a web-corpus vocabulary is unbounded."""
    plan = _formatted(_q(spark, sf_dir, "text_tfidf_top_terms"))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    with _no_auto_broadcast(spark):
        # the only surviving broadcast is the forced 1-row count
        # literal (a BroadcastNestedLoopJoin over IdentityBroadcast);
        # the vocab-keyed join itself must not hash-broadcast
        plan = _formatted(_q(spark, sf_dir, "text_tfidf_top_terms"))
        assert "BroadcastHashJoin" not in plan
        plan2 = _formatted(_q(spark, sf_dir, "text_doc_rarity"))
        assert "BroadcastHashJoin" not in plan2


def test_length_outliers_broadcast_stats(spark, sf_dir):
    """quality_length_outliers: the per-source med/MAD tables join
    back by BROADCAST; the corpus shuffles only for the two window
    sorts, never for the joins."""
    plan = _formatted(_q(spark, sf_dir, "quality_length_outliers"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_verify_no_forced_broadcast(spark, sf_dir):
    """dedup_minhash_lsh / dedup_minhash_calibration: the candidate
    pair set and the per-doc signature/array tables all grow with the
    corpus, so under threshold=-1 (100×-scale stats stand-in) the
    verify joins must plan as shuffle joins — a surviving broadcast
    would be a forced hint, the pattern that OOMs at 10 B docs."""
    with _no_auto_broadcast(spark):
        for name in ("dedup_minhash_lsh", "dedup_minhash_calibration"):
            plan = _formatted(_q(spark, sf_dir, name))
            assert "BroadcastExchange" not in plan, name
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_containment_no_cartesian(spark, sf_dir):
    """dedup_ngram_containment stays equi-join keyed (prefix shingle):
    never a cartesian/nested-loop."""
    plan = _formatted(_q(spark, sf_dir, "dedup_ngram_containment"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_family_plan_shapes(spark, sf_dir):
    """mm_phash: one Arrow pass, zero exchanges.  dedup_phash_hamming:
    band-bucket equi-join with the fingerprints carried IN the band
    rows — verify is a popcount filter, so the plan must contain NO
    broadcast join at all (the per-image hash table is corpus-sized;
    a forced broadcast of it dies at 100×).  pipeline_media_dedup:
    sha256 stays a JVM projection; exactly one Arrow pass (the phash)
    in the whole composed plan."""
    from adt_spark.operators.multimodal import _phash_plan

    # assert the underlying pipeline (mm_phash returns its memoized
    # checkpoint, whose plan is an RDD scan by construction)
    plan = _formatted(_phash_plan(spark, sf_dir))
    assert "MapInPandas" in plan
    # the only exchange is spread()'s round-robin fan-out; no KEYED
    # shuffle happens anywhere in the hashing pass
    assert "hashpartitioning" not in plan

    with _no_auto_broadcast(spark):
        plan2 = _formatted(_q(spark, sf_dir, "dedup_phash_hamming"))
        # zero FORCED broadcasts: the ONLY join is the band-keyed
        # shuffle join (stats-driven broadcast at tiny SF is fine and
        # is exactly what threshold=-1 removes here)
        assert "BroadcastHashJoin" not in plan2 and "BroadcastExchange" not in plan2
        assert "CartesianProduct" not in plan2 and "BroadcastNestedLoopJoin" not in plan2
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2

        plan3 = _formatted(_q(spark, sf_dir, "pipeline_media_dedup"))
        assert "sha2" in plan3  # content address evaluated JVM-side
        assert "CartesianProduct" not in plan3
        # the phash Arrow pass runs once UPSTREAM behind its checkpoint
        # barrier — the composed plan itself adds no further Python
        assert plan3.count("MapInPandas") <= 1
        # the composition must not force a corpus-side broadcast:
        # near-dup pairs join back by doc_id via shuffle, keepers by
        # content_sha256 via shuffle (both sides fact-scale)
        assert "BroadcastHashJoin" not in plan3 and "BroadcastExchange" not in plan3


def test_simhash_hamming_banded(spark, sf_dir):
    """dedup_simhash_hamming: ONE band-keyed equi-join carrying the
    fingerprints in the band rows; verify is a popcount filter — no
    broadcast of the corpus-sized fingerprint table, never an
    all-pairs/nested-loop join."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "dedup_simhash_hamming"))
        assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_langid_confusion_shuffle_census(spark, sf_dir):
    """quality_langid_confusion: scoring is a shuffle-free projection;
    the only exchanges are the (lang, pred) two-phase count and the
    label-sized window normalization — no joins at all."""
    simple = (
        _q(spark, sf_dir, "quality_langid_confusion")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in simple
    assert simple.count("Exchange") <= 2


def test_shingle_novelty_two_uniform_shuffles(spark, sf_dir):
    """text_shingle_novelty: first-seen aggregate + per-doc fold over
    the memoized shingle table — shingle- and doc-keyed shuffles only,
    no cartesian/nested-loop."""
    plan = _formatted(_q(spark, sf_dir, "text_shingle_novelty"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_matryoshka_two_topk_passes(spark, sf_dir):
    """emb_matryoshka_recall: the truncated-dim ranking is a live
    WindowGroupLimit top-k pass; the full-dim side reads the MEMOIZED
    shared ground-truth stem (Scan ExistingRDD) instead of re-scanning
    the corpus.  No cartesian."""
    plan = _formatted(_q(spark, sf_dir, "emb_matryoshka_recall"))
    assert plan.count("WindowGroupLimit") >= 1
    assert len(set(re.findall(r"\((\d+)\) Scan ExistingRDD", plan))) >= 1
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q_window_exclude_minmax",
        "q_window_exclude_range_value",
        "q_window_exclude_range_date",
        "q_window_exclude_range_month",
        "q_window_exclude",
    ],
)
def test_exclude_family_keyed_compression(spark, sf_dir, name):
    """The RANGE-frame EXCLUDE family (round-12): every window —
    including q_window_exclude_minmax's formerly O(n²)
    UnboundedFollowing half-frames (measured 226 s → 0.8 s at sf0.1)
    — evaluates over the distinct (partition, order-key) grain and
    fans back through one row-preserving outer join; the full-data
    3-task Window is gone (dialect/keyed_windows.py)."""
    plan = _formatted(_q(spark, sf_dir, name))
    _assert_windows_over_aggregates(plan)
    assert "Join LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_exclude_rows_single_exchange(spark, sf_dir):
    """q_window_exclude_rows: all five half-frame/subtraction windows
    share one partitioning and one total-order sort — exactly ONE
    exchange, no dense_rank injection (row-space split), no join."""
    plan = _formatted(_q(spark, sf_dir, "q_window_exclude_rows"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert "dense_rank" not in plan


def test_pq_distortion_single_scan_no_joins(spark, sf_dir):
    """emb_pq_distortion: both codebooks are plan literals, so anchor
    and trained reconstruction errors share ONE corpus scan with zero
    joins; the only aggregation is the 1-row fixed-point mean."""
    plan = _formatted(_q(spark, sf_dir, "emb_pq_distortion"))
    assert "Join" not in plan and "CartesianProduct" not in plan
    # one distinct scan NODE (formatted mode lists each node twice:
    # tree + details section)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1


def test_pq_train_single_shuffle_no_join(spark, sf_dir):
    """_pq_train_sums (the distributed half of PQ training):
    assignment is fused into the scan projection — no join anywhere —
    and the ONLY exchange is the (m, cid, pos)-keyed partial+final
    mean aggregate."""
    from adt_spark.operators.similarity import _PQ_K, _pq_train_sums, _small_vecs

    anchors = {
        k: cv for k, cv in _small_vecs(spark, sf_dir).items() if k < _PQ_K
    }
    plan = _formatted(_pq_train_sums(spark, sf_dir, anchors))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_ivf_list_stats_zero_join_bounded_window(spark, sf_dir):
    """ann_ivf_list_stats: cell assignment is the literal-centroid
    argmin projection (no centroid join), one two-phase count
    aggregate, and the share/imbalance window runs over the
    N_CELLS-row aggregate only — ≤2 exchanges total, zero joins."""
    plan = _formatted(_q(spark, sf_dir, "ann_ivf_list_stats"))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "Window" in plan


def test_weaklabel_vocab_join_not_broadcast(spark, sf_dir):
    """quality_weaklabel_classifier: the vocab-sized class-count table
    re-joins the token stream by TERM-keyed equi-join; under
    threshold=-1 (100×-scale stats stand-in) no hash-broadcast may
    survive — a web-corpus vocabulary is unbounded.  The only forced
    broadcast is the 1-row class-totals cross join (BNLJ)."""
    from adt_spark.operators.quality import _weaklabel_build

    # the registered query memoizes a localCheckpoint (prints as Scan
    # ExistingRDD) — assert on the un-checkpointed builder
    plan = _formatted(_weaklabel_build(spark, sf_dir))
    assert "CartesianProduct" not in plan
    with _no_auto_broadcast(spark):
        plan = _formatted(_weaklabel_build(spark, sf_dir))
        assert "BroadcastHashJoin" not in plan
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_ivf_train_single_shuffle_no_join(spark, sf_dir):
    """_ivf_train_sums (the distributed half of IVF cell training):
    cosine assignment is fused into the scan projection — no join —
    and the ONLY exchange is the (cell, pos)-keyed partial+final mean
    aggregate."""
    from adt_spark.operators.similarity import (
        _N_CELLS,
        _ivf_train_sums,
        _small_vecs,
    )

    cells = {
        k: cv for k, cv in _small_vecs(spark, sf_dir).items() if k < _N_CELLS
    }
    plan = _formatted(_ivf_train_sums(spark, sf_dir, cells))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_ivf_balance_trained_single_scan_no_join(spark, sf_dir):
    """ann_ivf_balance_trained: BOTH sides read a memoized codes
    table's cell column (the trained/deployed table and the kept
    anchor table — each prints as Scan ExistingRDD), so the audit
    rescans NO parquet at all, and everything downstream is
    bounded-key aggregation — zero joins of any kind."""
    plan = _formatted(_q(spark, sf_dir, "ann_ivf_balance_trained"))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 0
    assert len(set(re.findall(r"\((\d+)\) Scan ExistingRDD", plan))) == 2


def test_ivfpq_recall_compare_memoized_no_rescan(spark, sf_dir):
    """ann_ivfpq_recall_compare: both search variants read memoized
    codes tables and the truth side reads the memoized _true_l2_topk
    stem (≥3 Scan ExistingRDD), so the comparison rescans NO parquet;
    the only joins are the k×NQ-row overlap joins into the single-row
    aggregate."""
    plan = _formatted(_q(spark, sf_dir, "ann_ivfpq_recall_compare"))
    assert "CartesianProduct" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 0
    assert len(set(re.findall(r"\((\d+)\) Scan ExistingRDD", plan))) >= 3
    assert "WindowGroupLimit" in plan


def test_quality_ingest_vocab_join_not_broadcast(spark, sf_dir):
    """quality_scored_ingest (the shared builder behind
    streaming_docs_quality_ingest): the trained ratio table joins the
    arriving token stream on the uniform term key; under threshold=-1
    no hash-broadcast may survive — the vocab grows with the corpus
    (checked on the batch form; the streaming plan shares the
    builder)."""
    import os

    from pyspark.sql import functions as F

    from adt_spark.streaming.events import quality_scored_ingest

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    with _no_auto_broadcast(spark):
        plan = _formatted(
            quality_scored_ingest(
                docs.filter(F.col("doc_id") % 10 != 0),
                docs.filter(F.col("doc_id") % 10 == 0),
            )
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" not in plan


def test_kmeans_iter2_zero_shuffle_output(spark, sf_dir):
    """emb_kmeans_iter2: after the two driver-bounded mean updates,
    the RETURNED assignment is a pure literal-centroid projection —
    zero joins, zero exchanges (each training round's only shuffle is
    the (cluster, dim)-keyed mean aggregate, executed inside the
    collect, not in this plan)."""
    plan = _formatted(_q(spark, sf_dir, "emb_kmeans_iter2"))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Exchange" not in plan


def test_funnel_latency_no_cartesian_stage_window(spark, sf_dir):
    """q_event_funnel_latency: stage joins are user-keyed equi-joins
    (no cartesian, no nested loop) and the percentile pass is a
    stage-partitioned Window."""
    plan = _formatted(_q(spark, sf_dir, "q_event_funnel_latency"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_cluster_balanced_window_limit(spark, sf_dir):
    """emb_cluster_balanced_sample: assignment is the zero-join
    literal-centroid projection and the per-cluster cap plans as
    WindowGroupLimit (rank pushdown trims each shuffle partition to
    its per-cluster top-K before the final window pass)."""
    plan = _formatted(_q(spark, sf_dir, "emb_cluster_balanced_sample"))
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_classifier_calibration_no_corpus_broadcast(spark, sf_dir):
    """quality_classifier_calibration: adds only a doc_id source join
    and a |sources|-row aggregate on top of the (memoized) classifier
    scores — under threshold=-1 nothing may broadcast at all (both
    sides are corpus-scale): the join must plan as a shuffle join."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "quality_classifier_calibration"))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_dsir_resample_bounded_broadcasts(spark, sf_dir):
    """q_dsir_resample: every broadcast side is bounded by
    construction — the 64-row bucket table, the 1-row totals, the
    1-row max-weight — and under threshold=-1 nothing else may
    broadcast; no cartesian anywhere."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "q_dsir_resample"))
        assert "CartesianProduct" not in plan
        # the weight stem is the memoized checkpoint (Scan
        # ExistingRDD), so the ONLY join left is the forced 1-row
        # max-weight cross join; the bucket/totals joins live inside
        # the checkpoint and are asserted by test_dsir_bounded_broadcasts
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
        assert "BroadcastHashJoin" not in plan


def test_lsh_recall_bucketed_topk(spark, sf_dir):
    """ann_lsh_recall: the LSH-bucketed candidate ranking is a live
    WindowGroupLimit top-k; the exact side reads the MEMOIZED shared
    ground-truth stem (Scan ExistingRDD).  No cartesian; the only
    broadcast sides are the bounded query set."""
    plan = _formatted(_q(spark, sf_dir, "ann_lsh_recall"))
    assert plan.count("WindowGroupLimit") >= 1
    assert len(set(re.findall(r"\((\d+)\) Scan ExistingRDD", plan))) >= 1
    assert "CartesianProduct" not in plan


def test_bm25_scan_linear(spark, sf_dir):
    """text_bm25_topk: scoring is a zero-join corpus scan — the only
    join is the broadcast 1-row stats cross-join (BNLJ), the only
    Generate is the bounded query-struct explode, and the top-k is
    one WindowGroupLimit window; no inverted index, no corpus-keyed
    shuffle join."""
    plan = _formatted(_q(spark, sf_dir, "text_bm25_topk"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one BNLJ node: the 1-row stats join
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_minhash_recall_no_forced_broadcast(spark, sf_dir):
    """dedup_minhash_recall: both pair tables grow with true-dup
    density — neither may be force-broadcast; the band-bucket join
    and the (doc_a, doc_b) recall join survive threshold=-1 as
    shuffle joins (forced hints would keep a BroadcastExchange)."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "dedup_minhash_recall"))
        assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pq_recall_two_topk(spark, sf_dir):
    """ann_pq_recall: exact and ADC rankings are both WindowGroupLimit
    top-k passes; ADC scoring stays the zero-join LUT scan — never a
    cartesian."""
    plan = _formatted(_q(spark, sf_dir, "ann_pq_recall"))
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_dsir_bounded_broadcasts(spark, sf_dir):
    """q_dsir_weights: the only broadcast sides are the 64-row bucket
    table and the 1-row totals (bounded by construction — B is a
    constant); the corpus-side work is two-phase aggregates, never a
    cartesian or a corpus-sized broadcast."""
    from adt_spark.operators.sampling import _dsir_weights_build

    # the registered query memoizes a localCheckpoint (prints as Scan
    # ExistingRDD) — assert on the un-checkpointed builder
    plan = _formatted(_dsir_weights_build(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) <= 2
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_gopher_rules_scan_only(spark, sf_dir):
    """quality_gopher_rules claims a pure projection: zero shuffles,
    zero explodes — word stats come from higher-order functions over
    the split array, never a per-token row blow-up."""
    plan = _formatted(_q(spark, sf_dir, "quality_gopher_rules"))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_char_diversity_two_phase_agg(spark, sf_dir):
    """text_char_diversity: the per-(doc,char) count must partial-
    aggregate map-side before its shuffle (within-doc repetition is
    absorbed before any data moves)."""
    plan = _formatted(_q(spark, sf_dir, "text_char_diversity"))
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_salted_join_replicates_dimension(spark, sf_dir):
    """q_skew_salted_join: the join must be a SHUFFLED hash join whose
    partitioning includes the salt (under a broadcast join the fact
    never shuffles and salting would demonstrate nothing); no exchange
    may partition on user_id without the salt."""
    import re as _re

    plan = _formatted(_q(spark, sf_dir, "q_skew_salted_join"))
    assert "ShuffledHashJoin" in plan
    assert "Generate" in plan  # the explode(sequence(0, S-1)) replication
    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    keyed = [p for p in parts if "user_id" in p or "c_custkey" in p]
    assert keyed, "expected a join exchange on the salted key"
    assert all("salt" in p for p in keyed), f"unsalted join exchange: {keyed}"


def test_emb_norm_stats_no_explode(spark, sf_dir):
    """emb_norm_stats folds the vector per row (zip_with+aggregate) —
    no posexplode row blow-up, one partial+final aggregate."""
    plan = _formatted(_q(spark, sf_dir, "emb_norm_stats"))
    assert "Generate" not in plan
    assert plan.count("HashAggregate") >= 2


def test_covariance_partial_final_agg(spark, sf_dir):
    """emb_covariance: the outer-product explode must fold map-side
    (partial+final HashAggregate) so the shuffle moves one dim^2
    matrix per task, never per row."""
    plan = _formatted(_q(spark, sf_dir, "emb_covariance"))
    assert "Generate" in plan  # the per-row upper-triangle explode
    assert "partial_sum" in plan  # map-side combine of the matrix state
    assert plan.count("HashAggregate") >= 2


def test_pca_projection_zero_shuffle(spark, sf_dir):
    """emb_pca_power1's distributed output pass is a pure scan +
    projection (the component is 64 broadcast literals): no exchange,
    no explode, no Python in the row path."""
    plan = _formatted(_q(spark, sf_dir, "emb_pca_power1"))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "Python" not in plan


def test_semantic_dedup_cluster_confined(spark, sf_dir):
    """dedup_semantic's pairwise search must be an equi-join on
    cluster_id — never a corpus-wide cartesian."""
    plan = _formatted(_q(spark, sf_dir, "dedup_semantic"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_funnel_no_extra_corpus_shuffle(spark, sf_dir):
    """pipeline_dedup_funnel composes the memoized CC labels with one
    content-hash window and a per-source fold — no cartesian, and the
    final aggregate is partial+final."""
    plan = _formatted(_q(spark, sf_dir, "pipeline_dedup_funnel"))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_chunk_overlap_no_shuffle(spark, sf_dir):
    """doc_chunk_overlap claims scan-speed chunking: the only Generate
    is the explode over chunk STARTS, and there is no Exchange —
    chunking must not shuffle the corpus."""
    plan = _formatted(_q(spark, sf_dir, "doc_chunk_overlap"))
    assert "Exchange" not in plan
    # one Generate node (formatted output names each node twice:
    # once in the tree, once in the detail section)
    assert plan.count(") Generate") == 1


def test_bpe_pairs_vocab_sized_second_stage(spark, sf_dir):
    """text_bpe_merge_pairs: both aggregations (word counts, pair
    counts) must be partial+final — map-side combine absorbs the Zipf
    mass before each shuffle — and the top-k must plan as
    TakeOrderedAndProject, never a global sort."""
    plan = _formatted(_q(spark, sf_dir, "text_bpe_merge_pairs"))
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "SortAggregate" not in plan


def test_mixture_temperature_broadcast_no_corpus_shuffle(spark, sf_dir):
    """q_mixture_temperature: the per-source weight table and its
    total broadcast back onto the corpus scan; the documents side must
    never hash-partition — membership is a row-local md5 test."""
    plan = _formatted(_q(spark, sf_dir, "q_mixture_temperature"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(doc_id" not in plan


def test_hash_classifier_scan_only(spark, sf_dir):
    """quality_hash_classifier claims a pure projection: tokens hash
    and fold inside one higher-order expression — zero shuffles, zero
    explodes."""
    plan = _formatted(_q(spark, sf_dir, "quality_hash_classifier"))
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_ccnet_buckets_no_global_sort(spark, sf_dir):
    """quality_ccnet_buckets claims the CCNet production posture:
    threshold constants → row-local assignment.  No global Sort and no
    Window (the naive ntile formulation would serialize the corpus
    through one partition); both aggregations partial+final."""
    plan = _formatted(_q(spark, sf_dir, "quality_ccnet_buckets"))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan  # no global sort
    assert plan.count("HashAggregate") >= 4


def test_pq_assign_zero_shuffle(spark, sf_dir):
    """emb_pq_assign claims PQ's defining scale property: the codebook
    is plan literals and encoding is a pure per-row projection — zero
    Exchanges."""
    plan = _formatted(_q(spark, sf_dir, "emb_pq_assign"))
    assert "Exchange" not in plan


def test_adc_topk_no_joins(spark, sf_dir):
    """ann_pq_adc_topk claims the compressed-domain scan: the LUT is
    plan literals, scoring is a projection over the codes — no join
    operators at query time, top-k via WindowGroupLimit."""
    plan = _formatted(_q(spark, sf_dir, "ann_pq_adc_topk"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "WindowGroupLimit" in plan


def test_ivf_pq_single_scan_no_joins(spark, sf_dir):
    """ann_ivf_pq_topk claims the full IVFPQ scale story: cell
    assignment (centroid literals), PQ encoding (codebook literals)
    and the probed-cell membership filter are ONE zero-join projection
    of the corpus scan; the only shuffle is the final per-query top-k
    window.  No join operator of any kind may appear, and the probe
    must be a literal `cell IN` filter (partition pruning at
    deployment), not a join against a probe table."""
    plan = _formatted(_q(spark, sf_dir, "ann_ivf_pq_topk"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "WindowGroupLimit" in plan
    # the memoized codes table hides its plan behind Scan ExistingRDD
    # (localCheckpoint wraps immediately) — assert the fused zero-join
    # encode on the UN-checkpointed builder the memo fill also calls
    from adt_spark.operators import similarity as sim

    cells = sim._ivf_trained_cells(spark, sf_dir)
    encode_plan = _formatted(sim._ivf_codes_plan(spark, sf_dir, cells))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in encode_plan
    # exchanges may only be spread()'s round-robin (the executed memo
    # plan prints initial + AQE-final sections, so node counts double)
    # — never a keyed or single-partition shuffle
    assert "hashpartitioning" not in encode_plan
    assert "SinglePartition" not in encode_plan
    assert "rangepartitioning" not in encode_plan


def test_bigram_lm_no_forced_broadcast(spark, sf_dir):
    """text_bigram_lm_score: bigram/unigram count tables grow with the
    corpus vocabulary, so under threshold=-1 (100×-scale stats
    stand-in) the count re-joins must plan as shuffle joins; the only
    surviving broadcast is the forced 1-row vocabulary-size literal.
    Never a cartesian."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "text_bigram_lm_score"))
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan
        # the 1-row V broadcast is the single nested-loop join (each
        # node prints twice in formatted mode: tree + detail section)
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_winnowing_single_projection(spark, sf_dir):
    """text_winnowing_fingerprints claims the whole window-min
    selection happens in array-land inside one projection: no join
    operators, no aggregate, no window — the only exchange is
    spread()'s round-robin repartition (compute-bound md5 hashing),
    and the only row expansion is the explode of the already-selected
    fingerprints."""
    plan = _formatted(_q(spark, sf_dir, "text_winnowing_fingerprints"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "HashAggregate" not in plan
    assert "Window" not in plan
    # exactly one exchange: the spread round-robin (tree + detail
    # sections each print the node once)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(…)`` in a plan string, up to
    its matching paren: the body, then the lambda variables."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, j = 1, m.end()
        while depth and j < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[m.end():j - 1])
    return out


def test_token_split_staged_outside_lambdas(spark, monkeypatch):
    """Spark evaluates a lambda body once per array element and hoists
    nothing out of it, so ``split(text)`` inside a gram lambda
    re-splits the whole document per gram.  Every token-gram builder
    projects the token array first and its lambdas read that column;
    winnowing's selection lambda reads the staged ``grams`` column
    rather than an inlined copy of the gram transform.  The memoized
    builders checkpoint their frame, so their plans are taken from
    the frame handed to ``localCheckpoint``."""
    from adt_spark.operators.dedup import (
        _SUB_K,
        _positional_grams,
        _shingle_arrays,
        band_keys_projection,
    )
    from adt_spark.operators.text import _winnow_rows

    docs = spark.createDataFrame(
        [(1, "plan guard " + " ".join(f"w{i}" for i in range(12))),
         (2, "plan guard short")],
        "doc_id long, text string",
    )
    checkpointed = []
    real = type(docs).localCheckpoint

    def capture(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", capture)
    _shingle_arrays(docs)
    _positional_grams(docs, _SUB_K)
    assert len(checkpointed) == 2, "memo hit: the builders did not run"
    frames = {
        "_shingle_arrays": checkpointed[0],
        "_positional_grams": checkpointed[1],
        "band_keys_projection": band_keys_projection(docs),
        "_winnow_rows": _winnow_rows(docs),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, f"{name}: no lambda in the plan"
        assert not [b for b in bodies if "split(" in b], (
            f"{name}: a lambda body re-splits the text\n{plan}"
        )
        if name == "_winnow_rows":
            selection = [b for b in bodies if "array_min(" in b]
            assert selection and all(
                "md5(" not in b and "element_at(grams#" in b for b in selection
            ), f"grams inlined into the selection lambda\n{plan}"


def test_cdc_chunks_single_agg_no_joins(spark, sf_dir):
    """dedup_cdc_chunks claims boundary detection + chunk assembly are
    one array-land projection: no join operators, no window, and the
    only aggregation is the chunk-hash groupBy (partial+final pair on
    one uniform key)."""
    plan = _formatted(_q(spark, sf_dir, "dedup_cdc_chunks"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "Window" not in plan


def test_cross_source_matrix_no_forced_broadcast(spark, sf_dir):
    """dedup_cross_source_matrix label joins move a (doc_id, source)
    projection of the corpus — corpus-scale, so under threshold=-1
    they must NOT plan as broadcasts (the memoized pairs side is the
    small side, but smallness is AQE's call, never a forced hint).
    Never a cartesian."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "dedup_cross_source_matrix"))
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_contrastive_negatives_window_is_partitioned(spark, sf_dir):
    """text_contrastive_pairs' negative ring must come from a window
    PARTITIONED by the hash bucket — a global (single-partition) sort
    over all docs would serialize the corpus through one task.  The
    plan must show no 'Exchange SinglePartition' anywhere."""
    plan = _formatted(_q(spark, sf_dir, "text_contrastive_pairs"))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_rolling_actives_only_bounds_broadcast(spark, sf_dir):
    """q_events_rolling_actives: the only join of any kind is the
    1-row bounds broadcast (genuinely bounded — forced broadcast is
    correct there); the 7x fan-out must be an explode, not a range
    join against a day table."""
    plan = _formatted(_q(spark, sf_dir, "q_events_rolling_actives"))
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in plan
    assert "Generate" in plan  # the explode(sequence(0, 6)) fan-out


def test_markov_window_partitioned_agg_small(spark, sf_dir):
    """q_events_markov_transitions: the lead() window must be
    PARTITIONED (by user_id) — no SinglePartition exchange anywhere —
    and no join operators appear (the denominator is a window over the
    pair aggregate, not a join back)."""
    plan = _formatted(_q(spark, sf_dir, "q_events_markov_transitions"))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan


def test_fertility_single_two_phase_agg(spark, sf_dir):
    """text_bpe_fertility_by_lang: one scan-speed projection feeding
    ONE two-phase aggregate — no joins, no windows, and exactly one
    partial/final HashAggregate pair (tree + detail sections each
    print a node once → at most 2 distinct numbered HashAggregates)."""
    plan = _formatted(_q(spark, sf_dir, "text_bpe_fertility_by_lang"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "Window" not in plan
    assert len(set(re.findall(r"\(\d+\) HashAggregate", plan))) <= 2


def test_concentration_heap_topk_no_window(spark, sf_dir):
    """q_events_value_concentration claims the scale-sound Pareto
    shape: top-10 via TakeOrderedAndProject per-partition heaps (never
    a global Sort or a window), shuffle joins absent (the only join is
    the 1-row grand-total broadcast cross join)."""
    plan = _formatted(_q(spark, sf_dir, "q_events_value_concentration"))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    for j in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in plan


def test_lsh_multiprobe_recall_bounded_probes(spark, sf_dir):
    """ann_lsh_multiprobe_recall: the 9-way (own + Hamming-1) probe
    table is bounded by construction (queries × 9 rows) and joins
    bucket-keyed onto the corpus — never a cartesian; both rankings
    are WindowGroupLimit top-k passes."""
    plan = _formatted(_q(spark, sf_dir, "ann_lsh_multiprobe_recall"))
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_quality_filtered_reuses_memo_broadcast_threshold(spark, sf_dir):
    """pipeline_quality_filtered: the scores come from the MEMOIZED
    classifier checkpoint (Scan ExistingRDD; no token explode —
    no Generate node — so the training shuffles never re-run), and
    under 100×-scale stats the ONLY surviving hash-broadcast is the
    forced per-source threshold model table."""
    plan = _formatted(_q(spark, sf_dir, "pipeline_quality_filtered"))
    assert "Generate" not in plan  # no token explode re-derivation
    assert len(set(re.findall(r"\((\d+)\) Scan ExistingRDD", plan))) >= 1
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "pipeline_quality_filtered"))
        assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
        assert "CartesianProduct" not in plan


def test_source_drift_no_forced_broadcast(spark, sf_dir):
    """quality_source_drift_chi2: the vocab-scale corpus-count table
    re-joins the (source, term) observed counts on the uniform term
    key — under 100×-scale stats no hash-broadcast may survive except
    the forced 1-row corpus total (BNLJ) and the bounded per-source
    totals; no cartesian."""
    plan = _formatted(_q(spark, sf_dir, "quality_source_drift_chi2"))
    assert "CartesianProduct" not in plan
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "quality_source_drift_chi2"))
        assert "BroadcastHashJoin" not in plan
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_unbounded_following_rewritten_out(spark, sf_dir):
    """q_window_unbounded_following: the moving-start UNBOUNDED
    FOLLOWING rewrite must leave NO frame that Spark would execute
    through the O(n²) UnboundedFollowingWindowFunctionFrame — i.e.
    every surviving frame whose upper bound is unboundedfollowing must
    start at unboundedpreceding (the O(n) whole-partition frame).
    The rewritten forms are whole-partition-minus-prefix complements,
    a reversed-order moving-END frame for min/max (visible as the
    second Window node sorted DESC NULLS LAST), and a lead() for
    first_value."""
    plan = _formatted(_q(spark, sf_dir, "q_window_unbounded_following"))
    frames = re.findall(
        r"specifiedwindowframe\((?:Row|Range)Frame,\s*([^,]+),"
        r"\s*unboundedfollowing\$\(\)\)",
        plan,
    )
    assert frames, "expected whole-partition frames in the rewritten plan"
    assert all(f.strip() == "unboundedpreceding$()" for f in frames), frames
    # the min/max reversal is present: a window sorted DESC NULLS LAST
    assert "DESC NULLS LAST" in plan


def test_doremi_weights_no_forced_broadcast(spark, sf_dir):
    """q_mixture_doremi_weights: the unigram/bigram count tables grow
    with the corpus vocabulary, so under threshold=-1 (100x-scale
    stats stand-in) their re-joins must plan as shuffle joins; the
    only surviving broadcasts are the 1-row totals (ntot/vocab/denom)
    — metadata-sized at any corpus scale.  Never a cartesian."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "q_mixture_doremi_weights"))
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan


def test_sem_distributed_assign_plan_flat_in_k(spark, sf_dir):
    """The distributed SemDeDup assignment (ADT_SEM_K beyond the
    literal ceiling): centroids must reach the corpus through a
    cell-keyed equi-JOIN — never through k literal struct-argmin
    expressions — so the optimized plan neither grows with k (flat
    plan text = no per-centroid literals = bounded driver/codegen
    state regardless of k) nor degenerates to a cartesian."""
    from adt_spark.operators import similarity as S

    emb = S.tables(spark, sf_dir)["embeddings"].select(
        "vec_id", S._vec_double().alias("vec")
    )
    p80 = _formatted(S._sem_assign_distributed(spark, sf_dir, emb, 80))
    p320 = _formatted(S._sem_assign_distributed(spark, sf_dir, emb, 320))
    assert "Join" in p80
    assert "CartesianProduct" not in p80 and "CartesianProduct" not in p320
    # 4x the k, ~same plan: allow only trivial drift (id widths etc.)
    assert abs(len(p320) - len(p80)) < 0.02 * len(p80)


def test_doremi_resample_weights_broadcast_no_new_shuffle(spark, sf_dir):
    """pipeline_doremi_resample: the per-source acceptance table is
    |sources|-row metadata and must reach the corpus scan as a FORCED
    broadcast (it survives threshold=-1 — safe at any corpus scale,
    unlike a corpus-sized forced hint), and composing the sampler onto
    the weights derivation must add ZERO data shuffles: the resample
    plan's Exchange count equals the weights plan's (the acceptance
    pass is one broadcast-joined row-local corpus scan)."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "pipeline_doremi_resample"))
        assert "BroadcastHashJoin" in plan  # the forced acc-table join
        assert "CartesianProduct" not in plan
        wplan = _formatted(_q(spark, sf_dir, "q_mixture_doremi_weights"))
        # SHUFFLE exchanges only — formatted node headers distinguish
        # "(n) Exchange" (shuffle) from "(n) BroadcastExchange"; the
        # sampler legitimately adds two metadata-sized broadcasts
        # (acceptance table + its 1-row max)
        shuffles = lambda p: len(re.findall(r"\(\d+\) Exchange\b", p))  # noqa: E731
        assert shuffles(plan) == shuffles(wplan)


def test_token_budget_epochs_no_new_shuffle(spark, sf_dir):
    """pipeline_token_budget_epochs: the epoch table is |sources|-row
    arithmetic over the DoReMi derivation — its plan may not add any
    data shuffle beyond the weights plan (two broadcast 1-row totals
    are the only additions)."""
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "pipeline_token_budget_epochs"))
        assert "CartesianProduct" not in plan
        wplan = _formatted(_q(spark, sf_dir, "q_mixture_doremi_weights"))
        shuffles = lambda p: len(re.findall(r"\(\d+\) Exchange\b", p))  # noqa: E731
        assert shuffles(plan) == shuffles(wplan)


def test_curriculum_stages_histogram_not_global_sort(spark, sf_dir):
    """pipeline_curriculum_stages: the decile machinery must be
    histogram-grain — the only Window runs over the ≤1024-row bucket
    histogram (downstream of an Aggregate), the bucket→stage map
    reaches doc rows as a FORCED broadcast that survives
    threshold=-1, and nothing corpus-sized is globally sorted."""
    plan = _formatted(_q(spark, sf_dir, "pipeline_curriculum_stages"))
    assert "Sort [shuffle_key" not in plan and "TakeOrderedAndProject" not in plan
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "pipeline_curriculum_stages"))
        assert "BroadcastHashJoin" in plan  # the forced stage-map join
        assert "CartesianProduct" not in plan
        # exactly one Window pass — the histogram cumulative — never a
        # second (corpus-ranking) window
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_global_rank_no_single_partition_window(spark, sf_dir):
    """q_global_rank_chars: the whole point is ranking WITHOUT
    Spark's unpartitioned-window cliff — the returned plan must
    contain a PARTITIONED Window (local ranks) and no SinglePartition
    exchange anywhere (the global offsets come from a bounded
    32-row collect, not a one-task window)."""
    plan = _formatted(_q(spark, sf_dir, "q_global_rank_chars"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan


def test_sql_global_rank_no_single_partition_window(spark, sf_dir):
    """q_sql_global_rank (round-9): the SAME contract for the raw-SQL
    surface — a ported script's row_number()/rank()/dense_rank()
    OVER (ORDER BY …) statement, routed through the dialect rewrite,
    must plan with partitioned Windows only and no SinglePartition
    exchange (Spark's native plan for the identical statement has
    one)."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_global_rank"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan


def test_split_assign_scan_only(spark, sf_dir):
    """q_split_assign: a pure row-local projection — no joins, no
    exchanges, no windows; the split must cost exactly one corpus
    scan."""
    plan = _formatted(_q(spark, sf_dir, "q_split_assign"))
    for node in ("Join", "Exchange", "Window", "Sort"):
        assert not re.search(rf"\(\d+\) \w*{node}", plan), node


def test_learnable_docs_topk_and_no_forced_broadcast(spark, sf_dir):
    """q_select_learnable_docs: the global top-k must plan as a
    WindowGroupLimit (per-partition heaps before the single-partition
    final), and under threshold=-1 the vocab/bigram-count re-joins may
    not force-broadcast (they grow with the corpus); the only
    surviving broadcasts are 1-row totals."""
    plan = _formatted(_q(spark, sf_dir, "q_select_learnable_docs"))
    # Spark pushes the rank<=k filter as either a WindowGroupLimit or
    # (observed) a TakeOrderedAndProject feeding the Window — both are
    # per-partition top-k heaps, never a full global sort
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    with _no_auto_broadcast(spark):
        plan = _formatted(_q(spark, sf_dir, "q_select_learnable_docs"))
        assert "BroadcastHashJoin" not in plan


def test_sem_two_level_router_plan_flat_in_cells(spark, sf_dir):
    """The round-9 DISTRIBUTED router (ADT_SEM_CELLS beyond the
    64-literal ceiling): cell anchors must reach both centroids and
    vectors through scell/cell equi-JOINS carrying candidate ARRAYS
    — never through C literal struct-argmin expressions — so the
    optimized plan is EXACTLY flat in C (S is pinned at the literal
    cap, so no √C literal creep either) and never a cartesian.
    Companion of the flat-in-k check above: together they bound plan
    and driver state regardless of BOTH SemDeDup scale knobs."""
    from adt_spark.operators import similarity as S

    emb = S.tables(spark, sf_dir)["embeddings"].select(
        "vec_id", S._vec_double().alias("vec")
    )
    p128 = _formatted(S._sem_assign_two_level(spark, emb, 80, 128))
    p448 = _formatted(S._sem_assign_two_level(spark, emb, 80, 448))
    assert "Join" in p128
    assert "CartesianProduct" not in p128 and "CartesianProduct" not in p448
    # 3.5x the router width, same plan text length: the cell anchors
    # are column data, not literals
    assert abs(len(p448) - len(p128)) <= 0.02 * len(p128)


def test_sql_global_dist_no_single_partition_window(spark, sf_dir):
    """q_sql_global_dist: the distribution family (percent_rank /
    cume_dist / ntile) through the dialect rewrite keeps the same
    contract — partitioned Windows only, no SinglePartition
    exchange."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_global_dist"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan


def test_priority_sample_windowgrouplimit(spark, sf_dir):
    """q_priority_sample: per-source weighted top-k must plan with
    WindowGroupLimit pushdown (k-row heaps per partition before the
    shuffle) and no single-partition exchange — the corpus never
    funnels through one task."""
    plan = _formatted(_q(spark, sf_dir, "q_priority_sample"))
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_unimax_windows_are_metadata_grain(spark, sf_dir):
    """q_mixture_unimax: the waterfilling windows (row_number /
    prefix-sum / saturated-count) may be unpartitioned ONLY because
    they run over the |languages|-row aggregate — the plan must show
    every Window ABOVE the corpus Aggregate (window input = grouped
    rows, never documents), and exactly one corpus-reading scan."""
    plan = _formatted(_q(spark, sf_dir, "q_mixture_unimax"))
    assert "Window" in plan
    # the corpus aggregate exists and windows consume its output:
    # formatted plans list operators leaves-first, so the HashAggregate
    # pair must appear before the first Window in the tree dump
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # unique node ids: the formatted dump repeats names in the detail
    # section, so count ids, not substrings
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1


def test_hard_negatives_broadcast_and_topk(spark, sf_dir):
    """ann_hard_negatives: anchors broadcast (corpus scan stays
    partition-parallel), label filter inside the join condition, and
    the per-anchor top-k through WindowGroupLimit — the
    ann_topk_bruteforce scale shape with the class constraint."""
    plan = _formatted(_q(spark, sf_dir, "ann_hard_negatives"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_sql_running_totals_no_single_partition_window(spark, sf_dir):
    """q_sql_running_totals: global cumulative sums/counts/avg/max
    through the dialect rewrite — partitioned Windows only, no
    SinglePartition exchange (native Spark puts the whole corpus on
    one task for this statement)."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_running_totals"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan


def test_sql_global_offsets_no_single_partition_window(spark, sf_dir):
    """q_sql_global_offsets: global lag/lead through the dialect
    rewrite — partitioned Windows only, no SinglePartition exchange
    (boundary rows patch from a bounded neighbor-tail collect, never
    a one-task window)."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_global_offsets"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan


def test_global_window_family_plan_flat_in_n_parts(spark, sf_dir):
    """Round-10: the two-phase global-window family's partition
    bounds, prefix offsets, and boundary arrays are broadcast DATA
    (local relations + pid join), never plan literals — 8× the
    partition count must leave the optimized plan byte-comparable
    (the round-9 construction embedded O(n_parts·j) create_map
    literals).  And nothing O(data) may materialize: no Scan
    ExistingRDD anywhere (the round-9 construction localCheckpointed
    the whole range-partitioned corpus per query)."""
    from pyspark.sql import functions as F

    from adt_spark.operators.global_window import (
        OrderWindows,
        plan_global_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    keys = [(F.col("n_chars"), "asc"), (F.col("doc_id"), "asc")]

    def one_order(np, **families):
        return plan_global_windows(
            docs, [OrderWindows(keys, **families)], n_parts=np
        )

    builders = {
        "ranks": lambda np: one_order(
            np, ranks=[("row_number", "rn"), ("dense_rank", "dr")],
        ),
        "aggs": lambda np: one_order(
            np,
            running=[("sum", F.col("n_chars"), "s"),
                     ("avg", F.col("n_chars"), "a")],
        ),
        "offsets": lambda np: one_order(
            np, offsets=[("lag", F.col("n_chars"), 2, "l")]
        ),
        "firstlast": lambda np: one_order(
            np,
            first_last=[
                ("first_value", F.col("n_chars"), None, "fv"),
                ("last_value", F.col("n_chars"), None, "lv"),
                ("nth_value", F.col("n_chars"), 5, "nv"),
                # round-11: IGNORE NULLS members ride the same shape
                ("first_value", F.col("n_chars"), None, "fvn", True),
                ("last_value", F.col("n_chars"), None, "lvn", True),
            ],
        ),
        # round-11: bounded-frame aggregates (suffix/prefix-folded
        # boundary arrays are broadcast data like the offset family's)
        "bounded": lambda np: one_order(
            np,
            bounded=[
                ("sum", F.col("n_chars"), 6, 0, "ts"),
                ("avg", F.col("n_chars"), 3, 3, "ca"),
                ("min", F.col("doc_id"), 0, 4, "nm"),
                ("count", None, 9, 0, "tc"),
            ],
        ),
        # round-11: 3-arg lag/lead (default past the global edge)
        "offsets_default": lambda np: one_order(
            np, offsets=[("lag", F.col("n_chars"), 2, "l2", F.lit(-1))],
        ),
        # round-11 second wave: unbounded sides (totals scalars mixed
        # with edge arrays in one broadcast state table)
        "bounded_unbounded": lambda np: one_order(
            np,
            bounded=[
                ("sum", F.col("n_chars"), None, 0, "cs"),
                ("min", F.col("n_chars"), None, 2, "m1"),
                ("max", F.col("n_chars"), 3, None, "m2"),
                ("count", None, None, None, "nt"),
            ],
        ),
    }
    for name, build in builders.items():
        p8 = _formatted(build(8))
        p64 = _formatted(build(64))
        # the corpus reaches the window straight from the parquet scan
        # (the round-9 localCheckpoint replaced it with a materialized
        # RDD scan); the tiny _adt_* broadcast state tables plan as
        # LocalTableScan, so no ExistingRDD scan is expected — any
        # that appears must at least be an _adt_* state table
        assert "Scan parquet" in p8, name
        for m in re.finditer(
            r"\(\d+\) Scan ExistingRDD(?:\s*\[codegen[^\]]*\])?\s*\n"
            r"Output \[\d+\]: \[([^\]]*)\]",
            p8,
        ):
            assert "_adt_" in m.group(1), (name, m.group(1))
        assert "SinglePartition" not in p8, name
        assert re.search(r"\(\d+\) Window\b", p8), name
        assert abs(len(p64) - len(p8)) <= 0.02 * len(p8), (
            name, len(p8), len(p64)
        )


def test_sql_global_firstlast_no_single_partition_window(spark, sf_dir):
    """q_sql_global_firstlast (round-10): first_value / last_value /
    nth_value through the dialect rewrite — partitioned Windows only,
    no SinglePartition exchange, and the corpus reaches the window
    straight from the parquet scan (no checkpoint)."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_global_firstlast"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_sql_rank_over_groupby_no_single_partition(spark, sf_dir):
    """q_sql_rank_over_groupby (round-10 scope widening): the window
    must consume the AGGREGATE's output (rank over a GROUP BY result)
    with no SinglePartition exchange anywhere — the corpus-sized
    aggregation stays partial+final parallel, and the group-grain
    window runs through the two-phase construction."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_rank_over_groupby"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    # the GROUP-mode inner (the corpus aggregate) is cached group-
    # grain — the final plan reads the InMemoryTableScan instead of
    # re-running the partial+final aggregation per action (round-10;
    # the cached data is the aggregate OUTPUT, never the raw corpus)
    assert (
        "InMemoryTableScan" in plan
        or len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2
    )


def test_sql_running_variance_no_single_partition(spark, sf_dir):
    """q_sql_running_variance (round-10): the moment-family rewrite —
    partitioned Windows only, no SinglePartition exchange, corpus
    reaches the window from the parquet scan."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_running_variance"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_sql_moving_agg_no_single_partition(spark, sf_dir):
    """q_sql_moving_agg (round-11, r10 verdict #2): bounded explicit
    ROWS frames through the dialect rewrite — partitioned Windows
    only, no SinglePartition exchange, corpus reaches the windows
    from the parquet scan, boundary state enters as broadcast joins
    (no non-_adt_ ExistingRDD scans)."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_moving_agg"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan
    for m in re.finditer(
        r"\(\d+\) Scan ExistingRDD(?:\s*\[codegen[^\]]*\])?\s*\n"
        r"Output \[\d+\]: \[([^\]]*)\]",
        plan,
    ):
        assert "_adt_" in m.group(1), m.group(1)


def test_sql_two_rank_orders_no_single_partition(spark, sf_dir):
    """q_sql_two_rank_orders (round-11, r10 verdict #4): two distinct
    ranking orders in one statement — each order gets its own pid
    assignment, and NEITHER construction may fall onto the
    single-partition cliff."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_two_rank_orders"))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) >= 2
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_sql_ignore_nulls_and_default_offsets_no_single_partition(
    spark, sf_dir
):
    """q_sql_ignore_nulls + q_sql_offsets_default (round-11, r10
    verdict #3): both rewrites stay off the cliff."""
    for name in ("q_sql_ignore_nulls", "q_sql_offsets_default"):
        plan = _formatted(_q(spark, sf_dir, name))
        assert re.search(r"\(\d+\) Window\b", plan), name
        assert "SinglePartition" not in plan, name
        assert "Scan parquet" in plan, name


def test_sql_cumulative_rows_no_single_partition(spark, sf_dir):
    """q_sql_cumulative_rows (round-11 second wave): unbounded-side
    ROWS frames — partitioned Windows only, no SinglePartition,
    corpus from the parquet scan, state via broadcast joins."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_cumulative_rows"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_sql_shifted_frames_no_single_partition(spark, sf_dir):
    """q_sql_shifted_frames (round-11 third wave): negative-bound
    ROWS frames via shift composition (inner bounded agg + global
    lag/lead on ONE pid assignment) — partitioned Windows only, no
    SinglePartition, corpus from the parquet scan."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_shifted_frames"))
    assert re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_sql_ratio_to_total_no_window_at_all(spark, sf_dir):
    """q_sql_ratio_to_total (round-11 second wave): OVER () scalars
    become typed literals over one parallel aggregation — the final
    plan carries NO Window operator and NO SinglePartition exchange;
    the share projection runs at scan speed."""
    plan = _formatted(_q(spark, sf_dir, "q_sql_ratio_to_total"))
    assert not re.search(r"\(\d+\) Window\b", plan)
    assert "SinglePartition" not in plan
    assert "Scan parquet" in plan


def test_range_pid_two_level_route(spark, sf_dir):
    """Past _TWO_LEVEL_PARTS intervals, pid assignment routes
    two-level (√n super-intervals by BNLJ, then a broadcast EQUI-join
    on the super id): output ranks must equal the flat route's
    exactly (boundary-invariance — same total order, different
    partitioning), the second hop must be a HASH join (the equi key
    keeps per-row work at O(√n), never O(n)), the plan stays
    byte-stable in n_parts and free of SinglePartition exchanges."""
    from pyspark.sql import functions as F

    from adt_spark.operators.global_window import (
        OrderWindows,
        plan_global_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    keys = [(F.col("n_chars"), "asc"), (F.col("doc_id"), "asc")]

    def build(np):
        return plan_global_windows(
            docs,
            [OrderWindows(keys, ranks=[("row_number", "rn"),
                                       ("dense_rank", "dr")])],
            n_parts=np,
        )

    flat = sorted(map(tuple, build(32).collect()))
    two = sorted(map(tuple, build(500).collect()))
    assert flat == two
    p500 = _formatted(build(500))
    p900 = _formatted(build(900))
    assert "BroadcastHashJoin" in p500  # the equi hop
    assert "SinglePartition" not in p500
    assert "Scan parquet" in p500
    assert abs(len(p900) - len(p500)) <= 0.02 * len(p500)
