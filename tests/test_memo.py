"""The session memo registry (adt_spark/operators/memo.py): entries
follow the files they were computed from, and one ``clear()`` releases
everything, streaming sink views and scratch directories included."""

from __future__ import annotations

import os
import shutil

from adt_spark.operators import memo
from adt_spark.testing import check_query

#: one operator per kind of memo key: an sf_dir-keyed stem (the LM
#: count tables), DataFrame-keyed stems (shingles → LSH) and driver
#: state (PQ codebooks and the codes table)
STALE_PROBES = ("text_bigram_lm_score", "dedup_minhash_lsh", "emb_pq_assign")


def _write_corpus(src: str, dst: str) -> None:
    # copyfile, not copy: the source files are read-only, and the
    # destination must be rewritten in place (same path, new bytes)
    for table in ("documents", "embeddings"):
        shutil.copyfile(os.path.join(src, f"{table}.parquet"), os.path.join(dst, f"{table}.parquet"))


def _identities_under(root: str) -> set:
    return {k[2] for k in memo._SESSION_MEMO if root in repr(k[2][0])}


def test_rewritten_corpus_gives_fresh_answers(spark, sf_dir, tmp_path):
    testdata, corpus = os.path.dirname(sf_dir), str(tmp_path)
    _write_corpus(os.path.join(testdata, "sf0.001"), corpus)
    for name in STALE_PROBES:
        check_query(spark, corpus, name)
    old = _identities_under(corpus)
    assert old

    # an unchanged corpus hits: the second run fills nothing
    n = len(memo._SESSION_MEMO)
    for name in STALE_PROBES:
        check_query(spark, corpus, name)
    assert len(memo._SESSION_MEMO) == n

    # the same paths, new bytes: every answer is the new corpus's, and
    # the refill released every entry held under the old signature
    _write_corpus(os.path.join(testdata, "sf0.01"), corpus)
    for name in STALE_PROBES:
        check_query(spark, corpus, name)
    new = _identities_under(corpus)
    assert new
    assert not new & old


def test_clear_releases_streaming_sinks_and_scratch_dirs(spark, sf_dir):
    from adt_spark.queries import load_all

    reg = load_all()
    reg["streaming_events_windowed"].spark_fn(spark, sf_dir).count()
    reg["streaming_delta_ingest"].spark_fn(spark, sf_dir).count()
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    dirs = [k[1][1] for k in memo._SESSION_MEMO if k[1][0] == "stream_scratch"]
    assert views and dirs and all(os.path.isdir(d) for d in dirs)

    memo.clear()
    assert not memo._SESSION_MEMO
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    assert not any(os.path.exists(d) for d in dirs)
