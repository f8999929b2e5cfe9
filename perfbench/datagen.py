"""Offline input generation for the benchmark.

Everything is derived from DuckDB's built-in TPC-H generator and from
seeded NumPy draws, so no input leaves the process that made it and the
same seed always yields the same bytes.  Generated data lives under the
checkout's ``.perfbench_cache/`` directory and is reused across runs;
generation time is never part of any metric.

TPC-H tables are cast to the column subset and types the engine's query
registry was written against (int32 ``l_linenumber``, DOUBLE money
columns, TIMESTAMP dates), and the two big tables are written as several
files so scans split across every core.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

#: The registry's column subset of each TPC-H table, as DuckDB casts.
TPCH_SELECT = {
    "region": "CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name",
    "nation": "CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name, "
    "CAST(n_regionkey AS INTEGER) AS n_regionkey",
    "customer": "CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
    "CAST(c_nationkey AS INTEGER) AS c_nationkey, "
    "CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment",
    "supplier": "CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
    "CAST(s_nationkey AS INTEGER) AS s_nationkey, "
    "CAST(s_acctbal AS DOUBLE) AS s_acctbal",
    "part": "CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand, p_type, "
    "CAST(p_size AS INTEGER) AS p_size, "
    "CAST(p_retailprice AS DOUBLE) AS p_retailprice",
    "orders": "CAST(o_orderkey AS BIGINT) AS o_orderkey, "
    "CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, "
    "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
    "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority",
    "lineitem": "CAST(l_orderkey AS BIGINT) AS l_orderkey, "
    "CAST(l_partkey AS BIGINT) AS l_partkey, "
    "CAST(l_suppkey AS BIGINT) AS l_suppkey, "
    "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
    "CAST(l_quantity AS DOUBLE) AS l_quantity, "
    "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
    "CAST(l_discount AS DOUBLE) AS l_discount, "
    "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
    "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
}

#: Tables written as a directory of files; the key orders each file.
SPLIT = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
SPLIT_FILES = 8

#: Corpus shape of the registry's sf0.1 documents/embeddings tables.
DOCS = 5_000
VECS = 2_000
DIM = 64
VOCAB = (
    "batch part spark line column order small sort fast value scan query "
    "agg table hash key group stream filter customer vector slow join "
    "merge index cache disk row page block plan stage task shuffle"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def table_path(sf_dir: str, table: str) -> str:
    """Where the engine's ``register_sf_tables`` expects ``table``."""
    return os.path.join(sf_dir, f"{table}.parquet")


def duck_source(sf_dir: str, table: str) -> str:
    """The DuckDB ``read_parquet`` glob for ``table`` under ``sf_dir``."""
    path = table_path(sf_dir, table)
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _publish(tmp: str, final: str) -> str:
    """Rename a fully written ``tmp`` directory into place, so a run
    killed mid-generation never leaves a half-written cache entry."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)
    return final


def tpch(sf: float) -> str:
    """TPC-H at scale ``sf`` with the registry's schema; returns its dir."""
    import duckdb

    final = os.path.join(CACHE, f"tpch_sf{sf:g}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"CALL dbgen(sf={sf})")
        for table, cols in TPCH_SELECT.items():
            out = table_path(tmp, table)
            key = SPLIT.get(table)
            if key is None:
                con.execute(
                    f"COPY (SELECT {cols} FROM {table}) TO '{out}' (FORMAT PARQUET)"
                )
                continue
            os.makedirs(out)
            hi = con.execute(f"SELECT max({key}) FROM {table}").fetchone()[0]
            step = hi // SPLIT_FILES + 1
            for i in range(SPLIT_FILES):
                con.execute(
                    f"COPY (SELECT {cols} FROM {table} "
                    f"WHERE {key} >= {i * step} AND {key} < {(i + 1) * step} "
                    f"ORDER BY ALL) TO '{out}/part-{i}.parquet' (FORMAT PARQUET)"
                )
    finally:
        con.close()
    return _publish(tmp, final)


def corpus(seed: int, docs: int = DOCS, vecs: int = VECS) -> str:
    """A documents + embeddings corpus drawn from ``seed``.

    2% exact duplicates and 8% one-word near duplicates keep the dedup
    candidate population proportional to corpus size; embeddings are
    ten Gaussian clusters, labelled by cluster.
    """
    final = os.path.join(CACHE, f"corpus_{docs}_{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(docs):
        if i > 50 and i % 50 == 1:
            texts.append(texts[i - 1])
        elif i > 50 and i % 12 == 3:
            words = texts[i - 3].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 100)))))
    langs = [LANGS[k] for k in rng.integers(0, len(LANGS), docs)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        table_path(tmp, "documents"),
    )
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = np.arange(vecs) % 10
    points = (centers[labels] + rng.normal(0.0, 0.35, (vecs, DIM))).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(vecs), pa.int64()),
                "embedding": pa.array(list(points), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            }
        ),
        table_path(tmp, "embeddings"),
    )
    return _publish(tmp, final)


def window_inputs(tpch_dir: str, seed: int, docs: int = DOCS) -> str:
    """A directory holding ``tpch_dir``'s tables (linked) and a seeded
    documents corpus: the inputs of the windowed statements."""
    final = os.path.join(CACHE, f"window_{os.path.basename(tpch_dir)}_{docs}_{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for table in TPCH_SELECT:
        os.symlink(table_path(tpch_dir, table), table_path(tmp, table))
    src = corpus(seed, docs=docs, vecs=max(docs // 10, 100))
    os.symlink(table_path(src, "documents"), table_path(tmp, "documents"))
    return _publish(tmp, final)
