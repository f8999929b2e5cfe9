"""The benchmark's workloads.

Each workload names the layer it stresses, generates its inputs from
the seed, and hands the runner operations in cycles.  An operation
goes through the engine's public entry points only: ``ADTContext.sql``,
``adt_spark.cli.main``, ``write_delta_native`` and the registry's
``spark_fn``s.  Every operation carries the check its output must pass;
the runner applies it after the timed loop.

``window_sql`` and ``corpus_pipeline`` run their operations in one fixed
order and draw their data from the seed, and run one untimed warm-up
cycle before the clock starts.  ``tpch_sf1`` keeps fixed data and lets the
seed shuffle its statements.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import datagen
from checks import Oracle


@dataclass
class Op:
    """One operation of the closed loop.

    ``build`` returns a DataFrame for a lazy operation, which the runner
    then reduces to its digest and executes; an eager operation does its
    work inside ``build`` and returns its result.  ``check`` maps the
    result to ``None`` (correct) or a description of what is wrong.
    """

    name: str
    kind: str
    build: Callable[[], Any]
    check: Callable[[Any], str | None]
    lazy: bool = True


@dataclass
class Workload:
    """Inputs, the first statement and the operation cycles of one
    workload; subclasses fill in the specifics."""

    seed: int
    tiny: bool
    ctx: Any = None
    cache: str = datagen.CACHE
    data_dir: str = ""
    first_statement: str = ""
    oracles: dict = field(default_factory=dict)
    #: workload-specific record of the run, kept with its results
    detail: dict = field(default_factory=dict)

    #: cycles run before the clock starts: a fresh JVM compiles hot code
    #: through the first cycle, and its compiler threads compete with
    #: the operations for the cores
    WARMUP_CYCLES = 1

    def prepare(self) -> None:
        """Generate (or reuse) every input the run needs."""

    def cycle(self, k: int) -> list[Op]:
        raise NotImplementedError

    def probes(self) -> list[Op]:
        """Operations run once after the timed loop, outside it."""
        return []

    def extra_metrics(self, ops: list[dict]) -> dict[str, float]:
        """Workload-specific metrics over the finished operations."""
        return {}

    def cleanup(self) -> None:
        for o in self.oracles.values():
            o.close()

    def oracle(self, data_dir: str) -> Oracle:
        if data_dir not in self.oracles:
            self.oracles[data_dir] = Oracle(data_dir, os.path.join(self.cache, "oracle"))
        return self.oracles[data_dir]

    def sql_op(self, name: str, statement: str, oracle_statement: str | None = None) -> Op:
        """A statement through ``ADTContext.sql``, checked against
        DuckDB's answer for ``oracle_statement`` (default: the same text)
        over the same files."""
        oracle = self.oracle(self.data_dir)
        return Op(
            name,
            "sql",
            lambda: self.ctx.sql(statement),
            lambda got: oracle.check(oracle_statement or statement, got),
        )


# -- window_sql -------------------------------------------------------

#: GROUPS frame over lineitem.  DuckDB 1.0 has no GROUPS mode, so the
#: oracle runs the equivalent RANGE frame over the peer-group index.
GROUPS_STMT = """
    WITH t AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           CAST(sum(qty) OVER (PARTITION BY l_returnflag ORDER BY qty
                GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS grp_sum
    FROM t
"""

#: Keyed RANGE window over lineitem (the keyed-compression pass).
KEYED_STMT = """
    SELECT l_orderkey, l_linenumber,
           CAST(sum(l_quantity) OVER (PARTITION BY l_returnflag
                ORDER BY l_linenumber
                RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS s
    FROM lineitem
"""

#: The same window under a top-level ``*`` (ADVICE r12).  Until that is
#: fixed, the keyed pass leaks its internal join columns through it.
KEYED_STAR_STMT = (
    "SELECT *, sum(l_quantity) OVER (PARTITION BY l_returnflag "
    "ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s "
    "FROM lineitem"
)


class WindowSql(Workload):
    """Windowed statements whose cost is mostly driver-side build work:
    the global-window rewrite, EXCLUDE/GROUPS frames, keyed RANGE."""

    def prepare(self) -> None:
        sf = 0.01 if self.tiny else 0.1
        docs = 500 if self.tiny else datagen.DOCS
        self.data_dir = datagen.window_inputs(datagen.tpch(sf), self.seed, docs)
        self.first_statement = "SELECT count(*) FROM lineitem"

    def cycle(self, k: int) -> list[Op]:
        from adt_spark.operators import sampling
        from adt_spark.queries import load_all

        reg = load_all()
        return [
            self.sql_op("keyed_range", KEYED_STMT),
            self.sql_op("exclude_frames", reg["q_window_exclude"].oracle),
            self.sql_op("groups_frame", GROUPS_STMT, reg["q_window_groups_frame"].oracle),
            self.sql_op("global_rank", sampling._SQL_RANK_STMT),
            self.sql_op("two_rank_orders", sampling._SQL_TWO_ORDERS_STMT),
        ]

    def probes(self) -> list[Op]:
        """The keyed ``*`` statement.  Its columns are compared before
        anything executes, so the known leak costs no execution."""
        oracle = self.oracle(self.data_dir)

        def build():
            df = self.ctx.sql(KEYED_STAR_STMT)
            if df.columns != oracle.columns(KEYED_STAR_STMT):
                return {"columns": [(c, "other") for c in df.columns], "values": []}
            from checks import digest_frame

            frame, finish = digest_frame(df)
            return finish(frame.collect())

        return [
            Op("keyed_star", "sql", build, lambda got: oracle.check(KEYED_STAR_STMT, got),
               lazy=False)
        ]


# -- tpch_sf1 ---------------------------------------------------------

TPCH_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q09_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_volume_customer",
]


class TpchSf1(Workload):
    """The registry's TPC-H statements over sf1 data: execution-bound.
    Not listed in BENCHMARK.json: one sf1 pass takes 20-30 s on four
    cores, more than a gated run can spend."""

    WARMUP_CYCLES = 0

    def prepare(self) -> None:
        self.data_dir = datagen.tpch(0.01 if self.tiny else 1)
        self.first_statement = "SELECT count(*) FROM lineitem"

    def cycle(self, k: int) -> list[Op]:
        from adt_spark.queries import load_all

        reg = load_all()
        order = np.random.default_rng([self.seed, k]).permutation(len(TPCH_QUERIES))
        return [self.sql_op(TPCH_QUERIES[i], reg[TPCH_QUERIES[i]].oracle) for i in order]


# -- corpus_pipeline --------------------------------------------------

#: One operator from each family; emb_pq_assign crosses the Arrow seam.
CORPUS_OPERATORS = [
    "dedup_minhash_lsh",
    "emb_pq_assign",
    "text_tfidf_top_terms",
    "text_bigram_lm_score",
]

#: The landing stage's filters: short documents are deleted, German
#: ones are marked reviewed.
SHORT_DOC_CHARS = 100
REVIEWED_LANG = "de"


class CorpusPipeline(Workload):
    """A data-pipeline pass per cycle: draw a fresh corpus, run one
    operator of each family over it, then land the documents in a Delta
    table (append, DELETE, UPDATE) with reads and a CLI preview between
    the writes.  The landing is one operation of the pass, like each
    operator; its steps are timed inside it.

    Fresh corpora make every pass fill the operators' memos anew, as a
    real pipeline run does.  The Delta table starts empty in each run
    and is never checkpointed, so log replay grows with every commit.
    """

    def prepare(self) -> None:
        self.docs = 500 if self.tiny else datagen.DOCS
        self.vecs = 200 if self.tiny else datagen.VECS
        self.data_dir = self.pass_dir(0)
        self.first_statement = "SELECT count(*) FROM documents"
        self.table = os.path.join(self.cache, f"delta_run_{os.getpid()}")
        shutil.rmtree(self.table, ignore_errors=True)
        self.landed: list[dict] = []

    def cleanup(self) -> None:
        super().cleanup()
        shutil.rmtree(self.table, ignore_errors=True)

    def pass_dir(self, k: int) -> str:
        return datagen.corpus(self.seed * 1000 + k, self.docs, self.vecs)

    def cycle(self, k: int) -> list[Op]:
        from adt_spark.queries import load_all

        reg = load_all()
        d = self.pass_dir(k)
        oracle = self.oracle(d)
        ops = []
        for name in CORPUS_OPERATORS:
            q = reg[name]
            ops.append(
                Op(
                    name,
                    "operator",
                    lambda q=q: q.spark_fn(self.ctx.spark, d),
                    lambda got, q=q: oracle.check(q.oracle, got),
                )
            )
        return ops + self.landing(k, d, oracle)

    def landing(self, k: int, d: str, oracle: Oracle) -> list[Op]:
        """Pass ``k``'s Delta stage as one operation: append, DELETE and
        UPDATE, each followed by a read, and a CLI preview.  Expected
        counts come from the generated documents; each step's time is
        kept in ``detail`` for the Delta read and write metrics."""
        from adt_spark.cli import main as cli_main
        from adt_spark.sources.delta_native_write import write_delta_native

        def count(where: str) -> int:
            return oracle.con.execute(f"SELECT count(*) FROM documents WHERE {where}").fetchone()[0]

        short = f"n_chars < {SHORT_DOC_CHARS}"
        marked = f"lang = '{REVIEWED_LANG}'"
        before = {"rows": sum(x["rows"] for x in self.landed),
                  "marked": sum(x["marked"] for x in self.landed)}
        now = {"rows": count("true"), "deleted": count(short),
               "marked": count(f"NOT ({short}) AND {marked}")}
        self.landed.append({"rows": now["rows"] - now["deleted"], "marked": now["marked"]})
        table = f"delta.`{self.table}`"
        ctx = self.ctx
        docs = os.path.join(d, "documents.parquet")
        rows = before["rows"] + now["rows"]
        batch = f"batch = {k}"

        def append():
            df = ctx.sql(f"SELECT *, CAST({k} AS INT) AS batch FROM parquet.`{docs}`")
            return write_delta_native(df, self.table, mode="append")

        def read():
            return [tuple(r) for r in ctx.sql(
                f"SELECT count(*) AS n, CAST(sum(CASE WHEN source = 'reviewed' "
                f"THEN 1 ELSE 0 END) AS BIGINT) AS m FROM {table}"
            ).collect()]

        def view():
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                cli_main(["view", self.table, "-f", "delta", "-l", "50"], ctx=ctx)
            return sum(1 for line in out.getvalue().splitlines() if line.startswith("|")) - 1

        def dml(statement: str):
            return lambda: ctx.sql(statement).first()["num_affected_rows"]

        # (step, kind, call, expected result)
        steps = [
            ("append", "write", append, 3 * k),
            ("read", "read", read, [(rows, before["marked"])]),
            ("view", "read", view, min(50, rows)),
            ("delete", "write", dml(f"DELETE FROM {table} WHERE {batch} AND {short}"),
             now["deleted"]),
            ("read", "read", read, [(rows - now["deleted"], before["marked"])]),
            ("update", "write",
             dml(f"UPDATE {table} SET source = 'reviewed' WHERE {batch} AND {marked}"),
             now["marked"]),
            ("read", "read", read, [(rows - now["deleted"], before["marked"] + now["marked"])]),
        ]
        timings = self.detail.setdefault("landing_steps", [])

        def land():
            got = []
            for name, kind, call, _ in steps:
                t0 = time.perf_counter()
                got.append(call())
                timings.append({"cycle": k, "step": name, "kind": kind,
                                "seconds": time.perf_counter() - t0})
            return got

        def check(got) -> str | None:
            for (name, _, _, want), value in zip(steps, got):
                if value != want:
                    return f"{name}: got {value!r}, expected {want!r}"
            return None

        return [Op("land", "delta", land, check, lazy=False)]

    def extra_metrics(self, ops: list[dict]) -> dict[str, float]:
        from adt_spark.sources.delta_native import replay_snapshot

        snap = replay_snapshot(self.ctx.spark, self.table)
        live = sum(snap.file_sizes.values())
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.table)
            for f in files
        )
        steps = self.detail.get("landing_steps", [])
        return {
            "delta.write_p50_s": _median([s["seconds"] for s in steps if s["kind"] == "write"]),
            "delta.read_p50_s": _median([s["seconds"] for s in steps if s["kind"] == "read"]),
            "delta.stored_bytes_per_user_byte": stored / live if live else 0.0,
        }


def _expect(got, want) -> str | None:
    return None if got == want else f"got {got!r}, expected {want!r}"


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


WORKLOADS = {
    "window_sql": WindowSql,
    "corpus_pipeline": CorpusPipeline,
    "tpch_sf1": TpchSf1,
}
