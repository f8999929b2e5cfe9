"""One way to open a parquet table: ``context.read_parquet``.

``spark.read.parquet(path)`` with no schema submits a one-task Spark
job to read a footer, once per call, even for a single file.
``context.read_parquet`` / ``context.parquet_schema`` read that footer
on the driver instead.  This guard fails on a parquet reader anywhere
in ``adt_spark/`` whose chain declares no ``.schema(…)``: a
``.read.parquet(…)`` call, or a ``.format("parquet")…load(…)`` chain.
A reader handed a schema (the Delta data scans, the stream sources)
infers nothing and passes.
"""

from __future__ import annotations

import ast
import pathlib

_PKG = pathlib.Path(__file__).resolve().parent.parent / "adt_spark"

#: (module, function) allowed to infer a parquet schema with Spark's
#: reader: the helper, which hands Spark a path with no file to read
#: so that Spark raises its own error
_ALLOWED = {("context.py", "_footer_schema")}


def _chain(node: ast.AST) -> tuple[set[str], list[ast.Call]]:
    """The attribute names and the method calls of a reader chain,
    walking from ``node`` down to its root name."""
    attrs: set[str] = set()
    calls: list[ast.Call] = []
    while True:
        if isinstance(node, ast.Call):
            calls.append(node)
            node = node.func
        elif isinstance(node, ast.Attribute):
            attrs.add(node.attr)
            node = node.value
        else:
            return attrs, calls


def _called(calls: list[ast.Call], name: str) -> list[ast.Call]:
    return [
        c for c in calls if isinstance(c.func, ast.Attribute) and c.func.attr == name
    ]


def _infers_parquet(call: ast.Call) -> bool:
    """True for ``….read.parquet(…)`` or ``….format("parquet")….load(…)``
    with no ``.schema(…)`` in the chain."""
    if not isinstance(call.func, ast.Attribute):
        return False
    attrs, calls = _chain(call.func.value)
    if _called(calls, "schema"):
        return False
    if call.func.attr == "parquet":
        return bool(attrs & {"read", "readStream"})
    if call.func.attr == "load":
        return any(
            isinstance(a, ast.Constant) and a.value == "parquet"
            for c in _called(calls, "format")
            for a in c.args
        )
    return False


def _inferring_readers(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, innermost enclosing function name or None) of every
    parquet reader that would infer its schema with a Spark job."""
    out: list = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and _infers_parquet(node):
            out.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


#: the schema-inferring reads that read_parquet replaced, one per site:
#: context.register_sf_tables, streaming/events.py (six operators),
#: delta_native's checkpoint and sidecar reads, convert_to_delta
_REPLACED_SITES = """
def register_sf_tables(spark, path):
    df = spark.read.parquet(path)

def _open_events_stream(spark, events_path):
    ts_type = spark.read.parquet(events_path).schema["ts"].dataType

def streaming_docs_dedup_ingest(spark, docs_path):
    static_schema = spark.read.parquet(docs_path).schema
    corpus_hashes = (
        spark.read.parquet(docs_path)
        .filter(F.col("doc_id") % 10 != 0)
        .select(chash.alias("chash"))
        .distinct()
    )

def streaming_docs_neardup_ingest(spark, docs_path):
    static_schema = spark.read.parquet(docs_path).schema
    corpus_bands = band_keys_projection(
        spark.read.parquet(docs_path).filter(F.col("doc_id") % 10 != 0)
    )

def streaming_docs_quality_ingest(spark, docs_path):
    static_schema = spark.read.parquet(docs_path).schema
    corpus = spark.read.parquet(docs_path).filter(F.col("doc_id") % 10 != 0)

def streaming_docs_threshold_ingest(spark, docs_path):
    static_schema = spark.read.parquet(docs_path).schema
    corpus = spark.read.parquet(docs_path).filter(F.col("doc_id") % 7 != 0)

def streaming_priority_sample(spark, docs_path):
    schema = spark.read.parquet(docs_path).schema

def replay_snapshot(spark, location, cp_paths):
    cp = spark.read.parquet(*_local_parquet_paths(location, list(cp_paths)))

def _apply_sidecar(spark, snap, location, side_path):
    _apply_checkpoint_df(
        spark,
        snap,
        spark.read.parquet(*_local_parquet_paths(location, [side_path])),
        location,
    )

def convert_to_delta(spark, location):
    df = spark.read.parquet(location)
"""


def test_guard_flags_the_replaced_sites():
    """The guard sees every inferring read the helper replaced, and
    the ``format("parquet")…load`` spelling of the same read."""
    found = _inferring_readers(ast.parse(_REPLACED_SITES))
    assert len(found) == 14, found
    assert {fn for _line, fn in found} == {
        "register_sf_tables",
        "_open_events_stream",
        "streaming_docs_dedup_ingest",
        "streaming_docs_neardup_ingest",
        "streaming_docs_quality_ingest",
        "streaming_docs_threshold_ingest",
        "streaming_priority_sample",
        "replay_snapshot",
        "_apply_sidecar",
        "convert_to_delta",
    }
    loaded = (
        "def f(spark, p):\n"
        "    return spark.read.format('parquet').option('x', '1').load(p)\n"
    )
    assert _inferring_readers(ast.parse(loaded)) == [(2, "f")]


def test_guard_passes_readers_with_a_schema():
    """Readers that are handed a schema, writers, and other formats."""
    fine = (
        "def f(spark, s, p, df):\n"
        "    spark.read.schema(s).parquet(p)\n"
        "    spark.readStream.schema(s).format('parquet').load(p)\n"
        "    spark.readStream.schema(s).parquet(p)\n"
        "    df.write.parquet(p)\n"
        "    spark.read.format('delta').load(p)\n"
        "    read_parquet(spark, p).schema\n"
    )
    assert _inferring_readers(ast.parse(fine)) == []


def test_read_parquet_is_the_only_inferring_reader():
    """No module in ``adt_spark/`` infers a parquet schema with a
    Spark job; such code calls ``context.read_parquet`` or
    ``context.parquet_schema``."""
    found, allowed = [], []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for line, fn in _inferring_readers(tree):
            if (rel, fn) in _ALLOWED:
                allowed.append((rel, fn))
            else:
                found.append(f"adt_spark/{rel}:{line} in {fn}")
    assert not found, found
    assert allowed == sorted(_ALLOWED)
