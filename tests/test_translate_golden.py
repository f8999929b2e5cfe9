"""Byte identity of the dialect passes on a fixed statement corpus.

``tests/fixtures/translate_golden.json`` holds, for every statement of
the corpus, what the dialect layer made of it when the fixture was
written:

- ``translate``: ``translate_sql`` output, or the exception it raised;
- ``frames``: ``rewrite_window_frames`` output when it differs from
  ``translate`` (the keyed compression changed it, or a regex or name
  rewrite ran first);
- ``global_rank`` / ``global_rank_translated``: what
  ``maybe_rewrite_global_rank`` did with the statement and with its
  translation, run against a recording session: the statements it
  handed to ``spark.sql`` and the arguments of each ``OrderWindows``
  and of ``plan_global_windows``; None where it passed through.

The test re-runs every statement and compares, with no Spark session
(pyspark's ``F.col`` / ``F.expr`` and the global-window planner are
replaced by recorders).  A textual simplification of the dialect layer
must leave every entry unchanged.

The corpus: every registry oracle text, the statements the window
members run through ``relational._sql_frames``, every
``sampling._SQL_*`` text, perfbench's window statements, every SQL
string literal of the window test modules, the statements
``tests/test_keyed_windows.py`` composes from its tables, and every
statement those modules hand to a dialect entry point while they run.
Regenerate the fixture (only from code whose output is known good; it
runs those modules on Spark, a few minutes) with::

    python tests/test_translate_golden.py
"""

from __future__ import annotations

import contextlib
import json
import pathlib
import re

import pytest

_FIXTURE = pathlib.Path(__file__).resolve().parent / "fixtures" / "translate_golden.json"
_VIEW_RE = re.compile(r"_adt_global_rank_\d+")


def _outcome(fn, *args):
    """``fn(*args)``, or the exception it raised as ``{"error": …}``."""
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 - the exception is the outcome
        return {"error": f"{type(e).__name__}: {e}"}


class _FakeFrame:
    columns: list = []

    def persist(self):
        return self

    def unpersist(self):
        return self

    def createOrReplaceTempView(self, name):
        pass


class _RecordingSession:
    """Stands in for a SparkSession: records each ``sql`` text."""

    def __init__(self, log):
        self.log = log
        self.catalog = self

    def sql(self, text):
        self.log.append(["sql", _VIEW_RE.sub("_adt_global_rank_N", text)])
        return _FakeFrame()

    def dropTempView(self, name):
        pass


class _Functions:
    """``pyspark.sql.functions`` as text: ``col`` / ``expr`` return
    what they were called with."""

    @staticmethod
    def col(name):
        return f"col({name})"

    @staticmethod
    def expr(text):
        return f"expr({text})"


@contextlib.contextmanager
def _recording_global_rank(log):
    """Patch ``global_rank``'s Spark touch points to record into ``log``."""
    from adt_spark.dialect import global_rank
    from adt_spark.operators import global_window

    def order_windows(*args, **kwargs):
        log.append(["OrderWindows", list(args), kwargs])
        return len(log)

    def plan_global_windows(df, orders, scalars=(), n_parts=None):
        log.append(["plan_global_windows", orders, list(scalars)])
        return _FakeFrame()

    saved = (global_rank.F, global_window.OrderWindows, global_window.plan_global_windows)
    global_rank.F = _Functions
    global_window.OrderWindows = order_windows
    global_window.plan_global_windows = plan_global_windows
    try:
        yield
    finally:
        global_rank.F, global_window.OrderWindows, global_window.plan_global_windows = saved


def _global_rank_record(sql):
    """What ``maybe_rewrite_global_rank`` did with ``sql``: the recorded
    calls, None when it passed through, or the exception it raised."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    log: list = []
    with _recording_global_rank(log):
        got = _outcome(maybe_rewrite_global_rank, _RecordingSession(log), sql)
    if isinstance(got, dict):
        return got
    # a round trip through JSON turns the recorded tuples into lists
    return None if got is None else json.loads(json.dumps(log))


def _entry(sql):
    from adt_spark.dialect.translate import translate_sql
    from adt_spark.dialect.window_frames import rewrite_window_frames

    out = {"sql": sql, "translate": _outcome(translate_sql, sql)}
    frames = _outcome(rewrite_window_frames, sql)
    if frames != out["translate"]:
        out["frames"] = frames
    out["global_rank"] = _global_rank_record(sql)
    if isinstance(out["translate"], str):
        out["global_rank_translated"] = _global_rank_record(out["translate"])
    return out


def _load():
    return json.loads(_FIXTURE.read_text())


def test_fixture_covers_the_window_corpus():
    """The fixture holds the corpus it claims: hundreds of statements,
    the global rewrite engaging on a share of them."""
    entries = _load()
    assert len(entries) > 500
    engaged = sum(1 for e in entries if isinstance(e.get("global_rank_translated"), list))
    assert engaged >= 60


def test_dialect_output_is_byte_identical(monkeypatch):
    monkeypatch.delenv("ADT_KEYED_WINDOWS", raising=False)
    changed = []
    for want in _load():
        got = _entry(want["sql"])
        for key in ("translate", "frames", "global_rank", "global_rank_translated"):
            if got.get(key) != want.get(key):
                changed.append((key, want["sql"][:200]))
    assert not changed, f"{len(changed)} outputs changed, first: {changed[:5]}"


# -- the corpus (used only to write the fixture) -----------------------

_WINDOW_TEST_MODULES = (
    "test_window_frames.py",
    "test_keyed_windows.py",
    "test_dialect.py",
    "test_window_differential.py",
)
_SELECT_WORD = re.compile(r"(?i)\bselect\b")


def _test_literals():
    """Every string constant of the window test modules that holds a
    SELECT."""
    import ast

    here = pathlib.Path(__file__).resolve().parent
    out = []
    for name in _WINDOW_TEST_MODULES:
        tree = ast.parse((here / name).read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _SELECT_WORD.search(node.value)
            ):
                out.append(node.value)
    return out


def _keyed_composed():
    """The statements ``tests/test_keyed_windows.py`` builds from its
    tables, spelled the way its tests spell them."""
    import test_keyed_windows as kw

    out = []
    for c in kw.CASES.values():
        out.append(f"SELECT rid, {c} AS x\nFROM kw_matrix_t")
        out.append(f"{kw._CTE}SELECT rid, {c} AS x\nFROM s")
    sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(kw.CASES.values()))
    out.append(f"SELECT rid, {sel}\nFROM kw_matrix_t")
    for label, r in kw.REFUSALS.items():
        source = kw.REFUSAL_SOURCES.get(label, "kw_matrix_t")
        out.append(f"SELECT rid, {r} AS x\nFROM {source}")
    for alias in ("", " AS s"):
        out.append(f"SELECT *, {kw._STAR_WINDOW}{alias} FROM lineitem")
    out += kw.CTE_STATEMENTS.values()
    out += kw.CTE_REFUSALS.values()
    for pair in kw.COMMENTED.values():
        out += pair
    return out


def _frames_member_texts():
    """The statements the window members hand to ``_sql_frames``."""
    import inspect

    from adt_spark.queries import relational

    seen = []
    saved = (relational._sql_frames, relational.tables)
    relational._sql_frames = lambda spark, sql: seen.append(sql)
    relational.tables = lambda spark, sf_dir: None
    try:
        for name, fn in sorted(vars(relational).items()):
            if (
                inspect.isfunction(fn)
                and name.startswith("q_")
                and "_sql_frames(" in inspect.getsource(fn)
            ):
                fn(None, "")
    finally:
        relational._sql_frames, relational.tables = saved
    return seen


class _StatementRecorder:
    """pytest plugin: records every statement the window test modules
    hand to the dialect entry points while they run."""

    _ENTRY_POINTS = (
        ("adt_spark.dialect.window_frames", "rewrite_window_frames"),
        ("adt_spark.dialect.keyed_windows", "compress_keyed_windows"),
        ("adt_spark.dialect.keyed_windows", "rewrite_windows"),
        ("adt_spark.dialect.translate", "translate_sql"),
        ("adt_spark.dialect.global_rank", "maybe_rewrite_global_rank"),
    )

    def __init__(self):
        self.seen: list[str] = []

    def pytest_configure(self, config):
        import importlib

        # in import order, so a module that imports an earlier entry
        # point by name binds the recording wrapper
        for module, name in self._ENTRY_POINTS:
            mod = importlib.import_module(module)
            setattr(mod, name, self._wrap(getattr(mod, name)))

    def _wrap(self, fn):
        def recording(*args, **kwargs):
            self.seen += [a for a in args if isinstance(a, str)]
            return fn(*args, **kwargs)

        return recording


def _recorded_test_statements():
    """Every statement the window test modules run through the passes
    (their composed and generated statements included)."""
    here = pathlib.Path(__file__).resolve().parent
    recorder = _StatementRecorder()
    pytest.main(
        ["-q", "-p", "no:cacheprovider", *(str(here / m) for m in _WINDOW_TEST_MODULES)],
        plugins=[recorder],
    )
    return recorder.seen


def _corpus():
    import ast

    from adt_spark.operators import sampling
    from adt_spark.queries import load_all

    texts = [q.oracle for _, q in sorted(load_all().items()) if q.oracle]
    texts += _frames_member_texts()
    texts += [v for k, v in sorted(vars(sampling).items()) if k.startswith("_SQL_") and isinstance(v, str)]
    # perfbench's window statements, read without importing its modules
    bench = pathlib.Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"
    texts += [
        node.value.value
        for node in ast.parse(bench.read_text()).body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and getattr(node.targets[0], "id", "").endswith("_STMT")
    ]
    texts += _test_literals()
    texts += _keyed_composed()
    texts += _recorded_test_statements()
    return list(dict.fromkeys(texts))


def _write_fixture():
    import os
    import sys
    import warnings

    here = pathlib.Path(__file__).resolve().parent
    sys.path[:0] = [str(here), str(here.parent)]
    os.environ.pop("ADT_KEYED_WINDOWS", None)
    warnings.simplefilter("ignore")
    entries = [_entry(sql) for sql in _corpus()]
    _FIXTURE.parent.mkdir(exist_ok=True)
    _FIXTURE.write_text(json.dumps(entries, indent=1, sort_keys=True) + "\n")
    engaged = sum(1 for e in entries if isinstance(e.get("global_rank_translated"), list))
    print(f"{len(entries)} statements, global rewrite engaged on {engaged}")


if __name__ == "__main__":
    _write_fixture()
