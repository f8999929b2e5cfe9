"""One staging loop, one match scan, one commit builder.

``adt_spark/sources/delta_native_write.py`` once kept three staging
engines, six copies of the match-file scan, fourteen hand-built
``commitInfo`` blocks and seven hand-built ``remove`` blocks; the copies
drifted (a DML rewrite named partition directories in a different
column order than an append).  Every operation now goes through
``_stage``, ``_match_scan`` and ``_commit`` (with ``_remove`` and
``_metadata``), and ``_dv_enabled`` reads the deletion-vector property.
This guard fails when a second copy of any of them comes back, or when
a deleted staging engine's name reappears.
"""

from __future__ import annotations

import ast
import pathlib

_PKG = pathlib.Path(__file__).resolve().parent.parent / "adt_spark"
_WRITER = _PKG / "sources" / "delta_native_write.py"

#: log actions built in one place each
_ACTIONS = ("commitInfo", "remove", "metaData")
#: the staging engines the one staging loop replaced
_FORMER_STAGING = {
    "_stage_and_collect",
    "_stage_and_collect_url",
    "_stage_into_table",
    "_stage_local_adds",
    "_stage_local_upload_s3",
    "_rename_into_table",
    "_collect_staged_files",
    "_collect_staged_files_url",
}


def _duplicates(tree: ast.AST) -> dict[str, int]:
    """How often the module builds each log action as a dict literal,
    calls ``input_file_name()`` and looks up
    ``delta.enableDeletionVectors``."""
    counts = dict.fromkeys([*_ACTIONS, "input_file_name", "enableDeletionVectors"], 0)
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            for key, value in zip(node.keys, node.values):
                if (
                    isinstance(key, ast.Constant)
                    and key.value in _ACTIONS
                    and isinstance(value, ast.Dict)
                ):
                    counts[key.value] += 1
        elif isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "input_file_name":
                counts["input_file_name"] += 1
            if name == "get" and any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "enableDeletionVectors" in a.value
                for a in node.args[:1]
            ):
                counts["enableDeletionVectors"] += 1
        elif isinstance(node, ast.Subscript):
            s = node.slice
            if isinstance(s, ast.Constant) and "enableDeletionVectors" in str(s.value):
                counts["enableDeletionVectors"] += 1
    return counts


def _over_one(tree: ast.AST) -> dict[str, int]:
    return {k: v for k, v in _duplicates(tree).items() if v > 1}


def _staging_names(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, ast.alias):
            out.add(node.asname or node.name)
    return out & _FORMER_STAGING


#: the shapes the writer kept before it shared one skeleton: two
#: operations each building their own commitInfo and remove, a DELETE
#: and a DV scan each tagging files, two property parses, and a
#: staging engine of its own
_FORMER_WRITER = '''
def delete_where(spark, location, predicate):
    if str((snap.configuration or {}).get("delta.enableDeletionVectors", "false")).lower() == "true":
        return _delete_with_dvs(spark, location, predicate, snap)
    matches = scan.withColumn("_f", F.input_file_name()).groupBy("_f").count().collect()
    removes.append({"remove": {"path": rel, "deletionTimestamp": ts,
                               "dataChange": True, "partitionValues": pvals}})
    actions = [{"commitInfo": {"timestamp": ts, "operation": "DELETE"}}] + removes
    _atomic_write(_log_path(location, version), actions, spark)


def _delete_with_dvs(spark, location, predicate, snap):
    dv_mode = (snap.configuration or {})["delta.enableDeletionVectors"] == "true"
    hits = scan.withColumn("_f", F.input_file_name()).collect()
    actions = [{"commitInfo": {"timestamp": ts, "operation": "DELETE"}},
               {"remove": {"path": rel, "deletionTimestamp": ts}},
               {"metaData": {"id": snap.table_id}}, {"metaData": {"id": snap.table_id}}]


def _stage_and_collect(df, location, partition_by):
    return _stage_local_adds(df, location, partition_by, _rename_into_table(location))
'''


def test_guard_sees_former_copies():
    """The guard flags each duplicate the shared skeleton removed, and
    not the one builder of each."""
    tree = ast.parse(_FORMER_WRITER)
    assert _over_one(tree) == {
        "commitInfo": 2,
        "remove": 2,
        "metaData": 2,
        "input_file_name": 2,
        "enableDeletionVectors": 2,
    }
    assert _staging_names(tree) == {
        "_stage_and_collect", "_stage_local_adds", "_rename_into_table",
    }
    one_each = (
        'info = {"commitInfo": {"timestamp": ts}}\n'
        'r = {"remove": {"path": rel}}\n'
        'rows.append({"protocol": None, "metaData": m, "add": None})\n'
        'scan.withColumn("_f", F.input_file_name())\n'
        'conf.get("delta.enableDeletionVectors", "false")\n'
        'raise E("disable delta.enableDeletionVectors or use delta-spark")\n'
    )
    assert _over_one(ast.parse(one_each)) == {}


def test_writer_has_one_staging_loop_match_scan_and_commit_builder():
    """``delta_native_write.py`` builds each log action, tags scanned
    files and reads the deletion-vector property in one place."""
    tree = ast.parse(_WRITER.read_text())
    counts = _duplicates(tree)
    assert _over_one(tree) == {}, counts
    assert all(counts.values()), counts  # the one builder of each exists


def test_former_staging_engines_are_gone():
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        names = _staging_names(ast.parse(path.read_text()))
        found += [f"{path.relative_to(_PKG).as_posix()}: {n}" for n in sorted(names)]
    assert not found, found
