#!/usr/bin/env python3
"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py

Runs every workload once with ``--tiny``, untraced and traced, and
asserts that each run emits every metric ``BENCHMARK.json`` names with
its unit, that every operation's output was checked, that the record
maps each per-layer metric to the end-to-end metric it should move, and
that each workload stresses its layer (the global-window rewrite fires
on window_sql and no dialect pass on tpch_sf1; every corpus_pipeline
pass fills memos and its Delta reads replay a growing log).  It also
checks that the benchmark refuses to run, without a result, when the
engine is missing.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, seconds: int = 1, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_run(spec: dict, workload: str, trace: int, seconds: int = 1) -> None:
    proc = run(workload, trace, seconds)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1 and result["failed"] == 0, result
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, sorted(set(got) ^ {m["name"] for m in wanted})
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m
    with open(json.loads(lines[-2])["record"]) as fh:
        record = json.load(fh)
    ops = record["operations"]
    assert len(ops) == result["attempted"] and all("ok" in op for op in ops), ops
    assert all(op["ok"] for op in ops), [op for op in ops if not op["ok"]]
    assert set(record["layer_targets"]) == {m["name"] for m in spec["per_layer"]}
    assert record["host"]["nproc"] >= 1 and record["host"]["pyspark"], record["host"]
    if workload == "window_sql":
        assert [p["name"] for p in record["probes"]] == ["keyed_star"], record["probes"]
        assert all("ok" in p for p in record["probes"])
    if trace:
        assert record["spans"], "traced run recorded no spans"
        check_layers(workload, got, record)
    print(f"ok  {workload} trace={trace}: {result['attempted']} operations checked")


def check_layers(workload: str, got: dict, record: dict) -> None:
    """Each workload stresses the layer it was chosen for."""
    value = {name: m["value"] for name, m in got.items()}
    if workload == "window_sql":
        assert value["dialect.global_rank_fired"] > 0 and value["dialect.build_jobs"] > 0, value
    if workload == "tpch_sf1":
        fired = [n for n in value if n.endswith("_fired") and value[n]]
        assert not fired and value["dialect.build_jobs"] == 0, value
    if workload == "corpus_pipeline":
        for cycle in {op["cycle"] for op in record["operations"]}:
            ops = [op for op in record["operations"] if op["cycle"] == cycle]
            assert sum(op["counts"].get("operators.memo_fills", 0) for op in ops) > 0, cycle
        reads = [op["counts"].get("sources.log_files_read", 0)
                 for op in record["operations"] if op["name"] == "land"]
        assert len(reads) > 1 and reads == sorted(reads) and reads[-1] > reads[0], reads


def check_refuses_without_engine() -> None:
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    bare = os.path.join(ROOT, ".perfbench_cache", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = run("window_sql", 0, cwd=bare)
        assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  refuses to run without the engine")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_refuses_without_engine()
    for w in spec["workloads"]:
        check_run(spec, w["name"], 0)
    check_run(spec, "tpch_sf1", 0)
    for name in ("window_sql", "tpch_sf1"):
        check_run(spec, name, 1)
    check_run(spec, "corpus_pipeline", 1, seconds=30)  # two passes: the log grows
    return 0


if __name__ == "__main__":
    sys.exit(main())
