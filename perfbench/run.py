#!/usr/bin/env python3
"""The repository's benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload window_sql --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The engine runs on ``local[nproc]``
in this process; one client sends the next operation when the previous
one has finished.  Inputs are generated from ``--seed`` (and cached
under ``.perfbench_cache/``) before any clock starts.

A run sets the engine up five times and reports the median as
``setup_s``: the first set-up starts the JVM, the others rebuild the
session on it.  Each set-up builds ``ADTContext``, loads the query
registry, registers the workload's tables and runs a first statement.
The timed loop then runs the workload's untimed warm-up cycle, and then
its operations in cycle order until ``--seconds`` of operation time is
reached (at least one whole cycle).  Outputs are checked after the loop.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the entry points of every layer are wrapped (see ``tracing.py``) and the
metrics are per layer: seconds are self time per operation, counts are
per operation, unless a name says otherwise.  The full record of a run
(host, every operation, every span) is written under
``.perfbench_cache/results/``.

End-to-end, ``latency_p50_s`` is each operation's median wall time over
the timed cycles, combined over the workload's operations by geometric
mean, so every operation weighs the same whatever its cost and the
figure does not jump from one operation to the next as the number of
timed cycles changes; ``ops_per_s`` is timed operations per second of
timed operation time.  The plain median and the tail percentile over all
timed operations are kept in the record.

``--tiny`` runs on small inputs for the benchmark's self-test.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import statistics
import sys
import tempfile
import time
import traceback

import datagen
from checks import digest_frame
from tracing import SparkCounters, Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: What each per-layer metric should move, by metric-name prefix.
LAYER_TARGETS = {
    "context.": "setup_s on every workload",
    "queries.": "setup_s on every workload",
    "dialect.": "latency_p50_s and ops_per_s on window_sql; about zero elsewhere",
    "catalyst.": "latency_p50_s on every workload, as a small share",
    "exec.": "ops_per_s on every workload; most of each operation on tpch_sf1",
    "sources.": "latency_p50_s on corpus_pipeline, through its Delta reads and writes",
    "cli.": "latency_p50_s on corpus_pipeline, through its Delta previews",
    "delta.": "latency_p50_s on corpus_pipeline, through its Delta reads and writes",
    "operators.": "latency_p50_s on corpus_pipeline, and process.peak_rss_mb",
    "process.": "none: the memory a user sees, ungated because JVM heap growth "
    "spreads it by 20-40% between runs",
    "trace.": "none: minus the untraced latency_p50_s, it is the tracing overhead",
}
SETUP_LAYERS = ["context.session", "queries.load_all", "context.register"]

SETUPS = 5


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="small inputs (self-test)")
    return p.parse_args(argv)


def rss_peak_mb(pid: int) -> float:
    """VmHWM of ``pid`` in MB (0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_rss_peak() -> None:
    """Restart this process's VmHWM, so input generation before the
    set-up does not count towards the peak."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile of ``xs``."""
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, its
    value and that sample count; the median when there are too few."""
    p = max(50.0, 100.0 * (1 - 10 / len(xs)))
    return p, percentile(xs, p), sum(1 for x in xs if x > percentile(xs, p))


class Bench:
    """One run: set-ups, the timed loop, checks and the report."""

    def __init__(self, args, workload) -> None:
        self.args = args
        self.wl = workload
        self.tracer = Tracer() if args.trace else None
        self.ctx = None
        self.counters = None
        self.setups: list[dict] = []
        self.ops: list[dict] = []
        self.warmup: list[dict] = []
        self.probes: list[dict] = []

    # -- set-up -------------------------------------------------------
    def setup(self, i: int) -> None:
        if self.ctx is not None:
            self.ctx.spark.stop()
        if self.tracer:
            self.tracer.op = f"setup-{i}"
        t0 = time.perf_counter()
        with self.span("context.session"):
            from adt_spark import ADTContext

            self.ctx = ADTContext(
                app_name="perfbench",
                # keep the JVM's temporary files inside the checkout
                extra_conf={"spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"},
            )
        from adt_spark.context import register_sf_tables
        from adt_spark.queries import load_all

        load_all()
        register_sf_tables(self.ctx.spark, self.wl.data_dir)
        self.ctx.sql(self.wl.first_statement).collect()
        seconds = time.perf_counter() - t0
        self.setups.append({"seconds": seconds})
        self.wl.ctx = self.ctx
        if self.tracer:
            self.counters = SparkCounters(self.ctx.spark)
            self.setups[-1]["layers"] = self.tracer.self_times(f"setup-{i}")

    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracer else contextlib.nullcontext()

    # -- operations ---------------------------------------------------
    def run_op(self, op, op_id: str) -> tuple[dict, object]:
        """Run one operation; returns its record and its result."""
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(op_id, op.name)
        rec = {"id": op_id, "name": op.name, "kind": op.kind}
        tr, cn = self.tracer, self.counters
        if tr:
            tr.op = op_id
            memo0 = memo_keys()
            j0 = cn.next_job_id()
        t0 = time.perf_counter()
        try:
            if op.lazy:
                with self.span("operators.build" if op.kind == "operator" else "build"):
                    df = op.build()
                if tr:
                    j1 = cn.next_job_id()
                frame, finish = digest_frame(df)
                with self.span("catalyst.plan"):
                    if tr:
                        frame._jdf.queryExecution().executedPlan()
                if tr:
                    j2 = cn.next_job_id()
                with self.span("exec"):
                    result = finish(frame.collect())
            else:
                if tr:
                    j1 = j2 = j0
                with self.span("exec"):
                    result = op.build()
            rec["error"] = None
        except Exception as e:  # an operation that raises counts as failed
            result = None
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:500]
            traceback.print_exc(file=sys.stderr)
        rec["seconds"] = time.perf_counter() - t0
        if tr and rec["error"] is None:
            j3 = cn.next_job_id()
            build = cn.job_summary(j0, j1, op_id)
            layer = "operators" if op.kind == "operator" else "dialect"
            tr.count(f"{layer}.build_jobs", build["jobs"])
            if layer == "dialect":
                tr.count("dialect.build_jobs_ungrouped", build["ungrouped"])
            tr.count("exec.jobs", j3 - j2)
            for name, value in cn.stage_totals(j2, j3).items():
                tr.count(name, value)
            tr.count("operators.memo_fills", len(memo_keys() - memo0))
            rec["cached_bytes"] = cn.cached_bytes()
            rec["layers"] = tr.self_times(op_id)
            rec["counts"] = dict(tr.counts[op_id])
        sc.setJobGroup("perfbench-idle", "between operations")
        return rec, result

    def jvm_times(self) -> dict[str, float]:
        """Seconds the JVM has spent in garbage collection and in its
        JIT compiler since it started."""
        mf = self.ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return {
            "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        }

    def timed_loop(self) -> None:
        """The workload's warm-up cycles, then operations in cycle order
        until ``--seconds`` of operation time is reached, at least one
        whole cycle.  Warm-up outputs are discarded unchecked; the timed
        cycles run the same operations."""
        for k in range(self.wl.WARMUP_CYCLES):
            for j, op in enumerate(self.wl.cycle(k)):
                rec, _ = self.run_op(op, f"w{k}-{j}-{op.name}")
                self.warmup.append(rec)
        k = self.wl.WARMUP_CYCLES
        before = self.jvm_times()
        self.cycle_jvm = [before]
        elapsed = 0.0
        while elapsed < self.args.seconds:
            for j, op in enumerate(self.wl.cycle(k)):
                if elapsed >= self.args.seconds and k > self.wl.WARMUP_CYCLES:
                    break
                rec, result = self.run_op(op, f"c{k}-{j}-{op.name}")
                rec.update(cycle=k, result=result, check_fn=op.check)
                self.ops.append(rec)
                elapsed += rec["seconds"]
            self.cycle_jvm.append(self.jvm_times())
            k += 1
        self.loop_seconds = elapsed
        after = self.jvm_times()
        self.loop_jvm = {name: after[name] - before[name] for name in after}
        jvm = self.ctx.spark.sparkContext._gateway.proc.pid
        self.rss_mb = {"python": rss_peak_mb(os.getpid()), "jvm": rss_peak_mb(jvm)}

    def run_probes(self) -> None:
        for j, op in enumerate(self.wl.probes()):
            rec, result = self.run_op(op, f"probe-{j}-{op.name}")
            rec.update(result=result, check_fn=op.check)
            self.probes.append(rec)

    def check(self) -> None:
        for rec in self.ops + self.probes:
            result, check_fn = rec.pop("result"), rec.pop("check_fn")
            if rec["error"] is None:
                try:
                    rec["error"] = check_fn(result)
                except Exception as e:  # a check that cannot run is a failure
                    rec["error"] = f"check failed: {type(e).__name__}: {e}".splitlines()[0]
            rec["ok"] = rec["error"] is None

    # -- report -------------------------------------------------------
    def metrics(self, per_layer: list[str]) -> dict[str, float]:
        lat = [r["seconds"] for r in self.ops]
        p, tail_value, beyond = tail(lat)
        self.tail_info = {"percentile": p, "seconds": tail_value, "samples": len(lat),
                          "beyond": beyond, "median_s": statistics.median(lat)}
        by_op: dict[str, list[float]] = {}
        for r in self.ops:
            by_op.setdefault(r["name"], []).append(r["seconds"])
        e2e = {
            "setup_s": statistics.median(s["seconds"] for s in self.setups),
            "latency_p50_s": statistics.geometric_mean(
                statistics.median(v) for v in by_op.values()
            ),
            "ops_per_s": len(lat) / self.loop_seconds,
        }
        if not self.tracer:
            return e2e
        n = len(self.ops)
        out = dict.fromkeys(per_layer, 0.0)
        for layer in SETUP_LAYERS:
            out[f"{layer}_s"] = statistics.median(
                s["layers"].get(layer, 0.0) for s in self.setups
            )
        for rec in self.ops:
            for layer, seconds in rec.get("layers", {}).items():
                name = "exec.wall_s" if layer == "exec" else f"{layer}_s"
                out[name] = out.get(name, 0.0) + seconds / n
            for name, value in rec.get("counts", {}).items():
                out[name] = out.get(name, 0.0) + value / n
            out["operators.cached_bytes"] = max(
                out["operators.cached_bytes"], rec.get("cached_bytes", 0)
            )
        out["operators.memo_entries"] = len(memo_keys())
        out["trace.latency_p50_s"] = e2e["latency_p50_s"]
        out["process.peak_rss_mb"] = sum(self.rss_mb.values())
        for rec in self.probes:
            if rec["name"] == "keyed_star" and rec["error"]:
                out["dialect.keyed_star_leaked_columns"] = rec["error"].count("__kw_")
        out.update(self.wl.extra_metrics(self.ops))
        return out


def memo_keys() -> set:
    """(memo, key) of every entry in the operators' module-level memos."""
    keys = set()
    for name, mod in list(sys.modules.items()):
        if not name.startswith("adt_spark.operators"):
            continue
        for attr, value in vars(mod).items():
            if attr.endswith("_MEMO") and isinstance(value, dict):
                keys.update((name, attr, repr(k)) for k in value)
    return keys


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_record(ctx) -> dict:
    """What the numbers depend on: cores, memory, load and versions."""
    import duckdb
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    sc = ctx.spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_engine(ctx, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait until
    each has exited, so no process of this run outlives it."""
    from pyspark import SparkContext

    ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{w}") for w in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"engine processes still running: {workers}")
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


def configure_env(cache: str) -> None:
    """Keep every file the run writes inside the checkout."""
    for sub in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(cache, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(cache, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the engine's Python workers import adt_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = os.environ["TMPDIR"]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if not os.path.isfile(os.path.join(ROOT, "adt_spark", "__init__.py")):
        print(f"perfbench: no engine source (adt_spark/) under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    configure_env(datagen.CACHE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    wl = WORKLOADS[args.workload](seed=args.seed, tiny=args.tiny)
    phases, t0 = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        phases[name], t0 = t1 - t0, t1

    wl.prepare()
    phase("prepare")
    reset_rss_peak()
    bench = Bench(args, wl)
    load_start, steal_start = os.getloadavg(), cpu_steal_s()
    try:
        if bench.tracer:
            bench.tracer.install()
        for i in range(SETUPS):
            bench.setup(i)
        phase("setups")
        bench.timed_loop()
        phase("loop")
        bench.run_probes()
        bench.check()
        phase("probes_and_checks")
        metrics = bench.metrics([m["name"] for m in spec["per_layer"]])
        host = host_record(bench.ctx)
    finally:
        if bench.tracer:
            bench.tracer.uninstall()
        wl.cleanup()
        if bench.ctx is not None:
            stop_engine(bench.ctx)
    phase("stop")
    host["loadavg_start"], host["loadavg_end"] = load_start, os.getloadavg()
    host["cpu_steal_s"] = cpu_steal_s() - steal_start
    failed = sum(not r["ok"] for r in bench.ops)
    probe_failed = sum(not r["ok"] for r in bench.probes)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "host": host,
        "setups": bench.setups,
        "loop_seconds": bench.loop_seconds,
        "phases_s": phases,
        "peak_rss_mb": bench.rss_mb,
        "loop_jvm": bench.loop_jvm,
        "cycle_jvm": bench.cycle_jvm,
        "warmup": bench.warmup,
        "tail": bench.tail_info,
        "error_rate": (failed + probe_failed) / (len(bench.ops) + len(bench.probes)),
        "workload_detail": wl.detail,
        "operations": bench.ops,
        "probes": bench.probes,
        "metrics": metrics,
        "layer_targets": {
            m["name"]: next(t for p, t in LAYER_TARGETS.items() if m["name"].startswith(p))
            for m in spec["per_layer"]
        },
        "spans": bench.tracer.spans if bench.tracer else [],
    }
    path = os.path.join(
        datagen.CACHE, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for rec in bench.ops + bench.probes:
        if not rec["ok"]:
            print(f"perfbench: {rec['id']} failed: {rec['error']}", file=sys.stderr)
    print(json.dumps({"record": path, "host": host, "tail": bench.tail_info,
                      "error_rate": record["error_rate"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
