"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from outside the engine: the benchmark replaces the
public entry point of each layer, in every loaded ``adt_spark`` module
that holds it, with a wrapper that times the call and counts what it
did.  ``ADTContext.sql`` imports its helpers at call time, so a module
attribute wrapper reaches those calls too.  Spans stay in memory and
are written out when the run ends.

Spark's own counters come from the JVM status store, which is kept
even with the UI disabled.  Jobs are attributed to an interval by job
id, not by job group, because some engine code submits jobs from
threads that do not carry the caller's group.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, layer) of every wrapped entry point.  The layer
#: names the span; its self time is reported as ``<layer>_s``.  Calls
#: into ``COUNT_ONLY`` layers are counted without a span.
ENTRY_POINTS = [
    ("adt_spark.dialect.translate", "translate_sql", "dialect.translate"),
    ("adt_spark.dialect.window_frames", "rewrite_window_frames", "dialect.frames"),
    ("adt_spark.dialect.keyed_windows", "compress_keyed_windows", "dialect.keyed"),
    ("adt_spark.dialect.global_rank", "maybe_rewrite_global_rank", "dialect.global_rank"),
    ("adt_spark.dialect.ddl", "execute_create_external_table", "dialect.ddl"),
    ("adt_spark.sources.delta_dml", "execute_delta_dml", "sources.dml"),
    ("adt_spark.sources.delta_native", "replay_snapshot", "sources.replay"),
    ("adt_spark.sources.delta_native", "read_delta_native", "sources.read"),
    ("adt_spark.sources.delta_native", "_read_file", "sources.read_file"),
    ("adt_spark.sources.delta_native_write", "write_delta_native", "sources.write"),
    ("adt_spark.sources.delta_native_write", "_atomic_write", "sources.commit"),
    ("adt_spark.sources.registry", "register_table", "sources.register"),
    ("adt_spark.cli", "main", "cli.view"),
    ("adt_spark.context", "register_sf_tables", "context.register"),
    ("adt_spark.queries", "load_all", "queries.load_all"),
]


COUNT_ONLY = {"sources.read_file"}


class Tracer:
    """Spans and counters of one run, grouped by operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "op": self.op,
            "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[self.op][name] += n

    def self_times(self, op: str | None = None) -> dict[str, float]:
        """Seconds per layer spent in the layer itself, not in child
        spans, summed over ``op`` (or every operation)."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s and (op is None or s["op"] == op):
                out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    # -- wrapping -----------------------------------------------------
    def install(self) -> None:
        """Wrap every entry point, in each loaded ``adt_spark`` module
        that binds it."""
        for mod_name, attr, layer in ENTRY_POINTS:
            __import__(mod_name)
            fn = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrap(fn, layer)
            for mod in [m for n, m in sys.modules.items() if n.startswith("adt_spark")]:
                if getattr(mod, attr, None) is fn:
                    self._patch(mod, attr, wrapped)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def _patch(self, obj, attr: str, value) -> None:
        self._restore.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def _wrap(self, fn, layer: str):
        observe = _OBSERVERS.get(layer)
        tracer = self

        def traced(*args, **kwargs):
            if layer in COUNT_ONLY:
                out = fn(*args, **kwargs)
            else:
                with tracer.span(layer):
                    out = fn(*args, **kwargs)
            if observe is not None:
                observe(tracer, args, out)
            return out

        traced.__wrapped__ = fn
        return traced


def _frames_fired(tracer: Tracer, args, out) -> None:
    tracer.count("dialect.frames_fired", out != args[0])


def _keyed_fired(tracer: Tracer, args, out) -> None:
    tracer.count("dialect.keyed_fired", out is not None)


def _global_rank_fired(tracer: Tracer, args, out) -> None:
    tracer.count("dialect.global_rank_fired", out is not None)


def _log_file_read(tracer: Tracer, args, out) -> None:
    if "_delta_log" in str(args[1]):
        tracer.count("sources.log_files_read")


def _commit(tracer: Tracer, args, out) -> None:
    for action in args[1]:
        if "add" in action:
            tracer.count("sources.files_added")
            tracer.count("sources.bytes_written", action["add"].get("size", 0))
        elif "remove" in action:
            tracer.count("sources.files_removed")


_OBSERVERS = {
    "dialect.frames": _frames_fired,
    "dialect.keyed": _keyed_fired,
    "dialect.global_rank": _global_rank_fired,
    "sources.read_file": _log_file_read,
    "sources.commit": _commit,
}


class SparkCounters:
    """Job and stage counters of an interval, read from the JVM status
    store (works with ``spark.ui.enabled=false``)."""

    #: StageData getter → (counter name, scale to the reported unit)
    STAGE_FIELDS = {
        "numTasks": ("exec.tasks", 1),
        "executorRunTime": ("exec.executor_run_s", 1e-3),
        "executorCpuTime": ("exec.executor_cpu_s", 1e-9),
        "jvmGcTime": ("exec.gc_s", 1e-3),
        "inputBytes": ("exec.input_bytes", 1),
        "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
        "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
        "memoryBytesSpilled": ("exec.spill_bytes", 1),
        "diskBytesSpilled": ("exec.spill_bytes", 1),
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # events reach the status store through the listener bus;
        # wait for it so an interval's last stages are counted
        self.jsc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self._drain()
        return max((j.jobId() for j in _seq(self.jsc.statusStore().jobsList(None))), default=-1) + 1

    def jobs_between(self, lo: int, hi: int) -> list:
        return [j for j in _seq(self.jsc.statusStore().jobsList(None)) if lo <= j.jobId() < hi]

    def job_summary(self, lo: int, hi: int, group: str | None) -> dict[str, int]:
        """Jobs with ids in ``[lo, hi)``, and how many of them ran
        outside job group ``group``."""
        jobs = self.jobs_between(lo, hi)
        outside = 0
        for j in jobs:
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                outside += 1
        return {"jobs": len(jobs), "ungrouped": outside}

    def stage_totals(self, lo: int, hi: int) -> dict[str, float]:
        """Summed stage metrics of the jobs with ids in ``[lo, hi)``."""
        self._drain()
        stage_ids = set()
        for j in self.jobs_between(lo, hi):
            stage_ids.update(_seq(j.stageIds()))
        out: dict[str, float] = defaultdict(float)
        if not stage_ids:
            return out
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for st in _seq(self.jsc.statusStore().stageList(empty, False, False, quantiles, empty)):
            if st.stageId() not in stage_ids:
                continue
            for getter, (name, scale) in self.STAGE_FIELDS.items():
                out[name] += getattr(st, getter)() * scale
        return out

    def cached_bytes(self) -> int:
        """Bytes the block manager holds for cached or checkpointed data."""
        return sum(
            info.memSize() + info.diskSize() for info in self.jsc.getRDDStorageInfo()
        )


def _seq(seq) -> list:
    """The elements of a Scala ``Seq`` returned through py4j."""
    return [seq.apply(i) for i in range(seq.size())]
