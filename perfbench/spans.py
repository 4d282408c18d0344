"""Span recorder and Spark-metric harvest for the traced benchmark run.

Spans are recorded from the benchmark's side only: public functions the
runner reaches through module or class attributes are wrapped in place, and
each wrapper opens a span with its own Spark job group. Spans stay in
memory; metrics are harvested from the JVM status store after each ingest
job (the UI may be off) and the spans are written out at run end.

Spark is lazy, so a span measures what happens inside the call: the
``sources.*`` and ``operators.validation`` spans time plan construction,
and the fused scan -> coerce -> write execution lands in the sink span.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

#: (module path, attribute owner, attribute names, layer). Owners are
#: resolved lazily so this module imports without the engine.
TARGETS: tuple[tuple[str, str | None, tuple[str, ...], str], ...] = (
    ("dativo_ingest_spark.runner", None,
     ("load_job_with_secrets",), "config"),
    ("dativo_ingest_spark.runner", None, ("run_job",), "runner"),
    ("dativo_ingest_spark.sources.csv_source", None,
     ("read_csv", "changed_files"), "sources.csv_source"),
    ("dativo_ingest_spark.sources.jsonl_source", None,
     ("read_jsonl",), "sources.jsonl_source"),
    ("dativo_ingest_spark.operators.validation", None,
     ("validate",), "operators.validation"),
    ("dativo_ingest_spark.operators.dedup", None,
     ("dedup_minhash_against_index", "index_entries_minhash"),
     "operators.dedup"),
    ("dativo_ingest_spark.sinks.parquet_sink", None,
     ("write_partitioned",), "sinks.parquet_sink"),
    ("dativo_ingest_spark.sinks.table_commit", "FsTable",
     ("merge_upsert", "add_files", "replace_files", "write_append", "read"),
     "sinks.table_commit"),
    ("dativo_ingest_spark.operators.incremental", "StateStore",
     ("get", "set", "get_file_mtimes", "set_file_mtimes"),
     "operators.incremental"),
)


@dataclass
class Span:
    id: int
    layer: str
    fn: str
    parent: int | None
    group: str
    start: float = 0.0            # epoch seconds
    end: float = 0.0
    attrs: dict[str, float] = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)   # jobs of its own group
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def covered(lo: float, hi: float,
            intervals: list[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """Wall time minus the part of it that child spans cover."""
    return (span.end - span.start) - covered(
        span.start, span.end, [(c.start, c.end) for c in children])


def driver_seconds(span: Span, job_intervals: list[tuple[float, float]]
                   ) -> float:
    """Wall time not covered by any of the span's Spark job run intervals
    (its own and its descendants')."""
    return (span.end - span.start) - covered(span.start, span.end,
                                             job_intervals)


def _output_files(path: str) -> int:
    return sum(n.endswith(".parquet")
               for _root, _dirs, names in os.walk(path) for n in names)


def _call_attrs(fn: str, a: dict[str, Any]) -> dict[str, float]:
    """Counts a layer call carries in its (bound) arguments, taken where
    the work happens (per-file sizes ride the staged-file dicts)."""
    if fn == "write_partitioned":
        return {"output_files": _output_files(a["path"])}
    if fn == "add_files":
        return {"bytes_written": sum(f.get("size_bytes", 0)
                                     for f in a["staged"])}
    if fn == "replace_files":
        return {"files_rewritten": len(a["remove_paths"]),
                "bytes_written": sum(f.get("size_bytes", 0)
                                     for f in a["staged"])}
    return {}


class Recorder:
    """Wraps the layer functions and records one span per call while
    ``active``; inactive wrappers call straight through."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.tables: set[tuple[str, str]] = set()   # (root, branch) touched
        self._ids = itertools.count()
        self._patched: list[tuple[Any, str, Callable]] = []

    # -- patching -------------------------------------------------------------

    def install(self) -> None:
        import importlib

        for module, owner, names, layer in TARGETS:
            obj = importlib.import_module(module)
            if owner:
                obj = getattr(obj, owner)
            for name in names:
                original = getattr(obj, name)
                setattr(obj, name, self._wrap(original, name, layer))
                self._patched.append((obj, name, original))

    def uninstall(self) -> None:
        for obj, name, original in reversed(self._patched):
            setattr(obj, name, original)
        self._patched.clear()

    def _wrap(self, original: Callable, name: str, layer: str) -> Callable:
        sig = inspect.signature(original)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            span = self._open(layer, name)
            try:
                return original(*args, **kwargs)
            finally:
                self._close(span)
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                span.attrs.update(_call_attrs(name, bound.arguments))
                if name in ("add_files", "replace_files"):
                    self.tables.add((bound.arguments["self"].root,
                                     bound.arguments["branch"]))
        return wrapper

    def _open(self, layer: str, fn: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        sid = next(self._ids)
        span = Span(sid, layer, fn, parent, f"perfbench-{sid}")
        self.sc.setJobGroup(span.group, f"{layer}.{fn}")
        self.stack.append(span)
        self.spans.append(span)
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(top.group, f"{top.layer}.{top.fn}")
        else:
            self.sc._jsc.clearJobGroup()

    # -- harvest --------------------------------------------------------------

    def next_job_id(self) -> int:
        v = self.sc._jsc.sc().dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    def harvest(self, spans: list[Span]) -> "JobProfile":
        """Fill each span's Spark metrics from its job group. Every stage
        is counted once, under the first job that lists it."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for span in spans:
            span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
            for jid in span.jobs:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    span.job_spans.append((sub.get().getTime() / 1000.0,
                                           done.get().getTime() / 1000.0))
                for sid in tracker.getJobInfo(jid).stageIds:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    span.stages += 1
                    span.run_s += st.executorRunTime() / 1000.0
                    span.cpu_s += st.executorCpuTime() / 1e9
                    span.shuffle_bytes += (st.shuffleReadBytes()
                                           + st.shuffleWriteBytes())
                    span.spill_bytes += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
                    span.input_bytes += st.inputBytes()
                    span.output_bytes += st.outputBytes()
        return JobProfile(spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class JobProfile:
    """Per-layer aggregates of one ingest job's spans."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self._by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {s.id: [] for s in spans}
        for s in spans:
            if s.parent in self.children:
                self.children[s.parent].append(s)

    def _descendants(self, span: Span) -> list[Span]:
        out, todo = [], list(self.children[span.id])
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s.id])
        return out

    def _outermost(self, span: Span) -> bool:
        p = span.parent
        while p is not None and p in self._by_id:
            if self._by_id[p].layer == span.layer:
                return False
            p = self._by_id[p].parent
        return True

    def layers(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            m = out.setdefault(s.layer, {
                "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "calls": 0,
                "spark_jobs": 0, "stages": 0, "executor_run_s": 0.0,
                "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                "input_bytes": 0, "output_bytes": 0})
            m["calls"] += 1
            m["self_s"] += self_seconds(s, self.children[s.id])
            if self._outermost(s):
                m["wall_s"] += s.end - s.start
                intervals = list(s.job_spans)
                for d in self._descendants(s):
                    intervals.extend(d.job_spans)
                m["driver_s"] += driver_seconds(s, intervals)
            m["spark_jobs"] += len(s.jobs)
            m["stages"] += s.stages
            m["executor_run_s"] += s.run_s
            m["executor_cpu_s"] += s.cpu_s
            m["shuffle_bytes"] += s.shuffle_bytes
            m["spill_bytes"] += s.spill_bytes
            m["input_bytes"] += s.input_bytes
            m["output_bytes"] += s.output_bytes
            for k, v in s.attrs.items():
                m[k] = m.get(k, 0) + v
        return out

    def jobs(self) -> int:
        """Spark jobs attributed to any span of the job."""
        return sum(len(s.jobs) for s in self.spans)
