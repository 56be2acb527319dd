"""Traced-run support: spans around the engine's public functions, and
Spark's own counters attributed to those spans from the event log.

Spans are recorded by wrapping module attributes at their call sites
(``etl_bom_radiation_spark.ingest.write_points`` is the name
``ingest_batch`` resolves, so patching it there sees every call) and are
held in memory until the run ends.  Jobs and stages are attributed by
submission time to the innermost span open then, not by job group:
compaction folds partitions on a thread pool, adaptive execution submits
its query stages from its own threads, and PySpark job groups are
thread-local.

Lazy pins need one more rule.  The ``queries`` LSH helpers build lazy
plans and pin them with ``localCheckpoint(eager=False)``.  Under adaptive
execution the pin call itself runs the plan's exchanges and broadcasts,
but the plan's final stage runs later, inside whichever job first reads
the pin.  So a helper span owns the pin of the frame it returns:
``queries.band_frame`` and ``queries.hashed_sets`` return pinned frames,
and ``queries.shard_verdicts`` returns the verdict plan its caller pins,
so that pin call is traced as a second span of the same name.  The first
completed stage that computes an owned pin goes to its owner, whatever
span submitted it.  A stage is attributed whole, so that stage also
carries the consumer's narrow work pipelined onto it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

#: (module under etl_bom_radiation_spark, attribute, span name).  The span
#: name is the layer that owns the function, whatever module calls it.
WRAPPED = (
    ("session", "get_spark", "session.get_spark"),
    ("ingest", "ingest_batch", "ingest.ingest_batch"),
    ("ingest", "write_points", "ingest.write_points"),
    ("ingest", "register_batch_partitions", "workspace.register_batch_partitions"),
    ("manifest", "refresh_manifest", "manifest.refresh_manifest"),
    ("ingest", "compact_partitions", "ingest.compact_partitions"),
    ("lsh_index", "admit_batch", "lsh_index.admit_batch"),
    ("lsh_index", "hashed_sets", "queries.hashed_sets"),
    ("lsh_index", "band_frame", "queries.band_frame"),
    ("lsh_index", "shard_verdicts", "queries.shard_verdicts"),
    ("lsh_index", "compact_lsh_index", "lsh_index.compact_lsh_index"),
)

#: spans that own the lazy pin of the frame they return
PIN_OWNERS = {"queries.hashed_sets", "queries.band_frame", "queries.shard_verdicts"}

#: counters every span carries, besides its self time
COUNTERS = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "input_records")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    self_s: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    #: CPU of stages that write shuffle output but read none (map side)
    map_cpu_s: float = 0.0
    output_bytes: int = 0


def _pinned_rdd(df) -> tuple[str, int] | None:
    """(application id, RDD id) behind a frame that is a bare pin, else None."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return df.sparkSession.sparkContext.applicationId, plan.rdd().id()


class Tracer:
    """Records spans while ``active``; a pass-through otherwise."""

    def __init__(self) -> None:
        self.active = False
        self.op: int | None = None
        self.spans: list[Span] = []
        #: (application id, RDD id) of an owned pin -> owning span id
        self.pins: dict[tuple[str, int], int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def install(self) -> None:
        """Replace each WRAPPED function by its traced wrapper, for the rest
        of the process."""
        import importlib

        for mod_name, attr, name in WRAPPED:
            module = importlib.import_module(f"etl_bom_radiation_spark.{mod_name}")
            setattr(module, attr, self._wrap(getattr(module, attr), name))

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            span = Span(len(self.spans), name, time.time(), 0.0, parent, self.op)
            self.spans.append(span)
        stack.append(span.id)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self._span(name) as span:
                out = fn(*args, **kwargs)
            if name in PIN_OWNERS:
                self._own(out, span)
            return out

        return traced

    def _own(self, df, span: Span) -> None:
        """Let ``span`` own the pin of ``df``; when ``df`` is not pinned yet,
        trace the caller's pin of it as a span of the same name."""
        pin = _pinned_rdd(df)
        if pin is not None:
            self.pins.setdefault(pin, span.id)
            return
        checkpoint = df.localCheckpoint

        @functools.wraps(checkpoint)
        def traced_checkpoint(*args, **kwargs):
            if not self.active:
                return checkpoint(*args, **kwargs)
            with self._span(span.name) as pin_span:
                out = checkpoint(*args, **kwargs)
            self._own(out, pin_span)
            return out

        df.localCheckpoint = traced_checkpoint

    def attribute(self, event_dir: str) -> int:
        """Fill self time and Spark counters; returns the number of jobs that
        fell outside every span."""
        children = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] += s.end - s.start
        for s in self.spans:
            s.self_s = (s.end - s.start) - children[s.id]
        jobs, stages = _events(event_dir)
        unattributed = 0
        for submitted in jobs:
            span = self._innermost(submitted)
            if span is None:
                unattributed += 1
            else:
                span.counters["jobs"] += 1
        # the first completed stage computing an owned pin goes to its owner
        # (for two pins in one stage, the later RDD is the stage's output)
        owner: dict[int, Span] = {}
        for pin, sid in sorted(self.pins.items(), key=lambda kv: kv[0][1]):
            computing = [i for i, st in enumerate(stages) if pin in st["rdds"]]
            if computing:
                owner[min(computing, key=lambda i: stages[i]["submitted"])] = self.spans[sid]
        for i, st in enumerate(stages):
            span = owner.get(i) or self._innermost(st["submitted"])
            if span is None:
                continue
            c = span.counters
            c["tasks"] += st["tasks"]
            c["cpu_s"] += st["cpu_ns"] / 1e9
            c["gc_s"] += st["gc_ms"] / 1e3
            c["shuffle_mb"] += (st["shuffle_write"] + st["shuffle_read"]) / 2**20
            c["input_records"] += st["input_records"]
            span.output_bytes += st["output_bytes"]
            if st["shuffle_write"] and not st["shuffle_read"]:
                span.map_cpu_s += st["cpu_ns"] / 1e9
        return unattributed

    def _innermost(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _metric(accums: list, name: str) -> int:
    for a in accums:
        if a.get("Name") == f"internal.metrics.{name}":
            return int(a.get("Value") or 0)
    return 0


def _events(event_dir: str) -> tuple[list[float], list[dict]]:
    """Submission times (seconds) of every job, and the stats of every
    completed stage, from the uncompressed event logs in ``event_dir``.
    A stage is listed once, however many jobs name it."""
    jobs: list[float] = []
    stages: list[dict] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        app = None
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerApplicationStart":
                    app = ev["App ID"]
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = info.get("Accumulables", [])
                    stages.append({
                        # RDD ids restart with every SparkContext
                        "rdds": {(app, r["RDD ID"]) for r in info.get("RDD Info", [])},
                        "submitted": info["Submission Time"] / 1e3,
                        "tasks": info["Number of Tasks"],
                        "cpu_ns": _metric(acc, "executorCpuTime"),
                        "gc_ms": _metric(acc, "jvmGCTime"),
                        "shuffle_write": _metric(acc, "shuffle.write.bytesWritten"),
                        "shuffle_read": _metric(acc, "shuffle.read.localBytesRead")
                        + _metric(acc, "shuffle.read.remoteBytesRead"),
                        "input_records": _metric(acc, "input.recordsRead"),
                        "output_bytes": _metric(acc, "output.bytesWritten"),
                    })
    return jobs, stages
