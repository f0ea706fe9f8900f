"""In-memory span tracing around the engine's public calls.

``Tracer.install()`` replaces each listed attribute (a method on a class
or a function in a module) with a wrapper that records a span: name,
layer, start, end, parent span and operation id. ``restore()`` puts the
originals back, so untraced rounds run the unmodified engine. Nothing in
the engine's own files changes.

Spark work is attributed per span through the job group: entering a span
sets ``spark.jobGroup.id`` on the calling thread to the span's id and
leaving it restores the parent's. Jobs are read back from the driver's
status store once, when the run ends (``spark_jobs()``), so tracing adds one
py4j call per span boundary and nothing per job. Work Spark runs on its
own threads (Structured Streaming micro-batches) carries the stream's
group, so a drain's jobs are counted by submission time instead.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int  # id of the timed operation (root span) it belongs to
    parent: int | None
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)


# (module, attribute path, span name, layer). Layers are the engine's
# module names; "spark" marks DataFrame actions, where Spark executes.
TARGETS = [
    ("glue_hudi_spark.pipeline", "CdcPipeline.process_table",
     "pipeline.process_table", "pipeline"),
    ("glue_hudi_spark.sources.batch", "BookmarkedScan.read_batch",
     "sources.read_batch", "sources"),
    ("glue_hudi_spark.sources.batch", "BookmarkedScan.commit",
     "sources.ledger_commit", "sources"),
    ("glue_hudi_spark.operators.cdc", "lowercase_columns",
     "cdc.lowercase_columns", "cdc"),
    ("glue_hudi_spark.operators.cdc", "dedup_latest_by_key",
     "cdc.dedup_latest_by_key", "cdc"),
    ("glue_hudi_spark.operators.cdc", "apply_cdc_batch",
     "cdc.apply_cdc_batch", "cdc"),
    ("glue_hudi_spark.storage.native", "NativeTable.bulk_insert",
     "native.bulk_insert", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.upsert",
     "native.upsert", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.delete",
     "native.delete", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.merge",
     "native.merge", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.read_keys",
     "native.read_keys", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.read_snapshot",
     "native.read_snapshot", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.read_incremental",
     "native.read_incremental", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.change_feed",
     "native.change_feed", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.register_view",
     "native.register_view", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.export_snapshot",
     "native.export_snapshot", "native"),
    ("glue_hudi_spark.storage.native", "NativeTable.last_stream_batch_id",
     "native.last_stream_batch_id", "native"),
    ("glue_hudi_spark.storage.commits", "CommitTimeline.latest",
     "commits.latest", "commits"),
    ("glue_hudi_spark.storage.commits", "CommitTimeline.history",
     "commits.history", "commits"),
    ("glue_hudi_spark.storage.commits", "CommitTimeline.at",
     "commits.at", "commits"),
    ("glue_hudi_spark.catalog", "register_snapshot",
     "catalog.register_snapshot", "catalog"),
    ("glue_hudi_spark.sql", "GhsSql.sql", "sql.sql", "sql"),
    ("glue_hudi_spark.streaming.replicate",
     "TableReplicationStream.run_available",
     "replicate.run_available", "replicate"),
    ("glue_hudi_spark.streaming.materialized", "MaterializedAgg.refresh",
     "materialized.refresh", "materialized"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect",
     "spark.collect", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count",
     "spark.count", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.first",
     "spark.first", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.take",
     "spark.take", "spark"),
    ("pyspark.sql.classic.dataframe", "DataFrame.isEmpty",
     "spark.isEmpty", "spark"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save",
     "spark.write", "spark"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet",
     "spark.write", "spark"),
]

# layers whose calls never launch Spark jobs: no job-group switch needed
_NO_JOBS = {"commits"}


class Tracer:
    """Collects spans while installed; one instance per run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._op = 0
        self._main: list[Span] = []  # span stack of the thread running ops

    # -- span bookkeeping -------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        # a span opened on another thread (a stream's foreachBatch) hangs
        # off the innermost span open on the thread running the operation
        outer = stack or self._main
        parent = outer[-1] if outer else None
        with self._lock:
            sp = Span(len(self.spans), name, layer, self._op,
                      parent.sid if parent else None, time.time())
            self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.sid)
        stack.append(sp)
        if layer not in _NO_JOBS:
            self.sc.setLocalProperty(GROUP_PROP, f"lb-{sp.sid}")
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        if sp.layer not in _NO_JOBS:
            outer = next((s for s in reversed(stack)
                          if s.layer not in _NO_JOBS), None)
            self.sc.setLocalProperty(
                GROUP_PROP, f"lb-{outer.sid}" if outer else None)

    @contextlib.contextmanager
    def op(self, name: str):
        """One timed operation: a root span with a fresh operation id."""
        self._op += 1
        self._main = self._stack()
        sp = self._open(name, "bench")
        try:
            yield sp
        finally:
            self._close(sp)

    # -- patching ---------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        return traced

    def install(self) -> None:
        for mod_name, path, name, layer in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, layer))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path) -> None:
        """Write every span as one JSON line (times in epoch seconds)."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "sid": sp.sid, "name": sp.name, "layer": sp.layer,
                    "op": sp.op, "parent": sp.parent, "start": sp.start,
                    "end": sp.end}) + "\n")

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """sid -> span duration minus the part its children cover."""
        out = {}
        for sp in self.spans:
            ivs = sorted(
                (max(sp.start, self.spans[c].start),
                 min(sp.end, self.spans[c].end))
                for c in sp.children)
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = max(0.0, (sp.end - sp.start) - covered)
        return out


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float  # epoch seconds
    tasks: int
    stages: int


def spark_jobs(sc) -> list[Job]:
    """Every job the driver's status store retains, with its group,
    submission time and task and stage counts. Call once, at run end,
    after the listener bus has drained."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    it = jsc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        grp = j.jobGroup()
        sub = j.submissionTime()
        out.append(Job(j.jobId(), grp.get() if grp.isDefined() else None,
                       sub.get().getTime() / 1000.0 if sub.isDefined()
                       else 0.0, j.numTasks(), j.stageIds().size()))
    return out
