"""Traced run: spans around the layers' public entry points.

The tracer wraps entry points of the ``flink_cdc_spark`` layers from the
outside (nothing inside the package is edited) and records one span per
call: name, start, end and parent. Each span tags the Spark jobs it starts
with its own job group, so ``statusTracker()`` can count the jobs, stages
and tasks a span ran. Spark is lazy, so a wrapped call that returns a
DataFrame has it cached and forced with a ``noop`` write inside the span:
the work is charged to the layer that produced the frame, and the layer
downstream reads the cache instead of recomputing it.

A span's layer is the first component of its name (``sinks.lsm.merge`` is
in ``sinks``). A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation, functions as F

LAYERS = ("sources", "expressions", "operators", "pipeline", "streaming", "sinks")

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Spans opened on a thread other than the one that
    created the tracer (a ``foreachBatch`` callback) take the creating
    thread's innermost open span as their parent."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._owner = threading.get_ident()
        self._owner_stack: list = []
        self._local = threading.local()
        self._cached: list = []

    def _stack(self) -> list:
        if threading.get_ident() == self._owner:
            return self._owner_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        else:
            parent = self._owner_stack[-1].id if self._owner_stack else None
        s = Span(next(self._ids), name, parent)
        prev_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, f"perfbench-{s.id}")
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(s)

    def force(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` and materialize it with a noop write."""
        df = df.cache()
        df.write.format("noop").mode("overwrite").save()
        with self._lock:
            self._cached.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame ``force`` cached."""
        with self._lock:
            cached, self._cached = self._cached, []
        for df in cached:
            df.unpersist()

    def count_jobs(self) -> None:
        """Fill each span's jobs/stages/tasks from the status tracker. A
        stage counts when it ran at least one task; skipped stages don't."""
        st = self.sc.statusTracker()
        for s in self.spans:
            for job_id in st.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                s.jobs += 1
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None and stage.numCompletedTasks > 0:
                        s.stages += 1
                        s.tasks += stage.numCompletedTasks

    def write(self, path: str, pass_no: int) -> None:
        """Append the spans as JSON lines, ordered by start time."""
        with open(path, "a") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "pass": pass_no, "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks, **s.attrs,
                }) + "\n")


def self_times(spans) -> dict:
    """Span id -> duration minus the durations of its direct children."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.duration
    return {s.id: s.duration - child.get(s.id, 0.0) for s in spans}


def subtree_totals(spans, root_name: str, attr: str) -> list:
    """For every span named ``root_name``: ``attr`` summed over it and
    all its descendants."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def total(s):
        return getattr(s, attr) + sum(total(k) for k in kids.get(s.id, ()))

    return [total(s) for s in spans if s.name == root_name]


def _dir_bytes(path: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            n += os.path.getsize(os.path.join(dirpath, fn))
    return n


class Instrumentation:
    """Wraps the layers' entry points for the life of a ``with`` block.

    Methods are replaced on their class; module-level functions are
    replaced in every ``flink_cdc_spark`` module that imported them by
    name, so call sites that bound the function at import time are
    wrapped too, or only in the modules named as ``callers``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    # -- patching ----------------------------------------------------------
    def _method(self, cls, attr, wrapper):
        orig = cls.__dict__[attr]
        setattr(cls, attr, functools.wraps(orig)(wrapper(orig)))
        self._undo.append((cls, attr, orig))

    def _function(self, module, attr, wrapper, callers=None):
        orig = getattr(module, attr)
        new = functools.wraps(orig)(wrapper(orig))
        if callers is None:
            callers = [
                mod for mod in list(sys.modules.values())
                if getattr(mod, "__name__", "").startswith("flink_cdc_spark")
            ]
        for mod in callers:
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, new)
                    self._undo.append((mod, name, orig))

    def _spanned(self, name, force=False):
        tracer = self.tracer

        def wrapper(orig):
            def call(*args, **kwargs):
                with tracer.span(name):
                    out = orig(*args, **kwargs)
                    if force and isinstance(out, DataFrame):
                        out = tracer.force(out)
                    return out
            return call
        return wrapper

    def __enter__(self):
        from flink_cdc_spark.operators import coerce
        from flink_cdc_spark.operators.transform import TransformProcessor
        from flink_cdc_spark.pipeline import composer
        from flink_cdc_spark.pipeline.cdc_pipeline import JdbcCdcPipeline
        from flink_cdc_spark.pipeline.schema_coordinator import SchemaCoordinator
        from flink_cdc_spark.sinks import materialize
        from flink_cdc_spark.sinks.lsm_store import LsmStateStore
        from flink_cdc_spark.sources.jdbc_live import JdbcLiveSource
        from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream
        from flink_cdc_spark.streaming.runner import StreamingPipelineRunner

        spanned = self._spanned

        # sinks
        self._method(LsmStateStore, "merge", spanned("sinks.lsm.merge"))
        self._method(LsmStateStore, "compact", spanned("sinks.lsm.compact"))
        self._method(LsmStateStore, "read", self._lsm_read)
        self._method(LsmStateStore, "seal_all", spanned("sinks.lsm.seal"))
        # only the composer's calls: the JDBC chunked snapshot also
        # materializes each chunk, which is source work
        self._function(materialize, "materialize_changelog",
                       spanned("pipeline.compose.materialize", force=True),
                       callers=[composer])
        # expressions + operators
        self._method(TransformProcessor, "__init__",
                     spanned("expressions.compile"))
        self._method(TransformProcessor, "apply", self._transform_apply)
        self._function(coerce, "coerce_envelope_payload",
                       spanned("operators.coerce", force=True))
        # pipeline
        self._method(SchemaCoordinator, "process_schema_change",
                     spanned("pipeline.schema.coordinate"))
        self._method(StreamingPipelineRunner, "_apply_ddl",
                     spanned("pipeline.schema.ddl"))
        self._method(JdbcCdcPipeline, "_apply_sink_schema",
                     spanned("pipeline.schema.ddl"))
        self._method(JdbcCdcPipeline, "bootstrap",
                     spanned("pipeline.cdc.bootstrap"))
        self._method(JdbcCdcPipeline, "poll_once", spanned("pipeline.cdc.poll"))
        self._method(JdbcCdcPipeline, "_repair_touched_keys",
                     spanned("pipeline.cdc.repair"))
        # sources
        self._method(JdbcLiveSource, "read",
                     spanned("sources.jdbc.snapshot", force=True))
        self._method(JdbcLiveSource, "read_log_envelope",
                     spanned("sources.jdbc.log_read", force=True))
        self._method(JdbcLiveSource, "detect_schema_changes",
                     spanned("sources.jdbc.ddl_probe"))
        # streaming
        self._method(StreamingPipelineRunner, "process_batch",
                     self._process_batch)
        self._method(RetractAggregateStream, "_merge_epoch",
                     spanned("streaming.epoch"))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        return False

    # -- wrappers that record more than a span -------------------------------
    def _lsm_read(self, orig):
        tracer = self.tracer

        def read(store, table, *args, **kwargs):
            m = store._load(table)
            with tracer.span("sinks.lsm.read") as s:
                out = orig(store, table, *args, **kwargs)
                if out is not None:
                    out = tracer.force(out)
            if m is not None:
                s.attrs["deltas"] = len(m["deltas"]) + (m["base"] is not None)
                s.attrs["state_bytes"] = _dir_bytes(store._dir(table))
            return out
        return read

    def _transform_apply(self, orig):
        tracer = self.tracer

        def apply(proc, df):
            with tracer.span("operators.transform.apply") as s:
                obs_in, obs_out = Observation(), Observation()
                n = F.count(F.lit(1)).alias("n")
                out = orig(proc, df.observe(obs_in, n))
                out = tracer.force(out.observe(obs_out, n))
                s.attrs["rows_in"] = obs_in.get["n"]
                s.attrs["rows_out"] = obs_out.get["n"]
            return out
        return apply

    def _process_batch(self, orig):
        tracer = self.tracer

        def process_batch(runner, batch, batch_id):
            with tracer.span("streaming.epoch"):
                with tracer.span("sources.wire.decode"):
                    batch = tracer.force(batch)
                return orig(runner, batch, batch_id)
        return process_batch
