"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
recorder replaces the public entry points of the package's modules with
wrappers that open a span around the call. Nothing inside the package is
edited. Lazy entry points (builders that return a DataFrame) cost nothing
at call time; the benchmark opens its own span around the action that runs
them, so their cost lands in a span of the same layer.

Each span stores its name, start, end, parent, thread and run id, plus the
Spark job, task and failed-task counts of the jobs it started, read through
``setJobGroup`` and ``statusTracker`` for calls made on the benchmark's own
thread (foreachBatch callbacks run on a Py4J callback thread, which has no
group). Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import threading
import time


class NullRecorder:
    """Untraced runs: spans cost one no-op context manager."""

    enabled = False
    phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield


class Recorder:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.phase = "setup"
        self.sc = None
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[tuple[int, str]] = []

    def _stack(self) -> list[tuple[int, str]]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        on_main = stack is self._main_stack
        if stack:
            parent = stack[-1][0]
        else:
            # a callback thread's outermost span belongs to whatever the
            # benchmark thread is waiting in (e.g. a stream drain)
            main_top = self._main_stack[-1:] if not on_main else []
            parent = main_top[0][0] if main_top else None
        sid = next(self._ids)
        group = f"{self.run_id}-{sid}"
        if on_main and self.sc is not None:
            self.sc.setJobGroup(group, name)
        stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {
                "id": sid,
                "name": name,
                "parent": parent,
                "start": start - self.t0,
                "end": end - self.t0,
                "run": self.run_id,
                "phase": self.phase,
                "thread": "main" if on_main else threading.current_thread().name,
                **attrs,
            }
            if on_main and self.sc is not None:
                rec.update(self._job_counts(group))
                if stack:
                    self.sc.setJobGroup(stack[-1][1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    # -- entry-point wrappers ------------------------------------------------

    def wrap(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        """Replace ``owner.attr`` with a spanned twin. ``table_arg`` tags the
        span with the basename of ``self.root`` (the table or index)."""
        raw = inspect.getattr_static(owner, attr)
        func = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        recorder = self

        @functools.wraps(func)
        def spanned(*args, **kwargs):
            attrs = {}
            if table_arg and args and hasattr(args[0], "root"):
                attrs["table"] = os.path.basename(args[0].root.rstrip("/"))
            with recorder.span(name, **attrs):
                return func(*args, **kwargs)

        if isinstance(raw, classmethod):
            spanned = classmethod(spanned)
        elif isinstance(raw, staticmethod):
            spanned = staticmethod(spanned)
        setattr(owner, attr, spanned)

    def install(self) -> None:
        """Wrap every public entry point the workloads reach."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from databricks_etl_pipelines_spark import session
        from databricks_etl_pipelines_spark.ml import fraud
        from databricks_etl_pipelines_spark.operators import dedup, retrieval, similarity
        from databricks_etl_pipelines_spark.plans import medallion
        from databricks_etl_pipelines_spark.sources import managed_table
        from databricks_etl_pipelines_spark.streaming import structured

        self.wrap(session, "get_spark", "session.get_spark")
        for op in ("merge_upsert", "append", "create_or_overwrite", "optimize"):
            self.wrap(managed_table.ManagedTable, op, f"managed_table.{op}", table_arg=True)
        for op in ("ingest_bronze", "run_silver", "run_gold"):
            self.wrap(medallion.MedallionPipeline, op, f"medallion.{op}")
        self.wrap(medallion, "silver_transform", "medallion.silver_transform")
        self.wrap(structured.StreamingMedallion, "start", "structured.start")
        self.wrap(structured, "await_drained", "structured.await_drained")
        for op in ("train_compare", "evaluate", "batch_score"):
            self.wrap(fraud, op, f"fraud.{op}")
        self.wrap(dedup, "minhash_lsh_dedup_pairs", "dedup.minhash_lsh_dedup_pairs")
        for op in ("build", "match_new", "add"):
            self.wrap(dedup.MinHashCorpusIndex, op, f"dedup.index_{op}")
        for op in ("build", "append", "probe_bm25"):
            self.wrap(retrieval.InvertedTextIndex, op, f"retrieval.{op}")
        for op in ("build", "append", "probe"):
            self.wrap(similarity.DetIvfIndex, op, f"similarity.ivf_{op}")

        # every foreachBatch callback becomes a structured.batch span
        orig = DataStreamWriter.foreachBatch
        recorder = self

        def foreach_batch(writer, func):
            def traced(batch_df, batch_id):
                with recorder.span("structured.batch", batch_id=batch_id):
                    return func(batch_df, batch_id)

            return orig(writer, traced)

        DataStreamWriter.foreachBatch = foreach_batch

    # -- reduction -------------------------------------------------------------

    def measured(self) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "measure"]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
