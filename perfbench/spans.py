"""Outside-in tracing of the engine's public layer functions.

Nothing inside the engine is edited: ``Tracer.install`` replaces the
public functions of each layer with wrappers, from here, and records one
span per call (name, start, end, parent).  Per span it also records:

* Spark job / stage / task counts, by running the call under its own
  Spark job group and asking ``SparkContext.statusTracker()`` for that
  group's jobs afterwards (jobs inherit the group of the thread that
  submits them, so nested calls are counted in their own span and summed
  into the parent's);
* for ``KeyedTable.merge_raw_batch``, the files and bytes the call left
  new under the table root (a listing before and after).

Spans live in memory and are written out by ``dump`` at the end.  When
``enabled`` is False the wrappers pass straight through, so traced and
untraced cycles can alternate inside one run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    group: str | None = None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _tree_bytes(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _local(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        # a callback thread (foreachBatch) with nothing open hangs under
        # whatever the caller thread has open: the call that started it
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, 0.0,
                        parent.id if parent else None)
            self.spans.append(span)
        span.group = f"perfbench-{span.id}"
        span.attrs["_prev_group"] = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, span.group)
        stack.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty(_GROUP, span.attrs.pop("_prev_group"))

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block (none while tracing is disabled)."""
        s = self.begin(name) if self.enabled else None
        try:
            yield s
        finally:
            if s is not None:
                self.end(s)

    # -- wrapping ---------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``before(args, kwargs) -> state`` runs ahead of the call;
        ``after(span, state, args, kwargs, result)`` fills span attrs."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            s = tracer.begin(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(s)
            if after:
                after(s, state, args, kwargs, result)
            return result
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer's public entry points (module attributes are
        patched where they are looked up: ``pipeline`` imports its
        operators by name, so those names are patched there too)."""
        from firebolt_cdc_lambda_spark import pipeline, sqlapi
        from firebolt_cdc_lambda_spark.operators import dedup, evolution
        from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
        from firebolt_cdc_lambda_spark.sources import ingest
        from firebolt_cdc_lambda_spark.sources.ledger import FileLedger
        from firebolt_cdc_lambda_spark.streaming.cdc_stream import CdcStream

        self.wrap(FileLedger, "is_processed", "ledger.is_processed")
        self.wrap(FileLedger, "record", "ledger.record")

        def merge_before(args, kwargs):
            path = _local(args[0].path)
            return path, _tree_bytes(path)

        def merge_after(span, state, args, kwargs, result):
            path, before = state
            after = _tree_bytes(path)
            new = [p for p, v in after.items() if before.get(p) != v]
            span.attrs.update(
                buckets=int(result[0]), rows=int(result[1]),
                deduped=bool(result[2]), files_written=len(new),
                bytes_written=sum(after[p][0] for p in new))

        self.wrap(KeyedTable, "merge_raw_batch", "merge.merge_raw_batch",
                  merge_before, merge_after)
        self.wrap(KeyedTable, "lookup", "merge.lookup")
        self.wrap(KeyedTable, "read", "merge.read")

        def batch_after(span, state, args, kwargs, result):
            span.attrs.update(status=result.status, rows=result.rows)

        self.wrap(dedup, "deduplicate", "dedup.deduplicate")
        self.wrap(pipeline, "deduplicate", "dedup.deduplicate")
        self.wrap(ingest, "read_cdc_files", "ingest.read_cdc_files")
        self.wrap(pipeline, "read_cdc_files", "ingest.read_cdc_files")
        self.wrap(ingest, "with_ingestion_seq", "ingest.with_ingestion_seq")

        self.wrap(evolution, "diff_schemas", "evolution.diff_schemas")
        self.wrap(pipeline, "diff_schemas", "evolution.diff_schemas")
        self.wrap(evolution, "merge_columns", "evolution.merge_columns")
        self.wrap(pipeline, "merge_columns", "evolution.merge_columns")
        self.wrap(pipeline.CdcPipeline, "process_file",
                  "pipeline.process_file", after=batch_after)
        self.wrap(pipeline.CdcPipeline, "process_batch",
                  "pipeline.process_batch", after=batch_after)
        self.wrap(pipeline.CdcPipeline, "bootstrap_from_load_files",
                  "setup.bootstrap", after=batch_after)
        self.wrap(CdcStream, "run_to_completion", "stream.run_to_completion")
        self.wrap(sqlapi, "register_warehouse", "sqlapi.register_warehouse")

    # -- analysis ---------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, span: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the child spans' intervals."""
        iv = sorted((max(c.start, span.start), min(c.end, span.end))
                    for c in kids.get(span.id, ()))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
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
        return span.dur - covered

    def count_jobs(self) -> None:
        """Attach jobs/stages/tasks to every span (own group + children);
        call once after the run, when the listener bus has settled."""
        st = self.sc.statusTracker()
        kids = self.children()
        own = {}
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group) if s.group else []
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    sinfo = st.getStageInfo(sid)
                    stages += 1
                    tasks += sinfo.numTasks if sinfo else 0
            own[s.id] = (len(jobs), stages, tasks)

        def total(s: Span) -> tuple[int, int, int]:
            j, st_, t = own[s.id]
            for c in kids.get(s.id, ()):
                cj, cs, ct = total(c)
                j, st_, t = j + cj, st_ + cs, t + ct
            s.attrs.update(jobs=j, stages=st_, tasks=t)
            return j, st_, t

        for s in self.spans:
            if s.parent is None:
                total(s)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"id": s.id, "name": s.name, "start": s.start,
                        "end": s.end, "parent": s.parent,
                        "attrs": {k: v for k, v in s.attrs.items()
                                  if not k.startswith("_")}}
                       for s in self.spans], fh)
