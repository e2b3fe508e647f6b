"""Spans around calls into the engine's layers, recorded from outside it.

The traced run wraps public entry points of ``airbyte_spark`` at runtime
(``install_engine_spans``); nothing under ``airbyte_spark/`` carries a timer. Each
span records its name, start, end, parent span and request id (a trigger's
``batch_id`` or the benchmark op that caused it). Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Optional


@dataclass
class Span:
    id: int
    parent: Optional[int]
    name: str
    request: Optional[str]
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder. Parents are tracked per thread, so the
    streaming query's ``foreachBatch`` thread and the benchmark's own
    thread each nest correctly."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self.enabled = True

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: Optional[str] = None):
        """Record a span; a nested span takes its parent's request id, so
        ``request`` names only a root span's request."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is not None:
            request = parent.request
        s = Span(next(self._ids), parent.id if parent else None, name, request,
                 self.clock())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def suspended(self):
        """Calls made inside run untraced (the benchmark's own bookkeeping
        reads, which are not the workload's work)."""
        prev, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = prev

    def wrap(self, owner: Any, attr: str, name: str,
             on_call: Optional[Callable[[Span, tuple, dict, Any], None]] = None,
             request_of: Optional[Callable[[tuple, dict], Optional[str]]] = None):
        """Replace ``owner.attr`` with a spanned wrapper until ``restore``.
        ``on_call(span, args, kwargs, result)`` may add attributes from the
        call's public arguments and result; ``request_of`` names the request
        of a root span (a trigger's ``foreachBatch`` call has no parent)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            req = request_of(args, kwargs) if request_of else None
            with self.span(name, request=req) as s:
                result = orig(*args, **kwargs)
                if s is not None and on_call is not None:
                    on_call(s, args, kwargs, result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self"] = selfs[s.id]
                f.write(json.dumps(rec, default=str) + "\n")


def _batch_request(args, kwargs) -> Optional[str]:
    bid = kwargs.get("batch_id")
    return None if bid is None else f"batch-{bid}"


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine entry points the per-layer report reads:
    ``merge_batch`` (including the copy bound in ``streaming.runner``),
    ``scd_merge_batch`` and the ``LakeTable`` methods that write, commit,
    plan and maintain."""
    import airbyte_spark.lake as lake
    import airbyte_spark.lake.merge as lake_merge
    import airbyte_spark.lake.scd as lake_scd
    import airbyte_spark.streaming.runner as runner
    from airbyte_spark.lake.table import LakeTable

    def merge_attrs(s, args, kwargs, stats):
        s.attrs["rows_in"] = stats.rows_in

    for owner in (lake_merge, lake, runner):
        tracer.wrap(owner, "merge_batch", "lake.merge", merge_attrs, _batch_request)
    for owner in (lake_scd, lake):
        tracer.wrap(owner, "scd_merge_batch", "lake.scd", request_of=_batch_request)

    def write_attrs(s, args, kwargs, result):
        adds, _ = result
        s.attrs["files"] = len(adds)
        s.attrs["bytes"] = sum(a.get("bytes") or 0 for a in adds)

    def commit_attrs(s, args, kwargs, version):
        snap = args[1] if len(args) > 1 else kwargs["snap"]
        # an add-only commit that lost a race re-reads the log and lands
        # at a later version: each version skipped is one retry
        s.attrs["retries"] = max(0, version - (snap.version + 1))

    def snapshot_attrs(s, args, kwargs, snap):
        s.attrs["log_reads"] = args[0].last_snapshot_log_reads

    def lookup_attrs(s, args, kwargs, plan):
        s.attrs["files"] = len(plan["files"])
        s.attrs["total_files"] = plan["total_files"]

    tracer.wrap(LakeTable, "write_data_files", "lake.table.write", write_attrs)
    tracer.wrap(LakeTable, "commit", "lake.table.commit", commit_attrs)
    tracer.wrap(LakeTable, "snapshot", "lake.table.snapshot", snapshot_attrs)
    tracer.wrap(LakeTable, "plan_point_lookup", "lake.table.lookup_plan", lookup_attrs)
    tracer.wrap(LakeTable, "compact", "lake.table.compact")
    tracer.wrap(LakeTable, "vacuum", "lake.table.vacuum")


def progress_listener():
    """A ``StreamingQueryListener`` that keeps each trigger's progress (as
    the JSON Spark reports it) and can wait for the query's end, so the
    final trigger's progress is never lost to the asynchronous bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._done = threading.Event()

        def onQueryStarted(self, event):
            self._done.clear()

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self._done.set()

        def wait_terminated(self, timeout: float = 60.0) -> bool:
            return self._done.wait(timeout)

    return ProgressListener()
