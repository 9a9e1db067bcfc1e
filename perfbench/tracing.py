"""In-memory spans around the engine's public calls, installed at runtime.

The tracer replaces a fixed list of public functions and methods of
``openlogreplicator_spark`` with thin wrappers that record one span per call:
name, start, end, parent span and run id. Nothing in the engine is edited;
``uninstall()`` puts every original object back.

Spark's ``foreachBatch`` callback runs ``apply_epoch`` on a py4j callback
thread while the thread that called ``run_available_now`` blocks in
``awaitTermination``. The calls are therefore strictly nested in time but not
on one thread, so the tracer keeps ONE span stack for the process (guarded by
a lock) instead of a thread-local one.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass

PKG = "openlogreplicator_spark"

# (module, attribute) pairs: module-level functions are replaced in every
# engine module that imported them by name; "Class.method" entries are
# replaced on the class.
TRACED = [
    ("openlogreplicator_spark.streaming.pipeline", "CdcPipeline.apply_epoch"),
    ("openlogreplicator_spark.streaming.pipeline", "CdcPipeline.run_available_now"),
    ("openlogreplicator_spark.streaming.pipeline", "CdcPipeline.run_batch_replay"),
    ("openlogreplicator_spark.streaming.pipeline", "CdcPipeline._write_metrics"),
    ("openlogreplicator_spark.operators.merge", "merge_into"),
    ("openlogreplicator_spark.operators.merge", "merge_append"),
    ("openlogreplicator_spark.operators.merge", "compact_table"),
    ("openlogreplicator_spark.operators.merge", "read_state"),
    ("openlogreplicator_spark.operators.lww", "lww_compact_auto"),
    ("openlogreplicator_spark.operators.lww", "lww_compact_semijoin"),
    ("openlogreplicator_spark.operators.lww", "choose_lww_strategy"),
    ("openlogreplicator_spark.lake.table", "LakeTable.load"),
    ("openlogreplicator_spark.lake.table", "LakeTable.read"),
    ("openlogreplicator_spark.lake.table", "LakeTable.commit_files"),
]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "run_id": self.run_id}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    covered by the union of its children's intervals (children clipped to the
    parent, overlaps counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
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
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out


def summarize(spans: list[Span]) -> dict[str, dict]:
    """Per span name: number of calls, total seconds and self seconds."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += st[s.sid]
    return out


class Tracer:
    def __init__(self, run_id: str, on_epoch_end=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        # called after each apply_epoch returns, inside a "harvest" span
        self.on_epoch_end = on_epoch_end

    # ------------------------------------------------------------ recording
    def _open(self, name: str) -> Span:
        with self._lock:
            parent = self._stack[-1].sid if self._stack else None
            s = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                     run_id=self.run_id)
            self.spans.append(s)
            self._stack.append(s)
            return s

    def _close(self, s: Span) -> None:
        with self._lock:
            s.end = time.perf_counter()
            # pop s and anything left open above it by an exception
            while self._stack:
                if self._stack.pop() is s:
                    break

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s)
                if name == "apply_epoch" and tracer.on_epoch_end is not None:
                    # its own span, so the harvest never inflates the self
                    # time of the run_available_now that encloses it
                    h = tracer._open("harvest")
                    try:
                        tracer.on_epoch_end()
                    finally:
                        tracer._close(h)

        return wrapper

    # ------------------------------------------------------------ patching
    def _set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        for modname, target in TRACED:
            mod = sys.modules[modname]
            if "." in target:
                cls_name, meth = target.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, staticmethod):
                    self._set(cls, meth, staticmethod(self._wrap(meth, raw.__func__)))
                else:
                    self._set(cls, meth, self._wrap(meth.lstrip("_"), raw))
                continue
            orig = getattr(mod, target)
            wrapped = self._wrap(target, orig)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith(PKG)
                        and m.__dict__.get(target) is orig):
                    self._set(m, target, wrapped)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def nested_count(self, name: str) -> int:
        """Calls of ``name`` whose parent is also ``name`` (retries)."""
        by_id = {s.sid: s for s in self.spans}
        return sum(1 for s in self.named(name)
                   if s.parent is not None and by_id[s.parent].name == name)
