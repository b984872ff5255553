"""Spans and statistics for the benchmark.

A traced run (``--trace 1``) wraps the program's eager public calls in
spans from outside, by replacing them on their module or class for the
life of the run; the program's files are unchanged. The nesting is
``merge_microbatch`` ⊃ ``SnapshotTable.merge`` ⊃ ``SnapshotTable.compact``
⊃ ``TableMetadataIO.write_snapshot_and_swap_head``. Spans stay in
memory and are written once, at exit, as JSON lines.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager


def p50(values: list[float]) -> float:
    return float(statistics.median(values))


class Tracer:
    """In-memory span recorder. Each thread keeps its own stack, so the
    streaming callback thread and the driver thread nest independently."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # time the traced run spends on tracing work: span bookkeeping,
        # wrappers, and what callers charge (job-group calls, per-lookup
        # manifest reads, statusTracker polls)
        self.overhead_s = 0.0
        self._undo: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "start": 0.0, "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        self.charge(rec["start"] - b0)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.charge(time.perf_counter() - rec["end"])

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """A span measured elsewhere (e.g. a noop-sink materialisation)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": None,
                   "start": start, "end": end, **attrs}
            self.spans.append(rec)
        return rec

    # ------------------------------------------------------------ patching --
    def wrap(self, owner, attr: str, name: str, id_arg: str | None = None,
             id_pos: int | None = None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            attrs = {}
            if id_arg is not None:
                v = kwargs.get(id_arg)
                if v is None and id_pos is not None and len(args) > id_pos:
                    v = args[id_pos]
                attrs["batch"] = v
            self.charge(time.perf_counter() - t)
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def patch_program(self) -> None:
        from montandon_etl_spark.lake import format as lake_format
        from montandon_etl_spark.lake import table as lake_table
        from montandon_etl_spark.streaming import pipeline

        self.wrap(pipeline, "merge_microbatch", "streaming.pipeline.merge_microbatch",
                  id_arg="batch_id", id_pos=3)
        self.wrap(lake_table.SnapshotTable, "merge", "lake.table.merge")
        self.wrap(lake_table.SnapshotTable, "compact", "lake.table.compact")
        self.wrap(lake_table.SnapshotTable, "apply_ddl", "lake.table.apply_ddl")
        self.wrap(lake_format.TableMetadataIO, "write_bucket_manifest",
                  "lake.format.write_bucket_manifest")
        self.wrap(lake_format.TableMetadataIO, "write_snapshot_and_swap_head",
                  "lake.format.write_snapshot_and_swap_head")

    # ------------------------------------------------------------ analysis --
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, s: dict) -> float:
        if "self_s" in s:
            return s["self_s"]
        covered = sum(c["end"] - c["start"] for c in self.children(s["id"]))
        return (s["end"] - s["start"]) - covered

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def named(self, name: str, top_only: bool = False) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None
                and (not top_only or s["parent"] is None)]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = dict(s)
                if row["end"] is not None:
                    row["self_s"] = self.self_time(s)
                f.write(json.dumps(row, default=str) + "\n")
