"""Spans, counters and the public seams the traced run measures through.

Spans are kept in memory and written out once, when the run ends. Each
span has a name ``<layer>.<what>``, a start and end on the monotonic
clock, the index of the span that caused it, the number of Spark jobs
that ran inside it (through a job group and ``statusTracker``) and free
attributes. A span with a ``busy_s`` attribute records accumulated time
that is interleaved with other spans inside its interval (the connector
pump, which waits between records); its layer is charged ``busy_s``.

The seams are all public: an injected ``FileIO`` subclass, instance-level
wrappers around public methods, ``Source.read``'s ``state_writer`` and
``progress`` arguments, and Spark job groups. The package is unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyairbyte_spark.fileio import LocalFileIO


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.attrs.get("busy_s", self.end - self.start)


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every method a
    no-op, so the untraced run shares the code path without the cost."""

    def __init__(self, run_id: str, *, enabled: bool, spark=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.phase = "setup"
        self._stack: list[int] = []
        self._sc = spark.sparkContext if (enabled and spark is not None) else None
        self._group_ids = itertools.count()

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.enabled:
            yield None
            return
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, attrs=attrs)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        group = None
        if self._sc is not None:
            group = f"pb-{self.run_id}-{next(self._group_ids)}"
            self._sc.setJobGroup(group, name)
        sp.attrs["_group"] = group
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if group is not None:
                sp.jobs = len(self._sc.statusTracker().getJobIdsForGroup(group))
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(outer.attrs["_group"], outer.name)
                else:
                    self._sc.setJobGroup(f"pb-{self.run_id}-idle", "idle")

    def add(self, counter: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[counter] = self.counters.get(counter, 0) + value

    def wrap(self, obj: Any, method: str, span_name: str) -> None:
        """Shadow ``obj.method`` with a spanned call on this instance only."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def call(*args, **kwargs):
            with self.span(span_name):
                return inner(*args, **kwargs)

        setattr(obj, method, call)

    def timed_iterator(self, it, span_name: str):
        """Yield from ``it``, charging the time spent inside ``next()``
        to one ``busy_s`` span that covers the iterator's life."""
        if not self.enabled:
            yield from it
            return
        sp = Span(span_name, time.monotonic(),
                  parent=self._stack[-1] if self._stack else None,
                  attrs={"busy_s": 0.0, "items": 0})
        self.spans.append(sp)
        busy = 0.0
        n = 0
        it = iter(it)
        clock = time.monotonic
        try:
            while True:
                t = clock()
                try:
                    item = next(it)
                except StopIteration:
                    busy += clock() - t
                    return
                busy += clock() - t
                n += 1
                yield item
        finally:
            sp.end = clock()
            sp.attrs["busy_s"] = busy
            sp.attrs["items"] = n

    # -- analysis ------------------------------------------------------------

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per layer inside span ``root``: each span's duration
        minus the durations of its children. By construction the layers'
        values add up to the root's wall time; ``accounting_problems``
        checks what can go wrong."""
        out: dict[str, float] = {}
        spans = self.subtree(root)
        for i in spans:
            s = self.spans[i]
            kids = sum(self.spans[c].duration for c in spans if self.spans[c].parent == i)
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - kids
        return out

    def accounting_problems(self, root: int) -> list[str]:
        """What makes the self times of span ``root`` meaningless: a
        layer whose children took longer than it did (negative self
        time), or a ``busy_s`` span busier than its own interval."""
        problems = [
            f"{self.spans[root].name}: layer {layer} self time {v:.6f} s < 0"
            for layer, v in self.self_times(root).items() if v < -1e-9
        ]
        for i in self.subtree(root):
            s = self.spans[i]
            if s.attrs.get("busy_s", 0.0) > s.end - s.start + 1e-9:
                problems.append(f"{s.name}: busy {s.attrs['busy_s']:.6f} s exceeds "
                                f"its interval {s.end - s.start:.6f} s")
        return problems

    def subtree(self, root: int) -> list[int]:
        """``root`` and every span below it. Spans are appended in start
        order, so descendants follow their root."""
        seen = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in seen:
                seen.add(i)
        return sorted(seen)

    def jobs(self, root: int) -> int:
        """Spark jobs inside span ``root``, nested spans included."""
        return sum(self.spans[i].jobs for i in self.subtree(root))

    def total(self, name: str) -> tuple[float, int, int]:
        """(seconds, jobs, calls) over every span called ``name``."""
        hits = [i for i, s in enumerate(self.spans) if s.name == name]
        return (sum(self.spans[i].duration for i in hits),
                sum(self.jobs(i) for i in hits), len(hits))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                attrs = {k: v for k, v in s.attrs.items() if k != "_group"}
                f.write(json.dumps({
                    "run_id": self.run_id, "id": i, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "jobs": s.jobs, "attrs": attrs,
                }, default=str) + "\n")


def _read_all(_fio, path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


class CountingFileIO(LocalFileIO):
    """``LocalFileIO`` that counts object-store-shaped operations per
    phase (GET, PUT, LIST, EXISTS, bytes written) and spans each call."""

    _KIND = {
        "read_text": "gets", "read_bytes": "gets", "open_input": "gets",
        "write_text": "puts", "write_bytes": "puts", "put_if_absent": "puts",
        "list_names": "lists", "list_files": "lists",
        "exists": "exists", "is_dir": "exists", "file_size": "exists",
    }

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def _op(self, op: str, fn: Callable, *args):
        tr = self.tracer
        tr.add(f"fileio.{tr.phase}_{self._KIND[op]}")
        if op in ("write_text", "write_bytes", "put_if_absent"):
            data = args[1]
            tr.add(f"fileio.{tr.phase}_bytes_written",
                   len(data.encode("utf-8") if isinstance(data, str) else data))
        with tr.span(f"fileio.{op}"):
            return fn(self, *args)

    def read_text(self, path):
        return self._op("read_text", LocalFileIO.read_text, path)

    def write_text(self, path, data):
        return self._op("write_text", LocalFileIO.write_text, path, data)

    def read_bytes(self, path):
        # The base class reads through open_input; count one GET, not two.
        return self._op("read_bytes", _read_all, path)

    def write_bytes(self, path, data):
        return self._op("write_bytes", LocalFileIO.write_bytes, path, data)

    def put_if_absent(self, path, data):
        return self._op("put_if_absent", LocalFileIO.put_if_absent, path, data)

    def list_names(self, path):
        return self._op("list_names", LocalFileIO.list_names, path)

    def list_files(self, path):
        return self._op("list_files", LocalFileIO.list_files, path)

    def exists(self, path):
        return self._op("exists", LocalFileIO.exists, path)

    def is_dir(self, path):
        return self._op("is_dir", LocalFileIO.is_dir, path)

    def file_size(self, path):
        return self._op("file_size", LocalFileIO.file_size, path)

    def open_input(self, path):
        return self._op("open_input", LocalFileIO.open_input, path)
