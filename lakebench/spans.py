"""Spans around calls into the package's layers.

A span records wall time and self time (wall time minus the time of
spans nested inside it) and, while it is open, tags every Spark job the
calling thread submits with the job group `<workload>/<span>`. Calls the
benchmark does not make itself are reached by patching the public
function or method for the length of the run. A disabled tracer does
nothing, so untraced runs measure the program as it is.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class SpanStats:
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0


class _DrainingQuery:
    """A StreamingQuery whose awaitTermination closes the open span."""

    def __init__(self, query, on_done: Callable[[], None]):
        self._query = query
        self._on_done = on_done

    def awaitTermination(self, timeout=None):  # noqa: N802 (Spark's name)
        try:
            return self._query.awaitTermination(timeout)
        finally:
            self._on_done()

    def __getattr__(self, name):
        return getattr(self._query, name)


class Tracer:
    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.phase = "setup"  # job-group prefix until start_timed
        self.enabled = enabled
        self.spans: dict[str, SpanStats] = {}
        self.run_groups: dict[str, str] = {}  # stream run id -> job group
        self.streams: list = []
        self._stack: list[list] = []  # [name, start, child_s, prev_group, reentries]
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def group(self, name: str) -> str:
        return f"{self.phase}/{name}"

    def start_timed(self) -> None:
        """Drop what set-up recorded; later spans and jobs count under
        the workload's own groups."""
        self.phase = self.workload
        self.spans.clear()
        self.streams.clear()

    def begin(self, name: str) -> None:
        if not self.enabled:
            return
        if self._stack and self._stack[-1][0] == name:
            self._stack[-1][4] += 1  # re-entry: one span, not two
            return
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(self.group(name), name)
        self._stack.append([name, time.perf_counter(), 0.0, prev, 0])

    def end(self) -> None:
        if not self.enabled:
            return
        top = self._stack[-1]
        if top[4]:
            top[4] -= 1
            return
        self._stack.pop()
        name, start, child_s, prev, _ = top
        wall = time.perf_counter() - start
        s = self.spans.setdefault(name, SpanStats())
        s.calls += 1
        s.wall_s += wall
        s.self_s += wall - child_s
        if self._stack:
            self._stack[-1][2] += wall
        if prev is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(prev, prev)

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end()

    def patch(
        self,
        owner,
        attr: str,
        name: str,
        on_result: Callable | None = None,
    ) -> None:
        """Route `owner.attr` through a span until `unpatch`;
        `on_result(result, *args)` runs after the call returns."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result, *args)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def patch_stream(self, owner, attr: str, name: str) -> None:
        """Like `patch` for a function that starts a streaming query:
        the span stays open until the caller's awaitTermination returns,
        and the query's own jobs count under the span's group."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            self.begin(name)
            try:
                query = original(*args, **kwargs)
            except BaseException:
                self.end()
                raise
            self.run_groups[str(query.runId)] = self.group(name)
            self.streams.append(query)
            return _DrainingQuery(query, self.end)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
