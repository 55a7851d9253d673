"""Span tracing for the per-layer metrics, installed from outside the
package: every traced function is replaced at its lookup site (the module
or class attribute the caller resolves at call time) by a wrapper that
records a span, and restored afterwards. No file of the package changes.

Rules:
- only the OUTERMOST span per key is recorded: ``SparkBackend.eval_hess``
  delegating to ``ArrowSparkBackend.eval_hess`` is one backends span, not
  two;
- a span's parent is the innermost recorded span that encloses it, also
  across the CV thread pool (the pool class is replaced by one that
  hands the submitting thread's span stack to its workers);
- self time = duration minus the UNION of the direct children's
  intervals (children of a CV span overlap each other in time).
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext


class Span:
    __slots__ = ("layer", "name", "key", "start", "end", "parent",
                 "children", "op", "group")

    def __init__(self, layer, name, key, parent, op):
        self.layer, self.name, self.key = layer, name, key
        self.parent, self.op = parent, op
        self.children: list[Span] = []
        self.start = self.end = 0.0
        self.group = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span) -> float:
    return span.duration - union_length(
        [(c.start, c.end) for c in span.children], span.start, span.end)


def descendants(span: Span) -> list:
    out, todo = [], list(span.children)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(s.children)
    return out


# layers whose spans tag their Spark jobs with a job group, so the jobs
# each layer starts can be counted from the status tracker
JOB_LAYERS = ("backends", "pipeline")


class Tracer:
    """Records spans; ``install`` patches the lookup sites."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self.op = 0
        self.values: dict[str, list] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._sc = spark_context

    # -- span stack -------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def note(self, name: str, value) -> None:
        """Record a per-op observation (list-valued, read by metrics)."""
        with self._lock:
            self.values.setdefault(name, []).append((self.op, value))

    def job_group(self, layer: str, op: int) -> str:
        return f"coldbench.{layer}.{op}"

    @contextmanager
    def span(self, layer: str, name: str, key: str | None = None):
        key = key or layer
        stack = self._stack()
        if any(s.key == key for s in stack):
            yield None
            return
        parent = stack[-1] if stack else None
        sp = Span(layer, name, key, parent, self.op)
        prev_group = None
        if layer in JOB_LAYERS and self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            sp.group = self.job_group(layer, self.op)
            self._sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sp.group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                if parent is not None:
                    parent.children.append(sp)
                self.spans.append(sp)

    def wrap(self, layer: str, name: str, fn, key=None, on_result=None):
        def traced(*args, **kwargs):
            with self.span(layer, name, key) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and on_result is not None:
                    on_result(sp, out, args, kwargs)
                return out

        traced.__wrapped__ = fn
        return traced

    # -- patching ---------------------------------------------------------

    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              key: str | None = None, on_result=None) -> None:
        """Replace ``owner.attr`` (module or class attribute) by a traced
        wrapper. Class attributes are patched only where the class itself
        defines them, so inherited methods are wrapped once."""
        if isinstance(owner, type) and attr not in owner.__dict__:
            return
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(layer, name or attr, orig, key,
                                       on_result))

    def patch_pool(self, module) -> None:
        """Replace ``module.ThreadPoolExecutor`` by a pool whose workers
        start from the submitting thread's span stack."""
        tracer = self

        class SpanPool(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                inherited = list(tracer._stack())

                def run(*a, **k):
                    tracer._local.stack = list(inherited)
                    try:
                        return fn(*a, **k)
                    finally:
                        tracer._local.stack = []

                return super().submit(run, *args, **kwargs)

        self._patched.append((module, "ThreadPoolExecutor",
                              module.ThreadPoolExecutor))
        module.ThreadPoolExecutor = SpanPool

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    op = 0

    def span(self, layer, name, key=None):
        return nullcontext()

    def note(self, name, value):
        pass

    def uninstall(self):
        pass
