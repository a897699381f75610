"""In-memory span recorder for the traced benchmark runs.

A span is (id, parent, name, start, end, attrs). Parents come from a
per-thread stack, so every span recorded while a request is handled in
one server thread hangs under that request's root span. Times are
``time.perf_counter()`` values, which on Linux read CLOCK_MONOTONIC and
so compare across processes on one host.

Spans stay in a list and are written once, when the traced process
stops. Nothing here is imported by the untraced runs.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self):
        """The innermost open span of this thread as (id, attrs), or None."""
        st = self._stack()
        return st[-1] if st else None

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; the span closes even when fn raises."""
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1][0] if st else 0
        attrs: dict = {}
        st.append((sid, attrs))
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, bool):  # put_if_absent's win flag
                attrs["result"] = out
            return out
        except BaseException as e:
            attrs["error"] = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append((sid, parent, name, t0, t1, attrs))

    def point(self, name: str, seconds: float) -> None:
        """Record a span reported after the fact as a duration (the
        StoreMetrics span-listener shape); it ends now."""
        st = self._stack()
        t1 = time.perf_counter()
        self.spans.append(
            (
                next(self._ids),
                st[-1][0] if st else 0,
                name,
                t1 - seconds,
                t1,
                {"point": True},
            )
        )

    def root(self):
        """The outermost open span of this thread as (id, attrs), or None."""
        st = self._stack()
        return st[0] if st else None

    def wrap_method(self, obj, method: str, name: str, nbytes=None) -> None:
        """Replace the instance attribute ``obj.method`` with a traced call.
        ``nbytes(*args, **kwargs)``, run after the call returns, records the
        bytes the call wrote on its span."""
        orig = getattr(obj, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            def run():
                out = orig(*a, **k)
                if nbytes is not None:
                    tracer.current()[1]["bytes"] = nbytes(*a, **k)
                return out

            return tracer.call(name, run)

        setattr(obj, method, traced)

    def as_json(self) -> list[list]:
        return [list(s) for s in self.spans]


class _Noop:
    def f(self):
        return None


def span_cost_s(n: int = 20000) -> float:
    """Wall cost one traced method call adds over the bare call on this
    host: the per-span tracing overhead."""
    bare, traced = _Noop(), _Noop()
    Tracer().wrap_method(traced, "f", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        bare.f()
    t_bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        traced.f()
    t_traced = time.perf_counter() - t0
    return max(0.0, (t_traced - t_bare) / n)


def self_times(spans: list[list]) -> dict[int, float]:
    """Self time per span id: its duration minus its children's. Point
    spans (durations reported by the store's listener) overlap the wrapped
    calls under the same parent, so they never count as children."""
    child_sum: dict[int, float] = {}
    for sid, parent, _name, t0, t1, a in spans:
        if parent and not a.get("point"):
            child_sum[parent] = child_sum.get(parent, 0.0) + (t1 - t0)
    return {s[0]: (s[4] - s[3]) - child_sum.get(s[0], 0.0) for s in spans}
