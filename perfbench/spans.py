"""Spans, self-time attribution, layer wrappers and the tail rule.

Pure Python: nothing here imports Spark, so the benchmark's tests can
exercise it without a session.

A span is one timed interval on the wall clock (``time.time()`` seconds,
the clock Spark's status store also stamps jobs and stages with). Spans
form a tree through ``parent``; the benchmark's spans are the run,
workload, pass, operation and builder/plan/consume phases, one span per
call into a wrapped layer function, and Spark jobs and stages attached
after the fact from status-store timestamps.
"""

from __future__ import annotations

import functools
import importlib
import math
import sys
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = math.nan
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs: Any) -> int:
        self.spans.append(Span(name, layer, start, end, parent, attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str, **attrs: Any) -> Iterator[Span]:
        idx = self.add(name, layer, time.time(), math.nan, self.current, **attrs)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def subtree(self, root: int) -> list[int]:
        """Indices of ``root`` and every span below it."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(children.get(i, ()))
        return out

    def innermost(self, t: float, among: Iterable[int]) -> int | None:
        """Deepest span of ``among`` whose interval contains ``t``."""
        best, best_depth = None, -1
        for i in among:
            s = self.spans[i]
            if s.start <= t <= s.end:
                d = self.depth(i)
                if d > best_depth:
                    best, best_depth = i, d
        return best

    def depth(self, i: int) -> int:
        return depth_of(self.spans, i)

    def to_json(self) -> list[dict[str, Any]]:
        return [
            {"id": i, "name": s.name, "layer": s.layer, "start": s.start,
             "end": s.end, "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def depth_of(spans: list[Span], i: int) -> int:
    """Number of ancestors of span ``i``."""
    d = 0
    while (i := spans[i].parent) is not None:
        d += 1
    return d


def self_times(spans: list[Span]) -> list[float]:
    """Exclusive time of each span: its duration minus the part of it that
    its child spans cover.

    Children are clipped to their parent. Every instant of a span's
    interval goes to the deepest spans active at that instant; where
    several equally deep spans overlap (concurrent Spark jobs or stages),
    the instant is split evenly between them. So for a tree whose
    siblings never overlap this is exactly ``duration - union(children)``,
    and for any tree the self times sum to the roots' durations.
    """
    n = len(spans)
    lo = [s.start for s in spans]
    hi = [s.end for s in spans]
    depth = [depth_of(spans, i) for i in range(n)]
    for i in sorted(range(n), key=depth.__getitem__):  # parents first
        p = spans[i].parent
        if p is not None:
            lo[i] = min(max(lo[i], lo[p]), hi[p])
            hi[i] = max(min(hi[i], hi[p]), lo[i])
    events = sorted(
        [(hi[i], 0, i) for i in range(n) if hi[i] > lo[i]]
        + [(lo[i], 1, i) for i in range(n) if hi[i] > lo[i]]
    )
    by_depth: dict[int, set[int]] = {}
    out = [0.0] * n
    prev = None
    for t, kind, i in events:
        if prev is not None and t > prev:
            live = [d for d, members in by_depth.items() if members]
            if live:
                owners = by_depth[max(live)]
                for j in owners:
                    out[j] += (t - prev) / len(owners)
        prev = t
        if kind == 1:
            by_depth.setdefault(depth[i], set()).add(i)
        else:
            by_depth[depth[i]].discard(i)
    return out


# --- Tail percentile rule ----------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` (in steps of 0.1) among ``n``
    samples, in integers so that 99.9% of 10000 is exactly 9990."""
    return max(1, -(-round(p * 10) * n // 1000))


def nearest_rank(values: list[float], p: float) -> float:
    return sorted(values)[rank(p, len(values)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` with at least ``min_beyond``
    of ``n`` samples ranked above it (nearest-rank), or None when the
    sample supports none."""
    for p in TAIL_LADDER:
        if n - rank(p, n) >= min_beyond:
            return p
    return None


# --- Layer wrappers ----------------------------------------------------------


class LayerWrappers:
    """Wrap public layer functions in every namespace that holds them.

    Callers import these functions by name (``from ..sources import
    load_table``) or look them up on a module (``qc.evaluate``), so the
    original function object is replaced wherever a loaded module of the
    package binds it, and ``restore`` puts every binding back.
    ``targets`` maps a span name to ``(defining module, attribute)``.
    """

    def __init__(self, package: str, targets: dict[str, tuple[str, str]],
                 on_call: Callable[[str, Callable, tuple, dict], Any]) -> None:
        self.package = package
        self.targets = targets
        self.on_call = on_call
        self.patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        if self.patched:
            raise RuntimeError("layer wrappers already installed")
        originals = {}
        for span_name, (mod_name, attr) in self.targets.items():
            fn = getattr(importlib.import_module(mod_name), attr)
            originals[id(fn)] = (fn, self._wrap(span_name, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == self.package or mod_name.startswith(self.package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    self.patched.append((mod, attr, value))
                    setattr(mod, attr, hit[1])

    def restore(self) -> None:
        while self.patched:
            mod, attr, original = self.patched.pop()
            setattr(mod, attr, original)

    def _wrap(self, span_name: str, fn: Callable) -> Callable:
        on_call = self.on_call

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return on_call(span_name, fn, args, kwargs)

        wrapper.__wrapped_layer__ = fn  # type: ignore[attr-defined]
        return wrapper
