"""In-memory span tracer for the benchmark.

A span is (id, parent, name, op, start, end): ``parent`` is the span
that was open when it started, ``op`` the benchmark operation it
belongs to (None during set-up). Spans stay in memory and are written
out once, when the run ends.

Spans are recorded from the benchmark's own files. ``instrument``
wraps the public entry points of each program layer (the call sites
the layer above uses) while a traced run measures, so a client verb
shows the catalog append and the mutation encoding beneath it without
any change to the program.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sp = Span(len(self.spans), st[-1].id if st else None, name, self.op, time.perf_counter())
        self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name, "op": s.op,
             "start": round(s.start, 6), "end": round(s.end, 6)}
            for s in self.spans
        ]


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span."""
    tr = Tracer(enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: s.dur - _covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def by_name(spans: list[Span]) -> dict[str, dict]:
    """name → {calls, total_ms, self_ms} over the given spans."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        a = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        a["calls"] += 1
        a["total_ms"] += s.dur * 1e3
        a["self_ms"] += st[s.id] * 1e3
    return out


# --- layer instrumentation ------------------------------------------

# (module, attribute path, span name). A function imported by name
# into another module is listed once per importing module, because
# the caller resolves the name in its own namespace.
LAYER_ENTRY_POINTS = [
    ("tera_spark.operators.view", "current_view", "operators.view.current_view"),
    ("tera_spark.operators.scan", "current_view", "operators.view.current_view"),
    ("tera_spark.operators.scan", "scan", "operators.scan.scan"),
    ("tera_spark.operators.scan", "batch_get", "operators.scan.batch_get"),
    ("tera_spark.operators.scan", "get", "operators.scan.get"),
    ("tera_spark.operators.compact", "current_view", "operators.view.current_view"),
    ("tera_spark.queries.cellops", "current_view", "operators.view.current_view"),
    ("tera_spark.queries.cellops", "scan", "operators.scan.scan"),
    ("tera_spark.queries.cellops", "batch_get", "operators.scan.batch_get"),
    ("tera_spark.client", "scan", "operators.scan.scan"),
    ("tera_spark.client", "batch_get", "operators.scan.batch_get"),
    ("tera_spark.client", "get", "operators.scan.get"),
    ("tera_spark.operators.seek", "Seeker.multi_get", "operators.seek.multi_get"),
    ("tera_spark.operators.seek", "fold_row", "operators.seek.fold_row"),
    ("tera_spark.operators.mutation", "MutationBatch.to_df", "operators.mutation.to_df"),
    ("tera_spark.client", "check_and_apply", "operators.mutation.check_and_apply"),
    ("tera_spark.catalog", "Catalog.append", "catalog.append"),
    ("tera_spark.catalog", "Catalog.read_oplog", "catalog.read_oplog"),
    ("tera_spark.catalog", "Catalog.fold_hints", "catalog.fold_hints"),
    ("tera_spark.catalog", "Catalog.maintenance", "catalog.maintenance"),
    ("tera_spark.catalog", "Catalog.table_stats", "catalog.table_stats"),
    ("tera_spark.client", "Table.get", "client.get"),
    ("tera_spark.client", "Table.multi_get", "client.multi_get"),
    ("tera_spark.client", "Table.scan", "client.scan"),
    ("tera_spark.client", "Table.put", "client.put"),
    ("tera_spark.client", "Table.increment_column_value", "client.increment_column_value"),
    ("tera_spark.client", "Table.check_and_apply", "client.check_and_apply"),
]


def _wrap(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def traced(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer, entry_points=LAYER_ENTRY_POINTS):
    """Wrap each entry point in a span for the duration of the block,
    then restore the originals."""
    saved = []
    try:
        for mod_name, path, span_name in entry_points:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, _wrap(orig, tracer, span_name))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
