"""Range-query results caching: the query-frontend analog.

The engine's compiled-plan cache (``engine.Engine._plans``) keys
on the absolute evaluation timestamps, so a real dashboard — the same
query SHAPE re-issued at an advancing ``now()`` — misses every time
and pays the full driver-side planning cost per refresh (measured at
sf0.01/local[8]: ~470 ms py4j plan construction + ~140 ms Catalyst per
unique-timestamp request vs ~290 ms pure execution; PERF.md).

The Prometheus ecosystem's answer is a caching query frontend in front
of the engine (Cortex/Thanos ``query-frontend``: step-aligned query
splitting + a results cache keyed on aligned intervals). This module
is that design reduced to one node:

* **Quantized evaluation window.** A range request ``(start, end,
  step)`` is widened to ``(a, b, step)`` where ``a ≤ start`` and
  ``b ≥ end`` sit on a quantum grid (quantum = a step multiple,
  auto-sized from the extent) **with the request's step phase
  preserved** (``a ≡ start (mod step)``), so the widened grid is a
  superset of the requested grid. Successive dashboard refreshes that
  advance ``start``/``end`` by less than the quantum map to the SAME
  widened window — one plan, one execution, many requests.
* **Exact restriction.** PromQL range evaluation is per-step
  independent (each grid point evaluates the expression at that
  instant — ``promql/engine.go:1016-1044`` walks the grid), so
  restricting the widened result to ``start ≤ t ≤ end`` reproduces
  the direct evaluation bit-for-bit. The restriction runs driver-side
  on the (≤ 11k-points-per-series, gate-bounded) collected rows.
* **Snapshot-scoped validity.** An ``Engine`` is an immutable snapshot
  of its samples DataFrame (the HTTP layer builds a NEW engine — and
  with it a new ``PromAPI`` and a new cache — whenever a write or a
  maintenance commit invalidates the old one), so cached rows can
  never go stale within their engine's lifetime, including rows at
  grid points past the newest sample. Nothing is ever served across
  engine rebuilds — the Cortex ``max_freshness`` knob collapses away.
* **Exact fallback.** Anything that stops the widened evaluation from
  standing in for the direct one — the widened grid tripping the 11k
  cap, or an evaluation error at a widened-only step (e.g. a
  step-varying ``topk`` k that is NaN outside the requested range) —
  falls back to the direct, uncached path, preserving the reference's
  error behavior exactly.

* **Instant queries at whole seconds share the same cache.** An
  instant query at time ``T`` is exactly the grid point ``T`` of a
  range evaluation whose grid contains ``T`` (per-step independence
  again), so when ``T`` is a multiple of :data:`INSTANT_STEP_MS` the
  API widens it to the enclosing window at that step and reads the
  one grid row — advancing-``now()`` instant dashboards then pay one
  fill per cell instead of the ~0.4 s direct plan+eval per refresh
  (PERF.md §13). A ``time`` off the 1 s grid lies on no shareable
  grid and takes the direct path (the upstream frontends stop at
  ``query_range`` entirely; this exact-reuse extension is safe for
  the same restriction reason as the range path).

* **An instant cell is one lookback.** A fill costs Spark's fixed
  per-query floor (jobs, Catalyst, code generation) more than its
  rows, and the raw selector emits one row per ``(series, step)``:
  over 1,000 series scraped every 15 s, a 301-point fill took
  0.65–0.70 s, against 1.06–1.08 s for a 61-point fill of the former
  explode plan, which emitted 20 rows per answer row (PERF §26). An
  instant request's quantum is therefore the engine's lookback (5 min
  by default), clamped to ``[MIN_QUANTUM_S, MAX_QUANTUM_S]``
  (:func:`instant_quantum_ms`); range requests keep the quarter-extent
  rule. A window's rows are kept grouped by grid time
  (:class:`WindowRows`), so a hit reads only the requested points.

* **A window too big for the rows budget fills once.** Its rows are
  served but not stored, and the snapshot remembers its ``(query,
  step, extent)``: later requests for a window that size take the
  direct path instead of filling it again on every request, while
  smaller windows of the same query and step are still cached.

* **Exact repeats are served as finished bytes.** Range panels align
  ``start``/``end`` to the step, so one exact request repeats for a
  whole step of refreshes; :class:`ResponseCache` keeps its encoded
  HTTP answer, so a repeat costs neither the restriction nor the
  marshalling, JSON and compression above. Label values and
  ``/series`` answers are cached the same way, and only there: they
  are pure functions of the snapshot, and a dashboard variable
  dropdown re-sends one on every refresh.

* **No prefetch.** A window ends at the first quantum boundary past
  the request's end. Windows are looked up by exact key, so a margin
  past that boundary would be evaluated on every fill and served to
  no request.

The rows cache (:class:`RangeResultCache`), :class:`ResponseCache`
and the engine's compiled-plan cache are one type, :class:`LRUCache`,
each with its own budget and cost per entry.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable

#: auto quantum bounds (seconds): a quarter of the request extent,
#: clamped so tiny requests still share windows and huge ones stay
#: bounded — backward widening is < one quantum (≤ 1 h), forward
#: widening is more than zero and at most one quantum (≤ 1 h): up to
#: the next quantum boundary past the request's end, no prefetch
MIN_QUANTUM_S = 60.0
MAX_QUANTUM_S = 3600.0


def instant_quantum_ms(lookback_ms: int) -> int:
    """An instant request's cell: the lookback, clamped to
    ``[MIN_QUANTUM_S, MAX_QUANTUM_S]``."""
    return int(min(max(lookback_ms, MIN_QUANTUM_S * 1000), MAX_QUANTUM_S * 1000))


#: grid step for caching INSTANT queries: a request whose ``time`` is
#: a whole multiple of this lands on a shareable widened-window grid;
#: anything finer takes the direct path. 1 s covers the dominant
#: dashboard pattern (clients issue whole-second ``now()``).
INSTANT_STEP_MS = 1000


def quantize_range(
    start_ms: int, end_ms: int, step_ms: int, quantum_ms: int | None = None
) -> tuple[int, int]:
    """Widen ``[start, end]`` to the enclosing quantum-aligned window
    ``[a, b]`` that preserves the step phase: ``a ≤ start``,
    ``b > end``, ``a ≡ start (mod step)`` and ``(b - a)`` a multiple
    of the (step-rounded) quantum — so the widened step grid contains
    every requested grid point. ``end`` picks its window by the
    half-open quantum cell it falls in, ``[a + kq, a + (k+1)q)``:
    every end in one cell, its left boundary included, gets the same
    ``b``, the cell's right boundary, so ``0 < b - end ≤ q``.
    An advancing dashboard therefore fills once per quantum."""
    if quantum_ms is None:
        extent = end_ms - start_ms
        quantum_ms = int(
            min(max(extent / 4, MIN_QUANTUM_S * 1000), MAX_QUANTUM_S * 1000)
        )
    # quantum must be a step multiple or the aligned window's grid
    # would drift off the request's phase
    q = -(-max(quantum_ms, step_ms) // step_ms) * step_ms
    phase = start_ms % step_ms
    a = (start_ms - phase) // q * q + phase
    # one half-open rule for every request: an ``end`` on a quantum
    # boundary shares the window of the requests after it
    return a, a + ((end_ms - a) // q + 1) * q


class LRUCache:
    """Thread-safe LRU map bounded by a budget on the summed charges of
    its entries: each entry is charged ``overhead + cost(key, value)``
    (default: 1 per entry), so no entry is free and a flood of empty
    values still fills the budget. A value charged more than the whole
    budget is never stored; each store evicts least-recently-used
    entries until the sum fits the budget, so a lowered budget takes
    effect at the next store, and 0 stores nothing."""

    def __init__(
        self,
        budget: int,
        cost: Callable[[tuple, object], int] = lambda k, v: 0,
        overhead: int = 1,
    ):
        self.budget = budget
        self._cost = lambda k, v: overhead + cost(k, v)
        self._entries: OrderedDict[tuple, object] = OrderedDict()
        self._used = 0
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def _lookup(self, key: tuple):
        value = self._entries.get(key)
        if value is not None:
            self._entries.move_to_end(key)
        return value

    def _store(self, key: tuple, value) -> None:
        old = self._entries.pop(key, None)
        if old is not None:
            self._used -= self._cost(key, old)
        size = self._cost(key, value)
        if size <= self.budget:
            self._entries[key] = value
            self._used += size
        while self._used > self.budget:
            old_key, old = self._entries.popitem(last=False)
            self._used -= self._cost(old_key, old)

    def fits(self, key: tuple, value) -> bool:
        """Whether ``value`` alone is within the budget."""
        return self._cost(key, value) <= self.budget

    def get(self, key: tuple):
        """The value stored under ``key`` (now the most recently used),
        or None."""
        with self._lock:
            return self._lookup(key)

    def put(self, key: tuple, value) -> None:
        with self._lock:
            self._store(key, value)

    def get_or_fill(self, key: tuple, fill: Callable[[], object]):
        with self._lock:
            value = self._lookup(key)
            if value is not None:
                self.hits += 1
                return value
        # fill outside the lock: a Spark collect must never serialize
        # other requests behind it (concurrent same-key fills are
        # benign — last one wins, both are correct)
        value = fill()
        with self._lock:
            self.misses += 1
            self._store(key, value)
        return value


class WindowRows:
    """One filled window's rows grouped by grid time ``t``, so reading
    the points of a request costs the answer, not the window."""

    __slots__ = ("by_t", "n")

    def __init__(self, rows: list):
        self.by_t: dict[int, list] = {}
        for r in rows:
            self.by_t.setdefault(r["t"], []).append(r)
        self.n = len(rows)

    def __len__(self) -> int:
        return self.n

    def between(self, start_ms: int, end_ms: int, step_ms: int) -> list:
        """The rows at the grid points ``start, start + step … ≤ end``."""
        by_t = self.by_t
        return [
            r for t in range(start_ms, end_ms + 1, step_ms) for r in by_t.get(t, ())
        ]


class RangeResultCache(LRUCache):
    """Collected range-query rows keyed on the widened window
    ``(query, step, a, b)``, bounded by total cached ROWS plus one per
    entry (a matrix result is one row per series per step; bounding
    entries alone would let a few high-cardinality results hold
    arbitrary memory)."""

    def __init__(self, max_rows: int = 2_000_000):
        super().__init__(max_rows, lambda _key, rows: len(rows))


#: byte budget of one snapshot's :class:`ResponseCache`, charged as
#: each entry's body and request bytes plus
#: :data:`RESPONSE_ENTRY_OVERHEAD`. A 30-min dashboard panel's gzipped
#: answer is a few KB, so this keeps thousands of them, and a flood of
#: never-repeated requests with tiny answers stays near this size too.
RESPONSE_CACHE_BYTES = 16 * 1024 * 1024

#: bytes charged per entry beyond its body, path and query: the key
#: and answer tuples, the string headers and the LRU node. Measured
#: with ``tracemalloc`` at ~370 B for a 70 B body and an 85 B query;
#: charged high so the budget bounds what the entries really hold.
RESPONSE_ENTRY_OVERHEAD = 512


def _response_cost(key: tuple, resp: tuple) -> int:
    path, query, _enc = key
    return len(resp[1]) + len(path) + len(query)


class ResponseCache(LRUCache):
    """Finished HTTP answers ``(status, body, headers)``, keyed on the
    exact request ``(path, raw query string, content encoding)`` and
    bounded by the bytes its entries hold (see
    :data:`RESPONSE_CACHE_BYTES`); an answer over the whole budget is
    never held. A range panel aligned to its step re-sends one exact
    request for a whole step of refreshes, and a dashboard variable
    re-sends one label-values request on every refresh; a hit skips
    the evaluation, marshalling, JSON and compression. Scoped like
    :class:`RangeResultCache`: one per ``PromAPI`` snapshot, so a write
    or a maintenance commit drops every entry with the snapshot. The
    ``headers`` mapping is stored as given, so callers share one
    immutable mapping per encoding."""

    def __init__(self, max_bytes: int):
        super().__init__(max_bytes, _response_cost, RESPONSE_ENTRY_OVERHEAD)


__all__ = [
    "LRUCache",
    "RangeResultCache",
    "WindowRows",
    "ResponseCache",
    "RESPONSE_CACHE_BYTES",
    "RESPONSE_ENTRY_OVERHEAD",
    "quantize_range",
    "instant_quantum_ms",
    "MIN_QUANTUM_S",
    "MAX_QUANTUM_S",
    "INSTANT_STEP_MS",
]
