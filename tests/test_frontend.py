"""Query-frontend results cache (timbala_spark.frontend).

The contract under test: a PromAPI with the range-results cache ON
returns BYTE-IDENTICAL JSON envelopes to one with it OFF, for aligned
and misaligned step phases, while actually serving advancing-`now()`
refreshes from cache. Mirrors the correctness obligation of the
Cortex/Thanos query-frontend (step-aligned splitting must be
invisible); reference grid semantics at ``promql/engine.go:1016-1044``
(per-step independent evaluation, points strictly inside [start, end]).
"""

import pytest

from timbala_spark import Engine, prepare_samples
from timbala_spark.api import PromAPI
from timbala_spark.frontend import (
    RESPONSE_ENTRY_OVERHEAD,
    LRUCache,
    RangeResultCache,
    ResponseCache,
    WindowRows,
    quantize_range,
)


class TestQuantizeRange:
    def test_window_contains_and_phase_preserved(self):
        for start, end, step, q in [
            (1_700_000_000_000, 1_700_021_600_000, 60_000, None),
            (1_700_000_007_000, 1_700_000_777_000, 13_000, None),
            (0, 1, 1, None),
            (1_700_000_000_500, 1_700_003_600_500, 15_000, 600_000),
            (5, 5, 7, 11),  # degenerate single-point request
        ]:
            a, b = quantize_range(start, end, step, q)
            assert a <= start and b >= end
            assert a % step == start % step  # phase preserved

    def test_stable_under_advance_within_quantum(self):
        step, q = 15_000, 600_000
        start, end = 1_700_000_000_000, 1_700_003_600_000
        a0, b0 = quantize_range(start, end, step, q)
        # a dashboard advancing by one step per refresh shares the
        # window until the end crosses a quantum boundary
        hits = sum(
            1
            for i in range(1, 10)
            if quantize_range(start + i * step, end + i * step, step, q)
            == (a0, b0)
        )
        assert hits >= 5

    def test_window_invariants_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(
            start=st.integers(min_value=-(2**40), max_value=2**40),
            extent=st.integers(min_value=0, max_value=10**9),
            step=st.integers(min_value=1, max_value=10**7),
            quantum=st.one_of(
                st.none(), st.integers(min_value=1, max_value=10**8)
            ),
        )
        def check(start, extent, step, quantum):
            end = start + extent
            a, b = quantize_range(start, end, step, quantum)
            assert a <= start and b >= end
            assert a % step == start % step  # grid superset guarantee
            assert (b - a) % step == 0
            # bounded widening: at most one rounded quantum behind;
            # ahead, up to the next quantum boundary strictly past the
            # end — more than nothing and at most one quantum
            q = -(-max(quantum or 1, step) // step) * step
            if quantum is not None:
                assert (start - a) < q
                assert 0 < (b - end) <= q
            # stability: a request sliding within the same quantum cell
            # maps to the same window (cache-hit guarantee)
            if quantum is not None and extent >= step:
                a2, b2 = quantize_range(
                    start + step, end + step, step, quantum
                )
                assert a2 % step == a % step
                assert a2 in (a, a + q)

        check()

    def test_cache_row_budget_eviction(self):
        c = RangeResultCache(max_rows=10)
        c.get_or_fill(("a",), lambda: list(range(6)))
        c.get_or_fill(("b",), lambda: list(range(6)))  # evicts a
        calls = []
        c.get_or_fill(("a",), lambda: calls.append(1) or list(range(6)))
        assert calls  # re-filled after eviction
        big = c.get_or_fill(("huge",), lambda: list(range(100)))
        assert len(big) == 100  # over-budget results pass through uncached

    def test_response_cache_byte_budget_eviction(self):
        """Each entry is charged its body, path and query plus a fixed
        per-entry overhead; the least recently used goes first."""
        o = RESPONSE_ENTRY_OVERHEAD
        c = ResponseCache(max_bytes=2 * o + 20)
        c.put(("/p", "a", None), (200, b"123456", {}))  # o + 9
        c.put(("/p", "b", None), (200, b"123456", {}))  # o + 9: both fit
        assert c.get(("/p", "a", None))[1] == b"123456"  # b is now LRU
        c.put(("/p", "c", None), (200, b"123456", {}))  # evicts b
        assert c.get(("/p", "b", None)) is None
        assert c.get(("/p", "a", None)) is not None
        assert c.get(("/p", "c", None)) is not None
        # over the whole budget: not stored, nothing evicted
        c.put(("/p", "huge", None), (200, bytes(2 * o), {}))
        assert c.get(("/p", "huge", None)) is None
        assert c.get(("/p", "a", None)) is not None
        assert c.get(("/p", "c", None)) is not None
        # a re-put replaces the entry's charge, not adds to it
        c.put(("/p", "c", None), (200, b"", {}))
        assert c.get(("/p", "a", None)) is not None
        assert c.get(("/p", "c", None))[1] == b""
        # the query string is charged: beside an o + 3 entry, a query
        # of 15 chars (o + 17) fits in 2o + 20 and one of 16 does not
        for n, fits in ((15, True), (16, False)):
            q = ResponseCache(max_bytes=2 * o + 20)
            q.put(("/p", "a", None), (200, b"", {}))
            q.put(("/p", "b" * n, None), (200, b"", {}))
            assert (q.get(("/p", "a", None)) is not None) is fits

    def test_response_cache_budget_bounds_memory_of_tiny_answers(self):
        """A flood of never-repeated requests with ~70 B answers (an
        empty gzipped envelope) holds no more memory than the budget:
        the per-entry charge covers what an entry really costs."""
        import tracemalloc
        from urllib.parse import urlparse

        from timbala_spark.server import TimbalaServer

        headers = TimbalaServer._API_HEADERS["gzip"]
        budget = 1 << 20
        c = ResponseCache(max_bytes=budget)
        tracemalloc.start()
        try:
            before = tracemalloc.get_traced_memory()[0]
            for i in range(20_000):
                url = urlparse(
                    "/api/v1/query_range?query=sum%28up%7Bjob%3D%22j"
                    f"{i}%22%7D%29&start={1_650_000_000 + i}"
                    f"&end={1_650_001_800 + i}&step=60"
                )
                c.put((url.path, url.query, "gzip"), (200, bytes(70), headers))
            held = tracemalloc.get_traced_memory()[0] - before
        finally:
            tracemalloc.stop()
        assert len(c._entries) < 20_000  # the budget evicted
        assert held <= budget, held


class TestCacheBounds:
    """Every entry is charged a fixed overhead, so no cache holds free
    entries: a flood of distinct empty answers stays under each
    cache's budget."""

    N = 100_000

    def _flood(self, cache, value) -> None:
        for i in range(self.N):
            cache.get_or_fill((f"q{i}", 1, i, i + 1), lambda: value)
        assert cache._used <= cache.budget
        assert len(cache._entries) <= cache.budget

    def test_rows_cache_flood_of_empty_windows(self):
        self._flood(RangeResultCache(max_rows=10), WindowRows([]))

    def test_response_cache_flood_of_empty_bodies(self):
        c = ResponseCache(max_bytes=4 * RESPONSE_ENTRY_OVERHEAD)
        for i in range(self.N):
            c.put(("/p", f"q{i}", None), (200, b"", {}))
        assert c._used <= c.budget
        assert len(c._entries) <= 4

    def test_plan_cache_flood(self):
        """The engine's plan cache is an ``LRUCache`` of one charge per
        plan (``Engine._plans``)."""
        self._flood(LRUCache(10), object())


class TestWindowRows:
    def test_a_hit_reads_only_the_requested_points(self):
        """A window's rows are grouped by grid time once, when it is
        filled; reading one instant or a short range then touches only
        the rows it returns, not the window's 301 x 100 rows."""
        reads = []

        class Row(dict):
            def __getitem__(self, k):
                reads.append(k)
                return dict.__getitem__(self, k)

        step = 1000
        rows = [Row(t=t * step, s=s) for s in range(100) for t in range(301)]
        window = WindowRows(rows)
        assert len(window) == len(rows)
        reads.clear()
        got = window.between(150 * step, 150 * step, step)
        assert reads == [] and got == [r for r in rows if r["t"] == 150 * step]
        reads.clear()
        got = window.between(10 * step, 13 * step, 3 * step)
        assert reads == [] and len(got) == 200
        assert {r["t"] for r in got} == {10 * step, 13 * step}


@pytest.fixture(scope="module")
def apis(spark):
    """(cached, direct) PromAPI pair over one in-memory engine."""
    t0 = 1_700_000_000_000
    rows = []
    for s in range(6):
        for i in range(240):  # 4h of minutely data, 6 series
            rows.append(
                (
                    {"__name__": "m", "i": str(s % 3), "j": str(s % 2)},
                    t0 + i * 60_000 + s * 1_000,
                    float((i * 7 + s * 13) % 50),
                )
            )
    df = prepare_samples(
        spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
    )
    eng = Engine(spark, df)
    return (
        PromAPI(eng, timeout_s=600),
        PromAPI(eng, timeout_s=600, range_cache_rows=0),
        t0,
    )


EXPRS = [
    "m",
    "sum by (i) (m)",
    "rate(m[10m])",
    "topk(2, sum by (i, j) (m))",
    "avg_over_time(m[7m]) + 1",
    "scalar(count(m)) * time() % 97",  # time()-dependent: per-step exact
    "absent(nosuch)",
]


class TestCachedEqualsDirect:
    @pytest.mark.parametrize("phase_s", [0, 7.5])
    def test_envelopes_identical(self, apis, phase_s):
        cached, direct, t0 = apis
        start = t0 / 1000 + 600 + phase_s  # misaligned phase too
        end = start + 5400
        for expr in EXPRS:
            for step in (60, 73):  # odd step: grid never lands on :00
                got = cached.query_range(expr, start, end, step)
                want = direct.query_range(expr, start, end, step)
                assert got == want, (expr, step, phase_s)

    def test_advancing_refreshes_hit_cache_and_stay_exact(self, apis):
        cached, direct, t0 = apis
        step = 60
        # step-aligned advance, as dashboard clients issue it (Grafana
        # aligns start to the step); a client advancing by a non-step
        # refresh interval cycles through step/gcd phases and still
        # converges to hits after one cycle
        rc = cached._range_cache
        hits0, misses0 = rc.hits, rc.misses
        for i in range(8):
            start = t0 / 1000 + 600 + i * step
            end = start + 3600
            got = cached.query_range("sum by (i) (rate(m[5m]))", start, end, step)
            want = direct.query_range("sum by (i) (rate(m[5m]))", start, end, step)
            assert got == want, i
        assert rc.hits - hits0 >= 6  # only quantum-boundary crossings miss
        assert rc.misses - misses0 <= 2

    def test_eval_error_surfaces_identically(self, apis):
        cached, direct, t0 = apis
        start, end = t0 / 1000 + 600, t0 / 1000 + 600 + 1800
        # step-varying k is NaN -> the reference errors in evalInt
        got = cached.query_range("topk(scalar(nosuch), m)", start, end, 60)
        want = direct.query_range("topk(scalar(nosuch), m)", start, end, 60)
        assert got == want and got["status"] == "error"
        # parse errors too
        got = cached.query_range("m[", start, end, 60)
        want = direct.query_range("m[", start, end, 60)
        assert got == want and got["errorType"] == "bad_data"

    @pytest.mark.parametrize(
        "expr",
        [
            "sum by (i) (m)",
            "rate(m[7m])",
            "topk(2, sum by (i, j) (m))",
            "avg_over_time(m[9m]) + scalar(count(m))",
            "absent(nosuch)",
        ],
    )
    def test_per_step_independence_property(self, apis, expr):
        """The axiom BOTH caches rest on, pinned directly: an instant
        evaluation at t is bit-identical to the grid point t of any
        range evaluation whose grid contains t, for randomized
        (t, step, window) placements (promql/engine.go:1016-1044
        evaluates each grid step independently)."""
        import random

        _cached, direct, t0 = apis
        eng = direct.engine
        rng = random.Random(hash(expr) & 0xFFFF)

        def canon(rows):
            return sorted(
                (
                    tuple(sorted(dict(r["labels"]).items())),
                    r["t"],
                    "NaN" if r["v"] != r["v"] else r["v"],
                )
                for r in rows
            )

        for _ in range(3):
            t = t0 / 1000 + rng.randrange(600, 13800)
            step = rng.choice([7, 13, 60])
            a = t - rng.randrange(0, 4) * step
            b = t + rng.randrange(0, 3) * step
            inst = canon(eng.query(expr, t).collect())
            grid = eng.query_range(expr, a, b, step).collect()
            at_t = canon([r for r in grid if r["t"] == int(t * 1000)])
            assert inst == at_t, (expr, t, step, a, b)

    def test_instant_cached_equals_direct_and_hits(self, apis):
        """Instant queries at advancing whole-second times serve from
        the widened 1 s-grid window: byte-identical envelopes, one
        fill per (expr, quantum window)."""
        cached, direct, t0 = apis
        rc = cached._range_cache
        for expr in EXPRS:
            hits0, misses0 = rc.hits, rc.misses
            for i in range(6):  # advancing now(), 1 s per refresh
                t = t0 / 1000 + 3600 + i
                got = cached.query(expr, t)
                want = direct.query(expr, t)
                assert got == want, (expr, i)
            assert rc.misses - misses0 <= 2, expr  # ≤ windows touched
            assert rc.hits - hits0 >= 4, expr

    def test_instant_off_grid_and_ordered_bypass(self, apis):
        cached, direct, t0 = apis
        rc = cached._range_cache
        h0, m0 = rc.hits, rc.misses
        t = t0 / 1000 + 3600 + 0.5  # off the 1 s grid: direct path
        assert cached.query("sum(m)", t) == direct.query("sum(m)", t)
        # sort()'s wire order comes from the plan's collect order — the
        # shared cache must not assume it, so it bypasses too
        ts = t0 / 1000 + 3600
        assert cached.query("sort(m)", ts) == direct.query("sort(m)", ts)
        # matrix-selector instant queries return raw samples (not a
        # grid evaluation) and bypass as well
        assert cached.query("m[5m]", ts) == direct.query("m[5m]", ts)
        assert (rc.hits, rc.misses) == (h0, m0)

    def test_instant_errors_surface_identically(self, apis):
        cached, direct, t0 = apis
        t = t0 / 1000 + 3600
        got = cached.query("topk(scalar(nosuch), m)", t)
        want = direct.query("topk(scalar(nosuch), m)", t)
        assert got == want and got["status"] == "error"

    def test_points_cap_respects_requested_grid(self, apis):
        cached, direct, t0 = apis
        start = t0 / 1000
        # requested grid is exactly at the cap: widening must NOT turn
        # a legal request into an 11k error (the cached path bypasses)
        eng = cached.engine
        n = eng.max_points  # cap counts INTERVALS (api.go:211-216)
        end = start + n * 1
        got = cached.query_range("m", start, end, 1)
        assert got["status"] == "success"
        # one past the cap errors, same as direct, with the
        # reference's verbatim message
        got = cached.query_range("m", start, end + 1, 1)
        want = direct.query_range("m", start, end + 1, 1)
        assert got == want and got["status"] == "error"
        assert got["errorType"] == "bad_data"
        assert got["error"] == (
            "exceeded maximum resolution of 11,000 points per "
            "timeseries. Try decreasing the query resolution (?step=XX)"
        )
