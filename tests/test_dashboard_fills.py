"""What one dashboard panel fill costs, and how often it happens.

* An advancing instant panel fills once per lookback: an instant
  request's cell is the engine's lookback, and the frontend's window
  is chosen by the half-open cell the request's time falls in, so a
  request on the boundary shares the window of the requests after it
  (``frontend.quantize_range``, ``frontend.instant_quantum_ms``).
* A fill over a compacted store reads the series dictionary without a
  collapse aggregate (``read_samples_table``: the dictionary collapse
  is gated on the ``_dirty`` marker, like the samples collapse), so
  one instant fill runs one Spark job fewer.
"""

import os
import re
import shutil
import tempfile
import uuid

import pytest

from timbala_spark import Engine, prepare_samples
from timbala_spark.api import PromAPI
from timbala_spark.frontend import (
    INSTANT_STEP_MS,
    instant_quantum_ms,
    quantize_range,
)
from timbala_spark.model import DEFAULT_LOOKBACK_MS
from timbala_spark.streaming import read_samples_table
from timbala_spark.streaming.compact import compact_store
from timbala_spark.streaming.ingest import write_samples_batch
from timbala_spark.streaming.store import resolve_store

T0 = 1_700_000_000_000
SCHEMA = "labels map<string,string>, t long, v double"
QUERY = 'sum(up{job="j0"})'


def _rows():
    return [
        (
            {"__name__": "up", "job": f"j{s % 2}", "instance": f"i{s}"},
            T0 + i * 60_000 + s * 1_000,
            float(1 + s % 3),
        )
        for s in range(8)
        for i in range(120)
    ]


def _write(spark, rows, store):
    write_samples_batch(
        prepare_samples(spark.createDataFrame(rows, SCHEMA)), store
    )


def _compacted_store(spark) -> str:
    """A store written in two batches, then compacted (clean)."""
    store = tempfile.mkdtemp(prefix="timbala_fills_")
    rows = _rows()
    _write(spark, rows[::2], store)
    _write(spark, rows[1::2], store)
    compact_store(spark, store)
    return store


@pytest.fixture(scope="module")
def compacted(spark):
    store = _compacted_store(spark)
    yield store
    shutil.rmtree(store, ignore_errors=True)


def _sorted_rows(df):
    return sorted(
        (r["series_id"], r["t"], r["v"], r["name"], sorted(r["labels"].items()))
        for r in df.collect()
    )


def _has_dict_collapse(df) -> bool:
    """The read's analyzed plan collapses the series dictionary."""
    plan = df._jdf.queryExecution().analyzed().treeString()
    return re.search(r"Deduplicate \[series_id#\d+L?, name#\d+\]", plan) is not None


class TestOneFillPerQuantum:
    def test_instant_requests_over_a_lookback_build_once(self, spark, compacted):
        """Whole-second instants at ``m-1, m, m+1 … m+299`` (``m`` on a
        5 min lookback cell): from ``m`` on, ``query_range`` is built
        exactly once. A request on the boundary used to get a window of
        its own, so ``m`` and ``m+1`` each built one."""
        api = PromAPI(
            Engine(spark, read_samples_table(spark, compacted)), timeout_s=600
        )
        built = []
        query_range = api.engine.query_range

        def counting(*args, **kwargs):
            built.append(args)
            return query_range(*args, **kwargs)

        api.engine.query_range = counting
        cell = instant_quantum_ms(DEFAULT_LOOKBACK_MS)
        m = (T0 + 3_600_000) // cell * cell
        direct = PromAPI(api.engine, timeout_s=600, range_cache_rows=0)
        want = {}
        for t_ms in (m - 1000, m, m + cell - 1000):
            want[t_ms] = direct.query(QUERY, t_ms / 1000)
        built.clear()

        got = {m - 1000: api.query(QUERY, (m - 1000) / 1000)}
        assert len(built) == 1
        built.clear()
        for k in range(cell // 1000):
            t_ms = m + k * 1000
            got[t_ms] = api.query(QUERY, t_ms / 1000)
            assert got[t_ms]["status"] == "success", got[t_ms]
        assert len(built) == 1, built
        for t_ms, env in want.items():
            assert got[t_ms] == env, t_ms

    def test_boundary_request_shares_the_next_window(self):
        cell = instant_quantum_ms(DEFAULT_LOOKBACK_MS)
        assert cell == 300_000
        m = (T0 + 3_600_000) // cell * cell
        windows = {
            quantize_range(t, t, INSTANT_STEP_MS, cell)
            for t in range(m, m + cell, INSTANT_STEP_MS)
        }
        assert len(windows) == 1
        (a, b), = windows
        assert a == m and b == m + cell

    def test_over_budget_window_fills_once(self, spark, compacted):
        """An instant window whose rows exceed the rows budget is served
        but not stored; the snapshot remembers its ``(query, step,
        extent)``, so the later instants of the cell take the direct
        path instead of building and filling the whole window again."""
        api = PromAPI(
            Engine(spark, read_samples_table(spark, compacted)),
            timeout_s=600,
            range_cache_rows=5,
        )
        built = []
        query_range = api.engine.query_range

        def counting(*args, **kwargs):
            built.append(args)
            return query_range(*args, **kwargs)

        api.engine.query_range = counting
        direct = PromAPI(api.engine, timeout_s=600, range_cache_rows=0)
        t0 = (T0 + 3_600_000) // 1000
        for k in range(4):
            assert api.query(QUERY, t0 + k) == direct.query(QUERY, t0 + k)
        assert len(built) == 1, built
        rc = api._range_cache
        assert rc._used <= rc.budget

    def test_over_budget_marker_keeps_smaller_windows_cached(
        self, spark, compacted
    ):
        """The marker of an over-budget window covers windows of its
        extent only: after the 301-point instant window of a query is
        found too big, a 61-point range window of the same query and
        step still fits the budget, is filled once and served from the
        cache."""
        api = PromAPI(
            Engine(spark, read_samples_table(spark, compacted)),
            timeout_s=600,
            range_cache_rows=100,
        )
        direct = PromAPI(api.engine, timeout_s=600, range_cache_rows=0)
        t0 = (T0 + 3_600_000) // 1000
        ranges = [(t0 + k, t0 + k + 10) for k in range(3)]  # one 60 s cell
        want = [direct.query_range(QUERY, a, b, 1) for a, b in ranges]
        built = []
        query_range = api.engine.query_range

        def counting(*args, **kwargs):
            built.append(args)
            return query_range(*args, **kwargs)

        api.engine.query_range = counting
        for k in range(2):
            assert api.query(QUERY, t0 + k) == direct.query(QUERY, t0 + k)
        assert len(built) == 1, built
        assert [api.query_range(QUERY, a, b, 1) for a, b in ranges] == want
        assert len(built) == 2, built


class TestCompactedDictionaryRead:
    def _fill_jobs(self, spark, store) -> int:
        """Spark jobs of one instant-panel fill on a fresh engine: the
        ``query_range`` build and its collect, counted by job group."""
        sc = spark.sparkContext
        group = f"fill-{uuid.uuid4()}"
        t_ms = T0 + 3_600_000
        a, b = quantize_range(t_ms, t_ms, INSTANT_STEP_MS)
        eng = Engine(spark, read_samples_table(spark, store))
        sc.setJobGroup(group, "one instant fill")
        try:
            rows = eng.query_range(QUERY, a / 1000, b / 1000, 1.0).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == (b - a) // INSTANT_STEP_MS + 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_instant_fill_job_count(self, spark, compacted):
        """One fill on a compacted store runs at most 4 jobs (5 while
        the dictionary went through its collapse aggregate); counted
        three times, on three fresh engines."""
        counts = [self._fill_jobs(spark, compacted) for _ in range(3)]
        assert max(counts) <= 4, counts

    def test_dirty_dictionary_collapses_then_compaction_reads_plain(
        self, spark
    ):
        """A planted duplicate dictionary row in a dirty generation is
        read once; after ``compact_store`` the aggregate-free read of
        the clean generation gives identical answers."""
        store = _compacted_store(spark)
        q = "count by (instance) (up)"
        t = (T0 + 3_600_000) / 1000

        def answers(df):
            return sorted(
                tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r)
                for r in Engine(spark, df).query(q, t).collect()
            )

        try:
            clean = read_samples_table(spark, store)
            assert not _has_dict_collapse(clean)
            want, want_q = _sorted_rows(clean), answers(clean)
            assert len(want_q) == 8

            # a dictionary file holding a second row of one series, in
            # a generation marked dirty
            st = resolve_store(store)
            d = spark.read.parquet(st.series)
            spark.createDataFrame(d.collect()[:1], d.schema).write.mode(
                "append"
            ).parquet(st.series)
            open(st.dirty_marker, "w").close()
            assert spark.read.parquet(st.series).count() == 9

            dirty = read_samples_table(spark, store)
            assert _has_dict_collapse(dirty)
            assert _sorted_rows(dirty) == want
            assert answers(dirty) == want_q

            compact_store(spark, store)
            again = read_samples_table(spark, store)
            assert not os.path.exists(resolve_store(store).dirty_marker)
            assert not _has_dict_collapse(again)
            assert _sorted_rows(again) == want
            assert answers(again) == want_q
        finally:
            shutil.rmtree(store, ignore_errors=True)
