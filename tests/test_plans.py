"""Physical-plan regression gates for the scale properties PERF.md
relies on: filter pushdown, column pruning, day-partition pruning, and
the absence of a global sort on the programmatic path. These were
previously verified by hand (`.explain("formatted")` transcripts in
PERF.md §1/§3); a plan regression should fail CI, not a round review.
"""

import contextlib
import io
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from timbala_spark import Engine, prepare_samples


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


DAY_MS = 86_400_000
BASE_MS = 1_700_000_000_000


@pytest.fixture(scope="module")
def stored_engine(spark):
    from timbala_spark.streaming.ingest import (
        read_samples_table,
        write_samples_batch,
    )

    rows = [
        (
            {"__name__": "m", "job": "a"},
            BASE_MS + d * DAY_MS + i * 60_000,
            float(i),
        )
        for d in range(5)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, t long, v double")
    tmp = tempfile.mkdtemp(prefix="timbala_plans_")
    write_samples_batch(prepare_samples(df), tmp)
    yield Engine(spark, read_samples_table(spark, tmp))
    shutil.rmtree(tmp, ignore_errors=True)


class TestStoredScanPlans:
    def test_day_partition_pruning(self, stored_engine):
        """A one-lookback instant query must scan ONE day partition of
        five, via PartitionFilters on the derived day column."""
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(stored_engine.query("m", ts))
        assert "PartitionFilters" in plan
        pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
        assert "day" in pf and ">= 20231118" in pf and "<= 20231118" in pf, pf

    def test_time_bounds_reach_samples_scan(self, stored_engine):
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(stored_engine.query("m", ts))
        assert "GreaterThanOrEqual(t," in plan and "LessThanOrEqual(t," in plan

    def test_name_filter_reaches_series_dict_scan(self, stored_engine):
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(stored_engine.query("m", ts))
        assert "EqualTo(name,m)" in plan

    def test_samples_scan_schema_pruned(self, stored_engine):
        """The narrow samples scan must read exactly (series_id, t, v) —
        labels ride only on the series-dict side."""
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(stored_engine.query("m", ts))
        assert "struct<series_id:bigint,t:bigint,v:double>" in plan

    def test_no_global_sort_on_programmatic_path(self, stored_engine):
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(stored_engine.query("m", ts))
        # a global orderBy compiles to Exchange rangepartitioning —
        # the one all-to-one stage the engine must not emit by default
        assert "rangepartitioning" not in plan


class TestEventsPivotPlans:
    def test_selector_pushdown_and_pruning(self, spark):
        from timbala_spark.sources.events import events_to_samples

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        samples = events_to_samples(spark, "/root/testdata/sf0.001")
        t_max = samples.agg(F.max("t")).first()[0]
        eng = Engine(spark, samples, lookback_ms=12 * 3_600_000)
        plan = _plan(eng.query("click", t_max / 1000))
        assert "EqualTo(event_type,click)" in plan
        # column pruning: the events table's unused columns must not be
        # read (event_id, session fields, etc.)
        rs = next(
            l for l in plan.splitlines() if "ReadSchema" in l and "event_type" in l
        )
        assert "event_id" not in rs, rs
        assert "rangepartitioning" not in plan


@pytest.fixture(scope="module")
def rolled_engine(spark):
    """A compacted store with a materialized 1 h rollup and an engine
    that routes to it (timbala_spark.rollup)."""
    from timbala_spark.streaming.compact import compact_store
    from timbala_spark.streaming.ingest import (
        read_rollup_tables,
        read_samples_table,
        write_samples_batch,
    )

    W = 3_600_000
    d0 = (BASE_MS // DAY_MS) * DAY_MS  # UTC-day-aligned (tiles W)
    rows = [
        (
            {"__name__": "m", "job": "a"},
            d0 + d * DAY_MS + i * 300_000,
            float(d * 288 + i),
        )
        for d in range(5)
        for i in range(288)
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, t long, v double")
    tmp = tempfile.mkdtemp(prefix="timbala_rollup_plans_")
    write_samples_batch(prepare_samples(df), tmp)
    # 5m table: the instant-selector route needs W <= lookback (r8)
    compact_store(spark, tmp, rollup_ms=(W, 300_000))
    rollups = read_rollup_tables(spark, tmp)
    assert sorted(rollups) == [300_000, W]
    yield Engine(spark, read_samples_table(spark, tmp), rollups=rollups), d0
    shutil.rmtree(tmp, ignore_errors=True)


class TestRollupRoutedPlans:
    """Plan gates for the exact rollup route (PERF §16): an answerable
    shape must SCAN THE ROLLUP TABLE (not raw samples), keep
    day-partition pruning and time pushdown on that scan, and read
    only the payload columns the function needs."""

    def _routed_plan(self, rolled_engine, q="sum_over_time(m[2h])"):
        eng, d0 = rolled_engine
        start, end = (d0 + DAY_MS) / 1000, (d0 + 4 * DAY_MS) / 1000
        return _plan(eng.query_range(q, start, end, 7200))

    def test_routed_query_scans_rollup_not_raw(self, rolled_engine):
        plan = self._routed_plan(rolled_engine)
        assert "rollup-3600000" in plan
        # the raw narrow samples scan (series_id,t,v) must be absent —
        # the series-dict scan carries name/labels instead
        assert "struct<series_id:bigint,t:bigint,v:double>" not in plan

    def test_rollup_scan_prunes_days_and_pushes_time(self, rolled_engine):
        eng, d0 = rolled_engine
        # one day of a five-day store: the rollup scan must keep
        # partition pruning (derived day bounds) + t pushdown
        start = (d0 + 4 * DAY_MS) / 1000
        plan = _plan(
            eng.query_range("sum_over_time(m[1h])", start, start + 7200, 3600)
        )
        pf = [
            l
            for l in plan.splitlines()
            if "PartitionFilters" in l and "isnotnull(day" in l
        ]
        assert pf and all("20231118" in l for l in pf), pf
        assert "GreaterThanOrEqual(t," in plan
        assert "LessThanOrEqual(t," in plan

    def test_rollup_scan_schema_pruned_to_needed_payload(
        self, rolled_engine
    ):
        """sum_over_time needs cnt/sm (+ boundary twins); the other 15
        payload columns must not be read off disk."""
        plan = self._routed_plan(rolled_engine)
        rs = next(
            l
            for l in plan.splitlines()
            if "ReadSchema" in l and "cnt" in l
        )
        for col in ("sm:", "s_sm:", "cnt:", "s_cnt:"):
            assert col in rs, rs
        for col in ("corr", "chg", "rst", "mx:", "l_v", "l2_v", "sq:"):
            assert col not in rs, rs

    def test_routed_plan_stays_jvm_side(self, rolled_engine):
        plan = self._routed_plan(rolled_engine)
        assert "Python" not in plan
        assert "rangepartitioning" not in plan
        assert "collect_list" not in plan

    def test_routed_selector_scans_rollup_not_raw(self, rolled_engine):
        """r8: an aligned instant selector (the dashboard class) must
        serve from the 5m rollup — no raw samples scan, plan JVM-side,
        ONE aggregate exchange like the range route."""
        eng, d0 = rolled_engine
        start = (d0 + DAY_MS) / 1000
        plan = _plan(eng.query_range("m", start, start + 4 * 3600, 300))
        assert "rollup-300000" in plan
        assert "struct<series_id:bigint,t:bigint,v:double>" not in plan
        assert "Python" not in plan
        # marker columns read, heavy pair payload not
        rs = next(
            l
            for l in plan.splitlines()
            if "ReadSchema" in l and "l_t" in l
        )
        for col in ("l_t:", "l_v:", "st_l:", "s_st:", "s_cnt:", "s_sm:"):
            assert col in rs, rs
        for col in ("corr", "chg", "rst", "sq:", "l2_v"):
            assert col not in rs, rs

    def test_unaligned_selector_falls_back_to_raw(self, rolled_engine):
        eng, d0 = rolled_engine
        start = (d0 + DAY_MS + 17_000) / 1000  # off the 5m boundary
        plan = _plan(eng.query_range("m", start, start + 3600, 300))
        assert "rollup-" not in plan

    def test_dirty_hybrid_prunes_live_raw_scan(self, spark):
        """During a dirty window the routed frame is stored-archive ∪
        on-the-fly rollup over live raw; the engine's day bounds must
        prune BOTH scans — without the (series_id, day) window split
        and the day dedup key, every routed query re-scans all live
        raw days (the 100 TB regression this gate exists for)."""
        from timbala_spark.streaming.compact import (
            apply_retention,
            compact_store,
        )
        from timbala_spark.streaming.ingest import (
            read_rollup_tables,
            read_samples_table,
            write_samples_batch,
        )

        W = 3_600_000
        d0 = (BASE_MS // DAY_MS) * DAY_MS
        rows = [
            (
                {"__name__": "m", "job": "a"},
                d0 + d * DAY_MS + i * 300_000,
                float(d * 288 + i),
            )
            for d in range(5)
            for i in range(288)
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        tmp = tempfile.mkdtemp(prefix="timbala_hybrid_plans_")
        try:
            write_samples_batch(prepare_samples(df), tmp)
            compact_store(spark, tmp, rollup_ms=(W,))
            apply_retention(tmp, d0 + 2 * DAY_MS, rollup_min_t_ms=d0)
            late = spark.createDataFrame(
                [({"__name__": "m", "job": "a"}, d0 + 4 * DAY_MS + 7, 1.0)],
                "labels map<string,string>, t long, v double",
            )
            write_samples_batch(prepare_samples(late), tmp)  # dirty
            ru = read_rollup_tables(spark, tmp)
            assert ru, "archive must stay servable on a dirty generation"
            eng = Engine(spark, read_samples_table(spark, tmp), rollups=ru)
            plan = _plan(
                eng.query_range(
                    "sum_over_time(m[1h])",
                    (d0 + DAY_MS + W) / 1000,
                    (d0 + DAY_MS + 2 * W) / 1000,
                    3600,
                )
            )
            assert "rollup-3600000" in plan
            pruned = [
                l
                for l in plan.splitlines()
                if "PartitionFilters" in l
                and ">= 20231115" in l
                and "<= 20231115" in l
            ]
            # one line per pruned scan: the stored archive AND the
            # live raw samples feeding the on-the-fly rollup
            assert len(pruned) >= 2, plan
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_unanswerable_shape_falls_back_to_raw(self, rolled_engine):
        eng, d0 = rolled_engine
        start = (d0 + DAY_MS) / 1000
        # 7 m tiles neither the 1 h nor the 5 m table -> raw path
        plan = _plan(
            eng.query_range("sum_over_time(m[7m])", start, start + 7200, 3600)
        )
        assert "rollup-" not in plan
        assert "struct<series_id:bigint,t:bigint,v:double>" in plan


class TestRateKernelPlan:
    def test_single_exchange_no_python(self, stored_engine):
        """r5 lag-aggregate rate kernel: ONE exchange
        (hashpartitioning on series_id for the per-series lag window);
        the (series_id, step_t) aggregation reuses that partitioning —
        a second exchange would mean the no-reshuffle property
        regressed. No interpreted `aggregate` HOF and no Python
        anywhere in the kernel."""
        ts = (BASE_MS + 4 * DAY_MS + 49 * 60_000) / 1000
        plan = _plan(
            stored_engine.query_range("rate(m[30m])", ts - 3600, ts, 60)
        )
        # formatted plans list each Exchange's partitioning on an
        # `Arguments: hashpartitioning(...)` detail line; the kernel's
        # shuffle keys on series_id ALONE (the store's dict-attach side
        # may add a small (series_id, name) exchange plus a broadcast —
        # those are not the kernel)
        import re as _re

        kernel_exchanges = _re.findall(
            r"Arguments: hashpartitioning\(series_id#\d+L?, \d+\)", plan
        )
        assert len(kernel_exchanges) == 1, kernel_exchanges
        assert "rangepartitioning" not in plan
        assert "Python" not in plan
        # the extrapolation runs as plain column projection, not as an
        # interpreted lambda fold over collected arrays
        assert "collect_list" not in plan


class TestBuildRoundTrips:
    """Driver-side plan construction is py4j-round-trip-bound (PERF
    §13), so label-map and float-operator expressions are built as SQL
    text: one JVM call per projection instead of one per Column node.
    A Column forest creeping back into a compile path shows up here as
    a higher count of round trips while one cold range query builds."""

    #: round trips counted when the bound was set, plus 10 %
    BOUNDS = {
        "m > 0.5": 210,
        "m / scalar(a)": 542,
        "a / on(job, le, instance) group_left(x) b": 349,
        'count_values("v", m)': 783,
        'label_replace(m, "dst", "$1", "job", "(.*)")': 566,
        'sum(up{job="j0"})': 386,
    }

    @pytest.fixture(scope="class")
    def samples(self, spark):
        rows = [
            (
                {"__name__": n, "instance": i, "le": le, "job": "j", "x": "x"},
                k * 15_000,
                float(k),
            )
            for n in ("m", "a", "b", "c")
            for i in ("0", "1")
            for le in ("1", "+Inf")
            for k in range(40)
        ]
        df = spark.createDataFrame(rows, "labels map<string,string>, t long, v double")
        samples = prepare_samples(df)
        # the first build against a frame also fetches its schema
        Engine(spark, samples).query_range("m", 60, 600, 15)
        return samples

    @pytest.mark.parametrize("promql", sorted(BOUNDS))
    def test_cold_build_round_trips(self, spark, samples, promql):
        client_cls = type(spark.sparkContext._gateway._gateway_client)
        orig = client_cls.send_command
        calls = []

        def counting(client, command, *a, **kw):
            # object releases ("m\nd\n…") follow Python's GC timing,
            # not the plan being built
            if not command.startswith("m\nd\n"):
                calls.append(command)
            return orig(client, command, *a, **kw)

        engine = Engine(spark, samples)
        client_cls.send_command = counting
        try:
            engine.query_range(promql, 60, 600, 15)
        finally:
            client_cls.send_command = orig
        assert len(calls) <= self.BOUNDS[promql], len(calls)


class TestCurationPlans:
    """Plan gates for pipeline/sample.py (PERF §20): the scale claims
    are structural plan properties, so pin them in CI."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [(i, f"w{i} " * 5, ["en", "de"][i % 2], f"s{i % 4}") for i in range(200)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    def test_sample_is_map_only(self, docs):
        """The hash-gate sample must be scan→filter: no Exchange, no
        sort, no Python."""
        from timbala_spark.pipeline import stratified_sample

        plan = _plan(stratified_sample(docs, 0.25, "doc_id", seed=1))
        for bad in ("Exchange", "Sort (", "EvalPython", "InPandas"):
            assert bad not in plan, f"{bad} in sample plan:\n{plan}"

    def test_cap_default_gets_group_limit_pruning(self, docs):
        """The default single-window cap must get WindowGroupLimit —
        the map-side top-k prune that bounds the shuffle to cap×groups
        (the reason it beats the broadcast bypass, PERF §20)."""
        from timbala_spark.pipeline import cap_per_group

        plan = _plan(cap_per_group(docs, "source", 3, "doc_id"))
        assert "WindowGroupLimit" in plan, plan

    def test_cap_bypass_variant_skips_the_sort_for_under_cap_groups(self, docs):
        """With every group under the cap, the opt-in bypass's
        kept-rows side must be a join against the (empty) over-cap
        list — no row_number sort over the corpus. The window exists
        only on the over-cap slice."""
        from timbala_spark.pipeline import cap_per_group

        out = cap_per_group(
            docs, "source", 1000, "doc_id", optimize_small_groups=True
        )
        plan = _plan(out)
        # the pass-through branch is a broadcast anti join; the window
        # branch sorts only rows that survived the over-cap semi join
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        import re

        nodes = re.findall(r"\(\d+\) Window\b", plan)
        assert len(nodes) == 1, plan  # only the over-cap slice

    def test_pack_shuffles_corpus_exactly_once_and_not_globally(self, docs):
        """Packing must move the corpus through exactly ONE exchange —
        hash by the quantile bucket, never a single global-order window
        (one task at 100 TB) and never a second re-cluster shuffle
        (the spark_partition_id trap, PERF §20)."""
        import re

        from timbala_spark.pipeline import pack_greedy

        toks = docs.withColumn("n_tokens", F.lit(3))
        out = pack_greedy(toks, 50, "n_tokens", "doc_id", n_partitions=4)
        plan = _plan(out)
        assert "__bkt" in plan
        assert "rangepartitioning" not in plan.lower()
        # corpus-side exchanges: every Exchange that is not the
        # broadcast of the tiny offsets table
        corpus_ex = [
            l
            for l in plan.splitlines()
            if re.search(r"\(\d+\) Exchange", l)
        ]
        assert len(corpus_ex) == 1, plan
        for bad in ("EvalPython", "InPandas"):
            assert bad not in plan, plan

    def test_pii_scrub_is_map_only(self, docs):
        from timbala_spark.pipeline import scrub_pii

        plan = _plan(scrub_pii(docs))
        for bad in ("Exchange", "Sort (", "EvalPython", "InPandas"):
            assert bad not in plan, f"{bad} in scrub plan:\n{plan}"
        # r8 fused counts: ONE regexp_replace per rule in the plan —
        # the legacy shape carried a regexp_extract_all per rule too
        assert "regexp_extract_all" not in plan, plan

    def test_ngram_verify_join_is_candidate_reduced(self, docs):
        """r8 (PERF §20c): the exact-Jaccard verify must join the
        shingle ARRAYS only for candidate documents — a left-semi
        reduction against the ids, never an array-wide corpus shuffle
        for both join sides."""
        from timbala_spark.pipeline import ngram_jaccard_pairs

        plan = _plan(ngram_jaccard_pairs(docs))
        assert "LeftSemi" in plan, plan
