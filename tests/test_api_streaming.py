"""API facade + streaming ingest round-trip tests.

Modeled on the reference's acceptance tests
(internal/test/acceptance/acceptance_test.go): write samples, query
them back through the API envelope; `1+1` → scalar 2.
"""

import json
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from timbala_spark import Engine, prepare_samples
from timbala_spark.api import PromAPI, go_float_str


@pytest.fixture(scope="module")
def api(spark):
    rows = [
        ({"__name__": "test_metric1", "foo": "bar"}, i * 60_000, float(i) * 100)
        for i in range(11)
    ] + [
        ({"__name__": "test_metric1", "foo": "boo"}, i * 60_000, 1.0)
        for i in range(11)
    ] + [
        ({"__name__": "test_metric2", "foo": "boo"}, i * 60_000, 1.0)
        for i in range(11)
    ]
    df = spark.createDataFrame(rows, "labels map<string,string>, t long, v double")
    return PromAPI(Engine(spark, prepare_samples(df)))


class TestGoFloatStr:
    def test_formats(self):
        assert go_float_str(2.0) == "2"
        assert go_float_str(0.5) == "0.5"
        assert go_float_str(100.0) == "100"
        assert go_float_str(float("inf")) == "+Inf"
        assert go_float_str(float("-inf")) == "-Inf"
        assert go_float_str(float("nan")) == "NaN"
        assert go_float_str(-0.25) == "-0.25"
        assert go_float_str(1e-7) == "0.0000001"

    def test_repr_fast_path_equals_decimal_formatter(self):
        """The ``repr`` fast path prints exactly what formatting every
        value through ``Decimal`` printed: edge values around repr's
        exponent switch (1e-4 / 1e16), signed zero, subnormals, and
        10k random bit patterns."""
        import decimal
        import math
        import random
        import struct

        def via_decimal(v):
            if math.isnan(v):
                return "NaN"
            if math.isinf(v):
                return "+Inf" if v > 0 else "-Inf"
            txt = format(decimal.Decimal(repr(v)), "f")
            if "." in txt:
                txt = txt.rstrip("0").rstrip(".")
            return txt if txt not in ("", "-") else "0"

        edge = [0.0, -0.0, 5e-324, -5e-324, 1e-5, 1e-4, 9.999e-5, 1e15,
                1e16, 9999999999999998.0, 1e21, -1e21, 1 / 3, -1 / 3,
                1.5, 100.0, float("nan"), float("inf"), float("-inf"),
                1.7976931348623157e308]
        rng = random.Random(8)
        bits = [
            struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
            for _ in range(10_000)
        ]
        for v in edge + bits:
            assert go_float_str(v) == via_decimal(v), repr(v)
        assert go_float_str(-0.0) == "-0"


class TestAPI:
    def test_scalar_query(self, api):
        out = api.query("1+1", 0)
        assert out == {
            "status": "success",
            "data": {"resultType": "scalar", "result": [0, "2"]},
        }

    def test_vector_query(self, api):
        out = api.query('test_metric1{foo="bar"}', 600)
        assert out["status"] == "success"
        d = out["data"]
        assert d["resultType"] == "vector"
        assert d["result"][0]["metric"]["foo"] == "bar"
        assert d["result"][0]["value"][1] == "1000"

    def test_query_range_envelope(self, api):
        out = api.query_range("test_metric2", 0, 300, 60)
        assert out["status"] == "success"
        m = out["data"]["result"]
        assert len(m) == 1
        assert len(m[0]["values"]) == 6
        assert all(v == "1" for _, v in m[0]["values"])

    def test_parse_error(self, api):
        out = api.query("sum(", 0)
        assert out["status"] == "error"
        assert out["errorType"] == "bad_data"

    def test_bad_step(self, api):
        out = api.query_range("test_metric1", 0, 100, 0)
        assert out["status"] == "error"

    def test_label_values(self, api):
        out = api.label_values("foo")
        assert out == {"status": "success", "data": ["bar", "boo"]}
        out = api.label_values("__name__")
        assert out["data"] == ["test_metric1", "test_metric2"]

    def test_label_values_invalid(self, api):
        assert api.label_values("0bad")["status"] == "error"

    def test_series(self, api):
        out = api.series(['test_metric1{foo="bar"}'], 0, 600)
        assert out["status"] == "success"
        assert out["data"] == [{"__name__": "test_metric1", "foo": "bar"}]
        out = api.series(["test_metric1", "test_metric2"], 0, 600)
        assert len(out["data"]) == 3

    def test_series_no_match(self, api):
        assert api.series([], 0, 600)["status"] == "error"

    def test_meta_limit_bounds_driver_collects(self, api):
        """At the 40M-series bar the meta endpoints are the only
        data-cardinality-bound collects; past ``meta_limit`` they
        answer a TRUNCATED success with a ``warnings`` entry (the
        later-Prometheus limit contract; limit(N+1) keeps the
        executor→driver transfer bounded), and ``None`` restores the
        reference's unbounded contract."""
        capped = PromAPI(api.engine, meta_limit=2)
        out = capped.label_values("foo")  # 2 values == limit: fine
        assert out == {"status": "success", "data": ["bar", "boo"]}
        out = capped.label_values("__name__")  # 2 == limit: fine
        assert out["status"] == "success" and "warnings" not in out
        tight = PromAPI(api.engine, meta_limit=1)
        out = tight.label_values("foo")
        assert out["status"] == "success"
        assert out["data"] == ["bar"]  # truncated, deterministic order
        assert any("truncated" in w for w in out["warnings"])
        # series: 3 distinct series > limit 2 — including across
        # multiple match[] selectors
        out = capped.series(["test_metric1", "test_metric2"], 0, 600)
        assert out["status"] == "success" and len(out["data"]) == 2
        assert any("narrow match[]" in w for w in out["warnings"])
        out = capped.series(['test_metric1{foo="bar"}'], 0, 600)
        assert out["status"] == "success" and "warnings" not in out
        unbounded = PromAPI(api.engine, meta_limit=None)
        assert len(unbounded.series(["test_metric1", "test_metric2"], 0, 600)["data"]) == 3

    def test_json_serializable(self, api):
        json.dumps(api.query("test_metric1", 600))


class TestStreamingIngest:
    def test_wire_roundtrip(self, spark):
        """Remote-write-shaped JSON lines → streaming ingest → parquet →
        instant query round-trip (acceptance_test.go:124-161 analog)."""
        from timbala_spark.streaming import read_samples_table, start_ingest

        tmp = tempfile.mkdtemp(prefix="timbala_ingest_")
        try:
            rows = [
                json.dumps(
                    {
                        "labels": {"__name__": "RoundTrip", "node": f"n{i%2}"},
                        "t": 1_700_000_000_000 + i * 1000,
                        "v": 1234.0,
                    }
                )
                for i in range(20)
            ]
            src_dir = f"{tmp}/src"
            import os

            os.makedirs(src_dir)
            with open(f"{src_dir}/batch.txt", "w") as f:
                f.write("\n".join(rows))
            source = spark.readStream.format("text").load(src_dir)
            q = start_ingest(
                source, f"{tmp}/table", f"{tmp}/ckpt", parse=True
            )
            q.processAllAvailable()
            q.stop()

            samples = read_samples_table(spark, f"{tmp}/table")
            assert samples.count() == 20
            eng = Engine(spark, samples)
            got = eng.query_values("RoundTrip", 1_700_000_019)
            assert len(got) == 2
            assert all(v == 1234.0 for _, v in got)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_dedup_on_ingest(self, spark):
        from timbala_spark.sources.remote_write import (
            remote_write_batch_to_samples,
        )

        series = [
            {
                "labels": {"__name__": "m", "a": "1"},
                "samples": [[1000, 1.0], [1000, 1.0], [2000, 2.0]],
            }
        ]
        df = remote_write_batch_to_samples(spark, series)
        assert df.count() == 2


class TestRemoteRead:
    def test_read_matchers_and_range(self, api):
        df = api.read('test_metric1{foo="bar"}', 0, 300)
        rows = df.collect()
        assert len(rows) == 6  # t=0..5m inclusive
        assert all(dict(r["labels"])["foo"] == "bar" for r in rows)

    def test_string_result(self, api):
        out = api.query("'hello'", 7)
        assert out["data"] == {"resultType": "string", "result": [7, "hello"]}


class TestRecordingRules:
    def test_rule_eval_and_requery(self, spark, api):
        from timbala_spark.streaming.rules import (
            RecordingRule,
            evaluate_rule,
            run_rules_once,
        )

        eng = api.engine
        rule = RecordingRule(
            record="job:metric1:sum", expr="sum(test_metric1)", labels={"team": "x"}
        )
        out = evaluate_rule(eng, rule, 600)
        rows = out.collect()
        assert len(rows) == 1
        labels = dict(rows[0]["labels"])
        assert labels["__name__"] == "job:metric1:sum"
        assert labels["team"] == "x"
        assert rows[0]["v"] == 1001.0  # 1000 + 1

        # recorded series are queryable when unioned back
        from timbala_spark import Engine

        merged = eng.samples.unionByName(out)
        eng2 = Engine(spark, merged)
        got = eng2.query_values("job:metric1:sum", 600)
        assert got == [({"__name__": "job:metric1:sum", "team": "x"}, 1001.0)]

        both = run_rules_once(
            eng,
            [rule, RecordingRule(record="r2", expr="count(test_metric1)")],
            600,
        )
        assert both.count() == 2


class TestStatefulStreaming:
    def test_cross_batch_sessionization(self, spark):
        """applyInPandasWithState carries per-user session state across
        micro-batches: counts must equal the batch sessionizer over the
        union of both batches."""
        import os

        from timbala_spark.streaming.stateful import streaming_sessionize

        MIN = 60_000
        batch1 = [(1, 0), (1, 10 * MIN), (1, 60 * MIN), (2, 0)]
        # u1: 70min continues the session ending at 60min; 120min opens
        # a new one. u2: 40min is past the 30min gap -> second session.
        batch2 = [(1, 70 * MIN), (1, 120 * MIN), (2, 40 * MIN)]
        expect = {1: (3, 5), 2: (2, 2)}

        tmp = tempfile.mkdtemp(prefix="timbala_state_")
        try:
            src_dir = f"{tmp}/src"
            os.makedirs(src_dir)

            def write_file(name, rows):
                with open(f"{src_dir}/{name}", "w") as f:
                    f.write(
                        "\n".join(
                            json.dumps({"user_id": u, "tms": t})
                            for u, t in rows
                        )
                    )

            write_file("b1.txt", batch1)
            src = spark.readStream.format("text").load(src_dir)
            events = src.select(
                F.from_json(
                    F.col("value").cast("string"), "user_id long, tms long"
                ).alias("r")
            ).select("r.user_id", "r.tms")
            out = streaming_sessionize(events)
            q = (
                out.writeStream.format("memory")
                .queryName("sessions_state")
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .start()
            )
            q.processAllAvailable()
            write_file("b2.txt", batch2)
            q.processAllAvailable()
            q.stop()

            rows = spark.sql(
                # counters are monotonic, so the latest update per user
                # is the max
                "SELECT user_id, max(n_sessions) AS s, max(n_events) AS e "
                "FROM sessions_state GROUP BY user_id"
            ).collect()
            got = {r["user_id"]: (r["s"], r["e"]) for r in rows}
            assert got == expect
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestStoreMaintenance:
    def test_server_gc_grace_scales_with_query_timeout(self, spark):
        """The grace-vs-timeout invariant must hold for ANY configured
        timeout, not just the default the GC_GRACE_S constant was
        sized for: a reader pins its generation for one query's
        lifetime, so grace > timeout is what guarantees no pinned
        reader ever loses its files (tsdb/db.go:292-330 refcounts)."""
        import tempfile as _tf

        from timbala_spark.server import TimbalaServer
        from timbala_spark.streaming.store import GC_GRACE_S

        store = _tf.mkdtemp(prefix="timbala_grace_")
        try:
            default = TimbalaServer(spark, store)
            assert default._gc_grace_s() == GC_GRACE_S  # 150 > 120*1.25=150
            slow = TimbalaServer(spark, store, timeout_s=600.0)
            assert slow._gc_grace_s() == 750.0
        finally:
            shutil.rmtree(store, ignore_errors=True)

    def test_compact_and_retention(self, spark):
        """Multi-batch appends → many small files; compaction merges
        them, dedups cross-batch re-sends and the series dict;
        retention drops whole expired day partitions (the reference's
        leveled compactor + block retention analog)."""
        import os

        from timbala_spark.streaming import read_samples_table
        from timbala_spark.streaming.compact import apply_retention, compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_compact_")
        try:
            day_ms = 86_400_000
            t0 = 1_700_000_000_000
            mk = lambda rows: prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            b1 = [
                ({"__name__": "m", "i": str(i % 3)}, t0 + i * 60_000, float(i))
                for i in range(30)
            ]
            # batch 2 re-sends half of batch 1 (same series_id, t) and
            # adds a day-2 tail
            b2 = b1[:15] + [
                ({"__name__": "m", "i": str(i % 3)}, t0 + day_ms + i * 60_000, 1.0)
                for i in range(10)
            ]
            write_samples_batch(mk(b1), tmp)
            write_samples_batch(mk(b2), tmp)

            files_before = [
                f for r, _, fs in os.walk(f"{tmp}/samples") for f in fs
                if f.endswith(".parquet")
            ]
            # cross-batch re-sends exist physically (raw view), but the
            # canonical read collapses them even BEFORE compaction —
            # the reference's store never exposes duplicate (series, t)
            # samples (tsdb append rejects them; fan-out merges)
            from timbala_spark.streaming import store_is_dirty

            assert store_is_dirty(tmp)  # uncompacted batches pending
            assert read_samples_table(spark, tmp, dedup=False).count() == 55
            assert read_samples_table(spark, tmp).count() == 40
            compact_store(spark, tmp)
            # compaction committed generation 1 via the manifest; the
            # legacy gen-0 dirs survive (reader pinning) until GC
            from timbala_spark.streaming import resolve_store

            st = resolve_store(tmp)
            assert st.gen == 1
            files_after = [
                f for r, _, fs in os.walk(st.samples) for f in fs
                if f.endswith(".parquet")
            ]
            assert len(files_after) < len(files_before)
            # compaction clears the marker: auto reads skip the
            # replica-collapse exchange (measured 1.7-2x on wide
            # windows) until the next write dirties the store again
            assert not store_is_dirty(tmp)
            got = read_samples_table(spark, tmp)
            assert got.count() == 40  # 30 + 10, duplicates collapsed
            # plan gate: the clean read carries no aggregate at all —
            # the samples-side replica collapse and the dict-side
            # collapse are both gone post-compaction; an explicit
            # dedup=True brings back the samples collapse only (the
            # dictionary collapse follows the marker alone)
            def n_aggs(df):
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                return sum(
                    1 for ln in plan.splitlines() if "Aggregate [" in ln
                )

            assert n_aggs(got) == 0
            assert n_aggs(read_samples_table(spark, tmp, dedup=True)) == 1
            assert got.select("series_id").distinct().count() == 3
            # series dict collapsed to one row per series
            assert spark.read.parquet(st.series).count() == 3

            # a fresh write re-dirties the store: auto reads collapse
            # the re-sent rows again without waiting for compaction
            write_samples_batch(mk(b1[:3]), tmp)
            assert store_is_dirty(tmp)
            assert read_samples_table(spark, tmp).count() == 40

            dropped = apply_retention(tmp, t0 + day_ms)
            assert dropped and all(d.startswith("day=") for d in dropped)
            left = read_samples_table(spark, tmp)
            assert left.count() == 10
            assert left.agg(F.min("t")).first()[0] >= t0 + day_ms
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_maintenance_is_atomic_under_pinned_readers(self, spark):
        """The reference never lets a reader observe a half-compacted
        store (tsdb/db.go:292-330 reload under lock, readers hold
        block refs). Our analog: maintenance commits a new generation
        via the manifest and a reader built BEFORE the commit keeps
        scanning its pinned generation — repeated maintenance must not
        fail it or change its answer (until GC retires its gen)."""
        import os

        from timbala_spark.streaming import (
            read_samples_table,
            resolve_store,
        )
        from timbala_spark.streaming.compact import (
            apply_retention,
            compact_store,
        )
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_atomic_")
        try:
            day_ms = 86_400_000
            t0 = 1_700_000_000_000
            rows = [
                ({"__name__": "m", "i": str(i % 4)}, t0 + i * 60_000, float(i))
                for i in range(40)
            ] + [
                ({"__name__": "m", "i": "x"}, t0 + day_ms + i * 60_000, 1.0)
                for i in range(10)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            pinned = read_samples_table(spark, tmp)  # pins legacy gen 0
            assert pinned.count() == 50
            compact_store(spark, tmp, gc_keep=1)  # gen 1; gen 0 retired
            assert resolve_store(tmp).gen == 1
            # gen-0 reader survives the commit, bit-for-bit
            assert pinned.count() == 50
            pinned1 = read_samples_table(spark, tmp)  # pins gen 1
            assert apply_retention(tmp, t0 - 1, gc_keep=1) == []  # no-op
            assert resolve_store(tmp).gen == 1  # no-op commits nothing
            # retention commits gen 2 (hardlinked survivors); legacy
            # gen 0 is now beyond gc_keep=1 but SURVIVES the GC grace
            # (retired < GC_GRACE_S ago — a still-pinned reader could
            # hold it), so the original gen-0 reader stays valid even
            # across TWO commits — the r6 residual window
            dropped = apply_retention(tmp, t0 + day_ms, gc_keep=1)
            assert dropped and all(d.startswith("day=") for d in dropped)
            assert resolve_store(tmp).gen == 2
            assert os.path.isdir(f"{tmp}/samples")  # grace-protected
            assert pinned.count() == 50  # gen-0 reader outlives 2 commits
            # explicit grace-less GC (ops reclaim) deletes it
            from timbala_spark.streaming import gc_store

            assert "samples" in gc_store(tmp, keep=1, grace_s=0.0)
            assert not os.path.isdir(f"{tmp}/samples")  # legacy GC'd
            assert pinned1.count() == 50
            left = read_samples_table(spark, tmp)
            assert left.count() == 10
            assert left.agg(F.min("t")).first()[0] >= t0 + day_ms
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_query_loop_races_repeated_maintenance(self, spark):
        """VERDICT r5 'done' criterion: a query loop racing repeated
        compact/retention cycles sees zero failures and zero wrong
        answers. Readers re-resolve per iteration; gc_keep=1 keeps
        each reader's pinned generation alive across the one commit
        that can land mid-query."""
        import threading

        from timbala_spark.streaming import read_samples_table
        from timbala_spark.streaming.compact import (
            apply_retention,
            compact_store,
        )
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_race_")
        try:
            t0 = 1_700_000_000_000
            rows = [
                ({"__name__": "m", "i": str(i % 4)}, t0 + i * 60_000, float(i))
                for i in range(40)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            stop = threading.Event()
            failures: list = []

            def reader():
                while not stop.is_set():
                    try:
                        got = read_samples_table(spark, tmp).count()
                        if got != 40:
                            failures.append(f"wrong count {got}")
                    except Exception as e:  # noqa: BLE001
                        failures.append(repr(e))

            th = threading.Thread(target=reader)
            th.start()
            try:
                for _ in range(4):
                    # re-send the same batch (pure duplicates), then
                    # compact + no-op retention — every cycle commits
                    # 2 generations under the reader's feet
                    write_samples_batch(df, tmp)
                    compact_store(spark, tmp, gc_keep=1)
                    apply_retention(tmp, t0 - 1, gc_keep=1)
            finally:
                stop.set()
                th.join(timeout=120)
            assert failures == []
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_straggler_batch_is_carried_into_new_generation(self, spark):
        """A batch whose append lands DURING the compacted rewrite must
        not be stranded in the retiring generation: compact_store
        re-lists the source after the rewrite and hardlinks stragglers
        into the new generation, leaving it dirty so reads collapse
        any re-sent duplicates."""
        from timbala_spark.streaming import (
            read_samples_table,
            store_is_dirty,
        )
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_straggler_")
        try:
            t0 = 1_700_000_000_000
            mk = lambda rows: prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            b1 = [
                ({"__name__": "m", "i": str(i % 3)}, t0 + i * 60_000, float(i))
                for i in range(30)
            ]
            # straggler: re-sends 10 rows of b1 + 5 genuinely new rows
            b2 = b1[:10] + [
                ({"__name__": "m", "i": "9"}, t0 + i * 60_000, 1.0)
                for i in range(5)
            ]
            write_samples_batch(mk(b1), tmp)

            def land_straggler(_src):
                write_samples_batch(mk(b2), tmp)

            compact_store(spark, tmp, _after_rewrite=land_straggler)
            # carried over: new rows visible, duplicates collapsed,
            # store stays dirty (stragglers may duplicate compacted rows)
            assert store_is_dirty(tmp)
            assert read_samples_table(spark, tmp).count() == 35
            assert read_samples_table(spark, tmp, dedup=False).count() == 45
            # the next compaction folds the stragglers in and is clean
            compact_store(spark, tmp)
            assert not store_is_dirty(tmp)
            assert read_samples_table(spark, tmp).count() == 35
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_crashed_maintenance_attempt_is_invisible_and_recoverable(
        self, spark
    ):
        """A maintenance pass that died before its manifest commit must
        leave the store exactly as it was (readers resolve the old
        generation) and must not poison the next pass."""
        import os

        from timbala_spark.streaming import (
            read_samples_table,
            resolve_store,
        )
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_crash_")
        try:
            t0 = 1_700_000_000_000
            rows = [
                ({"__name__": "m"}, t0 + i * 60_000, float(i))
                for i in range(10)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            # simulate a crash: a half-written, uncommitted generation
            junk = os.path.join(tmp, "gen-000001", "samples")
            os.makedirs(junk)
            with open(os.path.join(junk, "part-junk.parquet"), "wb") as f:
                f.write(b"not parquet")
            assert resolve_store(tmp).gen == 0  # commit never happened
            assert read_samples_table(spark, tmp).count() == 10
            compact_store(spark, tmp)  # discards the junk, commits gen 1
            assert resolve_store(tmp).gen == 1
            assert read_samples_table(spark, tmp).count() == 10
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_slow_pinned_reader_survives_repeated_gc_cycles(self, spark):
        """VERDICT r6 'done' criterion: a reader pinned before commit
        N must survive ≥2 subsequent compact/GC cycles even at the
        most aggressive gc_keep=0 — the reference refcounts open
        blocks until every reader is done (tsdb/db.go:292-330); our
        time-lease analog is the GC grace (grace > query timeout ⇒ no
        live reader can outlast it)."""
        import os

        from timbala_spark.streaming import read_samples_table, gc_store
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_grace_")
        try:
            t0 = 1_700_000_000_000
            rows = [
                ({"__name__": "m", "i": str(i % 4)}, t0 + i * 60_000, float(i))
                for i in range(40)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            pinned = read_samples_table(spark, tmp)  # pins legacy gen 0
            assert pinned.count() == 40
            for cycle in range(3):  # 3 commits + eager GC each time
                write_samples_batch(df, tmp)  # keep the store dirty
                compact_store(spark, tmp, gc_keep=0)
                # the gen-0 reader is now `cycle+1` commits behind and
                # outside any keep window — only the grace protects it
                assert pinned.count() == 40
            assert os.path.isdir(os.path.join(tmp, "samples"))
            # once the grace expires (simulated: grace_s=0), GC may
            # reclaim every retired generation
            deleted = gc_store(tmp, keep=0, grace_s=0.0)
            assert "samples" in deleted and len(deleted) == 3
            assert read_samples_table(spark, tmp).count() == 40
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_two_committer_race_exactly_one_winner(self, spark):
        """VERDICT r6 'done' criterion: two maintenance passes racing
        on one store must produce exactly one committed generation
        with no stranded straggler links — the reference serializes
        compactors under db.mtx; ours is the cross-process
        maintenance_lock flock plus a manifest CAS backstop."""
        from timbala_spark.streaming import (
            MaintenanceLockHeldError,
            read_samples_table,
            resolve_store,
        )
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_2commit_")
        try:
            t0 = 1_700_000_000_000
            rows = [
                ({"__name__": "m", "i": str(i % 3)}, t0 + i * 60_000, float(i))
                for i in range(30)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            raced: list = []

            def second_committer(_src):
                # a second maintenance pass (server #2 / ops script)
                # arriving mid-rewrite: must be excluded, not silently
                # interleaved (flock conflicts across file descriptors,
                # i.e. also across processes)
                try:
                    compact_store(spark, tmp, lock_timeout_s=0.1)
                    raced.append("won")
                except MaintenanceLockHeldError:
                    raced.append("excluded")

            compact_store(spark, tmp, _after_rewrite=second_committer)
            assert raced == ["excluded"]
            assert resolve_store(tmp).gen == 1  # exactly one commit won
            assert read_samples_table(spark, tmp).count() == 30
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_commit_manifest_cas_refuses_stale_committer(self, spark):
        """The lock-less backstop: a committer that resolved gen N must
        not overwrite a manifest another committer already advanced —
        CAS turns silent last-writer-wins into a loud abort."""
        import pytest

        from timbala_spark.streaming.store import (
            ConcurrentCommitError,
            commit_manifest,
            resolve_store,
        )

        tmp = tempfile.mkdtemp(prefix="timbala_cas_")
        try:
            commit_manifest(tmp, 1)  # another committer already won
            with pytest.raises(ConcurrentCommitError):
                commit_manifest(tmp, 1, expect_gen=0)
            with pytest.raises(ConcurrentCommitError):
                commit_manifest(tmp, 2, expect_gen=0)
            assert resolve_store(tmp).gen == 1  # manifest untouched
            commit_manifest(tmp, 2, expect_gen=1)  # in-sequence: fine
            assert resolve_store(tmp).gen == 2
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_promapi_concurrency_soak(self, spark):
        """VERDICT r5 task 5 (reduced-duration CI soak): 20 concurrent
        clients (the reference's gate width, engine.go:1474-1503) ×
        mixed query shapes against one engine. Asserts no deadlock
        between the PromAPI semaphore, the engine's _plan_lock and the
        frontend cache lock; no cross-request result bleed (every
        thread's responses must carry ITS matcher's labels/values);
        and the gate fully released afterwards."""
        import threading

        from timbala_spark.api import PromAPI

        t0 = 1_700_000_000_000
        rows = [
            ({"__name__": "m", "i": str(i)}, t0 + k * 60_000, 10.0 * (i + 1))
            for i in range(3)
            for k in range(30)
        ]
        df = prepare_samples(
            spark.createDataFrame(
                rows, "labels map<string,string>, t long, v double"
            )
        )
        api = PromAPI(Engine(spark, df), max_concurrent=20, timeout_s=300)
        failures: list[str] = []
        barrier = threading.Barrier(20)

        def client(k: int) -> None:
            i = k % 3
            want = 10.0 * (i + 1)
            barrier.wait()
            try:
                for it in range(5):
                    ts = (t0 + (10 + it) * 60_000) / 1000
                    if it % 3 == 0:  # instant
                        r = api.query(f'sum(m{{i="{i}"}})', ts)
                        vals = [
                            float(s["value"][1]) for s in r["data"]["result"]
                        ]
                        if r["status"] != "success" or vals != [want]:
                            failures.append(f"c{k} instant {r}")
                    elif it % 3 == 1:  # range through the frontend cache
                        r = api.query_range(
                            f'sum by (i) (m{{i="{i}"}})', ts - 300, ts, 60
                        )
                        series = r["data"]["result"]
                        ok = (
                            r["status"] == "success"
                            and len(series) == 1
                            and series[0]["metric"] == {"i": str(i)}
                            and all(
                                float(v[1]) == want
                                for v in series[0]["values"]
                            )
                        )
                        if not ok:
                            failures.append(f"c{k} range {r}")
                    else:  # parse error must not poison the gate
                        r = api.query("m{", ts)
                        if r.get("errorType") != "bad_data":
                            failures.append(f"c{k} err {r}")
            except Exception as e:  # noqa: BLE001
                failures.append(f"c{k} raised {e!r}")

        threads = [
            threading.Thread(target=client, args=(k,)) for k in range(20)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
        assert not any(th.is_alive() for th in threads), "soak deadlocked"
        assert failures == []
        # the admission gate must be fully released
        assert api._gate._value == 20

    def test_http_write_query_compact_soak(self, spark):
        """Full-stack soak: HTTP queries race remote writes and
        maintenance passes through TimbalaServer — store lock, engine
        invalidation and generation GC all exercised; every query must
        answer 200/success with the correct value."""
        import threading
        import urllib.parse
        import urllib.request

        from timbala_spark.server import TimbalaServer
        from timbala_spark.sources.wire import encode_write_request

        tmp = tempfile.mkdtemp(prefix="timbala_soak_")
        srv = TimbalaServer(spark, tmp, timeout_s=300.0)
        srv.start()
        try:
            t0 = 1_700_000_000_000
            series = [
                {
                    "labels": {"__name__": "m", "i": str(i)},
                    "samples": [
                        [t0 + k * 60_000, 10.0 * (i + 1)] for k in range(10)
                    ],
                }
                for i in range(3)
            ]
            body = encode_write_request(series)
            base = f"http://127.0.0.1:{srv.port}"

            def write() -> None:
                req = urllib.request.Request(
                    base + "/write", data=body, method="POST"
                )
                with urllib.request.urlopen(req, timeout=300) as r:
                    assert r.status == 200

            write()
            stop = threading.Event()
            failures: list[str] = []

            def reader(k: int) -> None:
                import json as _json

                i = k % 3
                want = 10.0 * (i + 1)
                while not stop.is_set():
                    try:
                        q = urllib.parse.quote(f'sum(m{{i="{i}"}})')
                        ts = (t0 + 9 * 60_000) / 1000
                        with urllib.request.urlopen(
                            base + f"/api/v1/query?query={q}&time={ts}",
                            timeout=300,
                        ) as r:
                            payload = _json.loads(r.read())
                        vals = [
                            float(s["value"][1])
                            for s in payload["data"]["result"]
                        ]
                        if payload["status"] != "success" or vals != [want]:
                            failures.append(f"r{k}: {payload}")
                    except Exception as e:  # noqa: BLE001
                        failures.append(f"r{k} raised {e!r}")

            threads = [
                threading.Thread(target=reader, args=(k,)) for k in range(6)
            ]
            for th in threads:
                th.start()
            try:
                for _ in range(3):  # re-send (pure dups) + maintain
                    write()
                    srv.compact()
            finally:
                stop.set()
                for th in threads:
                    th.join(timeout=300)
            assert not any(th.is_alive() for th in threads)
            assert failures == []
        finally:
            srv.stop()
            shutil.rmtree(tmp, ignore_errors=True)

    def test_background_maintenance_loop(self, spark):
        """The reference runs its compactor on a background goroutine
        (cmd/timbala/main.go:153); our analog is the server's
        maintenance loop: a dirty store is compacted into a clean
        generation within an interval, while queries keep answering
        correctly throughout."""
        import urllib.parse
        import urllib.request

        from timbala_spark.server import TimbalaServer
        from timbala_spark.sources.wire import encode_write_request
        from timbala_spark.streaming import resolve_store, store_is_dirty

        tmp = tempfile.mkdtemp(prefix="timbala_bgmaint_")
        srv = TimbalaServer(
            spark, tmp, timeout_s=300.0, maintenance_interval_s=0.3
        )
        srv.start()
        try:
            t0 = 1_700_000_000_000
            body = encode_write_request(
                [
                    {
                        "labels": {"__name__": "m", "i": "0"},
                        "samples": [[t0 + k * 60_000, 5.0] for k in range(5)],
                    }
                ]
            )
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/write", data=body, method="POST"
            )
            with urllib.request.urlopen(req, timeout=300) as r:
                assert r.status == 200
            assert store_is_dirty(tmp)
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline and (
                store_is_dirty(tmp) or resolve_store(tmp).gen == 0
            ):
                time.sleep(0.2)
            assert resolve_store(tmp).gen >= 1
            assert not store_is_dirty(tmp)
            q = urllib.parse.quote('sum(m{i="0"})')
            ts = (t0 + 4 * 60_000) / 1000
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/api/v1/query?query={q}&time={ts}",
                timeout=300,
            ) as r:
                payload = json.loads(r.read())
            assert payload["status"] == "success"
            assert [
                float(s["value"][1]) for s in payload["data"]["result"]
            ] == [5.0]
        finally:
            srv.stop()
            shutil.rmtree(tmp, ignore_errors=True)

    def test_fanout_across_manifest_and_legacy_stores(self, spark):
        """read_fanout must pin each branch's generation through the
        manifest (compacted store) while mixing in a never-compacted
        legacy store, and still merge-dedup replicas across stores."""
        from timbala_spark.streaming import read_fanout, resolve_store
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp_a = tempfile.mkdtemp(prefix="timbala_fan_a_")
        tmp_b = tempfile.mkdtemp(prefix="timbala_fan_b_")
        try:
            t0 = 1_700_000_000_000
            mk = lambda rows: prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            rows = [
                ({"__name__": "m", "i": str(i % 3)}, t0 + i * 60_000, float(i))
                for i in range(30)
            ]
            # store A: compacted (manifest gen 1); store B: legacy,
            # holding a replica re-send of half of A plus its own tail
            write_samples_batch(mk(rows), tmp_a)
            compact_store(spark, tmp_a)
            assert resolve_store(tmp_a).gen == 1
            extra = [
                ({"__name__": "m", "i": "9"}, t0 + i * 60_000, 1.0)
                for i in range(5)
            ]
            write_samples_batch(mk(rows[:15] + extra), tmp_b)
            assert resolve_store(tmp_b).gen == 0
            got = read_fanout(spark, [tmp_a, tmp_b])
            assert got.count() == 35  # 30 + 5, replicas collapsed
        finally:
            shutil.rmtree(tmp_a, ignore_errors=True)
            shutil.rmtree(tmp_b, ignore_errors=True)

    def test_stale_markers_survive_the_store(self, spark):
        """Staleness markers (NULL v) round-trip through the split
        store: an instant read under lookback dies at the marker, and
        range vectors skip it (engine.go:869-871 IsStaleNaN)."""
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )

        tmp = tempfile.mkdtemp(prefix="timbala_stale_")
        try:
            rows = [
                ({"__name__": "m", "j": "a"}, 0, 1.0),
                ({"__name__": "m", "j": "a"}, 60_000, None),  # marker
                ({"__name__": "m", "j": "a"}, 120_000, 3.0),
            ]
            df = spark.createDataFrame(
                rows, "labels map<string,string>, t long, v double"
            )
            write_samples_batch(prepare_samples(df), tmp)
            eng = Engine(spark, read_samples_table(spark, tmp))
            assert eng.query("m", 90.0).collect() == []  # marker kills lookback
            assert [r["v"] for r in eng.query("m", 30.0).collect()] == [1.0]
            assert [r["v"] for r in eng.query("m", 150.0).collect()] == [3.0]
            got = eng.query("count_over_time(m[10m])", 300.0).collect()
            assert [r["v"] for r in got] == [2.0]  # marker not a sample
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_lookback_and_staleness_across_day_boundary(self, spark):
        """Staleness/lookback interplay on the STORED path (VERDICT r5
        task 4): the lookback window and range selectors must reach
        back across a day-partition boundary, and a stale marker just
        before midnight must still kill the series just after it
        (day pruning that clipped the scan at the partition edge would
        silently resurrect or drop samples)."""
        from timbala_spark.streaming import read_samples_table
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_daylb_")
        try:
            day = 86_400_000
            midnight = 1_700_006_400_000 - (1_700_006_400_000 % day) + day
            rows = [
                # live: last real sample 10s before midnight
                ({"__name__": "live", "j": "x"}, midnight - 10_000, 42.0),
                # gone: real sample then a stale marker before midnight
                ({"__name__": "gone", "j": "x"}, midnight - 120_000, 7.0),
                ({"__name__": "gone", "j": "x"}, midnight - 10_000, None),
                # next-day data so the store spans both partitions
                ({"__name__": "live", "j": "x"}, midnight + 3_600_000, 43.0),
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            eng = Engine(spark, read_samples_table(spark, tmp))
            q_ts = (midnight + 120_000) / 1000  # 2 min past midnight
            # lookback crosses the boundary and serves yesterday's value
            assert [r["v"] for r in eng.query("live", q_ts).collect()] == [42.0]
            # ... but the marker also crosses it and kills `gone` —
            # resurrecting the 7.0 from two minutes earlier is the bug
            assert eng.query("gone", q_ts).collect() == []
            assert [r["v"] for r in eng.query("absent(gone)", q_ts).collect()] == [1.0]
            # range window straddling midnight sees both live samples
            got = eng.query(
                "count_over_time(live[2h])", (midnight + 3_600_000) / 1000
            ).collect()
            assert [r["v"] for r in got] == [2.0]
            # and skips the marker while counting the real sample
            got = eng.query(
                "count_over_time(gone[10m])", (midnight + 60_000) / 1000
            ).collect()
            assert [r["v"] for r in got] == [1.0]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_split_store_day_pruning(self, spark):
        """Engine time bounds over the split store must reach the
        physical plan as `day` PARTITION filters (full-store listing →
        queried-days listing at scale) and name matchers must push into
        the series-dict scan; results must match an in-memory engine."""
        from timbala_spark.streaming import read_samples_table
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_prune_")
        try:
            day = 86_400_000
            t0 = 1_700_000_000_000 - (1_700_000_000_000 % day)
            rows = [
                (
                    {"__name__": f"m{i % 5}", "i": str(i % 3)},
                    t0 + d * day + i * 60_000,
                    float(d * 100 + i),
                )
                for d in range(5)
                for i in range(50)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            eng = Engine(spark, read_samples_table(spark, tmp))
            q_ts = (t0 + 4 * day + 48 * 60_000) / 1000
            res = eng.query("m2", q_ts)
            plan = res._jdf.queryExecution().executedPlan().toString()
            scans = [l for l in plan.splitlines() if "FileScan" in l]
            samples_scan = next(l for l in scans if "/samples" in l)
            dict_scan = next(l for l in scans if "/series" in l)
            assert "PartitionFilters: [isnotnull(day" in samples_scan
            assert "day" in samples_scan and ">= 20" in samples_scan
            assert "EqualTo(name,m2)" in dict_scan
            got = sorted(
                (r["labels"]["i"], r["v"]) for r in res.collect()
            )
            want = sorted(
                (r["labels"]["i"], r["v"])
                for r in Engine(spark, df).query("m2", q_ts).collect()
            )
            assert got == want and got
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


    def test_day_partition_is_timezone_independent(self, spark):
        """Written `day` partitions must agree with the UTC-based pruning
        in _base_scan even when spark.sql.session.timeZone is non-UTC;
        previously date_format(timestamp_millis(t)) used the session
        zone, silently excluding partitions at query time."""
        from timbala_spark.streaming import read_samples_table
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_tz_")
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")
            day = 86_400_000
            t0 = 1_700_000_000_000 - (1_700_000_000_000 % day)
            # samples near UTC midnight: Auckland local date differs
            rows = [
                ({"__name__": "m", "i": str(i)}, t0 + i * 60_000, float(i))
                for i in range(5)
            ]
            df = prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            write_samples_batch(df, tmp)
            # the physical partition must be the UTC day of t0
            import datetime

            utc_day = datetime.datetime.fromtimestamp(
                t0 / 1000, tz=datetime.timezone.utc
            ).strftime("%Y%m%d")
            assert os.path.isdir(f"{tmp}/samples/day={utc_day}")
            eng = Engine(spark, read_samples_table(spark, tmp))
            res = eng.query("m", (t0 + 4 * 60_000) / 1000)
            got = sorted(r["v"] for r in res.collect())
            assert got == [0.0, 1.0, 2.0, 3.0, 4.0]
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
            shutil.rmtree(tmp, ignore_errors=True)


    def test_ntz_timestamps_are_session_tz_independent(self, spark):
        """TIMESTAMP_NTZ inputs are UTC-by-convention wall times: the
        epoch-ms conversion must not re-interpret them in the session
        timezone (a cast to TIMESTAMP does exactly that, shifting the
        value by the tz offset — 13 h under Pacific/Auckland)."""
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")
            df = spark.sql(
                "SELECT map('__name__', 'm') AS labels,"
                " TIMESTAMP_NTZ '2024-03-15 12:34:56.789' AS t,"
                " 1.0 AS v"
            )
            got = prepare_samples(df).select("t").first()[0]
            import datetime

            want = int(
                datetime.datetime(
                    2024, 3, 15, 12, 34, 56, 789000,
                    tzinfo=datetime.timezone.utc,
                ).timestamp()
                * 1000
            )
            assert got == want
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)


class TestStreamingDownsample:
    def test_windowed_rollup_with_late_data(self, spark):
        """Watermarked event-time windows: batch 2 advances the
        watermark past batch 1's windows (flushing them, append mode)
        and carries a too-late row that must be dropped."""
        import os

        from timbala_spark.streaming import streaming_downsample
        from timbala_spark.streaming.ingest import parse_wire_batch

        tmp = tempfile.mkdtemp(prefix="timbala_ds_")
        try:
            t0 = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)
            mkrow = lambda t, v: json.dumps(
                {"labels": {"__name__": "m", "i": "0"}, "t": t, "v": v}
            )
            # batch 1: two 1-minute windows (10, 20 | 30)
            b1 = [mkrow(t0 + 1_000, 10.0), mkrow(t0 + 2_000, 20.0),
                  mkrow(t0 + 61_000, 30.0)]
            # batch 2 advances the watermark 30 min ahead (watermarks
            # update between micro-batches); batch 3's row is then
            # beyond the watermark and must be dropped
            b2 = [mkrow(t0 + 30 * 60_000, 99.0)]
            b3 = [mkrow(t0 + 3_000, 1000.0)]
            src_dir = f"{tmp}/src"
            os.makedirs(src_dir)

            def write_file(name, rows):
                with open(f"{src_dir}/{name}", "w") as f:
                    f.write("\n".join(rows))

            write_file("b1.txt", b1)
            stream = spark.readStream.format("text").load(src_dir)
            rolled = streaming_downsample(
                parse_wire_batch(stream), window="1 minute", late="5 minutes"
            )
            q = (
                rolled.writeStream.format("memory")
                .queryName("rollups")
                .outputMode("append")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .start()
            )
            q.processAllAvailable()
            write_file("b2.txt", b2)
            q.processAllAvailable()
            write_file("b3.txt", b3)
            q.processAllAvailable()
            q.stop()

            rows = spark.sql(
                "SELECT name, t, v FROM rollups ORDER BY t"
            ).collect()
            got = [(r["name"], r["t"], r["v"]) for r in rows]
            # window [t0, t0+60s): avg(10, 20) = 15 — batch 3's 1000.0
            # arrived after the watermark passed and was dropped;
            # window [t0+60s, t0+120s): avg(30) = 30. The t0+30m row's
            # window is still open (nothing later arrived), so only two
            # finalized windows emit.
            assert got == [
                ("m:rollup", t0 + 60_000, 15.0),
                ("m:rollup", t0 + 120_000, 30.0),
            ]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestFanoutRead:
    def test_distributed_write_single_query(self, spark):
        """The reference's integration fan-out proof
        (integration_test.go:28-228): distinct series written to two
        nodes, a query anywhere returns both; replicated rows collapse
        to one."""
        from timbala_spark.streaming import read_fanout
        from timbala_spark.streaming.ingest import write_samples_batch

        tmp = tempfile.mkdtemp(prefix="timbala_fanout_")
        try:
            t0 = 1_700_000_000_000
            mk = lambda rows: prepare_samples(
                spark.createDataFrame(
                    rows, "labels map<string,string>, t long, v double"
                )
            )
            a = [({"__name__": "fanout_a"}, t0 + i * 1000, 1.0) for i in range(5)]
            b = [({"__name__": "fanout_b"}, t0 + i * 1000, 2.0) for i in range(5)]
            # replica of series a (RF>1) lands on node 2 as well
            write_samples_batch(mk(a), f"{tmp}/node1")
            write_samples_batch(mk(b + a[:3]), f"{tmp}/node2")

            merged = read_fanout(spark, [f"{tmp}/node1", f"{tmp}/node2"])
            eng = Engine(spark, merged)
            got = {
                r["labels"]["__name__"]: r["v"]
                for r in eng.query('{__name__=~"fanout_.*"}', t0 / 1000 + 10).collect()
            }
            assert got == {"fanout_a": 1.0, "fanout_b": 2.0}
            # replicas collapsed: 5 + 5 distinct sample rows, not 13
            assert merged.count() == 10
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestQueryGate:
    """Reference admission limits: 20 concurrent / 2m timeout
    (main.go:218-223, engine.go:1474-1503 queryGate)."""

    def test_timeout_returns_timeout_error(self, api):
        api.timeout_s = 0.001
        try:
            out = api.query("sum(test_metric1)", 600)
        finally:
            api.timeout_s = 120.0
        assert out["status"] == "error"
        assert out["errorType"] == "timeout"

    def test_runtime_error_is_execution_type(self, api):
        # many-to-many duplicate matching fails at EXECUTION time
        # (engine.go:984-987) -> errorExec taxonomy
        out = api.query("test_metric1 + on() test_metric2", 600)
        assert out["status"] == "error"
        assert out["errorType"] in ("execution", "bad_data")

    def test_function_domain_error_is_execution_type(self, api):
        # arg-domain checks run inside the reference's Exec (AFTER
        # NewInstantQuery), so they are errorExec (422), NOT bad_data
        # (api.go:166-180; funcHoltWinters functions.go:227-232)
        out = api.query("holt_winters(test_metric1[5m], 2, 0.5)", 600)
        assert out["status"] == "error"
        assert out["errorType"] == "execution"
        assert out["error"] == (
            "invalid smoothing factor. Expected: 0 < sf < 1 goT: 2.000000"
        )
        out = api.query_range("holt_winters(test_metric1[5m], 2, 0.5)", 0, 600, 60)
        assert out["errorType"] == "execution"

    def test_per_request_timeout_parameter(self, api):
        # malformed timeout -> bad_data with the parseDuration wording,
        # validated BEFORE the query text parses (api.go:155-166: a bad
        # query AND a bad timeout answers with the timeout error)
        out = api.query("m{", 600, timeout="bogus")
        assert out["errorType"] == "bad_data"
        assert out["error"] == 'cannot parse "bogus" to a valid duration'
        # ...but AFTER the range guards (api.go:204-231): step wins
        out = api.query_range("m{", 0, 600, 0, timeout="bogus")
        assert out["error"].startswith("zero or negative")
        # a microscopic timeout trips the timeout taxonomy (the
        # request budget caps the engine's global one)
        out = api.query("sum(test_metric1)", 600.5, timeout=1e-9)
        assert out["errorType"] == "timeout"
        # a generous timeout leaves the query unaffected
        out = api.query("sum(test_metric1)", 601, timeout="30s")
        assert out["status"] == "success"

    def test_step_varying_topk_evaluates_under_the_timeout(self, api):
        """A step-varying ``topk`` k is checked inside the collected
        plan: building the plan runs no Spark job, so the whole
        evaluation is bounded by the request's timeout (and its cancel
        and concurrency gate)."""
        query = "topk(scalar(count(test_metric1)), test_metric1)"
        sc = api.engine.spark.sparkContext
        group = "topk-plan-build"
        sc.setJobGroup(group, "plan build only")
        try:
            api.engine.query_range(query, 7, 607, 60)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        out = api.query_range(query, 8, 608, 60, timeout=1e-9)
        assert out["errorType"] == "timeout"

    def test_query_range_guard_order_matches_reference(self, api):
        # api.go:186-216 checks end<start, then step<=0, then the
        # points cap, all BEFORE parsing the query text
        out = api.query_range("test_metric1", 600, 0, 0)
        assert out["error"] == "end timestamp must not be before start time"
        out = api.query_range("m[", 0, 600, 0)  # step beats parse
        assert out["error"].startswith("zero or negative query resolution")
        out = api.query_range("m[", 0, 11001 * 60, 60)  # cap beats parse
        assert out["error"].startswith("exceeded maximum resolution of 11,000")
        assert out["errorType"] == "bad_data"

    def test_gate_admits_concurrent_queries(self, api):
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=6) as ex:
            outs = list(
                ex.map(lambda _: api.query("test_metric1", 600), range(12))
            )
        assert all(o["status"] == "success" for o in outs)

    def test_queue_full_times_out(self, api):
        import threading

        api2 = PromAPI(api.engine, max_concurrent=1, timeout_s=0.05)
        # hold the only slot so the next query times out in the queue
        assert api2._gate.acquire()
        try:
            out = api2.query("test_metric1", 600)
        finally:
            api2._gate.release()
        assert out["status"] == "error"
        assert out["errorType"] == "timeout"


class TestWireFormat:
    """Real remote-write bodies: snappy block format + prompb protobuf
    (write.go:83-101), decoded executor-side."""

    def test_wire_body_to_query(self, spark):
        from timbala_spark.sources.wire import decode_payloads, encode_write_request

        t0 = 1_700_000_000_000
        bodies = [
            encode_write_request(
                [
                    {
                        "labels": {"__name__": "wire_m", "node": f"n{b}"},
                        "samples": [[t0 + i * 1000, float(b * 10 + i)] for i in range(5)],
                    }
                ]
            )
            for b in range(4)
        ]
        pdf = spark.createDataFrame([(b,) for b in bodies], "payload binary")
        samples = prepare_samples(decode_payloads(pdf))
        assert samples.count() == 20
        eng = Engine(spark, samples)
        got = {
            r["labels"]["node"]: r["v"]
            for r in eng.query("wire_m", t0 / 1000 + 10).collect()
        }
        assert got == {f"n{b}": float(b * 10 + 4) for b in range(4)}

    def test_negative_and_special_values_roundtrip(self):
        from timbala_spark.sources.wire import (
            decode_write_request,
            encode_write_request,
        )

        series = [
            {
                "labels": {"__name__": "edge", "läbel": "välue"},
                "samples": [[-1, float("-inf")], [0, float("nan")], [2**50, -0.0]],
            }
        ]
        got = decode_write_request(encode_write_request(series))
        assert got[0]["labels"] == series[0]["labels"]
        ts = [t for t, _ in got[0]["samples"]]
        assert ts == [-1, 0, 2**50]
        import math

        assert math.isinf(got[0]["samples"][0][1])
        assert math.isnan(got[0]["samples"][1][1])


class TestWireOrder:
    """The engine returns unsorted frames (r4); the API layer owns the
    canonical wire order, applied driver-side post-collect."""

    def test_vector_result_canonical_order(self, api):
        out = api.query("test_metric1", 600)
        metrics = [r["metric"] for r in out["data"]["result"]]
        keys = [tuple(sorted(m.items())) for m in metrics]
        assert len(keys) == 2
        assert keys == sorted(keys)

    def test_matrix_values_time_order(self, api):
        out = api.query_range("test_metric1", 0, 600, 60)
        for series in out["data"]["result"]:
            ts = [t for t, _v in series["values"]]
            assert ts == sorted(ts)

    def test_sort_desc_order_preserved(self, api):
        out = api.query("sort_desc(test_metric1)", 600)
        vals = [float(r["value"][1]) for r in out["data"]["result"]]
        assert vals == sorted(vals, reverse=True)


class TestStreamingBatchEquivalence:
    """VERDICT r4 item 5: drive each streaming module as an ACTUAL
    stream (readStream file source + processAllAvailable) and compare
    against its batch twin on the same rows — not just a batch-plan
    equivalence argument."""

    @staticmethod
    def _wire_rows():
        t0 = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)
        rows = []
        for i in range(40):
            for inst in ("a", "b", "c"):
                rows.append(
                    {
                        "labels": {"__name__": "eqm", "inst": inst},
                        "t": t0 + i * 7_000,  # crosses 1-minute windows
                        "v": float(i * (1 if inst == "a" else 3)),
                    }
                )
        return t0, rows

    def test_downsample_stream_equals_batch(self, spark):
        from timbala_spark.streaming import streaming_downsample
        from timbala_spark.streaming.ingest import parse_wire_batch

        t0, rows = self._wire_rows()
        # sentinel far in the future: advances the watermark so append
        # mode flushes every real window (its own window never emits)
        sentinel = {
            "labels": {"__name__": "eqm", "inst": "zz"},
            "t": t0 + 10 * 24 * 3_600_000,
            "v": 0.0,
        }
        tmp = tempfile.mkdtemp(prefix="timbala_eq_ds_")
        try:
            src_dir = f"{tmp}/src"
            os.makedirs(src_dir)
            half = len(rows) // 2
            with open(f"{src_dir}/b1.txt", "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows[:half]))
            stream = spark.readStream.format("text").load(src_dir)
            rolled = streaming_downsample(
                parse_wire_batch(stream), window="1 minute", late="2 minutes"
            )
            q = (
                rolled.writeStream.format("memory")
                .queryName("eq_rollups")
                .outputMode("append")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .start()
            )
            q.processAllAvailable()
            with open(f"{src_dir}/b2.txt", "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows[half:]))
            q.processAllAvailable()
            with open(f"{src_dir}/b3.txt", "w") as f:
                f.write(json.dumps(sentinel))
            q.processAllAvailable()
            q.stop()
            streamed = {
                (r["name"], dict(r["labels"])["inst"], r["t"], r["v"])
                for r in spark.sql("SELECT * FROM eq_rollups").collect()
            }

            # batch twin: the SAME function on a batch frame
            # (withWatermark is a no-op in batch, every window emits)
            batch_df = spark.createDataFrame(
                [json.dumps(r) for r in rows], "string"
            ).toDF("value")
            batch = {
                (r["name"], dict(r["labels"])["inst"], r["t"], r["v"])
                for r in streaming_downsample(
                    parse_wire_batch(batch_df),
                    window="1 minute",
                    late="2 minutes",
                ).collect()
            }
            assert streamed == batch
            assert len(batch) > 10  # sanity: multiple series x windows
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_ingest_stream_equals_batch(self, spark):
        from timbala_spark.streaming import read_samples_table, start_ingest
        from timbala_spark.streaming.ingest import (
            parse_wire_batch,
            write_samples_batch,
        )

        _, rows = self._wire_rows()
        # include a duplicate (replica) row: both paths must dedup it
        rows = rows + [rows[0]]
        tmp = tempfile.mkdtemp(prefix="timbala_eq_ing_")
        try:
            src_dir = f"{tmp}/src"
            os.makedirs(src_dir)
            with open(f"{src_dir}/b.txt", "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows))
            stream = spark.readStream.format("text").load(src_dir)
            q = start_ingest(
                stream, f"{tmp}/stream_store", f"{tmp}/ckpt", parse=True
            )
            q.processAllAvailable()
            q.stop()

            batch_df = spark.createDataFrame(
                [json.dumps(r) for r in rows], "string"
            ).toDF("value")
            write_samples_batch(
                parse_wire_batch(batch_df), f"{tmp}/batch_store"
            )

            def snapshot(path):
                df = read_samples_table(spark, path)
                return sorted(
                    (r["name"], dict(r["labels"])["inst"], r["t"], r["v"])
                    for r in df.collect()
                )

            streamed = snapshot(f"{tmp}/stream_store")
            batch = snapshot(f"{tmp}/batch_store")
            assert streamed == batch
            assert len(streamed) == len(rows) - 1  # replica deduped
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestStreamingRules:
    def test_rule_stream_matches_batch(self, spark, api):
        """Recording rules driven by a real tick stream (file source +
        foreachBatch) append exactly what run_rules_once produces at
        the same timestamps."""
        import json
        import os
        import shutil
        import tempfile

        from timbala_spark.streaming.rules import (
            RecordingRule,
            run_rules_once,
            start_rule_stream,
        )

        eng = api.engine
        rules = [
            RecordingRule("job:m1:sum", "sum(test_metric1)", {"team": "x"})
        ]
        ticks = [300_000, 600_000]
        tmp = tempfile.mkdtemp()
        try:
            src_dir = f"{tmp}/ticks"
            os.makedirs(src_dir)
            with open(f"{src_dir}/t1.txt", "w") as f:
                for t in ticks:
                    f.write(json.dumps({"ts": t}) + "\n")
            src = (
                spark.readStream.format("text")
                .load(src_dir)
                .select(
                    F.from_json(
                        F.col("value").cast("string"), "ts long"
                    ).alias("r")
                )
                .select("r.ts")
            )
            q = start_rule_stream(
                src, eng, rules, f"{tmp}/store", f"{tmp}/ckpt"
            )
            q.processAllAvailable()
            q.stop()

            got = sorted(
                (sorted(dict(r["labels"]).items()), r["t"], r["v"])
                for r in spark.read.parquet(f"{tmp}/store").select(
                    "labels", "t", "v"
                ).collect()
            )
            want = sorted(
                (sorted(dict(r["labels"]).items()), r["t"], r["v"])
                for ts in ticks
                for r in run_rules_once(eng, rules, ts / 1000.0)
                .select("labels", "t", "v")
                .collect()
            )
            assert got == want and len(got) == 2
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestRuleFileParsing:
    """VERDICT r4 stretch: the reference's rule-STATEMENT grammar
    (parse.go:354-439) parses into evaluatable rules; a recorded
    series must equal its source expression evaluated directly."""

    RULES = """
    job:metric1:sum{team = "x"} = sum(test_metric1)

    ALERT Metric1High
      IF sum(test_metric1) > 500
      FOR 5m
      LABELS { severity = "page" }
      ANNOTATIONS { summary = "metric1 is high" }
    """

    def test_parse_shapes(self):
        from timbala_spark.streaming.rules import (
            AlertingRule,
            RecordingRule,
            parse_rule_file,
        )

        rec, alert = parse_rule_file(self.RULES)
        assert isinstance(rec, RecordingRule)
        assert rec.record == "job:metric1:sum"
        assert rec.labels == {"team": "x"}
        assert isinstance(alert, AlertingRule)
        assert alert.name == "Metric1High"
        assert alert.duration_ms == 300_000
        assert alert.labels == {"severity": "page"}
        assert alert.annotations == {"summary": "metric1 is high"}

    def test_parse_errors(self):
        import pytest

        from timbala_spark.promql.lexer import PromQLSyntaxError
        from timbala_spark.streaming.rules import parse_rule_file

        # alerts require a vector expression (parse.go:380)
        with pytest.raises(PromQLSyntaxError):
            parse_rule_file("ALERT x IF 1 + 1")
        # missing IF
        with pytest.raises(PromQLSyntaxError):
            parse_rule_file("ALERT x sum(y) > 1")
        # garbage between statements
        with pytest.raises(PromQLSyntaxError):
            parse_rule_file("a = b ]")

    def test_recorded_series_matches_source_expression(self, spark, api):
        from timbala_spark.streaming.rules import (
            evaluate_alert,
            evaluate_rule,
            parse_rule_file,
        )

        eng = api.engine
        rec, alert = parse_rule_file(self.RULES)

        out = evaluate_rule(eng, rec, 600)
        want = eng.query_values("sum(test_metric1)", 600)
        got = [(dict(r["labels"]), r["v"]) for r in out.collect()]
        assert [v for _, v in got] == [v for _, v in want]
        assert got[0][0] == {"__name__": "job:metric1:sum", "team": "x"}

        fired = evaluate_alert(eng, alert, 600)
        rows = fired.collect()
        assert len(rows) == 1  # sum = 1001 > 500 fires
        labels = dict(rows[0]["labels"])
        assert labels["__name__"] == "ALERTS"
        assert labels["alertname"] == "Metric1High"
        assert labels["severity"] == "page"
        assert rows[0]["v"] == 1.0

        # below-threshold alert does not fire
        alert2 = parse_rule_file("ALERT Low IF sum(test_metric1) > 2000")[0]
        assert evaluate_alert(eng, alert2, 600).count() == 0

    def test_alert_for_pending_to_firing(self, spark, api):
        """The upstream pending→firing state machine: an alert with
        FOR stays 'pending' until continuously active for the
        duration, resets when the condition clears, and a FOR-less
        alert fires immediately."""
        from timbala_spark.streaming.rules import (
            evaluate_alert,
            parse_rule_file,
        )

        eng = api.engine

        def state_at(rule, ts, st):
            rows = evaluate_alert(eng, rule, ts, active_at=st).collect()
            return [dict(r["labels"]).get("alertstate") for r in rows]

        alert = parse_rule_file(
            "ALERT High IF sum(test_metric1) > 500 FOR 5m"
        )[0]
        st: dict = {}
        # active from t=360 on (values grow with t in the fixture)
        assert state_at(alert, 360, st) == ["pending"]
        assert state_at(alert, 500, st) == ["pending"]  # < 300s active
        assert state_at(alert, 660, st) == ["firing"]  # 300s reached
        # condition clears (fixture has no samples past the lookback
        # window at a far-future ts) -> active set drops, clock resets
        assert state_at(alert, 100_000, st) == []
        assert st == {}
        assert state_at(alert, 100_600, st) == []
        # FOR-less alerts fire immediately; stateless call = first-seen
        now = parse_rule_file("ALERT Now IF sum(test_metric1) > 500")[0]
        assert state_at(now, 600, None) == ["firing"]
        assert state_at(alert, 600, None) == ["pending"]

    def test_alert_for_state_survives_restart(self, spark, api):
        """ALERTS_FOR_STATE persistence: a restarted runner restores
        active-since within the outage tolerance instead of re-running
        the FOR duration from zero (the upstream restore convention)."""
        import shutil

        from timbala_spark.streaming.rules import (
            FOR_STATE_METRIC,
            append_rule_results,
            parse_rule_file,
            restore_alert_states,
        )

        eng = api.engine
        alert = parse_rule_file(
            "ALERT High IF sum(test_metric1) > 500 FOR 5m"
        )[0]
        store = tempfile.mkdtemp(prefix="alert_state_")
        try:
            states: dict = {}
            append_rule_results(eng, [alert], 360, store, states)
            # the active-since map was persisted alongside the alert
            stored = spark.read.parquet(store)
            fs = stored.filter(
                f"labels['__name__'] = '{FOR_STATE_METRIC}'"
            ).collect()
            assert len(fs) == 1 and fs[0]["v"] == 360.0
            # "restart": fresh map restored from the store
            restored = restore_alert_states(
                spark, store, [alert], as_of=400
            )
            st2 = restored["High"]
            assert list(st2.values()) == [360_000]
            # continue ticking with the restored clock: firing at 660
            append_rule_results(eng, [alert], 660, store, restored)
            alerts = spark.read.parquet(store).filter(
                "labels['__name__'] = 'ALERTS' and t = 660000"
            ).collect()
            assert [
                dict(r["labels"])["alertstate"] for r in alerts
            ] == ["firing"]
            # state older than the outage tolerance starts fresh
            assert (
                restore_alert_states(
                    spark, store, [alert], as_of=360 + 7200
                )
                == {}
            )
        finally:
            shutil.rmtree(store, ignore_errors=True)
