"""Opt-in bucketed store layout (r9): compact_store(bucket_by_series=N)
writes Spark-bucketed samples/series tables; a clean generation's dict
join must run with ZERO exchanges below the join, and every read must
be value-identical to the plain layout."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _mk(spark, n, t0, n_names=5):
    return spark.range(n).select(
        F.concat(F.lit("m_"), F.pmod("id", F.lit(n_names))).alias("name"),
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("inst")),
            F.array(
                F.concat(F.lit("m_"), F.pmod("id", F.lit(n_names))),
                F.concat(F.lit("i"), F.col("id")),
            ),
        ).alias("labels"),
        F.col("id").alias("series_id"),
        (F.lit(t0) + F.pmod("id", F.lit(3)) * 60_000).alias("t"),
        (F.col("id") * 1.0).alias("v"),
    )


def _hash(df):
    return df.agg(
        F.sum(
            F.xxhash64("name", "series_id", "t", "v", "day").cast(
                "decimal(38,0)"
            )
        )
    ).collect()[0][0]


@pytest.fixture()
def store(spark, tmp_path):
    from timbala_spark.streaming.ingest import write_samples_batch

    st = str(tmp_path / "store")
    write_samples_batch(_mk(spark, 800, 1_700_000_000_000), st)
    write_samples_batch(_mk(spark, 800, 1_700_090_000_000), st)
    return st


class TestBucketedStore:
    def test_clean_read_is_exchange_free_below_join(self, spark, store):
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import read_samples_table

        compact_store(spark, store, bucket_by_series=4)
        # force the SMJ shape (AQE broadcast would hide the exchange
        # question at fixture scale; at the 40M bar the dict exceeds
        # broadcast size and SMJ is the real plan)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = read_samples_table(spark, store)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "timbala_b" in plan  # bucketed branch taken
            j = plan.lower().find("sortmergejoin")
            assert j >= 0, plan
            assert plan[j:].count("Exchange") == 0, plan[j:]
            # Bucketing pruning metadata present on both scans
            assert plan.count("Bucketed: true") == 2, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_bucketed_equals_plain_layout(self, spark, store, tmp_path):
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )

        # a second identical store compacted WITHOUT bucketing
        plain = str(tmp_path / "plain")
        write_samples_batch(_mk(spark, 800, 1_700_000_000_000), plain)
        write_samples_batch(_mk(spark, 800, 1_700_090_000_000), plain)
        compact_store(spark, plain)
        compact_store(spark, store, bucket_by_series=4)
        b = read_samples_table(spark, store)
        p = read_samples_table(spark, plain)
        assert b.count() == p.count() == 1600
        assert _hash(b) == _hash(p)
        assert [f.name for f in b.schema.fields] == [
            f.name for f in p.schema.fields
        ]

    def test_dirty_store_falls_back_to_plain_scan(self, spark, store):
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )

        compact_store(spark, store, bucket_by_series=4)
        write_samples_batch(_mk(spark, 50, 1_700_000_000_000), store)
        df = read_samples_table(spark, store)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "timbala_b" not in plan
        # the appended rows duplicate existing (series_id, t): the
        # fallback's auto dedup collapses them
        assert df.count() == 1600

    def test_incremental_recompact_composes(self, spark, store):
        """Second bucketed pass with the same count keeps the layout
        and reuses untouched days' files by link (no full rewrite)."""
        from timbala_spark.streaming.compact import (
            compact_store,
            read_bucket_meta,
        )
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )
        from timbala_spark.streaming.store import resolve_store

        compact_store(spark, store, bucket_by_series=4)
        gen1 = os.path.dirname(resolve_store(store).samples)
        # append into day 1 only, recompact
        write_samples_batch(_mk(spark, 100, 1_700_000_100_000), store)
        compact_store(spark, store, bucket_by_series=4)
        st = resolve_store(store)
        gen2 = os.path.dirname(st.samples)
        assert gen2 != gen1
        assert read_bucket_meta(gen2) == {"buckets": 4, "rollups_bucketed": []}
        # untouched day's files are the SAME inodes (hardlink carry)
        day2 = [d for d in os.listdir(st.samples) if d.startswith("day=")]
        assert len(day2) == 2
        carried = 0
        for d in day2:
            for f in os.listdir(os.path.join(st.samples, d)):
                p2 = os.path.join(st.samples, d, f)
                p1 = os.path.join(gen1, "samples", d, f)
                if os.path.exists(p1) and os.path.samefile(p1, p2):
                    carried += 1
        assert carried > 0
        df = read_samples_table(spark, store)
        assert df.count() == 1700  # 1600 + 100 new (series_id,t) rows
        assert "timbala_b" in df._jdf.queryExecution().executedPlan().toString()

    def test_bucket_count_change_forces_full_rewrite(self, spark, store):
        from timbala_spark.streaming.compact import (
            compact_store,
            read_bucket_meta,
        )
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )
        from timbala_spark.streaming.store import resolve_store

        compact_store(spark, store, bucket_by_series=4)
        write_samples_batch(_mk(spark, 100, 1_700_000_100_000), store)
        compact_store(spark, store, bucket_by_series=8)
        gdir = os.path.dirname(resolve_store(store).samples)
        assert read_bucket_meta(gdir) == {"buckets": 8, "rollups_bucketed": []}
        assert read_samples_table(spark, store).count() == 1700

    def test_engine_query_over_bucketed_store(self, spark, store):
        """The full read path: Engine.query over a bucketed store
        matches the same query over the plain layout."""
        from timbala_spark.engine import Engine
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import read_samples_table

        compact_store(spark, store, bucket_by_series=4)
        eng = Engine(spark, read_samples_table(spark, store))
        out = eng.query_values("sum(m_0)", 1_700_000_120.0)
        assert len(out) == 1
        # sum over name m_0 series at t<=120s window: exact check
        # against a driver-side recompute
        rows = (
            read_samples_table(spark, store)
            .filter("name = 'm_0' and t <= 1700000120000")
            .groupBy("series_id")
            .agg(F.max_by("v", "t").alias("v"))
            .agg(F.sum("v"))
            .collect()
        )
        assert abs(out[0][1] - rows[0][0]) < 1e-9

    def test_objectstore_backend_compatible(self, spark, tmp_path, monkeypatch):
        """The bucketed write path routes its file sharing through the
        backend seam: green under the fake object-store backend with
        os.link booby-trapped."""
        from timbala_spark.streaming import backend as backend_mod
        from timbala_spark.streaming.compact import compact_store
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )

        st = str(tmp_path / "obstore")
        write_samples_batch(_mk(spark, 300, 1_700_000_000_000), st)
        backend_mod.set_backend(backend_mod.FakeObjectStoreBackend())
        import os as _os

        def _boom(*a, **k):  # pragma: no cover
            raise AssertionError("os.link called under objectstore backend")

        monkeypatch.setattr(_os, "link", _boom)
        try:
            compact_store(spark, st, bucket_by_series=4)
            df = read_samples_table(spark, st)
            assert df.count() == 300
            assert (
                "timbala_b"
                in df._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            backend_mod.set_backend(None)

    def test_bucketed_rollups_exchange_free_and_identical(
        self, spark, store, tmp_path
    ):
        """r9: rollup tables ride the bucketed layout — routed queries'
        rollup⋈dict join needs no exchange on a clean generation, and
        the frames are value-identical to the plain layout."""
        from timbala_spark.streaming.compact import (
            compact_store,
            read_bucket_meta,
        )
        from timbala_spark.streaming.ingest import (
            read_rollup_tables,
            write_samples_batch,
        )
        from timbala_spark.streaming.store import resolve_store

        plain = str(tmp_path / "plainr")
        write_samples_batch(_mk(spark, 800, 1_700_000_000_000), plain)
        write_samples_batch(_mk(spark, 800, 1_700_090_000_000), plain)
        compact_store(spark, plain, rollup_ms=(3_600_000,))
        compact_store(spark, store, rollup_ms=(3_600_000,), bucket_by_series=4)
        meta = read_bucket_meta(os.path.dirname(resolve_store(store).samples))
        assert meta == {"buckets": 4, "rollups_bucketed": [3_600_000]}

        rb = read_rollup_tables(spark, store)[3_600_000]
        rp = read_rollup_tables(spark, plain)[3_600_000]
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = rb._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Bucketed: true") == 2, plan
            j = plan.lower().find("sortmergejoin")
            assert j >= 0 and plan[j:].count("Exchange") == 0, plan[j:]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        cols = sorted(rb.columns)
        assert cols == sorted(rp.columns)

        def h(df):
            payload = [c for c in df.columns if c != "labels"]
            return df.agg(
                F.sum(F.xxhash64(*payload).cast("decimal(38,0)")),
                F.count(F.lit(1)),
            ).collect()[0]

        assert tuple(h(rb)) == tuple(h(rp))


class TestAutoBucketLadder:
    """r10: bucket_by_series="auto" — the power-of-two ladder picks the
    count from the series-dict size, so a store growing 100x re-buckets
    on rung crossings instead of silently degrading a fixed count."""

    def test_ladder_shape(self):
        from timbala_spark.streaming.compact import (
            AUTO_SERIES_PER_BUCKET,
            auto_bucket_count,
        )

        assert auto_bucket_count(0) == 4  # clamp floor
        assert auto_bucket_count(1) == 4
        assert auto_bucket_count(AUTO_SERIES_PER_BUCKET) == 4
        assert auto_bucket_count(5 * AUTO_SERIES_PER_BUCKET) == 8
        assert auto_bucket_count(40_000_000) == 64  # the reference bar
        assert auto_bucket_count(10**12) == 4096  # clamp ceiling
        # monotone, power-of-two, and stable within a rung
        prev = 0
        for n in range(1, 200):
            c = auto_bucket_count(n * AUTO_SERIES_PER_BUCKET // 3)
            assert c >= prev and (c & (c - 1)) == 0
            prev = c

    def test_auto_compact_composes_and_grow_rebuckets(
        self, spark, store, monkeypatch
    ):
        """Two auto passes compose at the same rung; a rung crossing
        (simulated by shrinking the target) re-buckets via the
        sanctioned full rewrite, value-identically."""
        from timbala_spark.streaming import compact as compact_mod
        from timbala_spark.streaming.compact import (
            compact_store,
            read_bucket_meta,
        )
        from timbala_spark.streaming.ingest import (
            read_samples_table,
            write_samples_batch,
        )
        from timbala_spark.streaming.store import resolve_store

        compact_store(spark, store, bucket_by_series="auto")
        gdir = os.path.dirname(resolve_store(store).samples)
        assert read_bucket_meta(gdir)["buckets"] == 4  # clamp floor
        base_hash = _hash(read_samples_table(spark, store))

        # same rung: the second auto pass keeps the count (incremental
        # compaction composes — equal counts)
        write_samples_batch(_mk(spark, 100, 1_700_180_000_000), store)
        compact_store(spark, store, bucket_by_series="auto")
        gdir = os.path.dirname(resolve_store(store).samples)
        assert read_bucket_meta(gdir)["buckets"] == 4

        # rung crossing: 800 distinct series (the batches share ids)
        # with a 100-series target → 8
        monkeypatch.setattr(compact_mod, "AUTO_SERIES_PER_BUCKET", 100)
        compact_store(spark, store, bucket_by_series="auto")
        gdir = os.path.dirname(resolve_store(store).samples)
        assert read_bucket_meta(gdir)["buckets"] == 8
        got = read_samples_table(spark, store)
        assert got.count() == 1700
        # value-identical across the re-bucket (the 100 extra rows
        # change the hash vs base, so compare against a fresh plain
        # read of the same store instead)
        plain = spark.read.parquet(resolve_store(store).samples)
        d = spark.read.parquet(resolve_store(store).series).dropDuplicates(
            ["series_id", "name"]
        )
        want = plain.join(d, "series_id").select(*got.columns)
        assert _hash(got) == _hash(want)
