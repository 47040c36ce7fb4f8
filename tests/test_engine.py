"""Engine-level behavior: guards, strict-mode errors, range semantics."""

import pytest
from pyspark.sql import functions as F

from timbala_spark import Engine, prepare_samples
from timbala_spark.compiler import PromQLEvalError


@pytest.fixture(scope="module")
def engine(spark):
    rows = []
    for job, inst, slope in [("api", "0", 10), ("api", "1", 20)]:
        for i in range(20):
            rows.append(
                (
                    {"__name__": "m", "job": job, "instance": inst},
                    i * 60_000,
                    float(i * slope),
                )
            )
    df = spark.createDataFrame(rows, "labels map<string,string>, t long, v double")
    return Engine(spark, prepare_samples(df))


class TestGuards:
    def test_points_cap(self, engine):
        # the reference's check counts INTERVALS (end.Sub(start)/step >
        # 11000, api.go:211-216): 11,001 grid points pass, 11,002 fail,
        # and the message says "11,000" with the comma and ?step hint
        engine.query_range("m", 0, 11000 * 60, 60)  # largest accepted
        with pytest.raises(
            PromQLEvalError, match=r"11,000 points per timeseries\. Try"
        ):
            engine.query_range("m", 0, 11001 * 60, 60)

    def test_matrix_range_query_rejected(self, engine):
        # NewRangeQuery's verbatim message, engine.go:271
        with pytest.raises(
            PromQLEvalError,
            match=r'invalid expression type "range vector" for range '
            r"query, must be Scalar or instant Vector",
        ):
            engine.query_range("m[5m]", 0, 600, 60)

    def test_label_replace_dup_only_between_matched(self, spark):
        from timbala_spark import prepare_samples

        rows = [
            ({"__name__": "m", "src": "hit"}, 0, 1.0),
            ({"__name__": "m", "src": "out"}, 0, 2.0),
            ({"__name__": "m2", "src": "hit"}, 0, 1.0),
            ({"__name__": "m2", "src": "hit2"}, 0, 2.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # a REPLACED set colliding with an untouched series is NOT an
        # error — funcLabelReplace `continue`s past non-matching
        # elements before its dup set (functions.go:802-818), so the
        # output really carries the duplicated label set twice
        out = eng.query(
            'label_replace(m, "src", "out", "src", "hit")', 0
        ).collect()
        assert sorted(dict(r["labels"])["src"] for r in out) == ["out", "out"]
        # two MATCHED elements colliding error, with the offending
        # label set echoed in Go labels.String() form
        with pytest.raises(
            Exception,
            match=r"duplicated label set in output of label_replace\(\): "
            r'\{__name__="m2", src="out"\}',
        ):
            eng.query(
                'label_replace(m2, "src", "out", "src", "hi.*")', 0
            ).collect()

    def test_date_fns_unrepresentable_values_answer_nan(self, spark):
        """Go's time.Unix(int64(v)) is spec-UNDEFINED for NaN and
        out-of-range floats; instead of ANSI-aborting the whole query
        on one rogue sample, unrepresentable seconds answer NaN
        (documented deliberate divergence from undefined behavior)."""
        from timbala_spark import prepare_samples

        rows = [
            ({"__name__": "m", "k": "big"}, 0, 1e300),
            ({"__name__": "m", "k": "nan"}, 0, float("nan")),
            ({"__name__": "m", "k": "ok"}, 0, 60.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        import math

        got = {
            dict(lbls)["k"]: v
            for lbls, v in eng.query_values("minute(m)", 0)
        }
        assert math.isnan(got["big"]) and math.isnan(got["nan"])
        assert got["ok"] == 1.0

    def test_count_values_vendored_semantics(self, spark):
        from timbala_spark import prepare_samples

        rows = [
            ({"__name__": "m", "x": "a"}, 0, 1.0),
            ({"__name__": "m", "x": "b"}, 0, 1.0),
            ({"__name__": "m", "x": "c"}, 0, 2.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # invalid label names are NOT rejected — the vendored engine
        # lb.Set()s whatever string it was given (engine.go:1268-1284);
        # the 'invalid label name' validation postdates it
        out = eng.query('count_values("val-ue", m)', 0).collect()
        assert sorted(
            (dict(r["labels"])["val-ue"], r["v"]) for r in out
        ) == [("1", 2.0), ("2", 1.0)]
        # when the value label is itself in by(...), the group key is
        # the POST-Set metric (engine.go:1286-1294): the original x
        # values must not split the counts into duplicate outputs
        out = eng.query('count_values by (x) ("x", m)', 0).collect()
        assert sorted(
            (dict(r["labels"])["x"], r["v"]) for r in out
        ) == [("1", 2.0), ("2", 1.0)]
        # any string is a label KEY here — one that only survives if it
        # is quoted, never spliced, into the plan's SQL text
        def counted(q):
            return sorted(
                (sorted(r["labels"].items()), r["v"])
                for r in eng.query(q, 0).collect()
            )

        for src, lbl in [  # PromQL string literal → label key
            ("it's", "it's"),
            ("back\\\\slash", "back\\slash"),
            ("x') OR raise_error('boom", "x') OR raise_error('boom"),
            ("\\u001f", "\x1f"),
            ("é😀", "é😀"),
        ]:
            assert counted(f'count_values("{src}", m)') == [
                ([(lbl, "1")], 2.0),
                ([(lbl, "2")], 1.0),
            ], lbl
            assert counted(f'count_values by (x) ("{src}", m)') == sorted(
                [
                    (sorted({"x": x, lbl: val}.items()), 1.0)
                    for x, val in [("a", "1"), ("b", "1"), ("c", "2")]
                ]
            ), lbl

    def test_label_join_collision_errors(self, spark):
        from timbala_spark import prepare_samples

        rows = [
            ({"__name__": "m", "src": "x"}, 0, 1.0),
            ({"__name__": "m", "src": "y"}, 0, 2.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # joining a missing source yields "" which DELETES dst
        # (lb.Del), collapsing both series onto {__name__="m"} — and
        # unlike label_replace, every element enters label_join's dup
        # set (functions.go:856-879), so this errors
        with pytest.raises(
            Exception,
            match=r"duplicated label set in output of label_join\(\): "
            r'\{__name__="m"\}',
        ):
            eng.query('label_join(m, "src", "-", "nosuch")', 0).collect()

    def test_holt_winters_factor_errors_verbatim(self, engine):
        # funcHoltWinters' messages kept bug-for-bug: no comma before
        # the "goT" typo, %f six-decimal formatting (functions.go:228)
        with pytest.raises(
            PromQLEvalError,
            match=r"invalid smoothing factor\. Expected: 0 < sf < 1 goT: 2\.000000",
        ):
            engine.query("holt_winters(m[5m], 2, 0.5)", 600)
        # ...and the TREND error prints the SMOOTHING factor's value
        # (ev.errorf(..., sf) on functions.go:231)
        with pytest.raises(
            PromQLEvalError,
            match=r"invalid trend factor\. Expected: 0 < tf < 1 goT: 0\.250000",
        ):
            engine.query("holt_winters(m[5m], 0.25, 9)", 600)

    def test_holt_winters_step_varying_factor_errors_verbatim(self, engine):
        # step-varying factors validate on the broadcast step grid with
        # the same verbatim messages; sf is checked first per step
        with pytest.raises(Exception, match=r"0 < sf < 1 goT: 2\.000000"):
            engine.query(
                "holt_winters(m[5m], scalar(vector(2)), 0.5)", 600
            ).collect()
        with pytest.raises(
            Exception,
            match=r"invalid trend factor\. Expected: 0 < tf < 1 goT: 0\.250000",
        ):
            engine.query(
                "holt_winters(m[5m], scalar(vector(0.25)), scalar(vector(9)))",
                600,
            ).collect()
        # both invalid at one step: the sf error wins, as in the
        # reference's check order
        with pytest.raises(Exception, match=r"invalid smoothing factor"):
            engine.query(
                "holt_winters(m[5m], scalar(vector(9)), scalar(vector(9)))",
                600,
            ).collect()

    def test_negative_step(self, engine):
        with pytest.raises(PromQLEvalError):
            engine.query_range("m", 0, 600, -1)

    def test_end_before_start(self, engine):
        with pytest.raises(PromQLEvalError):
            engine.query_range("m", 600, 0, 60)


class TestStrictErrors:
    def test_one_to_one_duplicate_raises(self, engine):
        # both instances map to the same sig when ignoring(instance);
        # the rhs ('one' side) duplicate errors while building
        # rightSigs, with the vendored message (engine.go:979-988)
        df = engine.query("m + ignoring(instance) m", 600)
        with pytest.raises(
            Exception,
            match="many-to-many matching not allowed: matching labels "
            "must be unique on one side",
        ):
            df.collect()

    def test_many_side_duplicate_semantics(self, spark):
        # engine.go:1000-1027: a duplicate MANY-side signature errors
        # only when it actually matches (and, for filtered comparisons,
        # only when both pairs survive the filter) — `continue` on
        # no-match and on !keep both run before matchedSigs
        rows = [
            ({"__name__": "l", "a": "1", "i": "0"}, 0, 1.0),
            ({"__name__": "l", "a": "1", "i": "1"}, 0, 20.0),
            ({"__name__": "r", "a": "1"}, 0, 10.0),
            ({"__name__": "r2", "a": "2"}, 0, 10.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # unmatched duplicate lhs sig: no error, empty result
        assert eng.query("l + on(a) r2", 0).collect() == []
        # matched duplicate: errors with the vendored one-to-one message
        with pytest.raises(
            Exception,
            match=r"multiple matches for labels: many-to-one matching "
            r"must be explicit \(group_left/group_right\)",
        ):
            eng.query("l + on(a) r", 0).collect()
        # filtered comparison: only one of the two pairs survives
        # `<`, so no duplicate is ever inserted — succeeds
        out = eng.query("l < on(a) r", 0).collect()
        assert len(out) == 1 and out[0]["v"] == 1.0

    def test_group_left_output_duplicate(self, spark):
        rows = [
            ({"__name__": "many", "a": "1", "b": "x"}, 0, 1.0),
            ({"__name__": "many", "a": "1", "b": "y"}, 0, 2.0),
            ({"__name__": "one", "a": "1"}, 0, 10.0),
        ]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # many-side labels collapse to the same output set when b is the
        # join-ignored label AND gets overwritten by include
        out = eng.query('many * on(a) group_left(b) one', 0)
        # 'one' has no b → b removed from both outputs → duplicate {a=1}
        with pytest.raises(Exception, match="multiple matches|duplicate"):
            out.collect()

    def test_non_strict_mode_skips_checks(self, spark, engine):
        eng = Engine(spark, engine.samples, strict=False)
        # same duplicate-sig query runs without error in non-strict mode
        out = eng.query("m + ignoring(instance) m", 600).collect()
        assert len(out) > 0


class TestRangeSemantics:
    def test_step_grid_values(self, engine):
        df = engine.query_range("m", 0, 300, 60)
        rows = df.collect()
        # 2 series × 6 steps
        assert len(rows) == 12
        by = {}
        for r in rows:
            by.setdefault(dict(r["labels"])["instance"], []).append(r["v"])
        assert by["0"] == [0.0, 10.0, 20.0, 30.0, 40.0, 50.0]

    def test_lookback_carries_values_forward(self, engine):
        # last sample at 19m; still visible at 24m, gone at 24m+1ms...
        rows = engine.query_range("m", 20 * 60, 30 * 60, 60).collect()
        ts = sorted({r["t"] for r in rows})
        # visible through 19m + 5m lookback = 24m (inclusive)
        assert max(ts) == 24 * 60 * 1000

    def test_scalar_range(self, engine):
        rows = engine.query_range("1+2", 0, 120, 60).collect()
        assert [r["v"] for r in rows] == [3.0, 3.0, 3.0]
        assert [r["t"] for r in rows] == [0, 60000, 120000]

    def test_offset_range(self, engine):
        rows = engine.query_range("m offset 5m", 300, 600, 300).collect()
        got = {(dict(r["labels"])["instance"], r["t"]): r["v"] for r in rows}
        assert got[("0", 300000)] == 0.0
        assert got[("0", 600000)] == 50.0

    def test_step_varying_topk_param(self, spark):
        # the aggregation param is re-evaluated at every step
        # (engine.go:1250-1258): `late` exists only from 2m on, so
        # scalar(count(late)) is NaN->no rows at step 0m/1m and 1 after
        rows = []
        for i in range(20):
            rows.append(({"__name__": "m", "s": "a"}, i * 60_000, 100.0))
            rows.append(({"__name__": "m", "s": "b"}, i * 60_000, 50.0))
            if i >= 2:
                rows.append(({"__name__": "late", "s": "x"}, i * 60_000, 1.0))
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        # query only the window where `late` exists: before 2m the
        # param is scalar() of an empty vector = NaN, which (correctly)
        # errors — covered by the test below
        out = eng.query_range(
            "topk(scalar(count(late)), m)", 120, 240, 60
        ).collect()
        by_t = {}
        for r in out:
            by_t.setdefault(r["t"], []).append(dict(r["labels"])["s"])
        assert sorted(by_t) == [120000, 180000, 240000]
        for t in by_t:
            assert by_t[t] == ["a"]  # k=1 keeps only the top series

    def test_step_varying_topk_nan_step_errors(self, spark):
        # a NaN param at ANY evaluated step fails the range query, like
        # the reference's per-step evalInt panic
        rows = []
        for i in range(5):
            rows.append(({"__name__": "m", "s": "a"}, i * 60_000, 100.0))
            if i >= 2:
                rows.append(({"__name__": "late", "s": "x"}, i * 60_000, 1.0))
        df = spark.createDataFrame(
            rows, "labels map<string,string>, t long, v double"
        )
        eng = Engine(spark, prepare_samples(df))
        with pytest.raises(Exception, match="overflows int64"):
            eng.query_range(
                "topk(scalar(count(late)), m)", 0, 240, 60
            ).collect()
        # evalInt runs BEFORE the vector is examined
        # (engine.go:1254-1258), so a NaN k errors even when the
        # aggregated vector is empty — the check lives on the
        # broadcast step grid, not the joined rows
        with pytest.raises(Exception, match="overflows int64"):
            eng.query("topk(scalar(count(late)), nonexistent)", 0).collect()


class TestSeriesIdentity:
    def test_series_id_stable(self, spark):
        df1 = spark.createDataFrame(
            [({"__name__": "x", "a": "1"}, 0, 1.0)],
            "labels map<string,string>, t long, v double",
        )
        df2 = spark.createDataFrame(
            [({"a": "1", "__name__": "x"}, 99, 5.0)],
            "labels map<string,string>, t long, v double",
        )
        id1 = prepare_samples(df1).select("series_id").first()[0]
        id2 = prepare_samples(df2).select("series_id").first()[0]
        assert id1 == id2  # map insertion order must not matter


class TestShardDistribution:
    """Analog of the reference's shard/replica distribution property
    test (internal/cluster/distribution_test.go:30-188): hashing series
    into N partitions must spread load with relative std-dev well under
    10%."""

    def test_series_hash_balance(self, spark):
        import math

        from timbala_spark.model import series_id_expr

        n_series, n_buckets = 100_000, 19
        df = spark.range(n_series).select(
            F.create_map(
                F.lit("__name__"),
                F.concat(F.lit("m"), (F.col("id") % 97).cast("string")),
                F.lit("instance"),
                F.col("id").cast("string"),
            ).alias("labels")
        )
        buckets = (
            df.select(F.pmod(series_id_expr("labels"), F.lit(n_buckets)).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [r["count"] for r in buckets]
        assert len(counts) == n_buckets  # no empty shard
        mean = sum(counts) / len(counts)
        rsd = math.sqrt(sum((c - mean) ** 2 for c in counts) / len(counts)) / mean
        # reference gate: population std-dev < numSamples/10
        assert rsd < 0.10, rsd

    def test_series_ids_are_stable(self, spark):
        """Series ids are persisted in every store's series dictionary:
        a change to the canonical serialization or its hash would
        orphan stored series, so the exact bits are pinned."""
        from timbala_spark.model import series_id_expr

        pinned = [
            ({}, -7444071767201028348),
            ({"__name__": "m", "job": "a"}, -7009550381249838793),
            ({"é": "x\x1fy", "b": "it's"}, -886401729988055111),
            (
                {"__name__": "up", "instance": "h:9090", "le": "+Inf"},
                -8947739011887087028,
            ),
        ]
        df = spark.createDataFrame(
            [(i, m) for i, (m, _) in enumerate(pinned)],
            "i int, labels map<string,string>",
        )
        got = df.select("i", series_id_expr("labels").alias("id")).collect()
        assert sorted((r["i"], r["id"]) for r in got) == [
            (i, sid) for i, (_, sid) in enumerate(pinned)
        ]


class TestAbsentRangeBoundaries:
    """SURVEY §7.8 risk (4): absent() per-step across series death —
    a series is 'present' at steps within its 5m staleness lookback of
    the last sample, absent strictly after."""

    def test_absent_after_series_death(self, engine):
        # fixture samples end at t=1140s; lookback keeps the series
        # visible through step 1440s, absent from 1500s on
        rows = engine.query_range("absent(m)", 0, 2400, 60).collect()
        steps = sorted(r["t"] for r in rows)
        assert steps == [t * 1000 for t in range(1500, 2401, 60)]
        assert all(r["v"] == 1.0 for r in rows)

    def test_absent_nonexistent_propagates_eq_matchers(self, engine):
        rows = engine.query_range(
            'absent(nothing{job="x", env=~"prod.*"})', 0, 300, 60
        ).collect()
        assert len(rows) == 6  # every step
        # only equality matchers propagate (functions.go:511-531)
        assert all(dict(r["labels"]) == {"job": "x"} for r in rows)


class TestOutputOrdering:
    """VERDICT r3 #6: the default programmatic path must not end in a
    global Sort (the one all-to-one stage in an otherwise
    shuffle-minimal plan); the wire order lives in the API layer."""

    def test_default_plan_has_no_global_sort(self, engine):
        df = engine.query_range("m", 0, 600, 60)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Sort [" not in plan, plan

    def test_sorted_true_restores_canonical_order(self, engine):
        df = engine.query_range("m", 0, 600, 60, sorted=True)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Sort [" in plan
        rows = df.collect()
        keys = [
            (tuple(sorted(dict(r["labels"]).items())), r["t"]) for r in rows
        ]
        assert keys == sorted(keys)

    def test_sorted_and_default_same_content(self, engine):
        a = engine.query_range("m", 0, 600, 60).collect()
        b = engine.query_range("m", 0, 600, 60, sorted=True).collect()
        key = lambda r: (tuple(sorted(dict(r["labels"]).items())), r["t"])  # noqa: E731
        assert sorted(
            [(key(r), r["v"]) for r in a]
        ) == sorted([(key(r), r["v"]) for r in b])
