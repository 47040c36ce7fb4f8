"""The raw instant-vector selector against its former plan.

``compiler.compile_vector_selector`` gives each sample the steps up to
its series' next sample (``lead(t)``, capped at the lookback), so every
``(series, step)`` has one candidate and no aggregate runs. The former
plan copied each sample to every step its lookback covers and kept the
latest per ``(series, step)`` with ``max_by(struct(t, v, labels), t)``.
Both must give the same rows on the edges that matter: a staleness
marker as the latest sample, a sample exactly ``lookback`` before a
step (the inclusive bound, ``engine.go:792``), ``offset``, and a gap
longer than the lookback.
"""

import pytest
from pyspark.sql import functions as F

from timbala_spark import prepare_samples
from timbala_spark.compiler import (
    EvalContext,
    _base_scan,
    _explode_grid,
    compile_vector_selector,
)
from timbala_spark.model import DEFAULT_LOOKBACK_MS
from timbala_spark.promql.parser import parse

T0 = 1_700_000_000_000
SCRAPE = 15_000
#: the step the windows below are checked at; ``EDGE`` is one of them
STEP_T = T0 + 3_600_000
EDGE = STEP_T + 20_000


def _rows():
    rows = []
    for s in range(4):
        labels = {"__name__": "m", "i": str(s)}
        for k in range(400):  # 100 min at a 15 s scrape, phase s s
            t = T0 + k * SCRAPE + s * 1_000
            if s == 1 and 3_500_000 <= t - T0 <= 3_900_000:
                continue  # a gap longer than the lookback
            v = None if s == 2 and k in (240, 262) else float(k % 7 + s)
            rows.append((labels, t, v))
    # a sample exactly one lookback before EDGE, and nothing after it
    # until well past EDGE: it is visible at EDGE, not at EDGE + 1 ms
    rows.append(({"__name__": "m", "i": "edge"}, EDGE - DEFAULT_LOOKBACK_MS, 5.0))
    rows.append(({"__name__": "m", "i": "edge"}, EDGE + 400_000, 6.0))
    # a marker as a series' latest sample: absent from then on
    rows.append(({"__name__": "m", "i": "gone"}, STEP_T - 60_000, 1.0))
    rows.append(({"__name__": "m", "i": "gone"}, STEP_T + 30_000, None))
    return rows


@pytest.fixture(scope="module")
def samples(spark):
    df = spark.createDataFrame(_rows(), "labels map<string,string>, t long, v double")
    return prepare_samples(df).cache()


def _former(vs, ctx):
    """The plan the selector replaced: explode to every covering step,
    then the latest sample per ``(series, step)``."""
    lo = ctx.start - ctx.lookback - vs.offset_ms
    base = _base_scan(ctx, vs.name, vs.matchers, lo, ctx.end - vs.offset_ms)
    g = _explode_grid(ctx, base, vs.offset_ms, ctx.lookback)
    return (
        g.groupBy("series_id", "step_t")
        .agg(F.expr("max_by(struct(t, v, labels), t) AS s"))
        .filter("s.v IS NOT NULL")
        .selectExpr("step_t", "s.labels AS labels", "s.v AS v", "s.t AS sample_t")
    )


def _canon(df):
    return sorted(
        (r["step_t"], tuple(sorted(r["labels"].items())), r["v"], r["sample_t"])
        for r in df.collect()
    )


@pytest.mark.parametrize("points", [61, 301])
@pytest.mark.parametrize("offset", ["", " offset 90s"])
def test_selector_equals_former_plan(spark, samples, points, offset):
    vs = parse("m" + offset)
    start = EDGE - (points - 1) // 2 * 1000
    ctx = EvalContext(spark, samples, start, start + (points - 1) * 1000, 1000)
    got = _canon(compile_vector_selector(vs, ctx).df)
    assert got == _canon(_former(vs, ctx))
    at = {}
    for step_t, labels, v, sample_t in got:
        at.setdefault(step_t, {})[dict(labels)["i"]] = sample_t
    series = {i for step in at.values() for i in step}
    assert {"0", "2", "3", "gone"} <= series
    # one candidate per (series, step)
    assert len(got) == sum(len(step) for step in at.values())
    if not offset:
        # the inclusive lookback edge, and the marker hiding "gone"
        assert at[EDGE]["edge"] == EDGE - DEFAULT_LOOKBACK_MS
        assert "edge" not in at.get(EDGE + 1000, {})
        assert "gone" not in at.get(STEP_T + 30_000, {})
        assert at[STEP_T + 29_000]["gone"] == STEP_T - 60_000


@pytest.mark.parametrize("step_s", [7, 60, 420])
def test_coarse_steps_and_gaps_equal_former_plan(spark, samples, step_s):
    """Steps coarser than the scrape and than the lookback, over the
    series with a gap longer than the lookback and over the markers."""
    vs = parse('m{i=~"1|2|gone"}')
    start = T0 + 3_000_000 + 3_000
    ctx = EvalContext(spark, samples, start, start + 1_500_000, step_s * 1000)
    got = _canon(compile_vector_selector(vs, ctx).df)
    assert got and got == _canon(_former(vs, ctx))
