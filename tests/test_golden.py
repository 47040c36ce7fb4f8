"""Golden-DSL correctness corpus.

Written in the reference's test-script format (vendor/.../promql/test.go)
— `load <step>` fixtures + `eval instant at <t>` assertions at relative
ε=1e-6. Expected values derive from documented PromQL semantics.
"""

import pytest

from timbala_spark.testdsl import run_golden

AGG_FIXTURE = """
load 5m
  http_requests{job="api-server", instance="0", group="production"} 0+10x10
  http_requests{job="api-server", instance="1", group="production"} 0+20x10
  http_requests{job="api-server", instance="0", group="canary"} 0+30x10
  http_requests{job="api-server", instance="1", group="canary"} 0+40x10
  http_requests{job="app-server", instance="0", group="production"} 0+50x10
  http_requests{job="app-server", instance="1", group="production"} 0+60x10
  http_requests{job="app-server", instance="0", group="canary"} 0+70x10
  http_requests{job="app-server", instance="1", group="canary"} 0+80x10
"""


def test_aggregators_sum_avg_count(spark):
    run_golden(spark, AGG_FIXTURE + """
eval instant at 50m sum by (group) (http_requests)
  {group="canary"} 2200
  {group="production"} 1400

eval instant at 50m sum by (group) (http_requests{job="api-server"})
  {group="canary"} 700
  {group="production"} 300

eval instant at 50m sum without (instance) (http_requests)
  {job="api-server", group="production"} 300
  {job="api-server", group="canary"} 700
  {job="app-server", group="production"} 1100
  {job="app-server", group="canary"} 1500

eval instant at 50m avg by (job) (http_requests)
  {job="api-server"} 250
  {job="app-server"} 650

eval instant at 50m count by (group) (http_requests)
  {group="canary"} 4
  {group="production"} 4

eval instant at 50m sum(http_requests)
  {} 3600
""")


def test_aggregators_minmax_stddev_quantile(spark):
    run_golden(spark, AGG_FIXTURE + """
eval instant at 50m min by (job) (http_requests)
  {job="api-server"} 100
  {job="app-server"} 500

eval instant at 50m max by (job) (http_requests)
  {job="api-server"} 400
  {job="app-server"} 800

eval instant at 50m stddev by (job) (http_requests)
  {job="api-server"} 111.80339887498948
  {job="app-server"} 111.80339887498948

eval instant at 50m stdvar by (job) (http_requests)
  {job="api-server"} 12500
  {job="app-server"} 12500

eval instant at 50m quantile(0.5, http_requests)
  {} 450

eval instant at 50m quantile by (job) (0.25, http_requests)
  {job="api-server"} 175
  {job="app-server"} 575

eval instant at 50m quantile(-1, http_requests)
  {} -Inf

eval instant at 50m quantile(1.5, http_requests)
  {} +Inf
""")


def test_aggregators_topk_bottomk(spark):
    run_golden(spark, AGG_FIXTURE + """
eval instant at 50m topk(1, http_requests)
  http_requests{group="canary", instance="1", job="app-server"} 800

eval instant at 50m topk by (group) (1, http_requests)
  http_requests{group="canary", instance="1", job="app-server"} 800
  http_requests{group="production", instance="1", job="app-server"} 600

eval instant at 50m bottomk(2, http_requests)
  http_requests{group="production", instance="0", job="api-server"} 100
  http_requests{group="production", instance="1", job="api-server"} 200

eval_ordered instant at 50m sort_desc(http_requests{job="api-server"})
  http_requests{group="canary", instance="1", job="api-server"} 400
  http_requests{group="canary", instance="0", job="api-server"} 300
  http_requests{group="production", instance="1", job="api-server"} 200
  http_requests{group="production", instance="0", job="api-server"} 100

eval_ordered instant at 50m sort(http_requests{job="api-server"})
  http_requests{group="production", instance="0", job="api-server"} 100
  http_requests{group="production", instance="1", job="api-server"} 200
  http_requests{group="canary", instance="0", job="api-server"} 300
  http_requests{group="canary", instance="1", job="api-server"} 400
""")


def test_count_values(spark):
    run_golden(spark, """
load 5m
  version{job="a", instance="0"} 6
  version{job="a", instance="1"} 6
  version{job="b", instance="0"} 7.5

eval instant at 0m count_values("version", version)
  {version="6"} 2
  {version="7.5"} 1

eval instant at 0m count_values by (job) ("v", version)
  {job="a", v="6"} 2
  {job="b", v="7.5"} 1
""")


BINOP_FIXTURE = """
load 5m
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20
  bar{job="api", instance="0"} 2
  baz{job="api", instance="2"} 5
  one{job="api", role="primary"} 100
"""


def test_binop_arithmetic(spark):
    run_golden(spark, BINOP_FIXTURE + """
eval instant at 0m foo + bar
  {job="api", instance="0"} 12

eval instant at 0m foo * 2
  {job="api", instance="0"} 20
  {job="api", instance="1"} 40

eval instant at 0m 2 * foo
  {job="api", instance="0"} 20
  {job="api", instance="1"} 40

eval instant at 0m foo - foo
  {job="api", instance="0"} 0
  {job="api", instance="1"} 0

eval instant at 0m foo / ignoring(instance) group_left bar
  {job="api", instance="0"} 5
  {job="api", instance="1"} 10

eval instant at 0m foo * on(job) group_left(role) one
  {job="api", instance="0", role="primary"} 1000
  {job="api", instance="1", role="primary"} 2000

eval instant at 0m foo % 3
  {job="api", instance="0"} 1
  {job="api", instance="1"} 2

eval instant at 0m foo ^ 2
  {job="api", instance="0"} 100
  {job="api", instance="1"} 400

eval instant at 0m foo / 0
  {job="api", instance="0"} +Inf
  {job="api", instance="1"} +Inf

eval_fail instant at 0m foo + ignoring(instance) bar
"""
    )


def test_binop_scalar_scalar(spark):
    run_golden(spark, """
load 5m
  trivial 1

eval instant at 0m 1 + 1
  2

eval instant at 0m 2 ^ 3 ^ 2
  512

eval instant at 0m -1 ^ 2
  -1

eval instant at 0m 17 % 5
  2

eval instant at 0m -17 % 5
  -2

eval instant at 0m 1 / 0
  +Inf

eval instant at 0m -1 / 0
  -Inf

eval instant at 0m 0 / 0
  NaN

eval instant at 0m 1 > bool 0
  1

eval instant at 0m 1 >= bool 1
  1

eval instant at 0m 1 < bool 0
  0

eval instant at 0m (2 + 3) * 4
  20
""")


def test_binop_comparisons(spark):
    run_golden(spark, BINOP_FIXTURE + """
eval instant at 0m foo > 15
  foo{job="api", instance="1"} 20

eval instant at 0m foo > bool 15
  {job="api", instance="0"} 0
  {job="api", instance="1"} 1

eval instant at 0m foo == 10
  foo{job="api", instance="0"} 10

eval instant at 0m foo != 10
  foo{job="api", instance="1"} 20

eval instant at 0m foo <= 20
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20

eval instant at 0m foo > ignoring(instance) group_left bar
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20
""")


def test_set_ops(spark):
    run_golden(spark, BINOP_FIXTURE + """
eval instant at 0m foo and bar
  foo{job="api", instance="0"} 10

eval instant at 0m foo or baz
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20
  baz{job="api", instance="2"} 5

eval instant at 0m foo unless bar
  foo{job="api", instance="1"} 20

eval instant at 0m foo unless on(job) baz

eval instant at 0m foo unless on(instance) baz
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20

eval instant at 0m foo and on(instance) baz

eval instant at 0m foo and on(job) baz
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20
""")


def test_selectors_staleness(spark):
    run_golden(spark, """
load 1m
  metric 0+1x10
  sparse 1 _ _ _ _ _ _ 7

eval instant at 10m metric
  metric 10

eval instant at 13m metric
  metric 10

eval instant at 16m metric

eval instant at 5m metric offset 3m
  metric 2

eval instant at 2m {__name__=~"met.*"}
  metric 2

eval instant at 2m {__name__=~".+", __name__!="sparse"}
  metric 2

eval instant at 3m sparse
  sparse 1

eval instant at 8m sparse
  sparse 7

eval instant at 5m sparse
  sparse 1

eval instant at 7m metric[3m]
  metric 4
  metric 5
  metric 6
  metric 7
""")


def test_rate_family(spark):
    run_golden(spark, """
load 30s
  ctr 0+10x20
  reset_ctr 0 10 20 0 10 20

eval instant at 10m rate(ctr[5m])
  {} 0.3333333333333333

eval instant at 10m increase(ctr[5m])
  {} 100

eval instant at 10m delta(ctr[5m])
  {} 100

eval instant at 10m irate(ctr[5m])
  {} 0.3333333333333333

eval instant at 10m idelta(ctr[5m])
  {} 10

eval instant at 2m30s rate(reset_ctr[5m])
  {} 0.13333333333333333

eval instant at 2m30s resets(reset_ctr[5m])
  {} 1

eval instant at 2m30s changes(reset_ctr[5m])
  {} 5

eval instant at 10m resets(ctr[5m])
  {} 0

eval instant at 10m deriv(ctr[5m])
  {} 0.3333333333333333

eval instant at 10m predict_linear(ctr[5m], 300)
  {} 300
""")


def test_over_time(spark):
    run_golden(spark, """
load 1m
  g 2 4 6 8 10 _ 20

eval instant at 4m avg_over_time(g[5m])
  {} 6

eval instant at 4m min_over_time(g[5m])
  {} 2

eval instant at 4m max_over_time(g[5m])
  {} 10

eval instant at 4m sum_over_time(g[5m])
  {} 30

eval instant at 4m count_over_time(g[5m])
  {} 5

eval instant at 4m stddev_over_time(g[5m])
  {} 2.8284271247461903

eval instant at 4m stdvar_over_time(g[5m])
  {} 8

eval instant at 4m quantile_over_time(0.5, g[5m])
  {} 6

eval instant at 6m g
  g 20

eval instant at 6m count_over_time(g[2m])
  {} 2
""")


def test_math_functions(spark):
    run_golden(spark, """
load 5m
  trivial 1

eval instant at 0m ln(vector(1))
  {} 0

eval instant at 0m ln(vector(0))
  {} -Inf

eval instant at 0m ln(vector(-1))
  {} NaN

eval instant at 0m exp(vector(0))
  {} 1

eval instant at 0m sqrt(vector(4))
  {} 2

eval instant at 0m log2(vector(8))
  {} 3

eval instant at 0m log10(vector(100))
  {} 2

eval instant at 0m abs(vector(-3.5))
  {} 3.5

eval instant at 0m ceil(vector(1.2))
  {} 2

eval instant at 0m floor(vector(1.8))
  {} 1

eval instant at 0m round(vector(1.5))
  {} 2

eval instant at 0m round(vector(2.5))
  {} 3

eval instant at 0m round(vector(-0.5))
  {} 0

eval instant at 0m round(vector(1.2345), 0.01)
  {} 1.23

eval instant at 0m clamp_max(vector(5), 3)
  {} 3

eval instant at 0m clamp_min(vector(5), 7)
  {} 7

eval instant at 0m scalar(vector(3))
  3

eval instant at 1m vector(time())
  {} 60
""")


def test_histogram_quantile(spark):
    run_golden(spark, """
load 5m
  h{le="0.1"} 0+1x10
  h{le="0.5"} 0+4x10
  h{le="1"} 0+5x10
  h{le="+Inf"} 0+10x10
  hh{job="a", le="1"} 0+10x10
  hh{job="a", le="+Inf"} 0+10x10
  noinf{le="1"} 0+10x10

eval instant at 50m histogram_quantile(0.5, h)
  {} 1

eval instant at 50m histogram_quantile(0.9, h)
  {} 1

eval instant at 50m histogram_quantile(0.2, h)
  {} 0.23333333333333334

eval instant at 50m histogram_quantile(0.05, h)
  {} 0.05

eval instant at 50m histogram_quantile(0.5, hh)
  {job="a"} 0.5

eval instant at 50m histogram_quantile(-1, h)
  {} -Inf

eval instant at 50m histogram_quantile(2, h)
  {} +Inf

eval instant at 50m histogram_quantile(0.5, noinf)
  {} NaN
""")


def test_label_functions(spark):
    run_golden(spark, """
load 5m
  m{job="api-server", src="a-b"} 1

eval instant at 0m label_replace(m, "dst", "$1", "job", "(.*)-server")
  m{job="api-server", src="a-b", dst="api"} 1

eval instant at 0m label_replace(m, "job", "$1", "job", "(.*)-server")
  m{job="api", src="a-b"} 1

eval instant at 0m label_replace(m, "dst", "$1", "job", "nomatch-(.*)")
  m{job="api-server", src="a-b"} 1

eval instant at 0m label_replace(m, "job", "", "job", "(.*)")
  m{src="a-b"} 1

eval instant at 0m label_join(m, "dst", "-", "job", "src")
  m{job="api-server", src="a-b", dst="api-server-a-b"} 1

eval_fail instant at 0m label_replace(m, "0bad", "$1", "job", "(.*)")
""")


def test_date_functions(spark):
    run_golden(spark, """
load 5m
  trivial 1

eval instant at 0m day_of_week()
  {} 4

eval instant at 0m day_of_month()
  {} 1

eval instant at 0m days_in_month()
  {} 31

eval instant at 0m month()
  {} 1

eval instant at 0m year()
  {} 1970

eval instant at 0m hour(vector(3600))
  {} 1

eval instant at 0m minute(vector(120))
  {} 2

eval instant at 0m days_in_month(vector(951782400))
  {} 29

eval instant at 0m timestamp(vector(1))
  {} 0
""")


def test_absent(spark):
    run_golden(spark, """
load 5m
  metric 1

eval instant at 0m absent(nonexistent)
  {} 1

eval instant at 0m absent(nonexistent{job="myjob", instance="x"})
  {job="myjob", instance="x"} 1

eval instant at 0m absent(metric)

eval instant at 10m absent(metric)
  {} 1
""")


def test_unary_and_name_drop(spark):
    run_golden(spark, """
load 5m
  m{a="1"} 5

eval instant at 0m -m
  {a="1"} -5

eval instant at 0m m + m
  {a="1"} 10

eval instant at 0m timestamp(m)
  {a="1"} 0

eval instant at 0m abs(m)
  {a="1"} 5
""")


def test_compound_expressions(spark):
    run_golden(spark, """
load 30s
  req{job="a", code="200"} 0+10x20
  req{job="a", code="500"} 0+2x20
  req{job="b", code="200"} 0+30x20

# one-to-one matching: {} on the rhs matches nothing without on()
eval instant at 10m sum by (job) (rate(req[5m])) / sum(rate(req[5m]))

eval instant at 10m sum by (job) (rate(req[5m])) / on() group_left sum(rate(req[5m]))
  {job="a"} 0.2857142857142857
  {job="b"} 0.7142857142857143

eval instant at 10m sum by (job) (rate(req[5m])) / scalar(sum(rate(req[5m])))
  {job="a"} 0.2857142857142857
  {job="b"} 0.7142857142857143

eval instant at 10m rate(req{code="500"}[5m]) / ignoring(code) rate(req{code="200"}[5m])
  {job="a"} 0.2

eval instant at 10m sum(rate(req[5m])) * 60
  {} 84

eval instant at 10m avg_over_time(req{job="b"}[5m]) - min_over_time(req{job="b"}[5m])
  {job="b", code="200"} 150

eval instant at 10m count(req > 100)
  {} 2

eval instant at 10m topk(1, sum by (job) (req))
  {job="b"} 600

eval instant at 10m clamp_max(sum by (job) (req), 500)
  {job="a"} 240
  {job="b"} 500

eval instant at 10m (sum by (job) (req) > 300) or (sum by (job) (req) < 250)
  {job="a"} 240
  {job="b"} 600
""")


def test_staleness_markers(spark):
    run_golden(spark, """
load 1m
  s 1 2 stale 4
  only_stale 7 stale

eval instant at 2m s

eval instant at 3m s
  s 4

eval instant at 1m s
  s 2

eval instant at 4m only_stale

eval instant at 2m count_over_time(s[5m])
  {} 2

eval instant at 3m sum_over_time(s[5m])
  {} 7

eval instant at 2m absent(only_stale)
  {} 1
""")


def test_nan_semantics(spark):
    """NaN ordering parity (§4.2-e): min/max/topk treat NaN as
    always-replaced (engine.go:1346-1353); sort puts NaN last
    (functions.go:1251-1278); comparisons with NaN are false."""
    run_golden(spark, """
load 5m
  m{id="a"} 1
  m{id="b"} NaN
  m{id="c"} 3

eval instant at 0m min(m)
  {} 1

eval instant at 0m max(m)
  {} 3

eval instant at 0m sum(m)
  {} NaN

eval instant at 0m topk(1, m)
  m{id="c"} 3

eval instant at 0m bottomk(1, m)
  m{id="a"} 1

eval_ordered instant at 0m sort(m)
  m{id="a"} 1
  m{id="c"} 3
  m{id="b"} NaN

eval_ordered instant at 0m sort_desc(m)
  m{id="c"} 3
  m{id="a"} 1
  m{id="b"} NaN

eval instant at 0m m > 2
  m{id="c"} 3

eval instant at 0m m < 2
  m{id="a"} 1
""")


def test_group_right_and_cardinality_errors(spark):
    run_golden(spark, """
load 5m
  foo{job="api", instance="0"} 10
  foo{job="api", instance="1"} 20
  one{job="api"} 2
  dup{job="api", instance="0"} 1
  dup{job="api", instance="1"} 2

eval instant at 0m one * on(job) group_right foo
  {job="api", instance="0"} 20
  {job="api", instance="1"} 40

eval instant at 0m foo * on(job) group_left one
  {job="api", instance="0"} 20
  {job="api", instance="1"} 40

eval_fail instant at 0m foo + on(job) one

eval_fail instant at 0m foo * on(job) group_left dup
""")


def test_aggregator_edge_cases(spark):
    """k out of range, φ out of range, value-label collisions, empty
    grouping lists (reference engine.go:1268-1312 count_values label
    Set; quantile.go φ guards; topk heap semantics)."""
    run_golden(spark, AGG_FIXTURE + """
# k larger than the series count returns every series
eval instant at 50m topk(100, http_requests{job="api-server"})
  http_requests{group="production", instance="0", job="api-server"} 100
  http_requests{group="production", instance="1", job="api-server"} 200
  http_requests{group="canary", instance="0", job="api-server"} 300
  http_requests{group="canary", instance="1", job="api-server"} 400

# k = 0 returns nothing
eval instant at 50m topk(0, http_requests)

# φ > 1 clamps to +Inf (quantile.go:55-60)
eval instant at 50m quantile(2, http_requests{job="api-server"})
  {} Inf

# single-sample stddev/stdvar are 0
eval instant at 50m stddev(http_requests{group="canary", instance="1", job="app-server"})
  {} 0

# empty without-list only drops __name__
eval instant at 50m sum without () (http_requests{group="production", instance="0", job="api-server"})
  {group="production", instance="0", job="api-server"} 100
""")


def test_count_values_label_collision(spark):
    """count_values overwrites an existing label of the same name
    (labels.Builder.Set, engine.go:1283-1285)."""
    run_golden(spark, """
load 5m
  version{job="a", instance="0"} 6
  version{job="a", instance="1"} 6
  version{job="b", instance="0"} 7.5

eval instant at 0m count_values by (job) ("job", version)
  {job="6"} 2
  {job="7.5"} 1
""")


def test_scalar_edge_cases(spark):
    """scalar() of a non-1-element vector is NaN (functions.go
    funcScalar); absent over a compound expression has no labels to
    propagate."""
    run_golden(spark, """
load 5m
  multi{a="1"} 1
  multi{a="2"} 2

eval instant at 0m scalar(multi)
  NaN

eval instant at 0m scalar(nonexistent)
  NaN

eval instant at 0m absent(sum(nonexistent))
  {} 1

eval instant at 0m multi > bool 1.5
  {a="1"} 0
  {a="2"} 1
""")


def test_re2_posix_class_matchers(spark):
    """RE2 POSIX classes ([[:digit:]] etc.) are valid reference matcher
    syntax (Go regexp/syntax); translated for Java rlike (SURVEY §7.8
    risk 3)."""
    run_golden(spark, """
load 5m
  m{host="web1"} 1
  m{host="db-x"} 2
  m{host="42"} 3

eval instant at 0m m{host=~"[[:alpha:]]+[[:digit:]]+"}
  m{host="web1"} 1

eval instant at 0m m{host=~"[[:digit:]]+"}
  m{host="42"} 3

eval instant at 0m m{host!~"[[:alnum:]]+"}
  m{host="db-x"} 2
""")


def test_filtered_comparison_group_right_keeps_lhs_value(spark):
    """Filtered (non-bool) comparisons keep the ORIGINAL LHS value even
    under group_right: vectorElemBinop undoes the swap before applying
    the op (engine.go:1006-1010,1213-1225)."""
    run_golden(spark, """
load 5m
  a{job="api"} 5
  b{job="api", instance="0"} 10
  b{job="api", instance="1"} 3

eval instant at 0m a < on(job) group_right b
  b{job="api", instance="0"} 5

eval instant at 0m a > on(job) group_right b
  b{job="api", instance="1"} 5

eval instant at 0m b > on(job) group_left a
  b{job="api", instance="0"} 10
""")


def test_timestamp_over_derived_vectors(spark):
    """timestamp() over derived vectors (aggregations, *_over_time, rate
    family) stamps the eval timestamp, not NULL (functions.go:605-615)."""
    run_golden(spark, """
load 5m
  m{job="a"} 0+10x10
  m{job="b"} 0+20x10

eval instant at 50m timestamp(sum(m))
  {} 3000

eval instant at 50m timestamp(avg_over_time(m[10m]))
  {job="a"} 3000
  {job="b"} 3000

eval instant at 10m timestamp(rate(m[10m]))
  {job="a"} 600
  {job="b"} 600
""")


def test_duplicate_one_side_errors_even_unmatched(spark):
    """Strict duplicate-series detection on the 'one' side fires for ALL
    one-side rows, matched or not (engine.go:982-988)."""
    run_golden(spark, """
load 5m
  foo{job="api", instance="0"} 10
  dup{job="other", instance="0"} 1
  dup{job="other", instance="1"} 2

eval_fail instant at 0m foo * on(job) group_left dup
""")


def test_staleness_boundary_lookback_edges(spark):
    """Series birth/death at exactly the lookback edge
    (vendored promql staleness.test / selectors.test analogs): the
    window is [T-5m, T] inclusive on BOTH ends, so a series is still
    visible at exactly death+5m and born at exactly its first sample."""
    run_golden(spark, """
load 1m
  metric 0+1x10
  late_born _ _ _ _ _ 5 6 7

eval instant at 15m metric
  metric 10

eval instant at 15m1s metric

eval instant at 16m metric

eval instant at 4m59s late_born

eval instant at 5m late_born
  late_born 5

eval instant at 12m late_born
  late_born 7

eval instant at 12m1s late_born
""")


def test_staleness_marker_shadows_window(spark):
    """A stale marker is "most recent" for the whole lookback window
    that follows it: the series stays absent even while older real
    samples are still inside the window, and reappears the moment a
    real sample lands (staleness.test:1-20 analog)."""
    run_golden(spark, """
load 1m
  s 5 6 stale 8
  dies 1 2 stale

eval instant at 1m s
  s 6

eval instant at 2m s

eval instant at 2m30s s

eval instant at 3m s
  s 8

eval instant at 6m59s dies

eval instant at 1m59s dies
  dies 2

eval instant at 2m dies

eval instant at 0m59s dies
  dies 1
""")


def test_staleness_markers_and_range_vectors(spark):
    """Markers never appear inside range vectors (engine.go:869): the
    *_over_time family and rate() skip them rather than going stale."""
    run_golden(spark, """
load 1m
  s 5 stale 7
  ctr 0 10 stale 30 40

eval instant at 2m count_over_time(s[3m])
  {} 2

eval instant at 2m avg_over_time(s[3m])
  {} 6

eval instant at 2m s[3m]
  s 5
  s 7

eval instant at 4m rate(ctr[4m])
  {} 0.16666666666666666

eval instant at 4m count_over_time(ctr[4m])
  {} 4
""")


def test_selector_window_edges_inclusive(spark):
    """Range selector [W] at T covers [T-W, T] inclusive; offsets shift
    the window, not its width (selectors.test analog)."""
    run_golden(spark, """
load 1m
  metric 0+1x10

eval instant at 10m count_over_time(metric[5m])
  {} 6

eval instant at 10m min_over_time(metric[5m])
  {} 5

eval instant at 10m count_over_time(metric[5m] offset 5m)
  {} 6

eval instant at 10m min_over_time(metric[5m] offset 5m)
  {} 0

eval instant at 15m count_over_time(metric[5m])
  {} 1

eval instant at 15m1s count_over_time(metric[5m])

eval instant at 5m metric offset 5m
  metric 0

eval instant at 4m59s metric offset 5m
""")


def test_absent_at_death_boundary(spark):
    run_golden(spark, """
load 1m
  metric 1 2 3

eval instant at 7m absent(metric)

eval instant at 7m1s absent(metric)
  {} 1

eval instant at 2m absent(nonexistent)
  {} 1
""")


def test_edge_empty_vectors_phi_bounds_nan_aggs(spark):
    """Remaining upstream edge semantics: empty selectors propagate
    through aggregation and arithmetic; quantile_over_time clamps
    φ∉[0,1] to ∓Inf (functions.go quantile rules); rate composes with
    offset; NaN loses min/max (but wins when alone); comparison
    against NaN is false, bool-style gives 0."""
    run_golden(spark, """
load 1m
  m{a="1"} 0+1x10
  m{a="2"} 0+2x10
  n{a="1"} NaN NaN NaN
  n{a="2"} 3 3 3

eval instant at 5m sum(nothere)

eval instant at 5m 2 * nothere

eval instant at 5m nothere + m{a="1"}

eval instant at 5m quantile_over_time(0, m{a="1"}[5m])
  {a="1"} 0

eval instant at 5m quantile_over_time(1, m{a="1"}[5m])
  {a="1"} 5

eval instant at 5m quantile_over_time(-0.5, m{a="1"}[5m])
  {a="1"} -Inf

eval instant at 5m quantile_over_time(1.5, m{a="1"}[5m])
  {a="1"} +Inf

eval instant at 10m rate(m{a="2"}[4m] offset 2m)
  {a="2"} 0.03333333333333333

eval instant at 2m min(n)
  {} 3

eval instant at 2m max(n)
  {} 3

eval instant at 2m min(n{a="1"})
  {} NaN

eval instant at 2m n == bool 3
  {a="1"} 0
  {a="2"} 1
""")


def test_nan_counter_semantics(spark):
    """Go float comparisons are FALSE on NaN; Spark ranks NaN above
    everything. These blocks pin the guarded kernels: resets/rate
    ignore NaN transitions (no bogus reset), irate propagates NaN
    through its pair difference, changes counts NaN<->value
    transitions but not NaN->NaN (functions.go:144-240)."""
    run_golden(spark, """
load 1m
  c 1 NaN NaN 2 2
  ctr 0 10 NaN 30 40

eval instant at 4m resets(c[10m])
  {} 0

eval instant at 4m changes(c[10m])
  {} 2

eval instant at 4m resets(ctr[10m])
  {} 0

eval instant at 4m rate(ctr[4m])
  {} 0.16666666666666666

eval instant at 4m delta(ctr[4m])
  {} 40

eval instant at 3m irate(ctr[4m])
  {} NaN

eval instant at 4m irate(ctr[4m])
  {} 0.16666666666666666
""")


def test_empty_label_matcher_semantics(spark):
    """A matcher against "" matches series MISSING the label
    (labels.go semantics): {a=""} selects rows without `a`, {a!=""}
    requires it, .* matches absence, .+ requires presence."""
    run_golden(spark, """
load 1m
  m{a="x"} 1
  m 2

eval instant at 0m m{a=""}
  m 2

eval instant at 0m m{a!=""}
  m{a="x"} 1

eval instant at 0m m{a=~".*"}
  m{a="x"} 1
  m 2

eval instant at 0m m{a=~".+"}
  m{a="x"} 1

eval instant at 0m m{a!~".+"}
  m 2

eval instant at 0m m{a=~"x|"}
  m{a="x"} 1
  m 2
""")


def test_nan_over_time_propagation(spark):
    """min/max_over_time use Go math.Min/Max, which propagate NaN —
    unlike Spark's ordering-based min/max (NaN-greatest), which would
    return the finite value for min."""
    run_golden(spark, """
load 1m
  g 1 NaN 3

eval instant at 2m min_over_time(g[5m])
  {} NaN

eval instant at 2m max_over_time(g[5m])
  {} NaN

eval instant at 2m sum_over_time(g[5m])
  {} NaN

eval instant at 2m count_over_time(g[5m])
  {} 3
""")


def test_histogram_quantile_nan_phi(spark):
    """bucketQuantile has no NaN(φ) early-return in the vendored
    engine (quantile.go:71-93): rank=NaN fails every sort.Search
    probe, the search lands past the last finite bucket, and the
    result is the SECOND-TO-LAST bucket's upper bound."""
    run_golden(spark, """
load 1m
  h{le="1"} 1
  h{le="2.5"} 2
  h{le="+Inf"} 3

eval instant at 0m histogram_quantile(NaN, h)
  {} 2.5

eval instant at 0m histogram_quantile(1, h)
  {} 2.5

eval instant at 0m histogram_quantile(0.5, h)
  {} 1.75
""")


def test_nan_aggregation_params(spark):
    """NaN parameters: topk/bottomk truncate via Go int(NaN) → minimum
    int → empty result (no error); quantile's NaN rank dies in the
    reference as a recovered runtime panic → query error."""
    run_golden(spark, """
load 1m
  m{a="x"} 1
  m{a="y"} 2

eval_fail instant at 0m topk(NaN, m)

eval_fail instant at 0m bottomk(NaN, m)

eval_fail instant at 0m topk(1e19, m)

eval instant at 0m topk(1.5, m)
  m{a="y"} 2

eval_fail instant at 0m quantile(NaN, m)

eval_fail instant at 0m quantile_over_time(NaN, m[5m])

eval instant at 0m quantile(NaN, absent_metric)

eval instant at 0m quantile_over_time(NaN, absent_metric[5m])
""")


def test_pow_ieee_special_cases(spark):
    """Go math.Pow is IEEE 754-2008: Pow(1, y) = 1 for ANY y and
    Pow(-1, ±Inf) = 1; Java Math.pow returns NaN for |x|=1 with an
    infinite exponent and for 1^NaN (found by direct probing, r5)."""
    run_golden(spark, """
load 1m
  one 1
  negone -1
  nanm NaN

eval instant at 0m one ^ NaN
  {} 1

eval instant at 0m one ^ Inf
  {} 1

eval instant at 0m negone ^ Inf
  {} 1

eval instant at 0m negone ^ (0 - Inf)
  {} 1

eval instant at 0m nanm ^ 0
  {} 1

eval instant at 0m nanm ^ 2
  {} NaN

eval instant at 0m negone ^ NaN
  {} NaN

eval instant at 0m 1 ^ NaN
  1

eval instant at 0m -1 ^ Inf
  -1
""")


def test_ieee_edges_on_every_binop_shape(spark):
    """Signed-zero divide, zero mod, Go Pow(1, NaN) and NaN comparisons
    through each operand shape: vector∘constant, vector∘scalar(),
    vector∘vector, and scalar∘scalar with a step-varying side."""
    run_golden(spark, """
load 1m
  foo 2
  zero 0
  one 1
  nanm NaN
  negzero -0

eval instant at 1m foo / -0
  {} -Inf

eval instant at 1m foo / scalar(zero * -1)
  {} -Inf

eval instant at 1m foo / on() negzero
  {} -Inf

eval instant at 1m scalar(foo) / scalar(zero * -1)
  -Inf

eval instant at 1m time() / -0
  -Inf

eval instant at 1m scalar(foo) % 0
  NaN

eval instant at 1m foo % scalar(zero)
  {} NaN

eval instant at 1m scalar(one) ^ NaN
  1

eval instant at 1m scalar(nanm) != bool scalar(nanm)
  1

eval instant at 1m scalar(nanm) == bool scalar(nanm)
  0

eval instant at 1m nanm != bool nanm
  {} 1

eval instant at 1m foo == bool NaN
  {} 0
""")


def test_stddev_naive_formula_cancellation(spark):
    """stddev/stdvar use the reference's one-pass sqsum/n - mean^2
    (engine.go:1359-1407), kept bug-for-bug: at large magnitudes the
    cancellation is observable — stdvar([1e8, 1e8+1]) is 0, not the
    mathematically true 0.25. Cases chosen so every partial sum is an
    exact integer < 2^53, making the result summation-order-proof."""
    run_golden(spark, """
load 1m
  big{i="a"} 100000000
  big{i="b"} 100000001
  med{i="a"} 30000000
  med{i="b"} 30000001
  med{i="c"} 30000002

eval instant at 0m stdvar(big)
  {} 0

eval instant at 0m stddev(big)
  {} 0

eval instant at 0m stdvar(med)
  {} 0.625

eval instant at 0m stddev(med)
  {} 0.7905694150420949

eval instant at 0m stddev(med) - 0.7905694150420949
  {} 0
""")
    run_golden(spark, """
load 1m
  s 100000000 100000001

eval instant at 1m stdvar_over_time(s[5m])
  {} 0

eval instant at 1m stddev_over_time(s[5m])
  {} 0
""")


def test_quantile_nan_sorts_first(spark):
    """The value heap's comparator sorts NaN FIRST
    (functions.go:1257-1262), so NaN samples occupy the lowest ranks
    and the interpolation v[lo]*(1-w)+v[hi]*w propagates NaN whenever
    an endpoint is NaN — Spark's percentile ranks NaN greatest, which
    diverged (found by direct probing, r5)."""
    run_golden(spark, """
load 1m
  m{i="a"} 1
  m{i="b"} 2
  m{i="c"} NaN
  q{i="a"} 3 NaN 1

eval instant at 0m quantile(0, m)
  {} NaN

eval instant at 0m quantile(0.25, m)
  {} NaN

eval instant at 0m quantile(0.5, m)
  {} 1

eval instant at 0m quantile(0.75, m)
  {} 1.5

eval instant at 0m quantile(1, m)
  {} 2

eval instant at 2m quantile_over_time(0.5, q[5m])
  {i="a"} 1

eval instant at 2m quantile_over_time(0.25, q[5m])
  {i="a"} NaN

eval instant at 2m quantile_over_time(1, q[5m])
  {i="a"} 3
""")


def test_round_zero_and_label_join_no_sources(spark):
    """round(v, 0): Go computes 1/0 = Inf unguarded, so every value
    rounds to Inf/Inf = NaN (functions.go:332-350); Spark's
    bigint-floor clamp must not turn that into 0. label_join with zero
    source labels is legal (vendored Variadic=-1 arity: min = declared
    args - 1) and joins nothing -> "" -> deletes the dst label."""
    run_golden(spark, """
load 1m
  m{a="x", dst="old"} 1.5

eval instant at 0m round(m, 0)
  {a="x", dst="old"} NaN

eval instant at 0m round(m, -2)
  {a="x", dst="old"} 2

eval instant at 0m label_join(m, "dst", "-")
  m{a="x"} 1.5

eval instant at 0m label_join(m, "dst", "-", "a", "a")
  m{a="x", dst="x-x"} 1.5
""")


def test_round_step_varying_zero_nearest(spark):
    """Step-varying round(v, s) where s evaluates to 0 at a step: Go's
    unguarded 1.0/toNearest gives +Inf and every value rounds to
    Inf/Inf = NaN (functions.go:332-350). Spark 4's ANSI mode would
    instead abort the whole query with DIVIDE_BY_ZERO — the compiler
    must branch the zero out (compiler._fn_round step-varying path)."""
    run_golden(spark, """
load 1m
  m{i="a"} 1.5
  m{i="b"} 2.25

eval instant at 0m round(m, scalar(count(m) - 2))
  {i="a"} NaN
  {i="b"} NaN

eval instant at 0m round(m, scalar(count(m)) / 8)
  {i="a"} 1.5
  {i="b"} 2.25
""")


def test_label_replace_go_expand_semantics(spark):
    """label_replace replacement templates follow Go regexp.Expand
    (functions.go:791-833): ${1} braces, longest-run $name parsing
    ($1a is the unknown group "1a" -> ""), $$ literal, RE2 named
    groups, unknown names expanding to empty (deleting dst when the
    whole expansion is empty). (?i) global flags parse anywhere RE2
    allows them."""
    run_golden(spark, """
load 1m
  m{a="xy"} 2

eval instant at 0m label_replace(m, "dst", "${1}!", "a", "(x)(y)")
  m{a="xy", dst="x!"} 2

eval instant at 0m label_replace(m, "dst", "$1a", "a", "(x)(y)")
  m{a="xy"} 2

eval instant at 0m label_replace(m, "dst", "$$9", "a", "(x)(y)")
  m{a="xy", dst="$9"} 2

eval instant at 0m label_replace(m, "dst", "<$0>", "a", "x(y)")
  m{a="xy", dst="<xy>"} 2

eval instant at 0m label_replace(m, "dst", "$g-", "a", "(?P<g>x)y")
  m{a="xy", dst="x-"} 2

eval instant at 0m m{a=~"(?i)XY"}
  m{a="xy"} 2

eval instant at 0m m{a=~"(?P<g>x).*"}
  m{a="xy"} 2

# Java rejects group names with underscores; names are stripped to
# plain groups (numbering preserved) so RE2-legal names still match
eval instant at 0m m{a=~"(?P<my_name>x).*"}
  m{a="xy"} 2

# $01 is the NAME "01" per Go regexp extract() (leading zero), which
# is unknown -> expands to empty -> dst stays absent
eval instant at 0m label_replace(m, "dst", "$01", "a", "(x)(y)")
  m{a="xy"} 2

# numeric refs >= 1e8 are treated as names too
eval instant at 0m label_replace(m, "dst", "$1000000000", "a", "(x)(y)")
  m{a="xy"} 2
""")
