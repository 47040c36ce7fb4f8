"""PromQL AST → Spark DataFrame plan compiler.

The single biggest architectural divergence from the reference (and the
reason this design scales): the reference evaluates a range query by
looping a tree-walking interpreter once per step timestamp
(``promql/engine.go:412-462``); we compile the whole query to ONE
declarative DataFrame plan evaluated set-at-a-time over the step grid,
and let Catalyst/Tungsten/AQE pick the physical strategy.

Evaluation grid
---------------
A range query (start, end, step) defines ``n`` step timestamps.  Every
sample is mapped — with pure column arithmetic, no join — to the
contiguous run of step indexes it can serve:

* instant (vector selector) visibility: ``step_t - lookback <= t' <= step_t``
  (5 m staleness lookback, reference ``engine.go:766-806,1469-1471``)
* range (matrix selector) visibility:  ``step_t - range   <= t' <= step_t``
  (reference ``engine.go:836-892``)

both of which are ``step_idx ∈ [ceil((t'-start)/step), floor((t'+W-start)/step)]``
for window ``W``.  ``explode(sequence(lo, hi))`` expands map-side, then a
single hash aggregation per ``(series_id, step_t)`` computes the
operator kernel.  Expansion factor is bounded by ``min(W/step, n)``.
The instant selector needs no aggregation: each sample's run stops
before its series' next sample (``lead``), so its rows are the answer's.

Value model (reference ``promql/value.go:36-46``)
-------------------------------------------------
* instant vector → DataFrame ``(step_t, labels, v, sample_t)``
* scalar         → Python float (constant-folded) or DataFrame ``(step_t, v)``
* range vector   → never materialized standalone: fused into the
  consuming function's grouped aggregation
* string         → Python str

Everything runs in native Spark SQL expressions (whole-stage codegen);
there is no Python UDF anywhere on the PromQL path — even the Go-float
formatter used by ``count_values`` label stringification
(``engine.go:1283-1284``) is a pure column expression (``_go_fmt``).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .model import (
    DEFAULT_LOOKBACK_MS,
    METRIC_NAME_LABEL,
    canonical_labels_sql,
    label_get,
    restrict_labels_sql,
    signature_sql,
    sql_double,
    sql_quote,
)
from .promql.ast import (
    ARITHMETIC_OPS,
    COMPARISON_OPS,
    SET_OPS,
    AggregateExpr,
    BinaryExpr,
    Call,
    Expr,
    LabelMatcher,
    MatchType,
    MatrixSelector,
    NumberLiteral,
    ParenExpr,
    StringLiteral,
    UnaryExpr,
    ValueType,
    VectorMatchCardinality,
    VectorMatching,
    VectorSelector,
)
from .rollup import SELECTOR, pick_rollup

NAN = float("nan")
INF = float("inf")

_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


class PromQLEvalError(ValueError):
    """Semantic evaluation error (reference errors propagate by
    panic/recover, ``engine.go:588-614``)."""


class PromQLBadQueryError(PromQLEvalError):
    """Request-shape error the reference rejects BEFORE executing the
    query — ``NewRangeQuery``'s expression-type check and the API
    handler's step/order/points-cap guards
    (``internal/api/v1/api.go:186-216``). The HTTP facade maps this
    class to ``bad_data`` (400) where plain :class:`PromQLEvalError`
    — anything the reference only hits inside ``Exec`` — maps to
    ``execution`` (422), matching ``api.go:170-180,236-244``."""


# ---------------------------------------------------------------------------
# values


@dataclass
class VectorValue:
    df: DataFrame  # (step_t long, labels map<str,str>, v double, sample_t long)
    ordered: bool = False  # True after sort()/sort_desc(): keep row order


@dataclass
class ScalarValue:
    df: DataFrame | None = None  # (step_t long, v double)
    const: float | None = None


@dataclass
class StringValue:
    s: str


Value = VectorValue | ScalarValue | StringValue


# ---------------------------------------------------------------------------
# context


class EvalContext:
    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int = DEFAULT_LOOKBACK_MS,
        strict: bool = True,
        rollups: dict | None = None,
    ):
        if end_ms < start_ms:
            raise PromQLBadQueryError(
                "end timestamp must not be before start time"
            )
        if step_ms <= 0:
            raise PromQLBadQueryError("zero or negative query resolution step")
        self.spark = spark
        self.samples = samples
        #: opt-in exact rollup routing (timbala_spark.rollup):
        #: resolution_ms -> rollup DataFrame built by build_rollup over
        #: the SAME samples this context serves
        self.rollups = rollups
        self.start = int(start_ms)
        self.end = int(end_ms)
        self.step = int(step_ms)
        self.lookback = int(lookback_ms)
        self.strict = strict
        self.n_steps = (self.end - self.start) // self.step + 1
        self._steps: DataFrame | None = None

    @property
    def steps(self) -> DataFrame:
        """The step grid (step_t long). Tiny (≤ points cap) → always
        broadcast when joined."""
        if self._steps is None:
            self._steps = self.spark.range(self.n_steps).select(
                (F.lit(self.start) + F.col("id") * F.lit(self.step))
                .cast("long")
                .alias("step_t")
            )
        return self._steps

    def scalar_df(self, sv: ScalarValue) -> DataFrame:
        """Materialize a scalar value as a per-step DataFrame."""
        if sv.df is not None:
            return sv.df
        return self.steps.withColumn("v", F.lit(float(sv.const)).cast("double"))


# ---------------------------------------------------------------------------
# small helpers


def _floordiv(a: Column, b: int) -> Column:
    """Exact floor division of a long expression by a positive int."""
    bl = F.lit(int(b))
    return ((a - F.pmod(a, bl)) / bl).cast("long")


def _ceildiv(a: Column, b: int) -> Column:
    return -_floordiv(-a, b)


def _nan_lit() -> Column:
    return F.lit(NAN).cast("double")


#: Go float semantics for the binary operators (reference
#: ``engine.go:1198-1227``), as SQL text parsed JVM-side in one call
#: (PERF §13).
_NAN_SQL = sql_double(NAN)
_INF_SQL = sql_double(INF)


def _ieee_cmp_sql(op: str, l: str, r: str) -> str:
    """IEEE-754 comparison semantics (Go), not Spark SQL's NaN-as-largest
    total ordering: any comparison with NaN is false except ``!=``."""
    either_nan = f"(isnan({l}) OR isnan({r}))"
    if op == "!=":
        return f"({either_nan} OR (({l} != {r}) AND NOT {either_nan}))"
    sql_op = {"==": "=", ">": ">", "<": "<", ">=": ">=", "<=": "<="}[op]
    return f"(NOT {either_nan} AND ({l} {sql_op} {r}))"


def _arith_sql(op: str, l: str, r: str) -> str:
    """Arithmetic on doubles with Go float semantics.

    ``%`` is Go ``math.Mod`` == Java ``%`` on doubles; ``^`` is
    ``math.Pow``.  Division and mod by zero follow IEEE-754 (±Inf /
    NaN), which Spark's ANSI mode would otherwise reject — the
    zero-divisor branch is guarded so the raw operator never sees a
    zero.
    """
    if op in ("+", "-", "*"):
        return f"({l} {op} {r})"
    if op == "/":
        # IEEE keeps the divisor zero's SIGN: 1/-0 = -Inf. Spark's
        # comparison can't see it (`-0.0 = 0.0`), but Math.pow can:
        # pow(±0, -1) = ±Inf (and pow is not ANSI-guarded), so its
        # signum recovers the zero's sign.
        zero_case = (
            f"(CASE WHEN isnan({l}) OR {l} = 0 THEN {_NAN_SQL} "
            f"ELSE {_INF_SQL} * signum({l}) * signum(power({r}, -1.0D)) END)"
        )
        return (
            f"(CASE WHEN {r} = 0 THEN {zero_case} "
            f"ELSE {l} / (CASE WHEN {r} != 0 THEN {r} END) END)"
        )
    if op == "%":
        return (
            f"(CASE WHEN {r} = 0 THEN {_NAN_SQL} "
            f"ELSE {l} % (CASE WHEN {r} != 0 THEN {r} END) END)"
        )
    if op == "^":
        # Go math.Pow follows IEEE 754-2008: Pow(1, y) = 1 for ANY y
        # (including NaN/±Inf) and Pow(-1, ±Inf) = 1; Java Math.pow
        # returns NaN for |x| == 1 with an infinite exponent and for
        # 1^NaN — guard those three divergent cases explicitly
        return (
            f"(CASE WHEN {l} = 1.0D THEN 1.0D "
            f"WHEN {l} = -1.0D AND NOT isnan({r}) AND abs({r}) = {_INF_SQL} "
            f"THEN 1.0D ELSE power({l}, {r}) END)"
        )
    raise PromQLEvalError(f"operator {op} not allowed")


def _binop_sql(op: str, l: str, r: str) -> str:
    """``l op r`` as a double; a comparison is its ``bool`` form (1/0)."""
    if op in COMPARISON_OPS:
        return f"(CASE WHEN {_ieee_cmp_sql(op, l, r)} THEN 1.0D ELSE 0.0D END)"
    return _arith_sql(op, l, r)


def _map_set_conditional_sql(m_sql: str, key: str, val_sql: str) -> str:
    """labels[key] := val, deleting the key when val == '' (PromQL treats
    empty label values as absent — ``engine.go:1096-1130``)."""
    k = sql_quote(key)
    empty = "CAST(array() AS ARRAY<STRING>)"
    keys = f"(CASE WHEN {val_sql} != '' THEN array({k}) ELSE {empty} END)"
    vals = f"(CASE WHEN {val_sql} != '' THEN array({val_sql}) ELSE {empty} END)"
    return (
        f"map_concat(map_filter({m_sql}, (k, v) -> k != {k}), "
        f"map_from_arrays({keys}, {vals}))"
    )


def _py_arith(op: str, l: float, r: float) -> float:
    import numpy as np

    with np.errstate(all="ignore"):
        a, b = np.float64(l), np.float64(r)
        if op == "+":
            v = a + b
        elif op == "-":
            v = a - b
        elif op == "*":
            v = a * b
        elif op == "/":
            v = a / b
        elif op == "%":
            v = np.fmod(a, b)
        elif op == "^":
            v = np.power(a, b)
        else:
            raise PromQLEvalError(f"operator {op} not allowed")
    return float(v)


def _py_cmp(op: str, l: float, r: float) -> bool:
    return {
        "==": l == r,
        "!=": l != r,
        ">": l > r,
        "<": l < r,
        ">=": l >= r,
        "<=": l <= r,
    }[op]


def _vv(df: DataFrame) -> DataFrame:
    return df.select("step_t", "labels", "v", "sample_t")


def _anchored(regex: str) -> str:
    """PromQL regexes are fully anchored (``pkg/labels/matcher.go:62``);
    RE2-only POSIX classes are translated for Java ``rlike``
    (SURVEY §7.8 risk 3)."""
    from .promql.re2 import re2_to_host

    return "^(?:" + re2_to_host(regex) + ")$"


def matcher_expr(m: LabelMatcher) -> Column:
    val = F.coalesce(label_get(F.col("labels"), m.name), F.lit(""))
    if m.type == MatchType.EQ:
        return val == F.lit(m.value)
    if m.type == MatchType.NEQ:
        return val != F.lit(m.value)
    if m.type == MatchType.RE:
        return val.rlike(_anchored(m.value))
    return ~val.rlike(_anchored(m.value))


def _expand_template_parts(template: str) -> list[tuple[str, object]]:
    """Parse a Go ``regexp.Expand`` replacement template into
    ``("lit", str)`` / ``("ref", int-or-name)`` parts (regexp.go:
    ``expand``/``extract``): ``$$`` → literal ``$``; ``$name`` takes the
    longest letter/digit/underscore run (all-digit names are numeric
    group refs); ``${name}`` is the braced form; a malformed ``$`` is
    literal."""
    parts: list[tuple[str, object]] = []
    lit: list[str] = []
    i = 0
    while i < len(template):
        c = template[i]
        if c != "$":
            lit.append(c)
            i += 1
            continue
        if i + 1 < len(template) and template[i + 1] == "$":
            lit.append("$")
            i += 2
            continue
        j = i + 1
        brace = j < len(template) and template[j] == "{"
        if brace:
            j += 1
        k = j
        while k < len(template) and (
            template[k].isalnum() or template[k] == "_"
        ):
            k += 1
        name = template[j:k]
        if not name or (brace and (k >= len(template) or template[k] != "}")):
            lit.append("$")  # malformed reference: literal $
            i += 1
            continue
        if brace:
            k += 1
        if lit:
            parts.append(("lit", "".join(lit)))
            lit = []
        parts.append(("ref", _template_ref(name)))
        i = k
    if lit:
        parts.append(("lit", "".join(lit)))
    return parts


def _template_ref(name: str) -> object:
    """Classify a ``$name`` reference as a numeric group index or a
    group name, replicating Go ``regexp`` ``extract()``: a digit run is
    numeric only if it has no leading zero (``$01`` is the *name*
    ``01``) and its value never reaches 1e8 while accumulating digits
    left-to-right."""
    if not name.isdigit():
        return name
    if name[0] == "0" and len(name) > 1:
        return name
    num = 0
    for ch in name:
        if num >= 10**8:
            return name
        num = num * 10 + ord(ch) - ord("0")
    return num


def _raise_if(cond: Column, value: Column, message: str | Column) -> Column:
    """Distributed lazy error: evaluates to `value` unless `cond` holds
    somewhere in the data, in which case the Spark job fails with
    `message` — the DataFrame analog of the reference's panic/recover
    error propagation (``engine.go:588-614``)."""
    msg = message if isinstance(message, Column) else F.lit(message)
    return F.when(cond, F.raise_error(msg)).otherwise(value)


def _go_fmt_str(x: float) -> str:
    """Go ``fmt %v`` of a float64 — ``strconv.FormatFloat(x, 'g', -1,
    64)``: shortest round-trip digits, decimal form unless the decimal
    exponent is < -4 or >= 21 (strconv/ftoa.go 'g' with shortest=true).
    Used for driver-side error messages (engine.go:640 ``%v``)."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    if x == 0:
        return "-0" if math.copysign(1.0, x) < 0 else "0"
    neg = x < 0
    import decimal

    sign, digits, exponent = decimal.Decimal(repr(abs(x))).as_tuple()
    digits = list(digits)
    while len(digits) > 1 and digits[-1] == 0:
        digits.pop()
        exponent += 1
    nd = len(digits)
    dp = nd + exponent  # value = 0.d1d2... * 10^dp
    exp = dp - 1
    if exp < -4 or exp >= 21:
        mant = str(digits[0])
        if nd > 1:
            mant += "." + "".join(map(str, digits[1:]))
        body = f"{mant}e{'+' if exp >= 0 else '-'}{abs(exp):02d}"
    elif dp <= 0:
        body = "0." + "0" * (-dp) + "".join(map(str, digits))
    elif dp >= nd:
        body = "".join(map(str, digits)) + "0" * (dp - nd)
    else:
        body = (
            "".join(map(str, digits[:dp]))
            + "."
            + "".join(map(str, digits[dp:]))
        )
    return ("-" + body) if neg else body


def _go_f_fmt_str(x: float) -> str:
    """Go ``fmt.Sprintf("%f", v)`` — fixed six decimals, Go's NaN/Inf
    spellings (``holt_winters``' validation messages use ``%f``,
    ``functions.go:228,231``)."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    return f"{x:.6f}"


def _go_f_fmt(col: Column) -> Column:
    """Column twin of :func:`_go_f_fmt_str` (Java ``format_string``
    spells the specials ``NaN``/``Infinity``, so they're pinned
    explicitly)."""
    return (
        F.when(F.isnan(col), F.lit("NaN"))
        .when(col == F.lit(float("inf")), F.lit("+Inf"))
        .when(col == F.lit(float("-inf")), F.lit("-Inf"))
        .otherwise(F.format_string("%.6f", col))
    )


def _go_labels_str(m: Column) -> Column:
    """Go ``labels.Labels.String()`` (``pkg/labels/labels.go:49-64``):
    ``{k1="v1", k2="v2"}`` — entries sorted by name, values through
    ``strconv.Quote`` (backslash and double-quote escapes; Quote's
    control-character escapes are not reproduced — label values are
    printable in practice). Used in error messages that echo the
    offending label set (``functions.go:816,877``)."""

    def one(e):
        v = F.replace(e["value"], F.lit("\\"), F.lit("\\\\"))
        v = F.replace(v, F.lit('"'), F.lit('\\"'))
        return F.concat(e["key"], F.lit('="'), v, F.lit('"'))

    ent = F.array_sort(F.map_entries(m))
    return F.concat(
        F.lit("{"), F.array_join(F.transform(ent, one), ", "), F.lit("}")
    )


def _go_fmt(col: Column) -> Column:
    """Go ``strconv.FormatFloat(v, 'f', -1, 64)`` — shortest round-trip
    decimal, never exponent notation (``engine.go:1283-1284``) — as a
    pure JVM expression (no Python UDF on the PromQL path).

    ``cast(double as string)`` is Java ``Double.toString``: the same
    unique-shortest digit sequence Go emits, rendered either plain
    (``123.45``, for 1e-3 ≤ |v| < 1e7, always with a fraction part) or
    as ``d.dddEp``. The plain form just needs its trailing fractional
    zeros trimmed; the exponent form is re-expanded to decimal by
    shifting the point. (Pre-19 JVMs may emit one extra digit than
    strictly shortest for rare doubles — JDK-4511638; the goldens pin
    the practically reachable cases.)"""
    s = col.cast("string")
    neg = s.startswith("-")
    a = F.when(neg, F.substr(s, F.lit(2))).otherwise(s)
    mant = F.split_part(a, F.lit("E"), F.lit(1))
    expo = F.split_part(a, F.lit("E"), F.lit(2)).cast("int")
    digits = F.replace(mant, F.lit("."), F.lit(""))
    nd = F.length(digits)
    dp = expo + F.lit(1)  # value = 0.<digits> * 10^dp (mantissa is d.ddd)
    exp_body = (
        F.when(dp >= nd, F.concat(digits, F.repeat(F.lit("0"), dp - nd)))
        .when(
            dp > 0,
            F.concat(
                F.substr(digits, F.lit(1), dp),
                F.lit("."),
                F.substr(digits, dp + 1),
            ),
        )
        .otherwise(F.concat(F.lit("0."), F.repeat(F.lit("0"), -dp), digits))
    )
    body = F.when(a.contains("E"), exp_body).otherwise(a)
    # trim trailing fractional zeros (then a bare point): 100.0 -> 100,
    # 0.0015900 -> 0.00159; integral trailing zeros have no '.' here
    body = F.when(
        body.contains("."), F.regexp_replace(body, r"\.?0+$", "")
    ).otherwise(body)
    body = F.when(neg, F.concat(F.lit("-"), body)).otherwise(body)
    return (
        F.when(F.isnan(col), F.lit("NaN"))
        .when(col == F.lit(INF), F.lit("+Inf"))
        .when(col == F.lit(-INF), F.lit("-Inf"))
        .otherwise(body)
    )


# ---------------------------------------------------------------------------
# selectors


def _base_scan(ctx: EvalContext, name, matchers, lo_t, hi_t) -> DataFrame:
    """Matcher + time-bound pushdown: equivalent of the engine computing
    widened bounds and pushing matchers into ``Querier.Select``
    (``engine.go:492-560``). Catalyst pushes the name/time filters into
    the parquet scan."""
    df = ctx.samples
    if name is not None:
        df = df.filter(F.col("name") == name)
    for m in matchers:
        if m.name == METRIC_NAME_LABEL and name is not None:
            continue
        df = df.filter(matcher_expr(m))
    # window bounds are INCLUSIVE on both ends in the vendored engine
    # (`t >= mint`, engine.go:796,869) — modern Prometheus later made the
    # lower bound exclusive; we match the reference.
    df = df.filter(f"t >= {int(lo_t)} AND t <= {int(hi_t)}")
    if "day" in df.columns:
        # sources backed by the day-partitioned store carry the physical
        # partition column; Spark cannot derive day bounds from t bounds
        # itself, so emit them explicitly — at scale this turns a
        # full-store file listing into a listing of the queried days
        # (the reference's day-keyed shard pruning, cluster.go:103-106)
        import datetime as _dt

        def _day(ms: int) -> str:
            return _dt.datetime.fromtimestamp(
                ms / 1000, tz=_dt.timezone.utc
            ).strftime("%Y%m%d")

        df = df.filter(
            f"day >= '{_day(int(lo_t))}' AND day <= '{_day(int(hi_t))}'"
        )
    return df


def _grid_span(
    ctx: EvalContext, df: DataFrame, offset_ms: int, window_ms: int
) -> DataFrame:
    """Add each sample's shifted time ``ts`` and the run of step
    indexes ``[_ilo, _ihi]`` whose window ``[step_t - W, step_t]``
    (both ends inclusive, matching the vendored engine) contains it,
    dropping samples that serve no step.

    Built as batched ``selectExpr`` SQL (parsed JVM-side in a few py4j
    round trips) instead of a Column-op forest: this helper sits under
    EVERY range/selector path and driver-side plan construction is
    round-trip-bound (PERF §13). ``CAST((a - pmod(a, s)) / s AS
    BIGINT)`` is exact floor division, and ``-floor(-a / s)`` the
    ceiling."""
    start, step, n_hi = ctx.start, ctx.step, ctx.n_steps - 1
    off, win = int(offset_ms), int(window_ms)
    df = df.selectExpr("*", f"CAST(t + {off} AS BIGINT) AS ts")
    return df.selectExpr(
        "*",
        f"GREATEST(-{_fdiv_sql(f'-(ts - {start})', step)}, CAST(0 AS BIGINT))"
        " AS _ilo",
        f"LEAST({_fdiv_sql(f'ts + {win} - {start}', step)}, "
        f"CAST({n_hi} AS BIGINT)) AS _ihi",
    ).filter("_ilo <= _ihi")


def _fdiv_sql(a: str, step: int) -> str:
    """Exact floor division of a long SQL expression by ``step``."""
    return f"CAST((({a}) - pmod({a}, {step})) / {step} AS BIGINT)"


def _explode_span(ctx: EvalContext, df: DataFrame) -> DataFrame:
    """One row per step index in ``[_ilo, _ihi]``, with its ``step_t``."""
    start, step = ctx.start, ctx.step
    return df.selectExpr(
        "*", "explode(sequence(_ilo, _ihi)) AS step_idx"
    ).selectExpr(
        "*", f"CAST({start} + step_idx * CAST({step} AS BIGINT) AS BIGINT) AS step_t"
    )


def _explode_grid(
    ctx: EvalContext, df: DataFrame, offset_ms: int, window_ms: int
) -> DataFrame:
    """Map each sample to every step whose window ``[step_t - W,
    step_t]`` contains its (offset-shifted) time: adds ``ts`` and
    ``step_t`` (:func:`_grid_span`, then one row per step)."""
    return _explode_span(ctx, _grid_span(ctx, df, offset_ms, window_ms))


def compile_vector_selector(vs: VectorSelector, ctx: EvalContext) -> VectorValue:
    """Instant vector selector: most recent sample per series in the
    INCLUSIVE lookback window ``[step_t - lookback, step_t]``
    (``engine.go:766-806``; ``:792`` rejects ``t < refTime -
    LookbackDelta``, so the left bound is inclusive in the vendored
    1.x engine — modern Prometheus later made it exclusive).

    Each sample owns the steps from its own time up to, not including,
    its series' next sample, and at most ``lookback`` past it:
    ``lead(ts)`` over ``(series_id ORDER BY ts)`` caps the step run of
    :func:`_grid_span`. Every ``(series, step)`` then has exactly one
    candidate, the answer, so no aggregate runs and the rows are the
    answer's rows (a 15 s scrape on a 1 s grid used to copy each
    sample to 300 steps and keep one in 20). Dropping the samples that
    serve no step before the ``lead`` is exact: such a sample's steps
    ``[t, t + lookback]`` hold no grid point, so the steps it would
    have taken from its predecessor hold none either.

    When a registered rollup's windows tile the lookback
    (``rollup.pick_rollup`` with the ``SELECTOR`` sentinel) the answer
    is served from the W×-smaller rollup table — bit-identical, no
    float combine at all (:func:`_rollup_selector`); this is the most
    common dashboard class (instant selector + aggregation), so at the
    100 TB bar it is the read-path win that matters most."""
    w = pick_rollup(
        ctx.rollups,
        ctx.lookback,
        vs.offset_ms,
        ctx.start,
        ctx.step,
        ctx.n_steps,
        SELECTOR,
    )
    # pre-r8 rollup tables lack the marker columns — refuse rather
    # than mis-handle staleness
    if w is not None and "st_l" in ctx.rollups[w].columns:
        return VectorValue(_rollup_selector(vs, ctx, w))
    lo = ctx.start - ctx.lookback - vs.offset_ms
    hi = ctx.end - vs.offset_ms
    base = _base_scan(ctx, vs.name, vs.matchers, lo, hi)
    g = _grid_span(ctx, base, vs.offset_ms, ctx.lookback)
    # Staleness markers are NULL values (the engine's analog of the
    # reference's stale-NaN bit pattern, engine.go:796): a marker owns
    # its steps like a sample, so the series is absent there; its rows
    # go once the next sample has capped the previous one. LEAST skips
    # the NULL ``lead`` of a series' last sample.
    # (Batched SQL strings, not a Column forest — PERF §13.)
    nxt = "lead(ts) OVER (PARTITION BY series_id ORDER BY ts)"
    cap = _fdiv_sql(f"{nxt} - 1 - {ctx.start}", ctx.step)
    g = g.selectExpr(
        "labels", "t", "v", "_ilo", f"LEAST(_ihi, {cap}) AS _ihi"
    ).filter("v IS NOT NULL AND _ilo <= _ihi")
    out = _explode_span(ctx, g)
    return VectorValue(out.selectExpr("step_t", "labels", "v", "t AS sample_t"))


def _rollup_selector(vs: VectorSelector, ctx: EvalContext, w: int) -> DataFrame:
    """Serve an instant selector from the rollup of resolution ``w``.

    Decomposition (``timbala_spark.rollup`` module docstring, selector
    class): with ``W | lookback``, ``W | (step_t - offset)`` the
    inclusive window ``[T-L, T]`` is the interior windows
    ``[T-L, ·) … [T-W, ·)`` — whose most recent retained sample is the
    latest present window's ``l_t``/``l_v`` — plus the boundary
    ``{T}``, which is the ``s_*`` sub-aggregate of the window starting
    AT ``T`` (at most one sample by canonical ``(series_id, t)``
    uniqueness, so ``s_sm`` IS its value, NaN included). Staleness:
    the raw path kills a series whose most recent in-window point is a
    marker; the rollup stores each window's last marker time
    (``st_l``) and marker-at-start flag (``s_st``), so the routed
    filter compares the max sample candidate against the max marker
    candidate — bit-identical, not approximate.

    Plan shape: rollup scan (matcher/time/day pushdown via the shared
    ``_base_scan``) → grid explode → ONE hash aggregate — the raw
    selector's plan over a W×-smaller table."""
    import copy

    lo = ctx.start - ctx.lookback - vs.offset_ms
    hi = ctx.end - vs.offset_ms
    rctx = copy.copy(ctx)
    rctx.samples = ctx.rollups[w]
    base = _base_scan(rctx, vs.name, vs.matchers, lo, hi)
    g = _explode_grid(ctx, base, vs.offset_ms, ctx.lookback)
    off = int(vs.offset_ms)
    b = "(step_t = ts)"
    g = g.selectExpr(
        "*",
        # shifted time of the window's best sample candidate / marker
        # candidate for this step; NULL → no candidate (max/max_by
        # ignore NULL keys)
        f"CASE WHEN {b} THEN (CASE WHEN s_cnt >= 1 THEN ts END)"
        f" ELSE CAST(l_t + {off} AS BIGINT) END AS _cand_t",
        f"CASE WHEN {b} THEN s_sm ELSE l_v END AS _cand_v",
        f"CASE WHEN {b} THEN (CASE WHEN s_st = 1 THEN ts END)"
        f" ELSE CAST(st_l + {off} AS BIGINT) END AS _mark_t",
    )
    return (
        g.groupBy("series_id", "step_t")
        .agg(
            F.expr("max_by(labels, ts) AS labels"),
            F.expr("max(_cand_t) AS _s_t"),
            F.expr("max_by(_cand_v, _cand_t) AS _s_v"),
            F.expr("max(_mark_t) AS _m_t"),
        )
        # a marker and a sample can never share a time (canonical
        # uniqueness), so strictly-greater is exact
        .filter("_s_t IS NOT NULL AND (_m_t IS NULL OR _m_t < _s_t)")
        .selectExpr(
            "step_t",
            "labels",
            "_s_v AS v",
            f"CAST(_s_t - {off} AS BIGINT) AS sample_t",
        )
    )


def _matrix_grouped(ms: MatrixSelector, ctx: EvalContext) -> DataFrame:
    """Range-selector samples exploded onto the grid; NOT yet aggregated.

    Columns: series_id, step_t, ts (shifted time), v, labels.
    """
    lo = ctx.start - ms.range_ms - ms.offset_ms
    hi = ctx.end - ms.offset_ms
    base = _base_scan(ctx, ms.name, ms.matchers, lo, hi)
    # stale markers (NULL v) never appear inside range vectors
    # (engine.go:869)
    base = base.filter(F.col("v").isNotNull())
    return _explode_grid(ctx, base, ms.offset_ms, ms.range_ms)


_DROP_NAME = restrict_labels_sql("labels", drop_name=True)


def _matrix_agg(
    ms: MatrixSelector, ctx: EvalContext, aggs: dict[str, Column]
) -> DataFrame:
    """Aggregate a range selector per (series, step) with plain
    aggregate expressions (enables Spark's partial aggregation).

    Result: step_t, labels (metric name dropped), plus one column per
    entry in ``aggs``.
    """
    g = _matrix_grouped(ms, ctx)
    agg_cols = [v.alias(k) for k, v in aggs.items()]
    out = g.groupBy("series_id", "step_t").agg(
        F.expr("max_by(labels, ts) AS _labels"), *agg_cols
    )
    return _relabel_dropping_name(out)


#: per-function (aggregate SQL exprs, final Column) for the rollup
#: combine — mirrors the raw-path kernels in _fn_*_over_time exactly;
#: `B` marks the boundary contribution (step_t == ts → the window
#: STARTING at the evaluation time contributes only its t==ws samples)
_ROLLUP_CASE = "CASE WHEN step_t = ts THEN {b} ELSE {f} END"


def _rollup_combine(
    ms: MatrixSelector, ctx: EvalContext, w: int, fn_name: str
) -> DataFrame:
    """Serve ``fn_name(ms)`` from the registered rollup of resolution
    ``w`` — see timbala_spark.rollup for the exactness argument. The
    plan is the raw kernel's shape (scan → grid explode → one hash
    aggregate) over the W×-smaller rollup table; matcher/time/day
    pushdown come from the shared ``_base_scan``."""
    import copy

    lo = ctx.start - ms.range_ms - ms.offset_ms
    hi = ctx.end - ms.offset_ms
    rctx = copy.copy(ctx)
    rctx.samples = ctx.rollups[w]
    base = _base_scan(rctx, ms.name, ms.matchers, lo, hi)
    g = _explode_grid(ctx, base, ms.offset_ms, ms.range_ms)

    def case(b: str, f: str) -> str:
        return _ROLLUP_CASE.format(b=b, f=f)

    aggs = [
        F.expr("max_by(labels, ts) AS _labels"),
        F.expr(f"SUM({case('s_cnt', 'cnt')}) AS _cnt"),
    ]
    if fn_name in (
        "sum_over_time",
        "avg_over_time",
        "stddev_over_time",
        "stdvar_over_time",
    ):
        aggs.append(F.expr(f"SUM({case('s_sm', 'sm')}) AS _sm"))
    if fn_name in ("stddev_over_time", "stdvar_over_time"):
        aggs.append(F.expr(f"SUM({case('s_sq', 'sq')}) AS _sq"))
    if fn_name == "min_over_time":
        aggs.append(F.expr(f"MIN({case('s_mn', 'mn')}) AS _v"))
    if fn_name == "max_over_time":
        aggs.append(F.expr(f"MAX({case('s_mx', 'mx')}) AS _v"))
    if fn_name in ("min_over_time", "max_over_time"):
        aggs.append(F.expr(f"MAX({case('s_nan', 'nan')}) AS _nan"))
    out = (
        g.groupBy("series_id", "step_t")
        .agg(*aggs)
        # a step whose only contribution is an empty boundary term has
        # no raw samples in its range — the raw path emits no row
        .filter(F.col("_cnt") > 0)
    )
    if fn_name == "count_over_time":
        final = F.col("_cnt").cast("double")
    elif fn_name == "sum_over_time":
        final = F.col("_sm")
    elif fn_name == "avg_over_time":
        final = F.col("_sm") / F.col("_cnt")
    elif fn_name in ("stddev_over_time", "stdvar_over_time"):
        # the engine's bug-for-bug NAIVE variance (sumsq/n - mean^2,
        # _NAIVE_VAR_AGGS) — decomposable because it is built from
        # plain sums; same float-re-association class as sum/avg
        n = F.col("_cnt").cast("double")
        mean = F.col("_sm") / n
        var = F.col("_sq") / n - mean * mean
        final = F.sqrt(var) if fn_name == "stddev_over_time" else var
    else:  # min/max: NaN if ANY raw sample was NaN (Go math.Min/Max)
        final = F.when(F.col("_nan") == 1, _nan_lit()).otherwise(F.col("_v"))
    drop = [c for c in ("_cnt", "_sm", "_sq", "_nan") if c in out.columns]
    out = out.withColumn("_v", final.cast("double")).drop(*drop)
    return _relabel_dropping_name(out)


def _rollup_pair_grid(ms: MatrixSelector, ctx: EvalContext, w: int) -> DataFrame:
    """Grid-exploded rollup rows normalized for the consecutive-pair
    family (rate/increase/delta/resets/changes) — see
    timbala_spark.rollup's decomposition argument.

    Each in-range row is either a FULL window (its stored aggregates
    apply) or the BOUNDARY window starting exactly at the evaluation
    time (``step_t = ts`` — only its ``t == ws`` sample, at most one by
    canonical uniqueness, is in the inclusive range, so first = last =
    that sample and the pair aggregates contribute nothing). Rows whose
    effective contribution is empty are dropped, then one lag over the
    per-(series, step) window sequence reconstructs the cross-window
    pair (last sample of window i, first sample of window i+1) — those
    two samples are consecutive in raw order because the intervening
    time belongs to windows that would otherwise be present rows.

    Output: e_cnt, e_f_ts/e_f_v/e_l_ts/e_l_v (shifted times),
    e_corr/e_rst/e_chg (within-window pair aggregates) and prev_l_v
    (previous in-range window's last value, NULL for the first). The
    window partition (series_id, step_t) matches the downstream groupBy
    exactly, so the sort and the aggregate share ONE exchange.
    """
    import copy

    lo = ctx.start - ms.range_ms - ms.offset_ms
    hi = ctx.end - ms.offset_ms
    rctx = copy.copy(ctx)
    rctx.samples = ctx.rollups[w]
    base = _base_scan(rctx, ms.name, ms.matchers, lo, hi)
    g = _explode_grid(ctx, base, ms.offset_ms, ms.range_ms)
    off = int(ms.offset_ms)
    b = "(step_t = ts)"
    g = g.selectExpr(
        "*",
        f"CASE WHEN {b} THEN s_cnt ELSE cnt END AS e_cnt",
        f"CASE WHEN {b} THEN s_sm ELSE f_v END AS e_f_v",
        f"CASE WHEN {b} THEN s_sm ELSE l_v END AS e_l_v",
        f"CAST((CASE WHEN {b} THEN t ELSE f_t END) + {off} AS BIGINT)"
        " AS e_f_ts",
        f"CAST((CASE WHEN {b} THEN t ELSE l_t END) + {off} AS BIGINT)"
        " AS e_l_ts",
        f"CASE WHEN {b} THEN 0.0D ELSE corr END AS e_corr",
        f"CASE WHEN {b} THEN 0.0D ELSE rst END AS e_rst",
        f"CASE WHEN {b} THEN 0.0D ELSE chg END AS e_chg",
        # second-to-last (irate/idelta): the boundary term's single
        # sample has no in-window predecessor
        f"CAST((CASE WHEN {b} THEN NULL ELSE l2_t END) + {off} AS BIGINT)"
        " AS e_l2_ts",
        f"CAST(CASE WHEN {b} THEN NULL ELSE l2_v END AS DOUBLE) AS e_l2_v",
    ).filter("e_cnt > 0")
    return g.selectExpr(
        "*",
        "lag(e_l_v) OVER (PARTITION BY series_id, step_t ORDER BY ts)"
        " AS prev_l_v",
        "lag(e_l_ts) OVER (PARTITION BY series_id, step_t ORDER BY ts)"
        " AS prev_l_ts",
    )


def _rollup_pair_agg(
    ms: MatrixSelector, ctx: EvalContext, w: int, pair_aggs
) -> DataFrame:
    """The rollup-served analog of ``_pair_kernel_agg``: aggregate the
    normalized pair grid per (series, step). ``pair_aggs`` returns the
    aliased aggregate columns (no prev-in-window test is needed — every
    cross-window pair on the grid is in range by construction)."""
    g = _rollup_pair_grid(ms, ctx, w)
    out = g.groupBy("series_id", "step_t").agg(
        F.expr("max_by(labels, ts) AS _labels"), *pair_aggs()
    )
    return _relabel_dropping_name(out)


def _matrix_lagged(ms: MatrixSelector, ctx: EvalContext) -> DataFrame:
    """Range-selector samples exploded onto the grid, each carrying its
    per-series predecessor (``prev_ts``/``prev_v``).

    The lag is computed ONCE per series over the scanned range — before
    the grid explode — so consecutive-pair kernels (rate's counter
    correction, resets, changes, irate) become plain hash aggregates
    over the exploded grid instead of per-(series, step) interpreted
    ``aggregate`` folds over ``collect_list`` arrays. Map-side partial
    aggregation applies; the only sort is the per-series lag window over
    the scan, whose size is bounded by scan duration / scrape interval
    (not by corpus size). A predecessor OUTSIDE the step's window
    (``prev_ts < step_t - range``) must be ignored by the kernel — the
    pair isn't consecutive *within* that window.

    Columns: series_id, step_t, ts, v, labels, prev_ts, prev_v.
    """
    lo = ctx.start - ms.range_ms - ms.offset_ms
    hi = ctx.end - ms.offset_ms
    base = _base_scan(ctx, ms.name, ms.matchers, lo, hi)
    # stale markers (NULL v) never appear inside range vectors
    # (engine.go:869); filter BEFORE the lag so consecutiveness is
    # between retained samples
    base = base.filter("v IS NOT NULL").selectExpr(
        "*",
        "lag(t) OVER (PARTITION BY series_id ORDER BY t) AS _prev_t",
        "lag(v) OVER (PARTITION BY series_id ORDER BY t) AS prev_v",
    )
    g = _explode_grid(ctx, base, ms.offset_ms, ms.range_ms)
    return g.selectExpr(
        "*", f"CAST(_prev_t + {int(ms.offset_ms)} AS BIGINT) AS prev_ts"
    ).drop("_prev_t")


def _pair_kernel_agg(
    ms: MatrixSelector, ctx: EvalContext, pair_aggs
) -> DataFrame:
    """Aggregate a lagged range selector per (series, step) with plain
    aggregate expressions over (ts, v, prev_ts, prev_v) — the shared
    frame for rate/increase/delta/resets/changes/irate/idelta.

    ``pair_aggs(prev_in_sql)`` returns the aliased aggregate columns;
    ``prev_in_sql`` is a SQL boolean expression (string, for embedding
    in ``F.expr`` — PERF §13) marking rows whose predecessor is inside
    the same step window.
    """
    g = _matrix_lagged(ms, ctx)
    prev_in_sql = (
        f"(prev_ts IS NOT NULL AND prev_ts >= step_t - {int(ms.range_ms)})"
    )
    out = g.groupBy("series_id", "step_t").agg(
        F.expr("max_by(labels, ts) AS _labels"), *pair_aggs(prev_in_sql)
    )
    return _relabel_dropping_name(out)


def _extrapolated_val_sql(range_ms: int, is_counter: bool, is_rate: bool) -> str:
    """The extrapolation formula at ``functions.go:99-119`` as a SQL
    expression over the shared aggregate contract ``_n``/``_first_t``/
    ``_last_t``/``_first_v``/``_last_v``[/``_corr``] + ``step_t`` —
    produced identically by the raw lag kernel (``_pair_kernel_agg``)
    and the rollup combine (``_rollup_pair_agg``), so rate/increase/
    delta share one post-aggregation tail for both paths. Every float
    literal carries the D suffix so it parses as DOUBLE (PERF §13)."""
    range_start = f"CAST(step_t - {int(range_ms)} AS DOUBLE)"
    range_end = "CAST(step_t AS DOUBLE)"
    first_t = "CAST(_first_t AS DOUBLE)"
    last_t = "CAST(_last_t AS DOUBLE)"
    dur_start = f"(({first_t} - {range_start}) / 1000.0D)"
    dur_end = f"(({range_end} - {last_t}) / 1000.0D)"
    sampled = f"(({last_t} - {first_t}) / 1000.0D)"
    avg_between = f"({sampled} / CAST(_n - 1 AS DOUBLE))"
    if is_counter:
        base = "(_last_v - _first_v + _corr)"
        # counter zero-point clamp (functions.go:107-113)
        dur_zero = f"({sampled} * (_first_v / {base}))"
        dur_start = (
            f"(CASE WHEN {base} > 0 AND _first_v >= 0 "
            f"AND {dur_zero} < {dur_start} "
            f"THEN {dur_zero} ELSE {dur_start} END)"
        )
    else:
        base = "(_last_v - _first_v)"
    threshold = f"({avg_between} * 1.1D)"
    extrap = (
        f"({sampled} "
        f"+ (CASE WHEN {dur_start} < {threshold} THEN {dur_start} "
        f"ELSE {avg_between} / 2 END) "
        f"+ (CASE WHEN {dur_end} < {threshold} THEN {dur_end} "
        f"ELSE {avg_between} / 2 END))"
    )
    val = f"({base} * ({extrap} / {sampled}))"
    if is_rate:
        val = f"({val} / {sql_double(range_ms / 1000.0)})"
    return val


def _relabel_dropping_name(out: DataFrame) -> DataFrame:
    """``_labels`` → ``labels`` with ``__name__`` dropped."""
    return out.selectExpr(
        "*", f"{restrict_labels_sql('_labels', drop_name=True)} AS labels"
    ).drop("_labels")


def _matrix_points(ms: MatrixSelector, ctx: EvalContext) -> DataFrame:
    """Collect the per-(series, step) window as a time-sorted array of
    (t, v) structs, for sequential kernels (rate family, holt_winters).

    The array is bounded by the samples-per-range-window count; partial
    aggregation still applies to collect_list. Result columns:
    step_t, labels (name dropped), pts array<struct<t:long,v:double>>.
    """
    g = _matrix_grouped(ms, ctx)
    out = g.groupBy("series_id", "step_t").agg(
        F.expr("max_by(labels, ts) AS _labels"),
        F.expr(
            "sort_array(collect_list(named_struct('t', ts, 'v', v))) AS pts"
        ),
    )
    return _relabel_dropping_name(out)


# ---------------------------------------------------------------------------
# range-vector function kernels (all pure Spark SQL expressions)


def _holt_winters_expr(
    pts: Column, sf: float | Column, tf: float | Column
) -> Column:
    """Double exponential smoothing, returning the last smoothed value
    (``functions.go:193-285``). A left fold: s0/s1/b carried through
    ``aggregate`` with trend b = tf·(s1−s0) + (1−tf)·b from step 2 on.
    ``sf``/``tf`` may be Columns (outer references are legal inside
    HOF lambdas) for step-varying parameters."""
    sfc = sf if isinstance(sf, Column) else F.lit(sf)
    tfc = tf if isinstance(tf, Column) else F.lit(tf)
    n = F.size(pts)
    first = F.get(pts, 0)
    second = F.get(pts, 1)
    rest = F.slice(pts, 3, F.greatest(n - 2, F.lit(0)))

    def merge(acc, x):
        b_new = F.when(acc["i"] == 1, acc["b"]).otherwise(
            tfc * (acc["s1"] - acc["s0"]) + (F.lit(1.0) - tfc) * acc["b"]
        )
        s1_new = sfc * x["v"] + (F.lit(1.0) - sfc) * (acc["s1"] + b_new)
        return F.struct(
            acc["s1"].alias("s0"),
            s1_new.alias("s1"),
            b_new.alias("b"),
            (acc["i"] + 1).alias("i"),
        )

    # seed: process samples[1] with i=1 (trend index 0 → b unchanged)
    init0 = F.struct(
        F.lit(0.0).cast("double").alias("s0"),
        first["v"].cast("double").alias("s1"),
        (second["v"] - first["v"]).cast("double").alias("b"),
        F.lit(1).cast("int").alias("i"),
    )
    seeded = merge(init0, second)
    folded = F.aggregate(rest, seeded, merge)
    return folded["s1"]  # caller guarantees n >= 2


def _naive_var_expr(v: Column) -> Column:
    """Population variance exactly as the reference computes it:
    ``sqsum/n − mean²`` in one pass (``engine.go:1359-1407``,
    ``functions.go:472-497``) — kept bug-for-bug rather than using
    Spark's numerically stable ``var_pop``: the cancellation at large
    magnitudes is observable reference behavior (``stdvar`` of
    ``[3e9, 3e9+1, 3e9+2]`` is 1024, not ~0.67, and ``stddev`` goes
    NaN when the cancellation lands negative)."""
    n = F.count(F.lit(1)).cast("double")
    mean = F.sum(v) / n
    return F.sum(v * v) / n - mean * mean


def _NAIVE_VAR_AGGS() -> dict[str, Column]:
    v = F.col("v")
    return {
        "_n": F.count(F.lit(1)).cast("double"),
        "_s": F.sum(v),
        "_sq": F.sum(v * v),
    }


def _naive_var_final() -> Column:
    mean = F.col("_s") / F.col("_n")
    return F.col("_sq") / F.col("_n") - mean * mean


def _go_quantile_agg(q: float, v: Column) -> Column:
    """PromQL ``quantile()`` (``quantile.go:156-183``) as an aggregate
    expression, with the reference's NaN placement: the value heap's
    comparator sorts NaN FIRST (``functions.go:1257-1262`` —
    ``Less(i,j)`` is true whenever ``s[i]`` is NaN), so NaN samples
    occupy the lowest ranks and the interpolation
    ``v[lo]·(1-w) + v[hi]·w`` propagates NaN whenever either endpoint
    is NaN (including via ``NaN·0``). Spark's ``percentile`` instead
    ranks NaN greatest — a measured divergence (r5) — so the sorted
    array is built explicitly: non-NaN values ascending via
    ``array_sort(collect_list(...))`` (NaN→null is dropped by
    collect_list), with indexes below the group's NaN count reading as
    NaN."""
    cnt = F.count(F.lit(1)).cast("double")
    nn = F.sum(F.when(F.isnan(v), 1).otherwise(0)).cast("double")
    arr = F.array_sort(F.collect_list(F.when(~F.isnan(v), v)))
    return _go_quantile_from_parts(q, cnt, nn, arr)


def _go_quantile_from_parts(
    q: float | Column, cnt: Column, nn: Column, arr: Column
) -> Column:
    """Interpolate the Go quantile from (count, NaN-count, sorted
    non-NaN values) — shared by the aggregator and
    ``quantile_over_time``. ``q`` may be a Column for step-varying
    params (the reference evaluates aggregation params per step)."""
    qcol = q if isinstance(q, Column) else F.lit(q)
    rank = qcol * (cnt - 1)
    lo = F.floor(rank).cast("double")  # q ∈ [0,1] → rank ≥ 0
    hi = F.least(cnt - 1, lo + 1)
    w = rank - lo

    def val(i: Column) -> Column:
        return F.when(i < nn, _nan_lit()).otherwise(
            F.get(arr, (i - nn).cast("int"))
        )

    return val(lo) * (1 - w) + val(hi) * w


# ---------------------------------------------------------------------------
# compiler


class Compiler:
    def __init__(self, ctx: EvalContext):
        self.ctx = ctx

    # -- entry --------------------------------------------------------
    def compile(self, node: Expr) -> Value:
        if isinstance(node, NumberLiteral):
            return ScalarValue(const=node.value)
        if isinstance(node, StringLiteral):
            return StringValue(node.value)
        if isinstance(node, ParenExpr):
            return self.compile(node.expr)
        if isinstance(node, VectorSelector):
            return compile_vector_selector(node, self.ctx)
        if isinstance(node, MatrixSelector):
            raise PromQLEvalError(
                "range vector can only be used as a function argument"
            )
        if isinstance(node, UnaryExpr):
            return self._unary(node)
        if isinstance(node, BinaryExpr):
            return self._binary(node)
        if isinstance(node, AggregateExpr):
            return self._aggregate(node)
        if isinstance(node, Call):
            return self._call(node)
        raise PromQLEvalError(f"unhandled node {type(node).__name__}")

    # -- unary --------------------------------------------------------
    def _unary(self, node: UnaryExpr) -> Value:
        val = self.compile(node.expr)
        if node.op == "+":
            return val
        if isinstance(val, ScalarValue):
            if val.const is not None:
                return ScalarValue(const=-val.const)
            return ScalarValue(df=val.df.withColumn("v", -F.col("v")))
        return VectorValue(
            val.df.selectExpr(
                "step_t", f"{_DROP_NAME} AS labels", "-v AS v", "sample_t"
            )
        )

    # -- binary -------------------------------------------------------
    def _binary(self, node: BinaryExpr) -> Value:
        lv = self.compile(node.lhs)
        rv = self.compile(node.rhs)
        op = node.op
        if isinstance(lv, ScalarValue) and isinstance(rv, ScalarValue):
            return self._scalar_scalar(op, lv, rv, node.return_bool)
        if isinstance(lv, VectorValue) and isinstance(rv, ScalarValue):
            return self._vector_scalar(op, lv, rv, node.return_bool, swapped=False)
        if isinstance(lv, ScalarValue) and isinstance(rv, VectorValue):
            return self._vector_scalar(op, rv, lv, node.return_bool, swapped=True)
        if op in SET_OPS:
            return self._set_op(op, lv, rv, node.matching)
        return self._vector_vector(node, lv, rv)

    def _scalar_scalar(
        self, op: str, lv: ScalarValue, rv: ScalarValue, return_bool: bool
    ) -> ScalarValue:
        if lv.const is not None and rv.const is not None:
            if op in COMPARISON_OPS:
                return ScalarValue(
                    const=1.0 if _py_cmp(op, lv.const, rv.const) else 0.0
                )
            return ScalarValue(const=_py_arith(op, lv.const, rv.const))
        # at most one side is constant: it stays a literal (no join)
        if lv.const is not None:
            j, l, r = rv.df.withColumnRenamed("v", "_r"), sql_double(lv.const), "_r"
        elif rv.const is not None:
            j, l, r = lv.df.withColumnRenamed("v", "_l"), "_l", sql_double(rv.const)
        else:
            j = lv.df.withColumnRenamed("v", "_l").join(
                rv.df.withColumnRenamed("v", "_r"), "step_t"
            )
            l, r = "_l", "_r"
        # scalar comparisons always carry `bool` (typecheck enforces)
        v_sql = _binop_sql(op, l, r)
        return ScalarValue(df=j.selectExpr("step_t", f"CAST({v_sql} AS DOUBLE) AS v"))

    def _vector_scalar(
        self,
        op: str,
        vec: VectorValue,
        sc: ScalarValue,
        return_bool: bool,
        swapped: bool,
    ) -> VectorValue:
        """vector∘scalar / scalar∘vector (``engine.go:1132-1161``).
        ``swapped`` means the scalar was the LHS."""
        df = vec.df
        if sc.const is not None:
            s_sql = sql_double(sc.const)
        else:
            sdf = sc.df.withColumnRenamed("v", "_s")
            df = df.join(F.broadcast(sdf), "step_t")
            s_sql = "_s"
        l, r = (s_sql, "v") if swapped else ("v", s_sql)
        if op in COMPARISON_OPS and not return_bool:
            return VectorValue(_vv(df.filter(_ieee_cmp_sql(op, l, r))))
        out = df.selectExpr(
            "step_t",
            f"{_DROP_NAME} AS labels",
            f"CAST({_binop_sql(op, l, r)} AS DOUBLE) AS v",
            "sample_t",
        )
        return VectorValue(out)

    def _set_op(
        self, op: str, lv: VectorValue, rv: VectorValue, matching
    ) -> VectorValue:
        """and/or/unless as semi/union-anti/anti joins on the label
        signature (``engine.go:894-957``)."""
        on = matching.matching_labels if (matching and matching.on) else None
        ignoring = matching.matching_labels if (matching and not matching.on) else ()
        sig_sql = signature_sql("labels", on=on, ignoring=ignoring)
        l = lv.df.selectExpr("*", f"{sig_sql} AS _sig")
        r = rv.df.selectExpr("*", f"{sig_sql} AS _sig")
        if op == "and":
            out = l.join(
                r.select("step_t", "_sig").distinct(), ["step_t", "_sig"], "left_semi"
            )
        elif op == "unless":
            out = l.join(
                r.select("step_t", "_sig").distinct(), ["step_t", "_sig"], "left_anti"
            )
        else:  # or: all lhs + rhs samples whose signature is absent from lhs
            rhs_only = r.join(
                l.select("step_t", "_sig").distinct(), ["step_t", "_sig"], "left_anti"
            )
            out = l.unionByName(rhs_only)
        return VectorValue(_vv(out))

    def _vector_vector(
        self, node: BinaryExpr, lv: VectorValue, rv: VectorValue
    ) -> VectorValue:
        """Hash equi-join on the label-set signature
        (``engine.go:959-1049``)."""
        op = node.op
        matching = node.matching or VectorMatching()
        card = matching.card
        swap = card == VectorMatchCardinality.ONE_TO_MANY  # group_right
        many, one = (lv, rv) if not swap else (rv, lv)

        on = matching.matching_labels if matching.on else None
        ignoring = matching.matching_labels if not matching.on else ()
        sig_sql = signature_sql("labels", on=on, ignoring=ignoring)
        mdf = many.df.selectExpr("*", f"{sig_sql} AS _sig")
        odf = one.df.selectExpr("*", f"{sig_sql} AS _sig")

        if self.ctx.strict:
            # Attach the raise to the JOIN KEY, not `v`: the key is
            # evaluated for every one-side row while building the join,
            # so duplicates error even when they match nothing — the
            # reference errors on any duplicate one-side signature,
            # matched or not, while BUILDING rightSigs
            # (engine.go:979-988), with this fixed message regardless
            # of which side is the 'one' side.
            odf = odf.selectExpr(  # fused: one py4j call (PERF §13)
                "* EXCEPT (_sig)",
                "CASE WHEN count(1) OVER (PARTITION BY step_t, _sig) > 1 "
                "THEN raise_error("
                "'many-to-many matching not allowed: matching labels "
                "must be unique on one side') "
                "ELSE _sig END AS _sig",
            )
            # many-side duplicates are checked AFTER matching (and
            # after the comparison filter) — see the post-join check
            # below; an unmatched duplicate many-side signature is NOT
            # an error in the vendored engine (engine.go:1000-1027:
            # `continue` on no-match and on !keep both run before the
            # matchedSigs bookkeeping)

        o_sel = odf.selectExpr(
            "step_t", "_sig", "v AS _ov", "labels AS _olabels"
        )
        j = mdf.join(o_sel, ["step_t", "_sig"], "inner")

        l_sql, r_sql = ("v", "_ov") if not swap else ("_ov", "v")

        drop_name = op in ARITHMETIC_OPS or (op in COMPARISON_OPS and node.return_bool)
        if card == VectorMatchCardinality.ONE_TO_ONE:
            if matching.on:
                rl_sql = restrict_labels_sql(
                    "labels", keep=matching.matching_labels
                )
            else:
                rl_sql = restrict_labels_sql(
                    "labels",
                    drop=matching.matching_labels,
                    drop_name=drop_name,
                )
        elif drop_name:
            rl_sql = restrict_labels_sql("labels", drop_name=True)
        else:
            rl_sql = "labels"
        for ln in matching.include:
            rl_sql = _map_set_conditional_sql(
                rl_sql,
                ln,
                f"coalesce(try_element_at(_olabels, {sql_quote(ln)}), '')",
            )

        if op in COMPARISON_OPS and not node.return_bool:
            # Filtered comparisons keep the ORIGINAL LHS value even
            # under group_right: vectorElemBinop undoes the swap
            # before applying the op (engine.go:1006-1010,1213-1225),
            # so `a < on(x) group_right b` returns a's values.
            j = j.filter(_ieee_cmp_sql(op, l_sql, r_sql))
            rv_sql = l_sql
        else:
            rv_sql = _binop_sql(op, l_sql, r_sql)

        out = j.selectExpr(
            "step_t",
            "_sig",
            f"{rl_sql} AS labels",
            f"CAST({rv_sql} AS DOUBLE) AS v",
            "sample_t",
        )
        if self.ctx.strict:
            if card == VectorMatchCardinality.ONE_TO_ONE:
                # a SECOND matched many-side sample that survived the
                # comparison filter errors (engine.go:1021-1027); rows
                # here are exactly those matches
                out = out.selectExpr(
                    "* EXCEPT (v)",
                    "CASE WHEN count(1) OVER "
                    "(PARTITION BY step_t, _sig) > 1 THEN raise_error("
                    "'multiple matches for labels: many-to-one "
                    "matching must be explicit "
                    "(group_left/group_right)') ELSE v END AS v",
                )
            else:
                # duplicate result elements are detected PER MATCH
                # GROUP (engine.go:1029-1040 keys insertedSigs on the
                # matching signature, then metric.Hash()): identical
                # result metrics arising from DIFFERENT match groups
                # pass — and genuinely duplicate the output vector
                out = out.selectExpr(
                    "* EXCEPT (v)",
                    "CASE WHEN count(1) OVER (PARTITION BY step_t, _sig, "
                    f"{canonical_labels_sql('labels')}) > 1 "
                    "THEN raise_error("
                    "'multiple matches for labels: grouping labels "
                    "must ensure unique matches') ELSE v END AS v",
                )
        return VectorValue(out.drop("_sig"))

    # -- aggregations (engine.go:1244-1448) ---------------------------
    def _aggregate(self, node: AggregateExpr) -> VectorValue:
        inner = self.compile(node.expr)
        assert isinstance(inner, VectorValue)
        df = inner.df

        if node.without:
            rm_sql = restrict_labels_sql(
                "labels", drop=node.grouping, drop_name=True
            )
        else:
            rm_sql = restrict_labels_sql("labels", keep=node.grouping)
        # one batched call (PERF §13)
        df = df.selectExpr(
            "*",
            f"{rm_sql} AS _gmap",
            f"{canonical_labels_sql(rm_sql)} AS _gsig",
        )

        op = node.op
        if op in ("topk", "bottomk"):
            pv = self._scalar_param(node.param, "topk/bottomk")
            order = (
                [F.isnan(F.col("v")).asc(), F.col("v").desc()]
                if op == "topk"
                else [F.isnan(F.col("v")).asc(), F.col("v").asc()]
            )
            w = Window.partitionBy("step_t", "_gsig").orderBy(*order)
            if pv.const is not None:
                k = pv.const
                # evalInt (engine.go:636-643) rejects params that fail
                # convertibleToInt64 — NaN fails both comparisons, so
                # topk(NaN, v) is a query error, not an empty result
                # convertibleToInt64 compares in float64 space, where
                # maxInt64 rounds up to 2^63 (engine.go:59-62)
                if math.isnan(k) or not (-(2.0**63) <= k <= 2.0**63):
                    raise PromQLEvalError(
                        f"Scalar value {_go_fmt_str(k)} overflows int64"
                    )
                k = int(k)
                if k < 1:
                    return VectorValue(
                        self.ctx.spark.createDataFrame([], _vv(df).schema)
                    )
                k_col: Column = F.lit(k)
            else:
                # step-varying parameter: evalInt runs at every step
                # BEFORE the vector is examined (engine.go:1254-1258),
                # so a bad k errors even for steps whose input vector is
                # empty — hence the checked k frame is the PRESERVED
                # side of an outer join: adaptive execution drops an
                # inner join whose input vector turns out empty, and a
                # check on its other side with it. The check stays lazy,
                # so it runs in the collected plan (under the request's
                # timeout and cancel). A step with no input rows keeps
                # one row of NULL labels, whose NULL k keeps nothing.
                kraw = F.col("v")
                bad = (
                    F.isnan(kraw)
                    | (kraw < F.lit(-(2.0**63)))
                    | (kraw > F.lit(2.0**63))
                )
                msg = F.concat(
                    F.lit("Scalar value "),
                    _go_fmt(kraw),
                    F.lit(" overflows int64"),
                )
                # Go int64(float64) truncates toward zero; k < 1 keeps
                # no rows for that step (row_number starts at 1)
                kdf = self.ctx.scalar_df(pv).select(
                    "step_t",
                    _raise_if(bad, kraw, msg).cast("long").alias("_k"),
                )
                df = df.join(kdf, "step_t", "right")
                k_col = F.when(F.col("labels").isNotNull(), F.col("_k"))
            out = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k_col)
                .drop("_rn", "_gmap", "_gsig", "_k")
            )
            return VectorValue(_vv(out))

        if op == "count_values":
            if not isinstance(node.param, StringLiteral):
                raise PromQLEvalError("count_values label must be a string literal")
            lbl = node.param.value
            # NO label-name validation: the vendored engine lb.Set()s
            # whatever string it was given (engine.go:1268-1284) — the
            # 'invalid label name' check postdates it. Group on the
            # FINAL label set: the reference appends the value label to
            # the grouping and hashes the metric AFTER lb.Set
            # (engine.go:1286-1294), so when the value label is itself
            # in by(...) the ORIGINAL value must not split groups.
            df = df.withColumn("_vstr", _go_fmt(F.col("v"))).selectExpr(
                "*", f"{_map_set_conditional_sql('_gmap', lbl, '_vstr')} AS _fmap"
            )
            grouped = df.groupBy(
                "step_t", F.expr(canonical_labels_sql("_fmap")).alias("_fsig")
            ).agg(
                F.first("_fmap").alias("labels"),
                F.count(F.lit(1)).cast("double").alias("v"),
            )
            out = grouped.select(
                "step_t",
                "labels",
                "v",
                F.lit(None).cast("long").alias("sample_t"),
            )
            return VectorValue(out)

        dynamic_q = False
        if op == "quantile":
            pv = self._scalar_param(node.param, "quantile")
            if pv.const is None:
                # step-varying φ: join it on the broadcast step grid so
                # the aggregate can read it (constant within a group —
                # step_t is part of the grouping key)
                qdf = self.ctx.scalar_df(pv).select(
                    "step_t", F.col("v").alias("_q")
                )
                df = df.join(F.broadcast(qdf), "step_t", "inner")
                dynamic_q = True
        agg_expr = self._agg_value_expr(node, dynamic_q=dynamic_q)
        grouped = df.groupBy("step_t", "_gsig").agg(
            F.first("_gmap").alias("labels"), agg_expr.alias("v")
        )
        out = grouped.select(
            "step_t",
            "labels",
            F.col("v").cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    def _agg_value_expr(
        self, node: AggregateExpr, dynamic_q: bool = False
    ) -> Column:
        v = F.col("v")
        op = node.op
        if op == "sum":
            return F.sum(v)
        if op == "avg":
            return F.avg(v)
        if op == "count":
            return F.count(F.lit(1)).cast("double")
        if op in ("min", "max"):
            # NaN loses to any number (engine.go:1346-1353); Spark treats
            # NaN as largest, so exclude NaNs then re-introduce when all-NaN
            clean = F.when(~F.isnan(v), v)
            agg = F.min(clean) if op == "min" else F.max(clean)
            return F.coalesce(agg, _nan_lit())
        if op == "stddev":
            return F.sqrt(_naive_var_expr(v))
        if op == "stdvar":
            return _naive_var_expr(v)
        if op == "quantile":
            if dynamic_q:
                # per-step φ (already joined as _q, constant per group);
                # the reference re-checks φ at every evaluated step —
                # NaN panics inside quantile() (quantile.go:183-190),
                # φ<0 / φ>1 clamp to ∓Inf
                qa = F.min(F.col("_q"))
                cnt = F.count(F.lit(1)).cast("double")
                nn = F.sum(F.when(F.isnan(v), 1).otherwise(0)).cast("double")
                arr = F.array_sort(F.collect_list(F.when(~F.isnan(v), v)))
                base = _go_quantile_from_parts(qa, cnt, nn, arr)
                return (
                    F.when(
                        F.isnan(qa),
                        F.raise_error(
                            F.lit("quantile: invalid quantile value NaN")
                        ),
                    )
                    .when(qa < 0, F.lit(-INF).cast("double"))
                    .when(qa > 1, F.lit(INF).cast("double"))
                    .otherwise(base)
                )
            q = self._const_param(node.param, "quantile")
            if math.isnan(q):
                # the reference's quantile() indexes values[int(NaN)]
                # and dies with a recovered runtime panic → query error
                # (quantile.go:183-190) — but only when a group is
                # actually evaluated: quantile(NaN, absent_metric) is an
                # empty result, so the failure must be deferred to the
                # data path, not raised at compile time
                return F.max(
                    _raise_if(
                        F.isnan(v) | ~F.isnan(v),
                        v,
                        "quantile: invalid quantile value NaN",
                    )
                )
            if q < 0:
                return F.max(F.lit(-INF)).cast("double")
            if q > 1:
                return F.max(F.lit(INF)).cast("double")
            return _go_quantile_agg(q, v)
        raise PromQLEvalError(f"unknown aggregation {op!r}")

    def _const_param(self, param: Expr | None, what: str) -> float:
        val = self.compile(param)
        if not isinstance(val, ScalarValue) or val.const is None:
            raise PromQLEvalError(
                f"{what} parameter must be a constant scalar expression"
            )
        return float(val.const)

    def _scalar_param(self, param: Expr | None, what: str) -> ScalarValue:
        """Aggregation/function scalar params are full scalar
        expressions in the reference — evaluated at every step
        (engine.go:1250-1258 for aggregations, the per-step arg
        evaluation in ``evalFloat`` for function calls), so
        ``topk(scalar(count(x)), x)`` is legal and may vary over a
        range query's grid."""
        val = self.compile(param)
        if not isinstance(val, ScalarValue):
            raise PromQLEvalError(
                f"{what} parameter must be a scalar expression"
            )
        return val

    def _scalar_col(
        self, sv: ScalarValue, df: DataFrame, alias: str
    ) -> tuple[DataFrame, Column]:
        """Attach a (possibly step-varying) scalar to ``df`` as a
        column. Constant scalars stay literals (no join); df-backed
        scalars broadcast-join the ≤11k-row step grid on ``step_t``."""
        if sv.const is not None:
            return df, F.lit(float(sv.const)).cast("double")
        sdf = self.ctx.scalar_df(sv).select("step_t", F.col("v").alias(alias))
        return df.join(F.broadcast(sdf), "step_t"), F.col(alias)

    # -- function calls ----------------------------------------------
    def _call(self, node: Call) -> Value:
        name = node.func.name
        handler = getattr(self, "_fn_" + name, None)
        if handler is None:
            raise PromQLEvalError(f"function {name!r} not implemented")
        return handler(node)

    # ---- elementwise math -------------------------------------------
    def _elementwise(self, node: Call, colfn) -> VectorValue:
        arg = self.compile(node.args[0])
        assert isinstance(arg, VectorValue)
        df = arg.df.withColumn("v", colfn(F.col("v")).cast("double")).withColumn(
            "labels", F.expr(_DROP_NAME)
        )
        return VectorValue(_vv(df))

    def _fn_abs(self, node):
        return self._elementwise(node, F.abs)

    def _fn_ceil(self, node):
        return self._elementwise(node, F.ceil)

    def _fn_floor(self, node):
        return self._elementwise(node, F.floor)

    def _fn_exp(self, node):
        return self._elementwise(node, F.exp)

    def _fn_sqrt(self, node):
        return self._elementwise(node, F.sqrt)

    @staticmethod
    def _go_log(logfn):
        """Go math.Log semantics: log(0) = -Inf, log(<0) = NaN (Spark's
        log returns NULL for both)."""

        def f(v):
            return (
                F.when(v > 0, logfn(v))
                .when(v == 0, F.lit(-INF))
                .otherwise(_nan_lit())
            )

        return f

    def _fn_ln(self, node):
        return self._elementwise(node, self._go_log(F.log))

    def _fn_log2(self, node):
        return self._elementwise(node, self._go_log(F.log2))

    def _fn_log10(self, node):
        return self._elementwise(node, self._go_log(F.log10))

    def _fn_round(self, node):
        if len(node.args) == 2:
            pv = self._scalar_param(node.args[1], "round")
        else:
            pv = ScalarValue(const=1.0)
        if pv.const is not None:
            # Go computes 1.0/toNearest without guarding zero: ±0 → ±Inf,
            # and every value rounds to Inf/Inf = NaN (functions.go:332-350).
            # Python's ZeroDivisionError must not leak instead.
            nearest = pv.const
            inv_col = F.lit(
                math.copysign(math.inf, nearest)
                if nearest == 0
                else 1.0 / nearest
            ).cast("double")
            arg = self.compile(node.args[0])
            assert isinstance(arg, VectorValue)
            df = arg.df
        else:
            # step-varying toNearest: joined per step. Go's 1.0/toNearest
            # is unguarded IEEE division (±0 → ±Inf, functions.go:332-350),
            # but Spark 4's ANSI mode makes `/` abort on a zero divisor —
            # so branch on zero and recover the zero's SIGN via the same
            # pow trick _arith_sql uses (signum(pow(±0, -1)) = ±1); the
            # inner when() keeps the live branch's divisor provably
            # nonzero so ANSI cannot fire there either
            arg = self.compile(node.args[0])
            assert isinstance(arg, VectorValue)
            df, ncol = self._scalar_col(pv, arg.df, "_nearest")
            inv_col = (
                F.when(
                    ncol == 0,
                    F.lit(INF) * F.signum(F.power(ncol, F.lit(-1.0))),
                )
                .otherwise(F.lit(1.0) / F.when(ncol != 0, ncol))
                .cast("double")
            )

        # ties round up, via floor(v·inv + 0.5)/inv (functions.go:331-350).
        # Spark's floor() returns BIGINT and clamps ±Inf/huge doubles to
        # long range (so round(v, 0) would yield maxlong/Inf = 0, not
        # Go's Inf/Inf = NaN); Go's float floor is the identity for NaN
        # and every |x| >= 2^53 (all integral doubles) — branch there.
        big = F.lit(9007199254740992.0)  # 2^53
        prod = F.col("v") * inv_col + F.lit(0.5)
        floored = F.when(
            F.isnan(prod) | (F.abs(prod) >= big), prod
        ).otherwise(F.floor(prod).cast("double"))
        out = (
            df.withColumn("v", (floored / inv_col).cast("double"))
            .withColumn("labels", F.expr(_DROP_NAME))
            .drop("_nearest")
        )
        return VectorValue(_vv(out))

    def _clamp(self, node, is_max: bool):
        arg = self.compile(node.args[0])
        sc = self.compile(node.args[1])
        assert isinstance(arg, VectorValue) and isinstance(sc, ScalarValue)
        df = arg.df
        if sc.const is not None:
            s_col = F.lit(float(sc.const)).cast("double")
        else:
            sdf = self.ctx.scalar_df(sc).withColumnRenamed("v", "_s")
            df = df.join(F.broadcast(sdf), "step_t")
            s_col = F.col("_s")
        v = F.col("v")
        # Go math.Min/Max propagate NaN; Spark least/greatest order NaN largest
        bound = F.least(v, s_col) if is_max else F.greatest(v, s_col)
        newv = F.when(F.isnan(v) | F.isnan(s_col), _nan_lit()).otherwise(bound)
        out = df.withColumn("v", newv.cast("double")).withColumn(
            "labels", F.expr(_DROP_NAME)
        )
        return VectorValue(_vv(out))

    def _fn_clamp_max(self, node):
        return self._clamp(node, True)

    def _fn_clamp_min(self, node):
        return self._clamp(node, False)

    # ---- sorting -----------------------------------------------------
    def _fn_sort(self, node):
        arg = self.compile(node.args[0])
        return VectorValue(_vv(arg.df.orderBy(F.col("v").asc())), ordered=True)

    def _fn_sort_desc(self, node):
        arg = self.compile(node.args[0])
        # NaN last despite descending (comparator functions.go:1251-1278)
        return VectorValue(
            _vv(arg.df.orderBy(F.isnan(F.col("v")).asc(), F.col("v").desc())),
            ordered=True,
        )

    # ---- presence / conversion --------------------------------------
    def _fn_absent(self, node):
        inner_expr = node.args[0]
        while isinstance(inner_expr, ParenExpr):
            inner_expr = inner_expr.expr
        inner = self.compile(node.args[0])
        assert isinstance(inner, VectorValue)
        present = inner.df.select("step_t").distinct()
        missing = self.ctx.steps.join(present, "step_t", "left_anti")
        by_name: dict[str, str] = {}
        if isinstance(inner_expr, VectorSelector):
            # equality matchers only, __name__ excluded (functions.go:511-531).
            # Duplicate matcher names (absent(x{a="1", a="2"})) produce a
            # degenerate duplicate-label set upstream (labels.New does not
            # dedup) — unrepresentable in a label MAP, so last-wins here.
            for m in inner_expr.matchers:
                if m.type == MatchType.EQ and m.name != METRIC_NAME_LABEL:
                    by_name[m.name] = m.value
        pairs: list[Column] = []
        for k, v in by_name.items():
            pairs.extend([F.lit(k), F.lit(v)])
        labels = (
            F.create_map(*pairs)
            if pairs
            else F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
        )
        out = missing.select(
            "step_t",
            labels.alias("labels"),
            F.lit(1.0).cast("double").alias("v"),
            F.col("step_t").alias("sample_t"),
        )
        return VectorValue(out)

    def _fn_scalar(self, node):
        inner = self.compile(node.args[0])
        assert isinstance(inner, VectorValue)
        # first() without ordering is nondeterministic when _n > 1 —
        # harmless by construction: the value is only read when _n == 1
        # (scalar() is NaN otherwise, functions.go:998-1008). Do NOT
        # "fix" this into a sort; any one row is correct when it counts.
        g = inner.df.groupBy("step_t").agg(
            F.count(F.lit(1)).alias("_n"), F.first("v").alias("_v")
        )
        out = self.ctx.steps.join(F.broadcast(g), "step_t", "left").select(
            "step_t",
            F.when(F.col("_n") == 1, F.col("_v")).otherwise(_nan_lit()).alias("v"),
        )
        return ScalarValue(df=out)

    def _fn_vector(self, node):
        sc = self.compile(node.args[0])
        assert isinstance(sc, ScalarValue)
        sdf = self.ctx.scalar_df(sc)
        empty_map = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        out = sdf.select(
            "step_t",
            empty_map.alias("labels"),
            F.col("v").cast("double").alias("v"),
            F.col("step_t").alias("sample_t"),
        )
        return VectorValue(out)

    def _fn_time(self, node):
        if self.ctx.n_steps == 1:
            return ScalarValue(const=self.ctx.start / 1000.0)
        return ScalarValue(
            df=self.ctx.steps.withColumn(
                "v", (F.col("step_t") / F.lit(1000.0)).cast("double")
            )
        )

    def _fn_timestamp(self, node):
        arg = self.compile(node.args[0])
        assert isinstance(arg, VectorValue)
        # Derived vectors (aggregations, *_over_time, rate family) carry
        # NULL sample_t; the reference stamps result samples with the eval
        # timestamp (functions.go:605-615), so fall back to step_t.
        df = arg.df.withColumn(
            "v",
            (F.coalesce(F.col("sample_t"), F.col("step_t")) / F.lit(1000.0)).cast(
                "double"
            ),
        ).withColumn("labels", F.expr(_DROP_NAME))
        return VectorValue(_vv(df))

    # ---- label manipulation ------------------------------------------
    def _fn_label_replace(self, node):
        arg = self.compile(node.args[0])
        dst = self._str_arg(node.args[1], "label_replace")
        repl = self._str_arg(node.args[2], "label_replace")
        src = self._str_arg(node.args[3], "label_replace")
        regex = self._str_arg(node.args[4], "label_replace")
        from .promql.re2 import re2_to_host

        # regex validated BEFORE the destination name, reference order
        # (functions.go:788-794); messages are plain %s, unquoted
        try:
            compiled = re.compile(re2_to_host(regex, dialect="python"))
        except (re.error, ValueError) as e:
            raise PromQLEvalError(
                f"invalid regular expression in label_replace(): {regex}"
            ) from e
        if not _LABEL_NAME_RE.match(dst):
            raise PromQLEvalError(
                f"invalid destination label name in label_replace(): {dst}"
            )
        src_val = F.coalesce(label_get(F.col("labels"), src), F.lit(""))
        matched = src_val.rlike(_anchored(regex))
        # The replacement template follows Go regexp.Expand
        # (regexp.go:Expand — funcLabelReplace at functions.go:791-833),
        # NOT Java's replacement syntax: ${1} braces, $name longest-run
        # parsing ($1a is group "1a"), unknown groups expanding to "",
        # and $$ as a literal $. Handing the template to Java
        # regexp_replace crashes on ${1} and mis-parses $1a — so parse
        # it here and assemble the value from regexp_extract parts.
        exprs: list[Column] = []
        for kind, payload in _expand_template_parts(repl):
            if kind == "lit":
                exprs.append(F.lit(payload))
                continue
            idx = (
                payload
                if isinstance(payload, int)
                else compiled.groupindex.get(payload, -1)
            )
            if 0 <= idx <= compiled.groups:
                exprs.append(
                    F.regexp_extract(src_val, _anchored(regex), idx)
                )
            # unknown group name/number → expands to nothing (Expand)
        new_val = F.concat(*exprs) if exprs else F.lit("")
        # `_m` and `_nv` are evaluated against the ORIGINAL labels (the
        # `labels` column is only replaced in the next projection)
        out = arg.df.withColumns({"_m": matched, "_nv": new_val}).selectExpr(
            "* EXCEPT (labels, _nv)",
            f"CASE WHEN _m THEN {_map_set_conditional_sql('labels', dst, '_nv')} "
            "ELSE labels END AS labels",
        )
        if self.ctx.strict:
            # the reference `continue`s past non-matching elements
            # before its dup set (functions.go:802-818), so ONLY a
            # collision between two MATCHED elements errors — a
            # replaced set colliding with an untouched series is
            # silently kept (duplicate sets in the output and all)
            w = Window.partitionBy(
                "step_t", F.expr(canonical_labels_sql("labels"))
            )
            mcnt = F.sum(F.col("_m").cast("int")).over(w)
            out = out.withColumn(
                "v",
                _raise_if(
                    F.col("_m") & (mcnt > 1),
                    F.col("v"),
                    F.concat(
                        F.lit(
                            "duplicated label set in output of "
                            "label_replace(): "
                        ),
                        _go_labels_str(F.col("labels")),
                    ),
                ),
            )
        return VectorValue(_vv(out.drop("_m")))

    def _fn_label_join(self, node):
        arg = self.compile(node.args[0])
        dst = self._str_arg(node.args[1], "label_join")
        sep = self._str_arg(node.args[2], "label_join")
        srcs = [self._str_arg(a, "label_join") for a in node.args[3:]]
        # sources validated in argument order BEFORE the destination,
        # reference order (functions.go:843-853); plain %s messages
        for s in srcs:
            if not _LABEL_NAME_RE.match(s):
                raise PromQLEvalError(
                    f"invalid source label name in label_join(): {s}"
                )
        if not _LABEL_NAME_RE.match(dst):
            raise PromQLEvalError(
                f"invalid destination label name in label_join(): {dst}"
            )
        parts = [
            F.coalesce(label_get(F.col("labels"), s), F.lit("")) for s in srcs
        ]
        joined = F.concat_ws(sep, *parts) if parts else F.lit("")
        out = arg.df.withColumn("_nv", joined).selectExpr(
            "* EXCEPT (labels, _nv)",
            f"{_map_set_conditional_sql('labels', dst, '_nv')} AS labels",
        )
        if self.ctx.strict:
            # unlike label_replace, EVERY element enters the dup set
            # (functions.go:856-879): any output collision errors
            w = Window.partitionBy(
                "step_t", F.expr(canonical_labels_sql("labels"))
            )
            out = out.withColumn("_c", F.count(F.lit(1)).over(w)).withColumn(
                "v",
                _raise_if(
                    F.col("_c") > 1,
                    F.col("v"),
                    F.concat(
                        F.lit(
                            "duplicated label set in output of "
                            "label_join(): "
                        ),
                        _go_labels_str(F.col("labels")),
                    ),
                ),
            ).drop("_c")
        return VectorValue(_vv(out))

    def _str_arg(self, node: Expr, fn: str) -> str:
        while isinstance(node, ParenExpr):
            node = node.expr
        if not isinstance(node, StringLiteral):
            raise PromQLEvalError(f"{fn} argument must be a string literal")
        return node.value

    # ---- date functions (value = epoch seconds, UTC) -----------------
    def _date_fn(self, node, colfn):
        """dateWrapper (functions.go:885-906): interprets the sample
        VALUE as a Unix epoch in seconds UTC, truncated toward zero;
        zero-arg form defaults to vector(time())."""
        if node.args:
            arg = self.compile(node.args[0])
            assert isinstance(arg, VectorValue)
            df = arg.df
        else:
            df = self._fn_vector_of_time()
        # Go's time.Unix(int64(v)) for NaN / out-of-int64-range floats
        # relies on a conversion the Go SPEC leaves undefined (the
        # reference emits platform-dependent junk); under ANSI the
        # unguarded cast would instead ABORT the whole query on one
        # rogue sample. Unrepresentable seconds answer NaN — a
        # documented, deliberate divergence from undefined behavior.
        # ±9.2e12 s keeps both the long cast and the timestamp in range.
        v = F.col("v")
        sane = (~F.isnan(v)) & (v > -9.2e12) & (v < 9.2e12)
        ts = F.timestamp_seconds(
            F.when(sane, v).otherwise(F.lit(0.0)).cast("long")
        )
        out = df.withColumn(
            "v",
            F.when(sane, colfn(ts).cast("double")).otherwise(_nan_lit()),
        ).withColumn("labels", F.expr(_DROP_NAME))
        return VectorValue(_vv(out))

    def _fn_vector_of_time(self) -> DataFrame:
        empty_map = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        return self.ctx.steps.select(
            "step_t",
            empty_map.alias("labels"),
            (F.col("step_t") / F.lit(1000.0)).cast("double").alias("v"),
            F.col("step_t").alias("sample_t"),
        )

    def _fn_minute(self, node):
        return self._date_fn(node, F.minute)

    def _fn_hour(self, node):
        return self._date_fn(node, F.hour)

    def _fn_month(self, node):
        return self._date_fn(node, F.month)

    def _fn_year(self, node):
        return self._date_fn(node, F.year)

    def _fn_day_of_month(self, node):
        return self._date_fn(node, F.dayofmonth)

    def _fn_day_of_week(self, node):
        # Go: 0 = Sunday; Spark dayofweek: 1 = Sunday
        return self._date_fn(node, lambda ts: F.dayofweek(ts) - 1)

    def _fn_days_in_month(self, node):
        return self._date_fn(node, lambda ts: F.dayofmonth(F.last_day(ts)))

    # ---- *_over_time -------------------------------------------------
    def _over_time(self, node, agg: dict[str, Column], final: Column) -> VectorValue:
        ms = self._matrix_arg(node.args[0] if node.func.name != "quantile_over_time" else node.args[1])
        # opt-in EXACT rollup routing (timbala_spark.rollup): serve the
        # decomposable *_over_time family from a registered downsampled
        # table when its windows tile this query's inclusive ranges
        # exactly; otherwise fall through to raw
        w = pick_rollup(
            self.ctx.rollups,
            ms.range_ms,
            ms.offset_ms,
            self.ctx.start,
            self.ctx.step,
            self.ctx.n_steps,
            node.func.name,
        )
        if w is not None:
            df = _rollup_combine(ms, self.ctx, w, node.func.name)
            out = df.select(
                "step_t",
                "labels",
                F.col("_v").alias("v"),
                F.lit(None).cast("long").alias("sample_t"),
            )
            return VectorValue(out)
        df = _matrix_agg(ms, self.ctx, agg)
        out = df.select(
            "step_t",
            "labels",
            final.cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    def _matrix_arg(self, node: Expr) -> MatrixSelector:
        while isinstance(node, ParenExpr):
            node = node.expr
        if not isinstance(node, MatrixSelector):
            raise PromQLEvalError("expected range vector selector argument")
        return node

    def _fn_avg_over_time(self, node):
        return self._over_time(node, {"_v": F.avg("v")}, F.col("_v"))

    def _fn_sum_over_time(self, node):
        return self._over_time(node, {"_v": F.sum("v")}, F.col("_v"))

    def _fn_count_over_time(self, node):
        return self._over_time(
            node, {"_v": F.count(F.lit(1)).cast("double")}, F.col("_v")
        )

    def _fn_min_over_time(self, node):
        # Go math.Min: NaN if ANY sample is NaN (unlike the `min` aggregator)
        return self._over_time(
            node,
            {
                "_v": F.min("v"),
                "_nan": F.max(F.isnan(F.col("v")).cast("int")),
            },
            F.when(F.col("_nan") == 1, _nan_lit()).otherwise(F.col("_v")),
        )

    def _fn_max_over_time(self, node):
        return self._over_time(
            node,
            {
                "_v": F.max(F.when(~F.isnan(F.col("v")), F.col("v"))),
                "_nan": F.max(F.isnan(F.col("v")).cast("int")),
            },
            F.when(F.col("_nan") == 1, _nan_lit()).otherwise(F.col("_v")),
        )

    def _fn_stddev_over_time(self, node):
        return self._over_time(
            node, _NAIVE_VAR_AGGS(), F.sqrt(_naive_var_final())
        )

    def _fn_stdvar_over_time(self, node):
        return self._over_time(node, _NAIVE_VAR_AGGS(), _naive_var_final())

    def _fn_quantile_over_time(self, node):
        pv = self._scalar_param(node.args[0], "quantile_over_time")
        if pv.const is None:
            # step-varying φ: aggregate the window parts, then join the
            # per-step φ and interpolate with the column-q kernel;
            # NaN-φ errors only for (series, step) cells that evaluate,
            # like the reference's in-loop panic (quantile.go:183-190)
            v = F.col("v")
            ms = self._matrix_arg(node.args[1])
            df = _matrix_agg(
                ms,
                self.ctx,
                {
                    "_cnt": F.count(F.lit(1)).cast("double"),
                    "_nn": F.sum(F.when(F.isnan(v), 1).otherwise(0)).cast(
                        "double"
                    ),
                    "_arr": F.array_sort(
                        F.collect_list(F.when(~F.isnan(v), v))
                    ),
                },
            )
            df, qcol = self._scalar_col(pv, df, "_q")
            base = _go_quantile_from_parts(
                qcol, F.col("_cnt"), F.col("_nn"), F.col("_arr")
            )
            val = (
                F.when(
                    F.isnan(qcol),
                    F.raise_error(
                        F.lit("quantile_over_time: invalid quantile value NaN")
                    ),
                )
                .when(qcol < 0, F.lit(-INF).cast("double"))
                .when(qcol > 1, F.lit(INF).cast("double"))
                .otherwise(base)
            )
            out = df.select(
                "step_t",
                "labels",
                val.cast("double").alias("v"),
                F.lit(None).cast("long").alias("sample_t"),
            )
            return VectorValue(out)
        q = pv.const
        if math.isnan(q):
            # same recovered-panic → error path as the quantile
            # aggregator (quantile.go:183-190), deferred to evaluation so
            # an empty range vector yields an empty result with no error
            mv = F.col("_v")
            return self._over_time(
                node,
                {"_v": F.max("v")},
                _raise_if(
                    F.isnan(mv) | ~F.isnan(mv),
                    mv,
                    "quantile_over_time: invalid quantile value NaN",
                ),
            )
        if q < 0:
            # φ∉[0,1] → ∓Inf per quantile() semantics (functions.go)
            return self._over_time(
                node, {"_v": F.max("v")}, F.lit(-INF).cast("double")
            )
        if q > 1:
            return self._over_time(
                node, {"_v": F.max("v")}, F.lit(INF).cast("double")
            )
        v = F.col("v")
        # Go quantile with NaN-first ordering (see _go_quantile_agg)
        return self._over_time(
            node,
            {
                "_cnt": F.count(F.lit(1)).cast("double"),
                "_nn": F.sum(F.when(F.isnan(v), 1).otherwise(0)).cast(
                    "double"
                ),
                "_arr": F.array_sort(
                    F.collect_list(F.when(~F.isnan(v), v))
                ),
            },
            _go_quantile_from_parts(
                q, F.col("_cnt"), F.col("_nn"), F.col("_arr")
            ),
        )

    # ---- rate family -------------------------------------------------
    def _rate_like(self, node, is_counter: bool, is_rate: bool) -> VectorValue:
        """Bit-for-bit port of the extrapolation formula at
        ``functions.go:99-119`` (see SURVEY.md §2.5), expressed as plain
        hash aggregates over the lag-carrying grid: first/last via
        ``min_by``/``max_by`` on sample time, the counter reset
        correction as a conditional ``sum`` over consecutive in-window
        pairs, and the extrapolation arithmetic as post-aggregation
        columns — all whole-stage-codegen friendly, with map-side
        partial aggregation (no interpreted ``aggregate`` folds)."""
        ms = self._matrix_arg(node.args[0])
        # Batched SQL strings (parsed JVM-side), not a Column-op forest
        # — plan construction is py4j-round-trip-bound and the rate
        # family is the hottest shape (PERF §13). The SQL mirrors the
        # former Column tree term for term; every float literal carries
        # the D suffix so it parses as DOUBLE (bare decimals are
        # DECIMAL in Spark SQL), matching the old F.lit doubles.
        def aggs(prev_in_sql):
            cols = [
                F.expr("count(1) AS _n"),
                F.expr("min(ts) AS _first_t"),
                F.expr("max(ts) AS _last_t"),
                F.expr("min_by(v, ts) AS _first_v"),
                F.expr("max_by(v, ts) AS _last_v"),
            ]
            if is_counter:
                # Go's `sample.V < lastValue` is FALSE when either side
                # is NaN, so a NaN sample never triggers a correction;
                # Spark ranks NaN above everything, which would add a
                # bogus NaN correction on the NaN→x transition — guard
                # both sides explicitly (functions.go:50-127)
                cols.append(
                    F.expr(
                        f"sum(CASE WHEN {prev_in_sql} AND NOT isnan(v) "
                        "AND NOT isnan(prev_v) AND v < prev_v "
                        "THEN prev_v ELSE 0.0D END) AS _corr"
                    )
                )
            return cols

        df = self._route_rate_rollup(ms, is_counter)
        if df is None:
            df = _pair_kernel_agg(ms, self.ctx, aggs)
        df = df.filter("_n >= 2")
        val = _extrapolated_val_sql(ms.range_ms, is_counter, is_rate)
        out = df.selectExpr(
            "step_t",
            "labels",
            f"CAST({val} AS DOUBLE) AS v",
            "CAST(NULL AS BIGINT) AS sample_t",
        )
        return VectorValue(out)

    def _route_rate_rollup(self, ms, is_counter: bool) -> DataFrame | None:
        """Opt-in EXACT rollup routing for the extrapolation family
        (timbala_spark.rollup): produce the same ``_n``/``_first_*``/
        ``_last_*``/``_corr`` frame ``_pair_kernel_agg`` yields, from
        the registered rollup — first/last via min_by/max_by over the
        per-window first/last columns, the reset correction as the sum
        of within-window pre-aggregates plus cross-window boundary
        drops reconstructed by the pair grid's lag. Returns None when
        no registered resolution tiles this query (→ raw path)."""
        fn = "rate" if is_counter else "delta"
        w = pick_rollup(
            self.ctx.rollups,
            ms.range_ms,
            ms.offset_ms,
            self.ctx.start,
            self.ctx.step,
            self.ctx.n_steps,
            fn,
        )
        if w is None:
            return None

        def aggs():
            cols = [
                F.expr("sum(e_cnt) AS _n"),
                F.expr("min(e_f_ts) AS _first_t"),
                F.expr("max(e_l_ts) AS _last_t"),
                F.expr("min_by(e_f_v, e_f_ts) AS _first_v"),
                F.expr("max_by(e_l_v, e_l_ts) AS _last_v"),
            ]
            if is_counter:
                # same NaN guards as the raw kernel (Go `v < last` is
                # FALSE when either side is NaN)
                cols.append(
                    F.expr(
                        "sum(e_corr + CASE WHEN prev_l_v IS NOT NULL "
                        "AND NOT isnan(e_f_v) AND NOT isnan(prev_l_v) "
                        "AND e_f_v < prev_l_v THEN prev_l_v "
                        "ELSE 0.0D END) AS _corr"
                    )
                )
            return cols

        return _rollup_pair_agg(ms, self.ctx, w, aggs)

    def _fn_rate(self, node):
        return self._rate_like(node, is_counter=True, is_rate=True)

    def _fn_increase(self, node):
        return self._rate_like(node, is_counter=True, is_rate=False)

    def _fn_delta(self, node):
        return self._rate_like(node, is_counter=False, is_rate=False)

    def _instant_pair(self, node, is_rate: bool) -> VectorValue:
        """irate/idelta from the last two samples (functions.go:144-191).

        The last in-window sample's per-series predecessor IS the
        second-to-last in-window sample whenever the window holds ≥2
        samples (windows are intervals), so one ``max_by`` on the lagged
        grid replaces the sorted-array indexing."""
        ms = self._matrix_arg(node.args[0])

        def aggs(prev_in_sql):
            return [
                F.expr(
                    "max_by(named_struct("
                    "'ts', ts, 'v', v, 'prev_ts', prev_ts, "
                    f"'prev_v', prev_v, 'prev_in', {prev_in_sql}), ts) AS _s"
                )
            ]

        df = self._route_instant_pair_rollup(
            ms, "irate" if is_rate else "idelta"
        )
        if df is None:
            df = _pair_kernel_agg(ms, self.ctx, aggs)
        s = F.col("_s")
        dt_ms = s["ts"] - s["prev_ts"]
        df = df.filter(s["prev_in"] & (dt_ms != 0))
        if is_rate:
            # Go's reset check `last < prev` is false on NaN (the
            # difference NaN propagates instead); Spark's NaN-is-greatest
            # ordering would take the reset branch and return a finite
            # value — guard so NaN pairs propagate NaN like the reference
            dv = F.when(
                ~F.isnan(s["v"]) & ~F.isnan(s["prev_v"])
                & (s["v"] < s["prev_v"]),
                s["v"],
            ).otherwise(s["v"] - s["prev_v"])
            val = dv / (dt_ms.cast("double") / F.lit(1000.0))
        else:
            val = s["v"] - s["prev_v"]
        out = df.select(
            "step_t", "labels", val.cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    def _route_instant_pair_rollup(self, ms, fn_name: str) -> DataFrame | None:
        """Rollup routing for irate/idelta: the last two in-range
        samples are (tail window's second-last, tail window's last) —
        or, when the tail window holds a single in-range sample, the
        previous PRESENT window's last stands in (windows tile time,
        so nothing can lie between present windows). The result is
        normalized into the raw kernel's ``_s`` struct so the
        arithmetic tail is shared verbatim."""
        w = pick_rollup(
            self.ctx.rollups,
            ms.range_ms,
            ms.offset_ms,
            self.ctx.start,
            self.ctx.step,
            self.ctx.n_steps,
            fn_name,
        )
        if w is None:
            return None

        def aggs():
            return [
                F.expr(
                    "max_by(named_struct("
                    "'ts', e_l_ts, 'v', e_l_v, "
                    "'l2_ts', e_l2_ts, 'l2_v', e_l2_v, "
                    "'p_ts', prev_l_ts, 'p_v', prev_l_v), e_l_ts) AS _t"
                )
            ]

        df = _rollup_pair_agg(ms, self.ctx, w, aggs)
        # prefer the tail window's own predecessor (always later than
        # any other window's last); prev_in is its existence — both
        # candidates are in range by construction
        return df.selectExpr(
            "step_t",
            "labels",
            "named_struct("
            "'ts', _t.ts, 'v', _t.v, "
            "'prev_ts', CASE WHEN _t.l2_ts IS NOT NULL THEN _t.l2_ts "
            "ELSE _t.p_ts END, "
            "'prev_v', CASE WHEN _t.l2_ts IS NOT NULL THEN _t.l2_v "
            "ELSE _t.p_v END, "
            "'prev_in', (_t.l2_ts IS NOT NULL OR _t.p_ts IS NOT NULL)"
            ") AS _s",
        )

    def _fn_irate(self, node):
        return self._instant_pair(node, is_rate=True)

    def _fn_idelta(self, node):
        return self._instant_pair(node, is_rate=False)

    def _pair_count(self, node, count_cond_sql: str) -> VectorValue:
        """resets/changes (functions.go:730-776) as a conditional sum
        over consecutive in-window pairs on the lagged grid; groups with
        a single sample sum zero qualifying pairs → 0, like the fold.
        ``count_cond_sql`` is a SQL boolean over ``prev_v``/``v``."""
        ms = self._matrix_arg(node.args[0])

        def aggs(prev_in_sql):
            return [
                F.expr(
                    f"sum(CASE WHEN {prev_in_sql} AND ({count_cond_sql}) "
                    "THEN 1.0D ELSE 0.0D END) AS _cnt"
                )
            ]

        df = self._route_pair_count_rollup(ms, node.func.name)
        if df is None:
            df = _pair_kernel_agg(ms, self.ctx, aggs)
        out = df.select(
            "step_t", "labels", F.col("_cnt").cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    def _route_pair_count_rollup(self, ms, fn_name: str) -> DataFrame | None:
        """Rollup routing for resets/changes: within-window counts are
        pre-aggregated at build time (``rst``/``chg``); the cross-window
        pair is evaluated with the SAME raw condition re-bound to
        (prev window's last value, next window's first value)."""
        w = pick_rollup(
            self.ctx.rollups,
            ms.range_ms,
            ms.offset_ms,
            self.ctx.start,
            self.ctx.step,
            self.ctx.n_steps,
            fn_name,
        )
        if w is None:
            return None
        if fn_name == "resets":
            within = "e_rst"
            cross = (
                "NOT isnan(prev_l_v) AND NOT isnan(e_f_v)"
                " AND e_f_v < prev_l_v"
            )
        else:  # changes
            within = "e_chg"
            cross = (
                "e_f_v != prev_l_v"
                " AND NOT (isnan(e_f_v) AND isnan(prev_l_v))"
            )

        def aggs():
            return [
                F.expr(
                    f"sum({within} + CASE WHEN prev_l_v IS NOT NULL "
                    f"AND ({cross}) THEN 1.0D ELSE 0.0D END) AS _cnt"
                )
            ]

        return _rollup_pair_agg(ms, self.ctx, w, aggs)

    def _fn_resets(self, node):
        # Go `cur < prev` is FALSE whenever either side is NaN
        # (functions.go resets); Spark's ordering comparison instead
        # ranks NaN above everything (so 2.0 < NaN would count a bogus
        # reset on a NaN→2 transition) — guard both sides explicitly
        return self._pair_count(
            node, "NOT isnan(prev_v) AND NOT isnan(v) AND v < prev_v"
        )

    def _fn_changes(self, node):
        # Spark's `!=` already treats NaN = NaN as equal (no change);
        # keep the explicit guard for parity with functions.go anyway
        return self._pair_count(
            node, "v != prev_v AND NOT (isnan(v) AND isnan(prev_v))"
        )

    #: verbatim funcHoltWinters messages, quirks included: no comma
    #: before the "goT" typo, ``%f`` formatting — and the TREND message
    #: prints the SMOOTHING factor's value (``ev.errorf(..., sf)`` on
    #: ``functions.go:231``), an observable reference bug kept
    #: bug-for-bug like the naive stddev.
    _HW_SF_MSG = "invalid smoothing factor. Expected: 0 < sf < 1 goT: "
    _HW_TF_MSG = "invalid trend factor. Expected: 0 < tf < 1 goT: "

    def _fn_holt_winters(self, node):
        ms = self._matrix_arg(node.args[0])
        sfv = self._scalar_param(node.args[1], "holt_winters smoothing factor")
        tfv = self._scalar_param(node.args[2], "holt_winters trend factor")
        df = _matrix_points(ms, self.ctx).filter(F.size("pts") >= 2)
        sf: float | Column
        tf: float | Column
        if sfv.const is not None and tfv.const is not None:
            sf, tf = sfv.const, tfv.const
            if not (0 < sf < 1):
                raise PromQLEvalError(self._HW_SF_MSG + _go_f_fmt_str(sf))
            if not (0 < tf < 1):
                raise PromQLEvalError(self._HW_TF_MSG + _go_f_fmt_str(sf))
        else:
            # at least one factor varies per step. funcHoltWinters
            # sanity-checks both factors per evaluation BEFORE touching
            # the matrix, sf first — so the raises live on the
            # broadcast step grid (they fire even for steps whose every
            # series has < 2 points), and the trend check is gated on
            # sf being valid so the sf error wins deterministically
            # when both are out of range at one step.
            sgrid = self.ctx.scalar_df(sfv).select(
                "step_t", F.col("v").alias("_sfr")
            )
            tgrid = self.ctx.scalar_df(tfv).select(
                "step_t", F.col("v").alias("_tfr")
            )
            sf_ok = (F.col("_sfr") > 0) & (F.col("_sfr") < 1)
            tf_ok = (F.col("_tfr") > 0) & (F.col("_tfr") < 1)
            checked = sgrid.join(tgrid, "step_t").select(
                "step_t",
                _raise_if(
                    ~sf_ok,
                    F.col("_sfr"),
                    F.concat(
                        F.lit(self._HW_SF_MSG), _go_f_fmt(F.col("_sfr"))
                    ),
                ).alias("_sf"),
                _raise_if(
                    sf_ok & ~tf_ok,
                    F.col("_tfr"),
                    F.concat(  # sf's value on purpose — see _HW_TF_MSG
                        F.lit(self._HW_TF_MSG), _go_f_fmt(F.col("_sfr"))
                    ),
                ).alias("_tf"),
            )
            df = df.join(F.broadcast(checked), "step_t")
            sf, tf = F.col("_sf"), F.col("_tf")
        val = _holt_winters_expr(F.col("pts"), sf, tf)
        out = df.select(
            "step_t", "labels", val.cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    # ---- regression --------------------------------------------------
    def _linreg(self, node, predict_seconds: Expr | None) -> VectorValue:
        """deriv / predict_linear via least squares
        (``linearRegression``, functions.go:617-688). slope/intercept are
        computed with shift-invariant covariance/variance aggregates —
        numerically equivalent, fully partial-aggregatable."""
        ms = self._matrix_arg(node.args[0])
        # x in seconds relative to the window start (conditioning only)
        aggs = {
            "_n": F.count(F.lit(1)),
            "_cov": F.covar_pop(F.col("_x"), F.col("v")),
            "_var": F.var_pop(F.col("_x")),
            "_avgx": F.avg(F.col("_x")),
            "_avgv": F.avg(F.col("v")),
        }
        g = _matrix_grouped(ms, self.ctx).withColumn(
            "_x",
            (
                (F.col("ts") - F.col("step_t")).cast("double") / F.lit(1000.0)
            ),
        )
        out = g.groupBy("series_id", "step_t").agg(
            F.max_by("labels", "ts").alias("_labels"),
            *[v.alias(k) for k, v in aggs.items()],
        )
        slope = F.col("_cov") / F.col("_var")
        if predict_seconds is None:
            val = slope
        else:
            pv = self._scalar_param(predict_seconds, "predict_linear")
            out, kcol = self._scalar_col(pv, out, "_t")
            intercept = F.col("_avgv") - slope * F.col("_avgx")
            val = slope * kcol + intercept
        out = out.filter(F.col("_n") >= 2).select(
            "step_t",
            F.expr(restrict_labels_sql("_labels", drop_name=True)).alias("labels"),
            val.cast("double").alias("v"),
            F.lit(None).cast("long").alias("sample_t"),
        )
        return VectorValue(out)

    def _fn_deriv(self, node):
        return self._linreg(node, None)

    def _fn_predict_linear(self, node):
        return self._linreg(node, node.args[1])

    # ---- histogram_quantile ------------------------------------------
    def _fn_histogram_quantile(self, node):
        """``bucketQuantile`` + ``ensureMonotonic``
        (``promql/quantile.go:49-153``) as staged SQL expressions.

        Staged ``selectExpr`` columns (``_mono``/``_rank``/``_idxed``…)
        replace the former single Column forest: each shared
        subexpression is computed into a column and REFERENCED
        downstream instead of duplicating its subtree at every use —
        smaller tree, and batched JVM-side parsing (PERF §13). Values
        are unchanged (same expressions over the same inputs)."""
        pv = self._scalar_param(node.args[0], "histogram_quantile")
        inner = self.compile(node.args[1])
        assert isinstance(inner, VectorValue)
        le_raw = "lower(coalesce(try_element_at(labels, 'le'), ''))"
        le_sql = (
            f"CASE WHEN {le_raw} IN ('+inf', 'inf') THEN {_INF_SQL} "
            f"WHEN {le_raw} = '-inf' THEN CAST('-Infinity' AS DOUBLE) "
            "ELSE try_cast(coalesce(try_element_at(labels, 'le'), '') "
            "AS DOUBLE) END"
        )
        grp_sql = restrict_labels_sql("labels", drop=["le"], drop_name=True)
        df = (
            inner.df.selectExpr("*", f"{le_sql} AS _le")
            .filter("_le IS NOT NULL")  # unparseable bounds skipped
            .selectExpr("*", f"{grp_sql} AS _gmap")
            .selectExpr("*", f"{canonical_labels_sql('_gmap')} AS _gsig")
        )
        g = df.groupBy("step_t", "_gsig").agg(
            F.expr("first(_gmap) AS labels"),
            F.expr("sort_array(collect_list(named_struct('le', _le, 'v', v))) AS bk"),
        )
        if pv.const is not None:
            # constant φ: the ∉[0,1] clamps resolve at compile time
            q = float(pv.const)
            if q < 0:
                g = g.selectExpr("*", f"{sql_double(-INF)} AS _hq")
            elif q > 1:
                g = g.selectExpr("*", f"{_INF_SQL} AS _hq")
            else:
                # q = NaN passes both clamps (comparisons false), like
                # the reference
                g = self._bucket_quantile_cols(g, sql_double(q))
        else:
            g, _ = self._scalar_col(pv, g, "_q")
            g = self._bucket_quantile_cols(g, "_q")
            g = g.withColumn(
                "_hq",
                F.expr(
                    "CASE WHEN _q < 0 THEN CAST('-Infinity' AS DOUBLE) "
                    f"WHEN _q > 1 THEN {_INF_SQL} ELSE _hq END"
                ),
            )
        out = g.selectExpr(
            "step_t",
            "labels",
            "CAST(_hq AS DOUBLE) AS v",
            "CAST(NULL AS BIGINT) AS sample_t",
        )
        return VectorValue(out)

    @staticmethod
    def _bucket_quantile_cols(g: DataFrame, q_sql: str) -> DataFrame:
        """Append ``_hq`` = bucketQuantile(q, bk) via staged columns.
        ``q_sql`` is a SQL scalar (literal or column reference)."""
        # ensureMonotonic (quantile.go:133-153): running max of
        # cumulative counts
        mono = (
            "aggregate(bk, "
            "CAST(array() AS ARRAY<STRUCT<le: DOUBLE, v: DOUBLE>>), "
            "(acc, b) -> concat(acc, array(named_struct("
            "'le', b.le, "
            "'v', greatest(b.v, coalesce(get(acc, size(acc) - 1).v, "
            "CAST('-Infinity' AS DOUBLE)))))))"
        )
        g = g.selectExpr("*", f"{mono} AS _mono", "size(bk) AS _n")
        # counts are non-decreasing after ensureMonotonic, so the buckets
        # with count >= rank form a suffix. Go's sort.Search runs over
        # the first n-1 buckets ONLY (quantile.go:89) and lands on n-2's
        # bound when nothing matches — reproduce that domain exactly, or
        # a NaN rank (q=NaN: every comparison false) would index past
        # the array and emit NULL instead of the reference's answer.
        g = g.selectExpr(
            "*", f"({q_sql}) * get(_mono, _n - 1).v AS _rank"
        ).selectExpr(
            "*", "filter(slice(_mono, 1, _n - 1), b -> b.v >= _rank) AS _idxed"
        ).selectExpr(
            "*", "(_n - 1) - size(_idxed) AS _bidx"
        )
        prev_v = "(CASE WHEN _bidx > 0 THEN get(_mono, _bidx - 1).v ELSE 0.0D END)"
        bucket_start = (
            "(CASE WHEN _bidx > 0 THEN get(_mono, _bidx - 1).le ELSE 0.0D END)"
        )
        # the in-bucket count can be zero ONLY at b=0 with rank=0 (for
        # b>0 Search guarantees prev < rank <= cum_b, so the difference
        # is positive): Go's 0/0 is NaN (an all-zero histogram answers
        # NaN, quantile.go:107), where ANSI division would abort
        denom = f"(get(_mono, _bidx).v - {prev_v})"
        interp = (
            f"({bucket_start} + (get(_idxed, 0).le - {bucket_start}) "
            f"* (CASE WHEN {denom} = 0.0D THEN {_NAN_SQL} "
            f"ELSE (_rank - {prev_v}) / {denom} END))"
        )
        val = (
            f"CASE WHEN _n < 2 THEN {_NAN_SQL} "
            f"WHEN get(bk, _n - 1).le != {_INF_SQL} THEN {_NAN_SQL} "
            "WHEN _bidx = _n - 1 THEN get(_mono, _n - 2).le "
            "WHEN _bidx = 0 AND get(_mono, 0).le <= 0 THEN get(_mono, 0).le "
            f"ELSE {interp} END"
        )
        return g.selectExpr("*", f"{val} AS _hq").drop(
            "_mono", "_n", "_rank", "_idxed", "_bidx"
        )


def compile_query(expr: Expr, ctx: EvalContext) -> Value:
    return Compiler(ctx).compile(expr)
