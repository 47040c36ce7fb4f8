"""Thin Prometheus-HTTP-API-shaped facade over the Engine.

Produces the exact JSON envelope of the reference
(``internal/api/v1/api.go:70-75,373-413``): ``{"status": "success",
"data": {"resultType": ..., "result": ...}}`` with sample values
serialized as Go-shortest 'f'-format strings, and the error taxonomy
(``api.go:44-52,387-401``).  Transport-agnostic: wire it behind any
HTTP server; returning plain dicts keeps it testable without one.
"""

from __future__ import annotations

import decimal
import itertools
import json
import math
import re
import threading
from dataclasses import dataclass
from time import monotonic

from pyspark.sql import functions as F

from . import frontend
from .compiler import PromQLBadQueryError, matcher_expr
from .engine import Engine, _unparen
from .model import (
    METRIC_NAME_LABEL,
    SEP_KV,
    SEP_PAIR,
    canonical_labels_sql,
    label_get,
)
from .promql.ast import Call, StringLiteral, ValueType
from .promql.lexer import PromQLSyntaxError
from .promql.parser import parse, parse_metric_selector

ERR_BAD_DATA = "bad_data"
ERR_TIMEOUT = "timeout"
ERR_EXEC = "execution"
ERR_INTERNAL = "internal"


class APIError(Exception):
    def __init__(self, typ: str, message: str):
        super().__init__(message)
        self.typ = typ


def go_float_str(v: float) -> str:
    """strconv.FormatFloat(v, 'f', -1, 64) — shortest round-trip
    decimal, no exponent (the reference's JSON value encoding)."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    # repr is already the shortest round-trip digits; it needs the
    # Decimal expansion only when it chose an exponent (|v| < 1e-4 or
    # ≥ 1e16), which 'f' format never shows
    txt = repr(v)
    if "e" in txt:
        txt = format(decimal.Decimal(txt), "f")
    if "." in txt:
        txt = txt.rstrip("0").rstrip(".")
    return txt


class QueryTimeout(RuntimeError):
    pass


def _canon_key(labels: dict) -> str:
    """``model.canonical_labels_sql``'s serialization, driver-side — the wire
    output order is applied here, after the (bounded) collect, instead
    of as a Spark-side all-to-one sort stage in the engine plan."""
    return SEP_PAIR.join(f"{k}{SEP_KV}{v}" for k, v in sorted(labels.items()))


def _value_ordered(expr) -> bool:
    """``sort``/``sort_desc`` results carry their own order (the
    engine preserves it); everything else gets the canonical wire
    order, applied post-collect."""
    inner = _unparen(expr)
    return isinstance(inner, Call) and inner.func.name in ("sort", "sort_desc")


@dataclass
class PromAPI:
    """Prometheus HTTP API facade.

    Admission mirrors the reference's engine gate: at most
    ``max_concurrent`` queries execute at once, excess queue, and the
    timeout covers queue wait + execution
    (``cmd/timbala/main.go:218-223`` MaxConcurrentQueries=20 /
    Timeout=2m; gate semantics ``promql/engine.go:1474-1503``).
    A timed-out execution cancels its Spark job group, so cluster
    resources are released, not leaked.
    """

    engine: Engine
    max_concurrent: int = 20
    timeout_s: float = 120.0
    #: range-results cache budget in cached ROWS (0 disables): the
    #: query-frontend analog (see timbala_spark.frontend) serving
    #: advancing-`now()` dashboards that the engine's absolute-time
    #: plan cache cannot. Scoped to this PromAPI — the server builds a
    #: fresh PromAPI whenever the store changes, so nothing is ever
    #: served across snapshots.
    range_cache_rows: int = 2_000_000
    #: driver-boundedness guard for the metadata endpoints
    #: (label_values / series): they are the ONLY collects whose size
    #: is data-cardinality-bound rather than grid-bound, and at the
    #: reference's 40 M-active-series bar an unmatched ``/series`` (or
    #: ``label_values("instance")``) would materialize millions of
    #: rows on the driver. The reference streams from a local index so
    #: it has no such cliff (``api.go:252-341``); the Spark analog
    #: caps the collect with ``limit(N+1)`` (TakeOrderedAndProject /
    #: CollectLimit — bounded executor→driver transfer) and past the
    #: cap answers a TRUNCATED success carrying a ``warnings`` entry —
    #: the later-Prometheus ``limit=`` contract, and strictly more
    #: compatible with consumers of the reference's unbounded API than
    #: a hard error. ``None`` restores the unbounded reference
    #: contract exactly. A 1 M default is already a >50 MB JSON
    #: response — past any dashboard's use.
    meta_limit: int | None = 1_000_000

    def __post_init__(self) -> None:
        self._gate = threading.BoundedSemaphore(self.max_concurrent)
        self._gid = itertools.count()
        self._range_cache = (
            frontend.RangeResultCache(self.range_cache_rows)
            if self.range_cache_rows > 0
            else None
        )
        # encoded query_range, label values and /series answers of this
        # snapshot (the server fills it)
        self.responses = frontend.ResponseCache(frontend.RESPONSE_CACHE_BYTES)

    def _gated_collect(self, df, timeout_s: float | None = None) -> list:
        # per-request timeout (api.go:155-163,219-227): the request's
        # context and the engine's global budget BOTH apply -> min
        budget = (
            self.timeout_s
            if timeout_s is None
            else min(self.timeout_s, timeout_s)
        )
        t0 = monotonic()
        if not self._gate.acquire(timeout=budget):
            raise QueryTimeout("query queue wait exceeded timeout")
        try:
            remaining = max(budget - (monotonic() - t0), 0.001)
            sc = self.engine.spark.sparkContext
            gid = f"promapi-{next(self._gid)}"
            out: list = []
            err: list = []

            def run() -> None:
                try:
                    sc.setJobGroup(gid, "PromAPI query", interruptOnCancel=True)
                    out.append(df.collect())
                except Exception as e:  # surfaced as ERR_EXEC by callers
                    err.append(e)

            th = threading.Thread(target=run, daemon=True)
            th.start()
            th.join(remaining)
            if th.is_alive():
                sc.cancelJobGroup(gid)
                raise QueryTimeout("query evaluation exceeded timeout")
            if err:
                raise err[0]
            return out[0]
        finally:
            self._gate.release()

    def _normalize_timeout(
        self, timeout: float | str | None
    ) -> tuple[float | None, dict | None]:
        """Per-request ``timeout`` parameter → (seconds, error
        envelope). A string parses with the handler's parseDuration
        (malformed → bad_data, api.go:157-162)."""
        if timeout is None:
            return None, None
        if isinstance(timeout, str):
            from .server import _parse_duration

            try:
                return _parse_duration(timeout), None
            except ValueError as e:
                return None, self._error(ERR_BAD_DATA, str(e))
        return float(timeout), None

    # -- GET /api/v1/query (api.go:142-185) ---------------------------
    def query(
        self, query: str, time: float, timeout: float | str | None = None
    ) -> dict:
        # the handler validates time (caller) and timeout BEFORE the
        # query text is parsed (api.go:143-166)
        timeout_s, err = self._normalize_timeout(timeout)
        if err is not None:
            return err
        try:
            expr = parse(query)
        except PromQLSyntaxError as e:
            return self._error(ERR_BAD_DATA, str(e))
        if expr.type == ValueType.STRING:
            inner = expr
            while hasattr(inner, "expr"):
                inner = inner.expr
            assert isinstance(inner, StringLiteral)
            return self._success(
                {"resultType": "string", "result": [time, inner.value]}
            )
        rows = None
        # an instant query at a whole-second ``time`` is the grid point
        # ``time`` of a 1 s-step range evaluation (range grids evaluate
        # each step independently — the reference walks the same
        # ``evalInstant`` per grid point, ``promql/engine.go:1016-
        # 1044``), so advancing-``now()`` instant dashboards share one
        # window per lookback-long cell. Raw-sample matrices are not
        # range-able, and ``sort``/``sort_desc`` answer in the plan's
        # collect order, which a shared cache must not assume; both and
        # any ``time`` off the 1 s grid take the direct path.
        cacheable = expr.type in (ValueType.SCALAR, ValueType.VECTOR)
        if cacheable and not _value_ordered(expr):
            t_ms = int(round(time * 1000))
            if t_ms % frontend.INSTANT_STEP_MS == 0:
                try:
                    rows = self._window_rows(
                        query, t_ms, t_ms, frontend.INSTANT_STEP_MS, timeout_s
                    )
                except QueryTimeout as e:
                    return self._error(ERR_TIMEOUT, str(e))
        if rows is None:  # direct, uncached path
            try:
                df = self.engine.query(query, time)
            except PromQLBadQueryError as e:
                return self._error(ERR_BAD_DATA, str(e))
            except PromQLSyntaxError as e:
                return self._error(ERR_BAD_DATA, str(e))
            except Exception as e:
                # anything else surfaces inside the reference's Exec
                # (arg-domain checks like holt_winters' factors run
                # AFTER NewInstantQuery) -> errorExec, api.go:170-180
                return self._error(ERR_EXEC, str(e))
            try:
                rows = self._gated_collect(df, timeout_s)
            except QueryTimeout as e:
                return self._error(ERR_TIMEOUT, str(e))
            except Exception as e:  # runtime errors (engine.go -> errorExec)
                return self._error(ERR_EXEC, str(e))
        if expr.type == ValueType.SCALAR:
            v = rows[0]["v"] if rows else math.nan
            return self._success(
                {"resultType": "scalar", "result": [time, go_float_str(v)]}
            )
        if expr.type == ValueType.MATRIX:
            return self._success(
                {"resultType": "matrix", "result": self._matrix(rows)}
            )
        if not _value_ordered(expr):
            rows = sorted(
                rows, key=lambda r: (_canon_key(dict(r["labels"])), r["t"])
            )
        result = [
            {
                "metric": dict(r["labels"]),
                "value": [r["t"] / 1000.0, go_float_str(r["v"])],
            }
            for r in rows
        ]
        return self._success({"resultType": "vector", "result": result})

    # -- GET /api/v1/query_range (api.go:187-250) ---------------------
    def query_range(
        self,
        query: str,
        start: float,
        end: float,
        step: float,
        timeout: float | str | None = None,
    ) -> dict:
        # guard ORDER is the reference's (api.go:186-216): end-before-
        # start, then step, then the points cap — all checked BEFORE
        # the query text is even parsed, so a request violating several
        # answers with the same message the reference picks
        if end < start:
            return self._error(
                ERR_BAD_DATA, "end timestamp must not be before start time"
            )
        # durations compare in nanoseconds, as the reference's
        # time.Duration arithmetic does: a step finer than 1 ms still
        # divides, and one under 1 ns is zero
        step_ns = int(round(step * 1e9)) if step > 0 else 0
        if step_ns <= 0:
            return self._error(
                ERR_BAD_DATA,
                "zero or negative query resolution step widths are not "
                "accepted. Try a positive integer",
            )
        start_ms, end_ms = int(round(start * 1000)), int(round(end * 1000))
        if (end_ms - start_ms) * 1_000_000 // step_ns > self.engine.max_points:
            return self._error(
                ERR_BAD_DATA,
                f"exceeded maximum resolution of {self.engine.max_points:,} "
                "points per timeseries. Try decreasing the query "
                "resolution (?step=XX)",
            )
        # timeout validates AFTER the cap and BEFORE the query text
        # parses (api.go:218-231)
        timeout_s, err = self._normalize_timeout(timeout)
        if err is not None:
            return err
        try:
            rows = self._window_rows(
                query, start_ms, end_ms, int(round(step * 1000)), timeout_s
            )
        except QueryTimeout as e:
            return self._error(ERR_TIMEOUT, str(e))
        if rows is None:  # direct, uncached path
            try:
                df = self.engine.query_range(query, start, end, step)
            except (PromQLBadQueryError, PromQLSyntaxError) as e:
                return self._error(ERR_BAD_DATA, str(e))
            except Exception as e:  # reference hits these in Exec -> errorExec
                return self._error(ERR_EXEC, str(e))
            try:
                rows = self._gated_collect(df, timeout_s)
            except QueryTimeout as e:
                return self._error(ERR_TIMEOUT, str(e))
            except Exception as e:
                return self._error(ERR_EXEC, str(e))
        return self._success({"resultType": "matrix", "result": self._matrix(rows)})

    def _window_rows(
        self,
        query: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        timeout_s: float | None,
    ) -> list | None:
        """The rows of ``[start, end]`` at ``step``, evaluated over the
        enclosing quantum window (:func:`frontend.quantize_range`) and
        served from the snapshot's results cache; an instant query is
        the case ``start = end``, and its cell is the engine's lookback
        (:func:`frontend.instant_quantum_ms`). The widened grid
        preserves the request's step phase, so its rows in ``[start,
        end]`` are exactly the requested grid points (range evaluation
        is per-step independent). A timeout raises
        :class:`QueryTimeout`. Returns None to take the exact direct
        path: cache off, a step under 1 ms, a widened grid past the
        points cap, a ``(query, step)`` whose window of this extent was
        once too big for the rows budget, or any evaluation error
        (errors must surface with the semantics of the REQUESTED window
        — and since the widened grid is a superset, an error at a
        requested point always re-raises there)."""
        cache = self._range_cache
        if cache is None or step_ms <= 0:
            return None
        quantum = (
            frontend.instant_quantum_ms(self.engine.lookback_ms)
            if start_ms == end_ms
            else None
        )
        a, b = frontend.quantize_range(start_ms, end_ms, step_ms, quantum)
        if (b - a) // step_ms > self.engine.max_points:
            return None
        # a window over the budget is never stored: its (query, step,
        # extent) keeps a marker (one overhead charge) instead, so the
        # next request for a window that size does not fill it again
        too_big = (query, step_ms, b - a)
        if cache.get(too_big) is not None:
            return None

        def fill() -> frontend.WindowRows:
            window = frontend.WindowRows(
                self._gated_collect(
                    self.engine.query_range(
                        query, a / 1000.0, b / 1000.0, step_ms / 1000.0
                    ),
                    timeout_s,
                )
            )
            if not cache.fits(too_big, window):
                cache.put(too_big, ())
            return window

        try:
            window = cache.get_or_fill((query, step_ms, a, b), fill)
        except QueryTimeout:
            raise
        except Exception:
            return None
        return window.between(start_ms, end_ms, step_ms)

    def _matrix(self, rows) -> list[dict]:
        by_series: dict[tuple, dict] = {}
        for r in rows:
            labels = dict(r["labels"])
            key = tuple(sorted(labels.items()))
            entry = by_series.setdefault(key, {"metric": labels, "values": []})
            entry["values"].append([r["t"] / 1000.0, go_float_str(r["v"])])
        for entry in by_series.values():  # engine output is unsorted now
            entry["values"].sort(key=lambda tv: tv[0])
        return [by_series[k] for k in sorted(by_series)]

    # -- POST /read (remote-read serve, internal/read/read.go:45-126) -
    def read(self, match: str, start: float, end: float):
        """Remote-read analog: matchers + time range → raw samples
        DataFrame (labels, t, v). The reference serves this as snappy
        protobuf; transport is out of scope here."""
        matchers = parse_metric_selector(match)
        df = self.engine.samples.filter(
            (F.col("t") >= int(start * 1000)) & (F.col("t") <= int(end * 1000))
        )
        for m in matchers:
            df = df.filter(matcher_expr(m))
        return df.select("labels", "t", "v")

    # -- GET /api/v1/label/:name/values (api.go:252-272) --------------
    def label_values(self, name: str) -> dict:
        if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", name):
            # Go %q quoting (api.go:257) — double quotes, Go escapes
            return self._error(
                ERR_BAD_DATA, f"invalid label name: {json.dumps(name)}"
            )
        df = (
            self.engine.samples.select(
                label_get(F.col("labels"), name).alias("_v")
            )
            .filter(F.col("_v").isNotNull())
            .distinct()
            .orderBy("_v")
        )
        if self.meta_limit is not None:
            vals = df.limit(self.meta_limit + 1).collect()
            if len(vals) > self.meta_limit:
                return self._success(
                    [r["_v"] for r in vals[: self.meta_limit]],
                    warnings=[
                        "results truncated due to limit "
                        f"({self.meta_limit} distinct values)"
                    ],
                )
        else:
            vals = df.collect()
        return self._success([r["_v"] for r in vals])

    # -- GET /api/v1/series (api.go:279-341) --------------------------
    def series(self, match: list[str], start: float, end: float) -> dict:
        if not match:
            return self._error(
                ERR_BAD_DATA, "no match[] parameter provided"
            )
        out: list[dict] = []
        seen: set = set()
        for sel in match:
            try:
                matchers = parse_metric_selector(sel)
            except PromQLSyntaxError as e:
                return self._error(ERR_BAD_DATA, str(e))
            df = self.engine.samples.filter(
                (F.col("t") >= int(start * 1000)) & (F.col("t") <= int(end * 1000))
            )
            for m in matchers:
                df = df.filter(matcher_expr(m))
            deduped = (
                df.withColumn("_sig", F.expr(canonical_labels_sql("labels")))
                .dropDuplicates(["_sig"])
                .select("labels")
            )
            if self.meta_limit is not None:
                rows = deduped.limit(self.meta_limit + 1).collect()
            else:
                rows = deduped.collect()
            for r in rows:
                labels = dict(r["labels"])
                key = tuple(sorted(labels.items()))
                if key not in seen:
                    seen.add(key)
                    out.append(labels)
            if self.meta_limit is not None and len(out) > self.meta_limit:
                # truncate + warn (the later-Prometheus limit contract)
                # and stop probing further selectors: every collect so
                # far was limit(N+1)-bounded, and the answer can only
                # stay truncated
                out = out[: self.meta_limit]
                out.sort(key=lambda d: sorted(d.items()))
                return self._success(
                    out,
                    warnings=[
                        "results truncated due to limit "
                        f"({self.meta_limit} series); narrow match[]"
                    ],
                )
        out.sort(key=lambda d: sorted(d.items()))
        return self._success(out)

    # -- envelope -----------------------------------------------------
    @staticmethod
    def _success(data, warnings: list[str] | None = None) -> dict:
        doc = {"status": "success", "data": data}
        if warnings:
            doc["warnings"] = warnings
        return doc

    @staticmethod
    def _error(typ: str, message: str) -> dict:
        return {"status": "error", "errorType": typ, "error": message}


__all__ = ["PromAPI", "APIError", "go_float_str", "METRIC_NAME_LABEL"]
