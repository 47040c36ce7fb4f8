"""HTTP facade: the engine behind a real socket.

Mirrors the reference's server surface (``cmd/timbala/main.go:164-246``
route wiring): ``POST /write`` — snappy+prompb remote-write
(``internal/write/write.go:27,52-101``), ``POST /read`` — remote-read
(``internal/read/read.go:45-126``), the Prometheus v1 query API under
``/api/v1/*`` (``internal/api/v1`` via the upstream API), and the
global 10 MiB request-body guard answering HTTP 413
(``maxBytesHandler``, ``main.go:248-266``, ``maxHTTPRequestBytes``
``main.go:44``).

Scale shape: this facade runs on the Spark driver — queries fan out to
the cluster through the engine's declarative plans, so the HTTP layer
itself does no data work beyond result serialization. ``/write``
decodes its (≤10 MiB) body driver-side and hands Spark a distributed
append; firehose ingest at 100 TB goes through Structured Streaming
with executor-side decode (``sources.wire.decode_payloads``) instead
of this request path — same decode, same store layout.
"""

from __future__ import annotations

import datetime
import gzip
import json
import logging
import math
import os
import re
import threading
import zlib
from collections.abc import Callable, Mapping
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import MappingProxyType
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession, functions as F

from .api import ERR_BAD_DATA, ERR_EXEC, ERR_INTERNAL, ERR_TIMEOUT, PromAPI
from .engine import Engine
from .model import SAMPLES_SCHEMA, prepare_samples
from .promql.ast import LabelMatcher, MatchType
from .sources.wire import (
    decode_read_request,
    decode_write_request,
    encode_read_response,
)
from .streaming.ingest import read_samples_table, write_samples_batch

#: main.go:44 — requests above this answer 413 before any decode work.
MAX_HTTP_REQUEST_BYTES = 10 * 1024 * 1024

_ERR_STATUS = {
    ERR_BAD_DATA: 400,
    ERR_TIMEOUT: 503,
    ERR_EXEC: 422,
    ERR_INTERNAL: 500,
}

_DUR_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0,
              "w": 604800.0, "y": 31536000.0}


#: the reference's minTime/maxTime series-range defaults
#: (api.go:274-276): effectively unbounded either side while keeping
#: millisecond arithmetic inside int64
_MIN_TIME_S = -9.223372036854775e12
_MAX_TIME_S = 9.223372036854775e12


#: 2^63: a time in ms, or a duration in ns, must stay under it in
#: magnitude to fit an int64
_INT64_LIMIT = 2.0**63


def _parse_time(s: str | None, default: float | None = None) -> float:
    """Prometheus API time parameter: unix float or RFC 3339. A value
    that is not finite or whose milliseconds overflow int64 (the
    engine's time unit) is rejected like an unparsable one."""
    if s is None or s == "":
        if default is None:
            raise ValueError("missing time parameter")
        return default
    try:
        t = float(s)
    except ValueError:
        try:
            t = datetime.datetime.fromisoformat(
                s.replace("Z", "+00:00")
            ).timestamp()
        except ValueError:
            t = math.nan
    if not abs(t) * 1000 < _INT64_LIMIT:  # NaN fails too
        # parseTime (internal/api/v1/api.go): don't leak the Python
        # datetime error wording
        raise ValueError(f'cannot parse "{s}" to a valid timestamp')
    return t


_DUR_RE = re.compile(r"^(\d+)(ms|s|m|h|d|w|y)$")


def _parse_duration(s: str) -> float:
    """Step/timeout parameter, matching ``internal/api/v1/api.go``
    ``parseDuration``: a float-seconds fast path (strconv.ParseFloat),
    else the vendored ``model.ParseDuration`` regex
    ``^([0-9]+)(y|w|d|h|m|s|ms)$`` — a SINGLE integer ``<number><unit>``
    group; compound (``1m30s``) and fractional-unit (``1.5s``) forms are
    rejected with 400 exactly as the reference does. Durations are
    int64 nanoseconds there: a float past that range "overflows int64"
    (so does infinity), and NaN or a unit form past it does not
    parse."""
    try:
        d = float(s)
    except ValueError:
        pass
    else:
        if abs(d) * 1e9 > _INT64_LIMIT:
            raise ValueError(
                f'cannot parse "{s}" to a valid duration. It overflows int64'
            )
        if not math.isnan(d):
            return d
    m = _DUR_RE.match(s)
    d = float(m.group(1)) * _DUR_UNITS[m.group(2)] if m else math.nan
    if not d * 1e9 < _INT64_LIMIT:
        # parseDuration (internal/api/v1/api.go) wording
        raise ValueError(f'cannot parse "{s}" to a valid duration')
    return d


class TimbalaServer:
    """Single-node server: PromAPI + remote write/read over a split
    store directory. ``port=0`` binds an ephemeral port (tests)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_body_bytes: int = MAX_HTTP_REQUEST_BYTES,
        max_concurrent: int = 20,
        timeout_s: float = 120.0,
        lookback_ms: int | None = None,
        maintenance_interval_s: float | None = None,
        rules: str | None = None,
        rule_interval_s: float = 15.0,
        rollup_resolutions_ms: tuple[int, ...] = (),
        retention_ms: int | None = None,
        rollup_retention_ms: int | None = None,
        meta_limit: int | None = 1_000_000,
    ) -> None:
        """``maintenance_interval_s`` starts a background maintenance
        loop with :meth:`start` — the analog of the reference's
        compactor goroutine (``cmd/timbala/main.go:153`` wires the
        tsdb compactor's 2h/10h/50h ranges onto a background loop):
        every interval, a dirty store (uncompacted batch tail) is
        compacted into a fresh clean generation. Safe under concurrent
        queries by construction (reader pinning); serialized against
        writes via the store lock. ``None`` (default) keeps
        maintenance manual via :meth:`compact`.

        ``rules`` (rule-file TEXT in the reference's grammar,
        ``parse.go:354-439``) starts a rule-evaluation loop with
        :meth:`start`: every ``rule_interval_s`` (15 s, the common
        evaluation interval) the group evaluates against the current
        engine snapshot and its results — recorded series, ALERTS and
        ALERTS_FOR_STATE — append to the store through the same split
        write path as remote writes, then the engine invalidates so
        the next query sees them. Alerting FOR clocks restore from
        persisted ALERTS_FOR_STATE on startup (outage tolerance) —
        the reference binary wires no rule engine; this is the
        documented Spark-native extension (SURVEY §2.8).

        ``rollup_resolutions_ms``: resolutions of EXACT multi-aggregate
        rollups (:mod:`timbala_spark.rollup`) each maintenance pass
        materializes into the compacted generation; the engine serves
        answerable ``*_over_time``/rate-family shapes from them and
        falls back to raw otherwise. Appends after compaction dirty
        the generation, which disables its rollups until the next pass
        (``ingest.read_rollup_tables``) — exactness is structural, not
        scheduled.

        ``retention_ms`` / ``rollup_retention_ms``: the maintenance
        loop also applies :func:`streaming.compact.apply_retention`
        each pass — raw day partitions older than ``now -
        retention_ms`` are dropped; with ``rollup_retention_ms >
        retention_ms``, exact rollup days are archived down to ``now -
        rollup_retention_ms`` (the Thanos raw/coarse retention-tier
        pattern: e.g. two weeks of raw plus a year of 1 h rollups —
        routable dashboards over the old range stay exact at 1/W the
        bytes; see ``apply_retention``). Retention runs AFTER the
        compaction check, so the carried rollups always describe a
        clean generation. ``None`` (default) keeps the reference's
        infinite retention (``cmd/timbala/main.go:152``)."""
        if rollup_retention_ms is not None and retention_ms is None:
            raise ValueError("rollup_retention_ms requires retention_ms")
        if (
            rollup_retention_ms is not None
            and rollup_retention_ms < retention_ms
        ):
            raise ValueError("rollup_retention_ms must be >= retention_ms")
        self.spark = spark
        self.store_path = store_path
        self.retention_ms = retention_ms
        self.rollup_retention_ms = rollup_retention_ms
        self.rollup_resolutions_ms = tuple(
            int(w) for w in rollup_resolutions_ms
        )
        self.maintenance_interval_s = maintenance_interval_s
        self._maint_stop = threading.Event()
        self._maint_thread: threading.Thread | None = None
        self.rule_interval_s = rule_interval_s
        self._rules = None
        if rules is not None:
            from .streaming.rules import parse_rule_file

            self._rules = parse_rule_file(rules)  # fail fast on typos
        self._rules_stop = threading.Event()
        self._rules_thread: threading.Thread | None = None
        self.max_body_bytes = max_body_bytes
        self._api_kw = {
            "max_concurrent": max_concurrent,
            "timeout_s": timeout_s,
            # driver-boundedness guard for /api/v1/label/:name/values
            # and /api/v1/series (see PromAPI.meta_limit)
            "meta_limit": meta_limit,
        }
        self._lookback_ms = lookback_ms
        self._lock = threading.Lock()
        #: serializes store MUTATIONS (writes vs maintenance) — the
        #: reference's db.mtx analog. Queries never take it: readers
        #: are generation-pinned (streaming.store), so maintenance is
        #: safe under concurrent reads by construction.
        self._store_lock = threading.Lock()
        self._api: PromAPI | None = None
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # Headers and body go out as two sends on a keep-alive
            # socket; with Nagle on, the body waits for the client's
            # delayed ACK of the headers (~40 ms on every answer).
            disable_nagle_algorithm = True

            def log_message(self, *a):  # quiet; Spark UI covers observability
                pass

            def do_GET(self) -> None:
                outer._serve(self, outer._route_get)

            def do_POST(self) -> None:
                outer._serve(self, outer._route_post)

            def do_OPTIONS(self) -> None:
                outer._serve(self, outer._route_options)

            def do_DELETE(self) -> None:
                outer._serve(self, outer._route_delete)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        if self.maintenance_interval_s is not None:
            self._maint_stop.clear()
            self._maint_thread = threading.Thread(
                target=self._maintenance_loop, daemon=True
            )
            self._maint_thread.start()
        if self._rules:
            self._rules_stop.clear()
            self._rules_thread = threading.Thread(
                target=self._rules_loop, daemon=True
            )
            self._rules_thread.start()

    def _maintenance_loop(self) -> None:
        from .streaming.ingest import store_is_dirty, store_missing_rollups

        while not self._maint_stop.wait(self.maintenance_interval_s):
            try:
                # a clean store still needs one pass when rollups were
                # just enabled (or a retention pass dropped them)
                if store_is_dirty(self.store_path) or (
                    self.rollup_resolutions_ms
                    and store_missing_rollups(
                        self.store_path, self.rollup_resolutions_ms
                    )
                ):
                    self.compact()
                if self.retention_ms is not None:
                    self.retain()
            except Exception:  # noqa: BLE001 — keep the loop alive
                logging.getLogger(__name__).exception(
                    "background maintenance pass failed"
                )

    def _rules_loop(self) -> None:
        import time as _time

        from .streaming.rules import (
            append_rule_results,
            restore_alert_states,
        )

        # seed the alerting FOR clocks from persisted ALERTS_FOR_STATE
        # (within the default outage tolerance) — a restarted server
        # continues pending alerts where it left off
        try:
            alert_states = restore_alert_states(
                self.spark, self.store_path, self._rules
            )
        except Exception:  # noqa: BLE001 — an empty store starts fresh
            alert_states = {}
        while not self._rules_stop.wait(self.rule_interval_s):
            try:
                ts = _time.time()
                engine = self._engine_api().engine
                with self._store_lock:  # never race a maintenance swap
                    append_rule_results(
                        engine,
                        self._rules,
                        ts,
                        self.store_path,
                        alert_states,
                        layout="split",
                    )
                self._invalidate_engine()  # queries see the new series
            except Exception:  # noqa: BLE001 — keep the loop alive
                logging.getLogger(__name__).exception(
                    "rule evaluation pass failed"
                )

    def stop(self) -> None:
        self._rules_stop.set()
        if self._rules_thread:
            self._rules_thread.join(timeout=60)
        self._maint_stop.set()
        if self._maint_thread:
            self._maint_thread.join(timeout=60)
        if self._thread or self._serving_fg:
            # shutdown() blocks until serve_forever acknowledges — it
            # would hang forever on a server that was never started
            self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)

    _serving_fg = False  # foreground serve_forever() in progress

    def serve_forever(self) -> None:
        self._serving_fg = True
        try:
            self._httpd.serve_forever()
        finally:
            self._serving_fg = False

    # -- engine over the store ----------------------------------------

    def _engine_api(self) -> PromAPI:
        with self._lock:
            if self._api is None:
                from .streaming.store import resolve_store

                st = resolve_store(self.store_path)
                if os.path.isdir(st.samples) or os.path.isdir(st.series):
                    samples = read_samples_table(self.spark, self.store_path)
                else:  # nothing written yet: empty canonical frame
                    samples = self.spark.createDataFrame([], SAMPLES_SCHEMA)
                kw = {}
                if self._lookback_ms is not None:
                    kw["lookback_ms"] = self._lookback_ms
                if self.rollup_resolutions_ms:
                    from .streaming.ingest import read_rollup_tables

                    # {} on a dirty generation — the engine then takes
                    # the raw path for every shape (exactness gate)
                    kw["rollups"] = read_rollup_tables(
                        self.spark, self.store_path
                    ) or None
                self._api = PromAPI(
                    Engine(self.spark, samples, **kw), **self._api_kw
                )
            return self._api

    def _invalidate_engine(self) -> None:
        with self._lock:
            self._api = None

    def compact(self) -> None:
        """One store-maintenance pass: merge small batch files,
        collapse cross-batch replicas, commit a clean generation — the
        tsdb compactor analog (``cmd/timbala/main.go:153`` block
        ranges; there it runs on a background goroutine). Subsequent
        queries read exchange-free until the next write. Safe under
        concurrent queries: readers stay pinned to the generation they
        resolved (manifest commit + lazy GC, ``streaming.store``) —
        the reference's reader-holds-block-refs guarantee. Writes are
        serialized against the pass via ``_store_lock`` so no batch
        can land in the retiring generation after the straggler
        re-list (``streaming.compact`` concurrency contract)."""
        from .streaming.compact import compact_store

        with self._store_lock:
            compact_store(
                self.spark,
                self.store_path,
                gc_grace_s=self._gc_grace_s(),
                rollup_ms=self.rollup_resolutions_ms,
            )
        self._invalidate_engine()

    def _gc_grace_s(self) -> float:
        """GC grace must exceed THIS server's query timeout, not the
        default the constant was sized for (``store.GC_GRACE_S`` is
        150 s > the default 120 s timeout): a reader pins its
        generation for at most one query's lifetime, so a server
        configured with ``timeout_s=300`` needs a proportionally
        longer grace or a slow reader spanning two maintenance
        commits could lose its files — exactly the refcounted-reader
        guarantee the reference keeps (``tsdb/db.go:292-330``)."""
        from .streaming.store import GC_GRACE_S

        return max(GC_GRACE_S, self._api_kw["timeout_s"] * 1.25)

    def snapshot(self, dst: str, lock_timeout_s: float = 30.0) -> int:
        """Hardlink a consistent copy of the store into ``dst`` — the
        ``DB.Snapshot`` analog (``tsdb/db.go:607-630``; see
        ``streaming.store.snapshot_store``). Returns files linked.
        Waits up to ``lock_timeout_s`` for an in-flight maintenance
        pass (the snapshot and the compactor share the store's
        cross-process maintenance lock, the reference's ``db.cmtx``
        discipline)."""
        from .streaming.store import snapshot_store

        return snapshot_store(
            self.store_path, dst, lock_timeout_s=lock_timeout_s
        )

    def retain(self) -> list[str]:
        """One retention pass against the configured windows: drop raw
        days older than ``retention_ms``, keep exact rollup days down
        to ``rollup_retention_ms`` (the archive tier — see
        ``streaming.compact.apply_retention``). Serialized against
        writes like :meth:`compact` (retention has no straggler
        re-list, so a batch landing mid-pass must be excluded by the
        lock, not recovered after). Returns the dropped raw day
        partitions."""
        import time as _time

        from .streaming.compact import apply_retention
        from .streaming.store import resolve_store

        if self.retention_ms is None:
            return []
        now_ms = int(_time.time() * 1000)
        rollup_min = (
            now_ms - self.rollup_retention_ms
            if self.rollup_retention_ms is not None
            else None
        )
        with self._store_lock:
            gen_before = resolve_store(self.store_path).gen
            dropped = apply_retention(
                self.store_path,
                now_ms - self.retention_ms,
                gc_grace_s=self._gc_grace_s(),
                rollup_min_t_ms=rollup_min,
            )
            committed = resolve_store(self.store_path).gen != gen_before
        # invalidate on ANY committed generation, not just raw drops: a
        # pass can retire only rollup archive days (the rollup cutoff
        # crosses a UTC day boundary at a different wall time than the
        # raw cutoff) and the engine must move off the retired
        # generation before GC grace runs out, not merely stay correct
        # under pinning
        if committed:
            self._invalidate_engine()
        return dropped

    # -- request plumbing ---------------------------------------------

    #: 413 path: drain at most max_body_bytes + this slack of an
    #: oversized body before giving up on connection reuse — a client
    #: declaring a multi-GB Content-Length must not tie up a handler
    #: thread and the wire (the reference's MaxBytesReader stops
    #: reading at the limit).
    DRAIN_SLACK_BYTES = 4 * 1024 * 1024

    def _read_body(self, h: BaseHTTPRequestHandler) -> bytes | None:
        """Body with the reference's size guard: over-limit requests
        answer 413. A modestly-oversized body is drained in chunks (so
        a client that already committed to sending it still gets a
        readable response on a reusable connection); beyond
        max_body_bytes + DRAIN_SLACK_BYTES the server stops reading and
        closes the connection instead."""
        length = int(h.headers.get("Content-Length") or 0)
        if length > self.max_body_bytes:
            drain_limit = self.max_body_bytes + self.DRAIN_SLACK_BYTES
            remaining = min(length, drain_limit)
            while remaining > 0:
                chunk = h.rfile.read(min(65536, remaining))
                if not chunk:
                    break
                remaining -= len(chunk)
            extra = None
            if length > drain_limit:  # undrained bytes remain on the wire
                extra = {"Connection": "close"}
                h.close_connection = True
            self._respond(h, 413, b"request body too large\n",
                          "text/plain; charset=utf-8", extra=extra)
            return None
        return h.rfile.read(length)

    @staticmethod
    def _respond(
        h: BaseHTTPRequestHandler,
        status: int,
        body: bytes,
        ctype: str = "application/json",
        extra: dict[str, str] | None = None,
    ) -> None:
        h.answer_started = True  # no 500 may follow (``_serve``)
        h.send_response(status)
        h.send_header("Content-Type", ctype)
        h.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            h.send_header(k, v)
        h.end_headers()
        h.wfile.write(body)

    #: api.go:54-59 — set on every API response (setCORS via instr)
    _CORS = {
        "Access-Control-Allow-Headers": "Accept, Authorization, Content-Type, Origin",
        "Access-Control-Allow-Methods": "GET, OPTIONS",
        "Access-Control-Allow-Origin": "*",
        "Access-Control-Expose-Headers": "Date",
    }
    #: the headers of an /api/v1 answer per content encoding, shared
    #: (read-only) by every answer and every cached entry
    _API_HEADERS = {
        None: MappingProxyType(_CORS),
        "gzip": MappingProxyType({**_CORS, "Content-Encoding": "gzip"}),
        "deflate": MappingProxyType({**_CORS, "Content-Encoding": "deflate"}),
    }

    @staticmethod
    def _content_encoding(h: BaseHTTPRequestHandler) -> str | None:
        """The reference wraps every /api/v1 handler in its
        CompressionHandler (api.go:117-119): first gzip/deflate in the
        comma-separated Accept-Encoding wins, "deflate" meaning zlib
        (httputil/compression.go:57-79); /write and /read stay
        uncompressed, as there."""
        for enc in h.headers.get("Accept-Encoding", "").split(","):
            enc = enc.strip()
            if enc in ("gzip", "deflate"):
                return enc
        return None

    def _encode_api(
        self, payload: dict, enc: str | None
    ) -> tuple[int, bytes, Mapping[str, str]]:
        status = 200
        if payload.get("status") == "error":
            status = _ERR_STATUS.get(payload.get("errorType"), 500)
        body = json.dumps(payload).encode()
        if enc is not None:
            # level 6 for both: Go's gzip.NewWriter is DefaultCompression
            body = (
                gzip.compress(body, compresslevel=6)
                if enc == "gzip"
                else zlib.compress(body, 6)
            )
        return status, body, self._API_HEADERS[enc]

    def _respond_api(self, h: BaseHTTPRequestHandler, payload: dict) -> None:
        status, body, extra = self._encode_api(payload, self._content_encoding(h))
        self._respond(h, status, body, extra=extra)

    def _answer_cached(self, h: BaseHTTPRequestHandler, url, answer) -> None:
        """Answer a ``query_range``, label-values or ``/series`` request
        through the snapshot's encoded-response cache, keyed on the
        exact request (path, raw query, content encoding).
        ``answer(api)`` parses the parameters and computes the payload,
        so a hit skips both. One snapshot serves the whole request, and
        an answer is stored only in the cache of the snapshot that
        computed it: a write landing mid-request swaps in a new
        ``PromAPI`` with an empty cache, so a stale body is never
        visible. Errors are never stored (timeouts are transient)."""
        enc = self._content_encoding(h)
        api = self._engine_api()
        key = (url.path, url.query, enc)
        resp = api.responses.get(key)
        if resp is None:
            payload = answer(api)
            resp = self._encode_api(payload, enc)
            if payload["status"] == "success":
                api.responses.put(key, resp)
        status, body, extra = resp
        self._respond(h, status, body, extra=extra)

    def _route_options(self, h: BaseHTTPRequestHandler) -> None:
        """``r.Options("/*path", ...)`` → api.options returns (nil, nil):
        an empty 2xx with the CORS headers (api.go:122,138-140)."""
        self._respond(h, 204, b"", extra=self._CORS)

    def _route_delete(self, h: BaseHTTPRequestHandler) -> None:
        """``DELETE /api/v1/series`` (api.go:130,343-351): match[] is
        validated, then the reference panics("disabled") — deletion is
        upstream-disabled. Surface that as a well-formed internal
        error instead of a dropped connection."""
        url = urlparse(h.path)
        if url.path != "/api/v1/series":
            self._respond(h, 404, b"")
            return
        q = parse_qs(url.query)
        if not q.get("match[]"):
            self._respond_api(
                h,
                {
                    "status": "error",
                    "errorType": "bad_data",
                    "error": "no match[] parameter provided",
                },
            )
            return
        self._respond_api(
            h,
            {
                "status": "error",
                "errorType": "internal",
                "error": "series deletion is disabled",
            },
        )

    def _serve(
        self,
        h: BaseHTTPRequestHandler,
        route: Callable[[BaseHTTPRequestHandler], None],
    ) -> None:
        """Run one request's route. An exception the route did not
        expect is logged and answered 500 ``internal`` instead of a
        dropped connection, but only while no byte of an answer has
        been sent: after that a second answer would follow a partial
        one, so the connection is just closed (without a log line when
        the client went away)."""
        h.answer_started = False
        try:
            route(h)
        except Exception as e:  # noqa: BLE001 — every request gets an answer
            h.close_connection = True
            if h.answer_started and isinstance(e, ConnectionError):
                return
            logging.getLogger(__name__).exception(
                "%s %s failed", h.command, h.path
            )
            if h.answer_started:
                return
            status, body, headers = self._encode_api(
                {"status": "error", "errorType": ERR_INTERNAL, "error": str(e)},
                self._content_encoding(h),
            )
            try:
                self._respond(
                    h, status, body, extra={**headers, "Connection": "close"}
                )
            except OSError:  # the client is gone too
                pass

    # -- GET routes ---------------------------------------------------

    def _route_get(self, h: BaseHTTPRequestHandler) -> None:
        import time as _time

        url = urlparse(h.path)
        q = parse_qs(url.query)

        def p(name: str, default: str | None = None) -> str | None:
            return q.get(name, [default])[0]

        try:
            if url.path == "/api/v1/query":
                expr = p("query")
                if expr is None:
                    raise ValueError("missing query parameter")
                ts = _parse_time(p("time"), default=_time.time())
                return self._respond_api(
                    h,
                    self._engine_api().query(
                        expr, ts, timeout=p("timeout")
                    ),
                )
            if url.path == "/api/v1/query_range":
                expr = p("query")
                if expr is None:
                    raise ValueError("missing query parameter")
                # parameters parse inside the answer (a ValueError
                # there is still bad_data), so a cache hit skips them
                return self._answer_cached(
                    h,
                    url,
                    lambda api: api.query_range(
                        expr,
                        _parse_time(p("start")),
                        _parse_time(p("end")),
                        _parse_duration(p("step") or ""),
                        timeout=p("timeout"),
                    ),
                )
            parts = url.path.split("/")
            # /api/v1/label/<name>/values
            if (
                len(parts) == 6
                and parts[1:4] == ["api", "v1", "label"]
                and parts[5] == "values"
            ):
                return self._answer_cached(
                    h, url, lambda api: api.label_values(unquote(parts[4]))
                )
            if url.path == "/api/v1/series":
                # absent start/end default to minTime/maxTime — the
                # range is UNBOUNDED, so samples at future timestamps
                # still match (api.go:274-302)
                return self._answer_cached(
                    h,
                    url,
                    lambda api: api.series(
                        q.get("match[]", []),
                        _parse_time(p("start"), _MIN_TIME_S),
                        _parse_time(p("end"), _MAX_TIME_S),
                    ),
                )
        except ValueError as e:
            return self._respond_api(
                h, {"status": "error", "errorType": ERR_BAD_DATA, "error": str(e)}
            )
        self._respond(h, 404, b"not found\n", "text/plain; charset=utf-8")

    # -- POST routes --------------------------------------------------

    def _route_post(self, h: BaseHTTPRequestHandler) -> None:
        url = urlparse(h.path)
        body = self._read_body(h)
        if body is None:
            return
        if url.path == "/write":
            return self._handle_write(h, body)
        if url.path == "/read":
            return self._handle_read(h, body)
        self._respond(h, 404, b"not found\n", "text/plain; charset=utf-8")

    def _handle_write(self, h: BaseHTTPRequestHandler, body: bytes) -> None:
        try:
            series = decode_write_request(body)
        except Exception as e:  # malformed snappy/proto → 400 (write.go:55-71)
            return self._respond(
                h, 400, f"{e}\n".encode(), "text/plain; charset=utf-8"
            )
        rows = [
            (s["labels"], int(t), float(v))
            for s in series
            for t, v in s["samples"]
        ]
        if rows:
            df = self.spark.createDataFrame(
                rows, "labels map<string,string>, t long, v double"
            )
            with self._store_lock:  # never race a maintenance commit
                write_samples_batch(prepare_samples(df), self.store_path)
            self._invalidate_engine()  # next query sees the new files
        self._respond(h, 200, b"", "text/plain; charset=utf-8")

    def _handle_read(self, h: BaseHTTPRequestHandler, body: bytes) -> None:
        """Remote-read serve. Collecting every matching sample and
        marshalling one snappy'd ReadResponse is PARITY with the
        reference, not a shortcut: its handler materializes the full
        ``prompb.ReadResponse`` in memory per request too
        (``internal/read/read.go:67-118`` — ``remote.ToQueryResult``
        drains each SeriesSet, then one ``resp.Marshal`` + snappy
        write; the chunked STREAMED_XOR_CHUNKS protocol postdates the
        vendored Prometheus and exists nowhere in the reference).
        Callers wanting bounded transfers slice the time range, same
        as they must against the reference."""
        try:
            queries = decode_read_request(body)
        except Exception as e:
            return self._respond(
                h, 400, f"{e}\n".encode(), "text/plain; charset=utf-8"
            )
        api = self._engine_api()
        from .compiler import matcher_expr

        results: list[list[dict]] = []
        for qry in queries:
            df = api.engine.samples.filter(
                (F.col("t") >= qry["start_ms"]) & (F.col("t") <= qry["end_ms"])
            )
            for op, name, value in qry["matchers"]:
                df = df.filter(
                    matcher_expr(LabelMatcher(MatchType(op), name, value))
                )
            by_series: dict[tuple, dict] = {}
            for r in df.select("labels", "t", "v").collect():
                labels = dict(r["labels"])
                key = tuple(sorted(labels.items()))
                e = by_series.setdefault(key, {"labels": labels, "samples": []})
                e["samples"].append([r["t"], r["v"]])
            for e in by_series.values():
                e["samples"].sort()
            results.append([by_series[k] for k in sorted(by_series)])
        self._respond(
            h,
            200,
            encode_read_response(results),
            "application/x-protobuf",
            extra={"Content-Encoding": "snappy"},
        )


__all__ = ["TimbalaServer", "MAX_HTTP_REQUEST_BYTES"]
