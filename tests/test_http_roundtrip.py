"""End-to-end HTTP acceptance tests, ported from the reference's
acceptance suite (internal/test/acceptance/acceptance_test.go):
TestSimpleArithmeticQuery :84-101, TestRemoteWrite(ThenQueryBack)
:103-161, TestRemoteWriteThenRemoteReadBack :163-268, and
TestOversizedRequestsResultInHTTP413 :270-293 — served in-process by
TimbalaServer over a temp split store."""

import json
import shutil
import tempfile
import time
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(spark):
    from timbala_spark.server import TimbalaServer

    tmp = tempfile.mkdtemp(prefix="timbala_http_")
    srv = TimbalaServer(spark, tmp, timeout_s=120.0)
    srv.start()
    yield srv
    srv.stop()
    shutil.rmtree(tmp, ignore_errors=True)


def _get(srv, path):
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}", timeout=120
        ) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(srv, path, body, timeout=120):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


class TestHTTPRoundtrip:
    def test_simple_arithmetic_query(self, server):
        """acceptance_test.go:84-101 — `1+1` → scalar "2" (on a fresh,
        empty store)."""
        status, payload = _get(server, "/api/v1/query?query=1%2B1&time=100")
        assert status == 200
        assert payload["status"] == "success"
        assert payload["data"]["resultType"] == "scalar"
        assert payload["data"]["result"] == [100, "2"]

    def test_options_and_cors(self, server):
        """api.go:54-59,122,138-140 — every API response carries the
        CORS headers; OPTIONS answers empty 2xx."""
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/api/v1/query",
            method="OPTIONS",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert 200 <= r.status < 300
            assert r.headers["Access-Control-Allow-Origin"] == "*"
        status, _ = _get(server, "/api/v1/query?query=1&time=1")
        assert status == 200
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/api/v1/query?query=1&time=1",
            timeout=60,
        ) as r:
            assert r.headers["Access-Control-Allow-Origin"] == "*"

    def test_delete_series_disabled(self, server):
        """api.go:343-351 — DELETE /series validates match[] then hits
        the upstream-disabled panic; we answer a well-formed 400/500."""
        def delete(path):
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}{path}", method="DELETE"
            )
            try:
                with urllib.request.urlopen(req, timeout=60) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        status, body = delete("/api/v1/series")
        assert status == 400
        assert body["error"] == "no match[] parameter provided"
        status, body = delete("/api/v1/series?match[]=m")
        assert status == 500
        assert "disabled" in body["error"]

    def test_remote_write_then_query_back(self, server):
        """acceptance_test.go:103-161 — snappy+prompb write answers
        200, and an instant query returns the sample."""
        from timbala_spark.sources.wire import encode_write_request

        now_ms = int(time.time() * 1000)
        body = encode_write_request(
            [
                {
                    "labels": {"__name__": "TestRemoteWriteThenQueryBack"},
                    "samples": [[now_ms, 1234.0]],
                }
            ]
        )
        status, _ = _post(server, "/write", body)
        assert status == 200

        status, payload = _get(
            server,
            "/api/v1/query?query=TestRemoteWriteThenQueryBack"
            f"&time={now_ms / 1000}",
        )
        assert status == 200
        result = payload["data"]["result"]
        assert payload["data"]["resultType"] == "vector" and len(result) == 1
        assert result[0]["value"] == [now_ms / 1000, "1234"]
        assert (
            result[0]["metric"]["__name__"] == "TestRemoteWriteThenQueryBack"
        )

    def test_remote_write_then_remote_read_back(self, server):
        """acceptance_test.go:163-268 — remote-read returns the exact
        timeseries that remote-write stored."""
        from timbala_spark.sources.wire import (
            decode_read_response,
            encode_read_request,
            encode_write_request,
        )

        now_ms = int(time.time() * 1000)
        name = "TestRemoteWriteThenRemoteReadBack"
        status, _ = _post(
            server,
            "/write",
            encode_write_request(
                [{"labels": {"__name__": name}, "samples": [[now_ms, 1234.0]]}]
            ),
        )
        assert status == 200

        req = encode_read_request(
            [
                {
                    "start_ms": now_ms - 60_000,
                    "end_ms": now_ms + 60_000,
                    "matchers": [("=", "__name__", name)],
                }
            ]
        )
        status, body = _post(server, "/read", req)
        assert status == 200
        results = decode_read_response(body)
        assert len(results) == 1 and len(results[0]) == 1
        got = results[0][0]
        assert got["labels"] == {"__name__": name}
        assert got["samples"] == [[now_ms, 1234.0]]

    def test_remote_read_regex_and_negative_matchers(self, server):
        """All four prompb matcher types (types.proto EQ NEQ RE NRE)
        evaluate server-side on the wire path."""
        from timbala_spark.sources.wire import (
            decode_read_response,
            encode_read_request,
            encode_write_request,
        )

        now_ms = int(time.time() * 1000)
        _post(
            server,
            "/write",
            encode_write_request(
                [
                    {
                        "labels": {"__name__": "rr_m", "job": j},
                        "samples": [[now_ms, float(i)]],
                    }
                    for i, j in enumerate(("api1", "api2", "web"))
                ]
            ),
        )

        def read(matchers):
            req = encode_read_request(
                [
                    {
                        "start_ms": now_ms - 60_000,
                        "end_ms": now_ms + 60_000,
                        "matchers": matchers,
                    }
                ]
            )
            status, body = _post(server, "/read", req)
            assert status == 200
            results = decode_read_response(body)
            return sorted(s["labels"]["job"] for s in results[0])

        assert read([("=", "__name__", "rr_m"), ("=~", "job", "api.*")]) == [
            "api1",
            "api2",
        ]
        assert read([("=", "__name__", "rr_m"), ("!~", "job", "api.*")]) == [
            "web"
        ]
        assert read([("=", "__name__", "rr_m"), ("!=", "job", "web")]) == [
            "api1",
            "api2",
        ]

    def test_server_compaction_pass(self, server):
        """server.compact() = the tsdb compactor analog: collapses the
        store, clears the dirty marker, and queries keep answering."""
        from timbala_spark.sources.wire import encode_write_request
        from timbala_spark.streaming import store_is_dirty

        now_ms = int(time.time() * 1000)
        for _ in range(2):  # two batches, second re-sends the first
            _post(
                server,
                "/write",
                encode_write_request(
                    [
                        {
                            "labels": {"__name__": "compact_me"},
                            "samples": [[now_ms, 7.0]],
                        }
                    ]
                ),
            )
        assert store_is_dirty(server.store_path)
        server.compact()
        assert not store_is_dirty(server.store_path)
        status, payload = _get(
            server, f"/api/v1/query?query=compact_me&time={now_ms / 1000}"
        )
        assert status == 200
        result = payload["data"]["result"]
        assert len(result) == 1 and result[0]["value"] == [now_ms / 1000, "7"]

    def test_oversized_requests_result_in_413(self, server):
        """acceptance_test.go:270-293 — >10 MiB bodies answer 413 on
        both /write and /read."""
        body = bytes(1024 * 1024 * 11)
        for route in ("/read", "/write"):
            status, _ = _post(server, route, body)
            assert status == 413, route

    def test_rule_evaluation_loop_end_to_end(self, spark):
        """A server started with a rule file evaluates the group every
        interval against its own store: recorded series and ALERTS
        (with alertstate) become queryable through the normal API."""
        import tempfile as _tf
        import time as _t

        from timbala_spark.server import TimbalaServer
        from timbala_spark.sources.wire import encode_write_request

        rules = """
        job:rm:sum = sum(rule_metric)

        ALERT RmHigh
          IF sum(rule_metric) > 5
          LABELS { severity = "page" }
        """
        srv = TimbalaServer(
            spark,
            _tf.mkdtemp(prefix="timbala_rules_"),
            timeout_s=300.0,
            rules=rules,
            rule_interval_s=1.0,
        )
        srv.start()
        try:
            now = int(_t.time()) * 1000
            series = [
                {
                    "labels": {"__name__": "rule_metric", "i": str(i)},
                    "samples": [[now, 4.0]],
                }
                for i in range(2)
            ]
            status, _ = _post(srv, "/write", encode_write_request(series))
            assert status == 200
            got_rec = got_alert = None
            for _ in range(60):  # rule loop ticks at 1 s; poll
                _t.sleep(1.0)
                q = urllib.parse.quote("job:rm:sum")
                s, p = _get(srv, f"/api/v1/query?query={q}&time={_t.time()}")
                if s == 200 and p["data"]["result"]:
                    got_rec = p["data"]["result"]
                a_q = urllib.parse.quote('ALERTS{alertname="RmHigh"}')
                s, p = _get(
                    srv, f"/api/v1/query?query={a_q}&time={_t.time()}"
                )
                if s == 200 and p["data"]["result"]:
                    got_alert = p["data"]["result"]
                if got_rec and got_alert:
                    break
            assert got_rec, "recorded series never appeared"
            assert got_rec[0]["value"][1] == "8"  # sum of 4.0 x 2
            assert got_alert, "alert series never appeared"
            lbls = got_alert[0]["metric"]
            assert lbls["alertname"] == "RmHigh"
            assert lbls["severity"] == "page"
            assert lbls["alertstate"] == "firing"  # FOR absent
        finally:
            srv.stop()

    def test_api_responses_honor_accept_encoding(self, server):
        """api.go:117-119 wraps /api/v1 in CompressionHandler: first
        gzip/deflate in Accept-Encoding wins, deflate meaning zlib."""
        import gzip
        import zlib

        for enc, decomp in (
            ("gzip", gzip.decompress),
            ("deflate", zlib.decompress),
            ("deflate, gzip", zlib.decompress),  # first match wins
        ):
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/api/v1/query?query=1&time=1",
                headers={"Accept-Encoding": enc},
            )
            with urllib.request.urlopen(req, timeout=60) as r:
                assert r.headers["Content-Encoding"] == enc.split(",")[0]
                payload = json.loads(decomp(r.read()))
            assert payload["status"] == "success"
        # no Accept-Encoding: identity
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/api/v1/query?query=1&time=1",
            headers={"Accept-Encoding": "identity"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.headers.get("Content-Encoding") is None
            assert json.loads(r.read())["status"] == "success"

    def test_syntax_error_answers_400_bad_data(self, server):
        status, payload = _get(server, "/api/v1/query?query=sum(&time=1")
        assert status == 400
        assert payload["errorType"] == "bad_data"

    def test_sub_millisecond_step_answers_400(self, server):
        """Step and range compare in nanoseconds, as the reference's
        ``end.Sub(start)/step > 11000`` does: a 0.1 ms step over an hour
        is past the points cap, and a step under 1 ns is zero."""
        status, payload = _get(
            server,
            "/api/v1/query_range?query=up&start=0&end=3600&step=0.0001",
        )
        assert status == 400 and payload["errorType"] == "bad_data"
        assert payload["error"] == (
            "exceeded maximum resolution of 11,000 points per "
            "timeseries. Try decreasing the query resolution (?step=XX)"
        )
        status, payload = _get(
            server, "/api/v1/query_range?query=up&start=0&end=3600&step=1e-10"
        )
        assert status == 400
        assert payload["error"].startswith("zero or negative query resolution")

    def test_query_range_and_label_values(self, server):
        """Range query over written samples + label metadata routes."""
        from timbala_spark.sources.wire import encode_write_request

        base = 1_700_000_000_000
        series = [
            {
                "labels": {"__name__": "range_metric", "job": "a"},
                "samples": [[base + i * 15_000, float(i)] for i in range(8)],
            }
        ]
        status, _ = _post(server, "/write", encode_write_request(series))
        assert status == 200

        start, end = base / 1000, (base + 105_000) / 1000
        status, payload = _get(
            server,
            "/api/v1/query_range?query=range_metric"
            f"&start={start}&end={end}&step=30s",
        )
        assert status == 200
        assert payload["data"]["resultType"] == "matrix"
        series_out = payload["data"]["result"]
        assert len(series_out) == 1
        assert [v for _, v in series_out[0]["values"]] == ["0", "2", "4", "6"]

        status, payload = _get(server, "/api/v1/label/job/values")
        assert status == 200 and "a" in payload["data"]

        status, payload = _get(
            server,
            "/api/v1/series?match[]=range_metric"
            f"&start={start}&end={end}",
        )
        assert status == 200
        assert {"__name__": "range_metric", "job": "a"} in payload["data"]

        # absent start/end default to the reference's minTime/maxTime
        # (api.go:274-302): the range is UNBOUNDED, so even a sample at
        # a FUTURE timestamp matches
        import time as _t

        future = int((_t.time() + 7 * 24 * 3600) * 1000)
        fut_series = [
            {
                "labels": {"__name__": "future_metric", "job": "f"},
                "samples": [[future, 1.0]],
            }
        ]
        status, _ = _post(server, "/write", encode_write_request(fut_series))
        assert status == 200
        status, payload = _get(server, "/api/v1/series?match[]=future_metric")
        assert status == 200
        assert {"__name__": "future_metric", "job": "f"} in payload["data"]


def _write_counters(srv, name, base_ms, n_series=4, n_samples=121):
    """``n_series`` counters ``name{job, i}`` with slope ``i + 1`` per
    second, one sample every 15 s from ``base_ms``."""
    from timbala_spark.sources.wire import encode_write_request

    series = [
        {
            "labels": {"__name__": name, "job": f"j{i % 2}", "i": str(i)},
            "samples": [
                [base_ms + k * 15_000, float((i + 1) * 15 * k)]
                for k in range(n_samples)
            ],
        }
        for i in range(n_series)
    ]
    status, _ = _post(srv, "/write", encode_write_request(series))
    assert status == 200


def _range_path(query, start_s, end_s, step="60"):
    from urllib.parse import quote

    return (
        f"/api/v1/query_range?query={quote(query)}"
        f"&start={start_s}&end={end_s}&step={step}"
    )


def _conn_get(conn, path, enc=None):
    """GET on a kept-alive connection → (status, decoded JSON)."""
    import gzip
    import zlib

    conn.request("GET", path, headers={"Accept-Encoding": enc or "identity"})
    r = conn.getresponse()
    body = r.read()
    assert r.headers.get("Content-Encoding") == enc
    if enc == "gzip":
        body = gzip.decompress(body)
    elif enc == "deflate":
        body = zlib.decompress(body)
    return r.status, json.loads(body)


class TestResponseCache:
    """The snapshot-scoped encoded-response cache: exact repeats are
    served from the finished bytes, and only while they are valid."""

    BASE_MS = 1_650_000_000_000

    def _conn(self, srv):
        import http.client

        return http.client.HTTPConnection("127.0.0.1", srv.port, timeout=120)

    def test_keepalive_cache_hit_is_fast(self, server):
        """20 identical range reads on one keep-alive connection, after
        one warm read: the median stays far under the ~40 ms a Nagle
        stall (headers and body as two sends, the client's delayed
        ACK) adds to every response."""
        import statistics

        _write_counters(server, "ka_total", self.BASE_MS)
        path = _range_path(
            "sum by (job) (rate(ka_total[5m]))",
            self.BASE_MS / 1000 + 600, self.BASE_MS / 1000 + 1500,
        )
        conn = self._conn(server)
        try:
            status, warm = _conn_get(conn, path, "gzip")
            assert status == 200 and len(warm["data"]["result"]) == 2
            lat = []
            for _ in range(20):
                t0 = time.perf_counter()
                status, payload = _conn_get(conn, path, "gzip")
                lat.append(time.perf_counter() - t0)
                assert status == 200 and payload == warm
        finally:
            conn.close()
        assert statistics.median(lat) < 0.010, sorted(lat)

    def test_write_drops_cached_answers(self, server):
        base = self.BASE_MS + 10_000_000
        _write_counters(server, "scope_total", base, n_series=1, n_samples=9)
        path = _range_path("scope_total", base / 1000, base / 1000 + 180, "15")
        status, before = _get(server, path)
        assert status == 200
        assert dict(before["data"]["result"][0]["values"])[base / 1000 + 135] == "120"
        from timbala_spark.sources.wire import encode_write_request

        status, _ = _post(server, "/write", encode_write_request([{
            "labels": {"__name__": "scope_total", "job": "j0", "i": "0"},
            "samples": [[base + 135_000, 7.0]],
        }]))
        assert status == 200
        status, after = _get(server, path)
        assert status == 200
        assert dict(after["data"]["result"][0]["values"])[base / 1000 + 135] == "7"

    def test_write_mid_request_never_exposes_a_stale_body(
        self, server, monkeypatch
    ):
        """A write lands after the answer is computed and before it is
        stored: the next identical GET must compute on the new
        snapshot, not serve the body computed on the old one."""
        from timbala_spark.api import PromAPI
        from timbala_spark.sources.wire import encode_write_request

        base = self.BASE_MS + 20_000_000
        _write_counters(server, "mid_total", base, n_series=1, n_samples=9)
        path = _range_path("mid_total", base / 1000, base / 1000 + 180, "15")
        orig = PromAPI.query_range
        written = []

        def query_range_then_write(self, *a, **kw):
            out = orig(self, *a, **kw)
            if not written:
                written.append(_post(server, "/write", encode_write_request([{
                    "labels": {"__name__": "mid_total", "job": "j0", "i": "0"},
                    "samples": [[base + 135_000, 7.0]],
                }]))[0])
            return out

        monkeypatch.setattr(PromAPI, "query_range", query_range_then_write)
        status, first = _get(server, path)
        assert status == 200 and written == [200]
        at = base / 1000 + 135
        assert dict(first["data"]["result"][0]["values"])[at] == "120"
        status, second = _get(server, path)
        assert status == 200
        assert dict(second["data"]["result"][0]["values"])[at] == "7"

    def test_write_mid_fill_never_serves_old_rows(self, server, monkeypatch):
        """A write lands while an instant request fills its widened
        window: the window belongs to the old snapshot, so a later
        instant of the same cell computes on the new snapshot and sees
        the write."""
        from timbala_spark.api import PromAPI
        from timbala_spark.sources.wire import encode_write_request

        base = self.BASE_MS + 25_000_000
        _write_counters(server, "fill_total", base, n_series=1, n_samples=21)
        at = base / 1000 + 240
        orig = PromAPI._gated_collect
        written = []

        def collect_then_write(self, *a, **kw):
            rows = orig(self, *a, **kw)
            if not written:
                written.append(_post(server, "/write", encode_write_request([{
                    "labels": {"__name__": "fill_total", "job": "j0", "i": "0"},
                    "samples": [[int(at * 1000) + 1000, 7.0]],
                }]))[0])
            return rows

        monkeypatch.setattr(PromAPI, "_gated_collect", collect_then_write)
        status, first = _get(server, f"/api/v1/query?query=fill_total&time={at:.0f}")
        assert status == 200 and written == [200]
        assert first["data"]["result"][0]["value"][1] == "240"
        status, second = _get(
            server, f"/api/v1/query?query=fill_total&time={at + 2:.0f}"
        )
        assert status == 200
        assert second["data"]["result"][0]["value"] == [at + 2, "7"]

    def test_encodings_decode_to_identical_json(self, server):
        base = self.BASE_MS + 30_000_000
        _write_counters(server, "enc_total", base)
        path = _range_path(
            "rate(enc_total[5m])", base / 1000 + 600, base / 1000 + 1500
        )
        conn = self._conn(server)
        try:
            # each encoding twice: the fill, then the cached bytes
            got = [
                _conn_get(conn, path, enc)
                for enc in ("gzip", "deflate", None) * 2
            ]
        finally:
            conn.close()
        assert all(status == 200 for status, _ in got)
        assert len(got[0][1]["data"]["result"]) == 4
        assert all(payload == got[0][1] for _, payload in got)

    def test_instant_queries_and_errors_are_not_cached(
        self, server, monkeypatch
    ):
        from timbala_spark.api import ERR_TIMEOUT, PromAPI

        # /query without ``time`` means "now": every answer is fresh
        _, a = _get(server, "/api/v1/query?query=time()")
        time.sleep(0.05)
        _, b = _get(server, "/api/v1/query?query=time()")
        assert a["status"] == b["status"] == "success"
        assert a["data"]["result"] != b["data"]["result"]
        # with an explicit ``time`` too: no measured traffic repeats
        # one, so each reaches PromAPI.query
        orig_query = PromAPI.query
        queries = []

        def counted(self, *a, **kw):
            queries.append(1)
            return orig_query(self, *a, **kw)

        monkeypatch.setattr(PromAPI, "query", counted)
        for _ in range(2):
            status, _ = _get(server, "/api/v1/query?query=1&time=1650000000")
            assert status == 200
        assert len(queries) == 2
        # an error envelope (here a transient timeout) is not stored:
        # the retry of the same URL succeeds
        base = self.BASE_MS + 40_000_000
        _write_counters(server, "err_total", base, n_series=1, n_samples=9)
        path = _range_path("err_total", base / 1000, base / 1000 + 120, "15")
        orig = PromAPI.query_range
        calls = []

        def timeout_once(self, *a, **kw):
            calls.append(1)
            if len(calls) == 1:
                return PromAPI._error(ERR_TIMEOUT, "query timed out")
            return orig(self, *a, **kw)

        monkeypatch.setattr(PromAPI, "query_range", timeout_once)
        status, payload = _get(server, path)
        assert status == 503 and payload["errorType"] == "timeout"
        status, payload = _get(server, path)
        assert status == 200 and len(payload["data"]["result"]) == 1

    def test_concurrent_dashboard_reads_equal_serial(self, server):
        """8 threads on 8 keep-alive connections send identical and
        distinct dashboard reads at a 1 µs switch interval, on a fresh
        snapshot: the range-results cache, the metadata cache, the
        engine's plan cache and the response cache fill and hit
        concurrently, and every answer equals the serial one."""
        import sys
        import threading
        from urllib.parse import quote

        base = self.BASE_MS + 50_000_000
        _write_counters(server, "conc_total", base, n_series=4)
        b = base / 1000
        paths = [
            _range_path("sum by (job) (rate(conc_total[5m]))", b + 600, b + 1500),
            _range_path("sum by (job) (rate(conc_total[5m]))", b + 660, b + 1560),
            _range_path("topk(2, rate(conc_total[5m]))", b + 600, b + 1500),
            _range_path("count by (job) (conc_total)", b + 300, b + 1200),
            f"/api/v1/query?query={quote('sum(conc_total)')}&time={b + 900:.0f}",
            f"/api/v1/query?query={quote('sum(conc_total)')}&time={b + 901:.0f}",
            "/api/v1/label/i/values",
            f"/api/v1/series?match[]=conc_total&start={b}&end={b + 1800}",
        ]
        serial = {p: _get(server, p) for p in paths}
        assert all(st == 200 for st, _ in serial.values())
        server._invalidate_engine()  # concurrent phase: empty caches
        errors: list = []

        def client(k):
            conn = self._conn(server)
            try:
                for r in range(2):
                    for j in range(len(paths)):
                        # threads share every URL, in different orders
                        p = paths[(j * (k + 1) + r) % len(paths)]
                        enc = ("gzip", None)[(k + j) % 2]
                        got = _conn_get(conn, p, enc)
                        if got != serial[p]:
                            errors.append((p, got))
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(e)
            finally:
                conn.close()

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [
                threading.Thread(target=client, args=(k,)) for k in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors[:2]


class TestMetaAnswerCache:
    """Label values and ``/series`` answers are cached like
    ``query_range`` answers: as the finished bytes of the snapshot that
    computed them, never errors, and never past the byte budget."""

    BASE_MS = 1_660_000_000_000

    def _write(self, srv, name, label, values):
        from timbala_spark.sources.wire import encode_write_request

        status, _ = _post(srv, "/write", encode_write_request([
            {
                "labels": {"__name__": name, label: v},
                "samples": [[self.BASE_MS, 1.0]],
            }
            for v in values
        ]))
        assert status == 200

    @staticmethod
    def _count(monkeypatch, owner, name) -> list:
        calls = []
        orig = getattr(owner, name)

        def counted(*a, **kw):
            calls.append(1)
            return orig(*a, **kw)

        monkeypatch.setattr(owner, name, counted)
        return calls

    def test_repeats_do_not_reach_promapi(self, server, monkeypatch):
        import http.client

        from timbala_spark.api import PromAPI

        self._write(server, "mc_repeat", "mc_repeat_l", ["a", "b"])
        paths = [
            "/api/v1/label/mc_repeat_l/values",
            f"/api/v1/series?match[]=mc_repeat&start={self.BASE_MS / 1000}",
        ]
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=120)
        try:
            first = {(p, enc): _conn_get(conn, p, enc)
                     for p in paths for enc in ("gzip", None)}
            assert first[paths[0], None] == (
                200, {"status": "success", "data": ["a", "b"]}
            )
            assert len(first[paths[1], None][1]["data"]) == 2
            calls = self._count(monkeypatch, PromAPI, "label_values")
            calls += self._count(monkeypatch, PromAPI, "series")
            for _ in range(3):
                for (p, enc), want in first.items():
                    assert _conn_get(conn, p, enc) == want
        finally:
            conn.close()
        assert calls == []

    def test_write_drops_meta_answers(self, server):
        self._write(server, "mc_write", "mc_write_l", ["a"])
        lv = "/api/v1/label/mc_write_l/values"
        series = "/api/v1/series?match[]=mc_write"
        assert _get(server, lv)[1]["data"] == ["a"]
        assert len(_get(server, series)[1]["data"]) == 1
        self._write(server, "mc_write", "mc_write_l", ["b"])
        assert _get(server, lv)[1]["data"] == ["a", "b"]
        assert len(_get(server, series)[1]["data"]) == 2

    def test_errors_are_recomputed(self, server, monkeypatch):
        from timbala_spark.api import PromAPI

        lv_calls = self._count(monkeypatch, PromAPI, "label_values")
        series_calls = self._count(monkeypatch, PromAPI, "series")
        for _ in range(2):
            status, payload = _get(server, "/api/v1/label/0bad/values")
            assert status == 400
            assert payload["error"] == 'invalid label name: "0bad"'
            status, payload = _get(server, "/api/v1/series")
            assert status == 400
            assert payload["error"] == "no match[] parameter provided"
        assert len(lv_calls) == len(series_calls) == 2

    def test_truncated_answer_keeps_its_warnings(self, server, monkeypatch):
        from timbala_spark.api import PromAPI

        self._write(server, "mc_trunc", "mc_trunc_l", ["a", "b"])
        paths = [
            "/api/v1/label/mc_trunc_l/values",
            "/api/v1/series?match[]=mc_trunc",
        ]
        with monkeypatch.context() as mp:
            mp.setitem(server._api_kw, "meta_limit", 1)
            server._invalidate_engine()
            try:
                first = [_get(server, p) for p in paths]
                calls = self._count(mp, PromAPI, "label_values")
                calls += self._count(mp, PromAPI, "series")
                again = [_get(server, p) for p in paths]
            finally:
                server._invalidate_engine()
        assert again == first and calls == []
        (s1, lv), (s2, ser) = first
        assert s1 == s2 == 200
        assert lv["data"] == ["a"] and len(ser["data"]) == 1
        assert lv["warnings"] == [
            "results truncated due to limit (1 distinct values)"
        ]
        assert ser["warnings"] == [
            "results truncated due to limit (1 series); narrow match[]"
        ]

    def test_answer_over_budget_is_not_held(self, server, monkeypatch):
        """An answer costing more than the whole byte budget is
        computed again on every request rather than held."""
        from timbala_spark import api as api_mod
        from timbala_spark import frontend

        self._write(server, "mc_budget", "mc_budget_l", ["a", "b"])
        paths = [
            "/api/v1/label/mc_budget_l/values",
            "/api/v1/series?match[]=mc_budget",
        ]
        with monkeypatch.context() as mp:
            mp.setattr(
                frontend, "RESPONSE_CACHE_BYTES", frontend.RESPONSE_ENTRY_OVERHEAD
            )
            server._invalidate_engine()
            try:
                builds = self._count(mp, api_mod, "label_get")
                parses = self._count(mp, api_mod, "parse_metric_selector")
                got = [_get(server, p) for p in paths for _ in range(2)]
                held = len(server._engine_api().responses._entries)
            finally:
                server._invalidate_engine()
        assert got[0] == got[1] and got[2] == got[3]
        assert got[0][1]["data"] == ["a", "b"] and len(got[2][1]["data"]) == 2
        assert len(builds) == len(parses) == 2
        assert held == 0


class TestEveryRequestAnswered:
    """Values a parser turns into infinities, and exceptions no route
    expects, still get a well-formed answer on a usable connection."""

    def test_infinite_step_answers_400(self, server):
        status, payload = _get(server, _range_path("up", 0, 3600, "inf"))
        assert status == 400 and payload["errorType"] == "bad_data"
        assert payload["error"] == (
            'cannot parse "inf" to a valid duration. It overflows int64'
        )

    @pytest.mark.parametrize("value", ["inf", "-Inf", "NaN", "1e400", "1e16"])
    def test_non_finite_or_overflowing_time_answers_400(self, server, value):
        status, payload = _get(server, f"/api/v1/query?query=up&time={value}")
        assert status == 400 and payload["errorType"] == "bad_data"
        assert payload["error"] == f'cannot parse "{value}" to a valid timestamp'
        status, payload = _get(server, _range_path("up", 0, value))
        assert status == 400 and payload["errorType"] == "bad_data"

    def test_unexpected_exceptions_answer_internal(self, server, monkeypatch):
        import timbala_spark.server as server_mod
        from timbala_spark.api import PromAPI
        from timbala_spark.sources.wire import encode_write_request

        def boom(*a, **kw):
            raise RuntimeError("boom")

        monkeypatch.setattr(PromAPI, "query", boom)
        status, payload = _get(server, "/api/v1/query?query=up&time=1")
        assert (status, payload["errorType"], payload["error"]) == (
            500, "internal", "boom"
        )
        monkeypatch.setattr(server_mod, "write_samples_batch", boom)
        status, body = _post(server, "/write", encode_write_request([{
            "labels": {"__name__": "never_total"}, "samples": [[1, 1.0]],
        }]))
        assert status == 500 and json.loads(body)["errorType"] == "internal"
        monkeypatch.undo()
        status, payload = _get(server, "/api/v1/query?query=1%2B1&time=1")
        assert status == 200 and payload["data"]["result"][1] == "2"

    @pytest.mark.parametrize("error", [RuntimeError, BrokenPipeError])
    def test_error_after_the_answer_only_closes(
        self, server, monkeypatch, caplog, error
    ):
        """An exception raised once an answer has started going out
        adds no second status line: the connection is just closed, and
        a client that went away (``ConnectionError``) logs nothing."""
        import socket

        import timbala_spark.server as server_mod

        respond_api = server_mod.TimbalaServer._respond_api

        def answer_then_raise(self, h, payload):
            respond_api(self, h, payload)
            raise error("after the answer")

        monkeypatch.setattr(
            server_mod.TimbalaServer, "_respond_api", answer_then_raise
        )
        with socket.create_connection(
            ("127.0.0.1", server.port), timeout=60
        ) as s:
            s.sendall(
                b"GET /api/v1/query?query=1%2B1&time=1 HTTP/1.1\r\n"
                b"Host: x\r\n\r\n"
            )
            got = b""
            while chunk := s.recv(65536):  # the server closes the socket
                got += chunk
        assert got.startswith(b"HTTP/1.1 200 ")
        assert got.count(b"HTTP/1.1 ") == 1
        logged = [r for r in caplog.records if r.name == server_mod.__name__]
        assert bool(logged) == (error is RuntimeError)


class TestParseDuration:
    def test_single_group_durations(self):
        from timbala_spark.server import _parse_duration

        assert _parse_duration("90s") == 90.0
        assert _parse_duration("30m") == 1800.0
        assert _parse_duration("2d") == 2 * 86400
        assert _parse_duration("500ms") == 0.5
        assert _parse_duration("1w") == 604800.0
        assert _parse_duration("15") == 15.0
        assert _parse_duration("0.5") == 0.5

    def test_invalid_durations_raise(self):
        """The vendored model.ParseDuration regex is a SINGLE
        ``<integer><unit>`` group — compound (``1m30s``) and
        fractional-unit (``1.5s``) forms get 400 like the reference."""
        import pytest

        from timbala_spark.server import _parse_duration

        for bad in ["", "1x", "30s1m extra", "s", "1m30", "m30s",
                    "1m 30s", "1m30s", "1h30m", "1.5s", "2d12h"]:
            with pytest.raises(ValueError):
                _parse_duration(bad)


class TestDrainCap:
    def test_huge_declared_body_answers_413_and_closes(self, server):
        """A client declaring a body far past the drain cap gets 413
        with Connection: close; the server stops reading instead of
        draining gigabytes (ADVICE r3: MaxBytesReader analog)."""
        import socket

        declared = 512 * 1024 * 1024  # 512 MiB declared, never fully sent
        with socket.create_connection(
            ("127.0.0.1", server.port), timeout=30
        ) as s:
            s.sendall(
                b"POST /write HTTP/1.1\r\n"
                b"Host: x\r\n"
                b"Content-Length: " + str(declared).encode() + b"\r\n"
                b"\r\n"
            )
            # stream until the server stops reading (EPIPE/reset) or we
            # pass the drain cap by a wide margin
            chunk = bytes(65536)
            sent = 0
            try:
                while sent < 32 * 1024 * 1024:
                    s.sendall(chunk)
                    sent += len(chunk)
            except (BrokenPipeError, ConnectionResetError):
                pass
            try:
                s.shutdown(socket.SHUT_WR)
            except OSError:
                pass
            resp = b""
            try:
                while b"\r\n\r\n" not in resp and len(resp) < 65536:
                    got = s.recv(65536)
                    if not got:
                        break
                    resp += got
            except (ConnectionResetError, TimeoutError):
                pass
        # the response may be lost to a TCP RST if the server closed
        # with unread data in flight; the guarantee under test is that
        # the server stopped reading (sendall failed long before
        # 512 MiB) — when the status line survives, it must be 413
        if resp:
            head = resp.split(b"\r\n")[0]
            assert b"413" in head, resp[:200]
            assert b"connection: close" in resp.lower(), resp[:500]
        assert sent <= 32 * 1024 * 1024
