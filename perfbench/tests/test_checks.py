"""Every answer check passes on the right answer and fails when it is
given a wrong expected value."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads as W  # noqa: E402


def _matrix(want: dict, grid: list[float]) -> dict:
    return {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": dict(k), "values": [[t, repr(v)] for t in grid]} for k, v in want.items()]}}


def _vector(want: dict, t: float) -> dict:
    return {"status": "success", "data": {"resultType": "vector", "result": [
        {"metric": dict(k), "value": [t, repr(v)]} for k, v in want.items()]}}


def _wrong(want: dict) -> dict:
    k = next(iter(want))
    return {**want, k: want[k] * (1 + 1e-4) + 1e-3}


@pytest.fixture(scope="module")
def dash():
    return W.dashboard_spec(7, "smoke")


@pytest.mark.parametrize("panel", W.dashboard_panels("job1"), ids=lambda p: p.name)
def test_dashboard_panel_check_rejects_wrong_expectation(dash, panel):
    now = W.dashboard_first_now_s(dash)
    want = W.expected_panel(dash, "job1", panel)
    if panel.kind == "labels":
        payload = {"status": "success", "data": want}
        wrong = want[:-1]
    elif panel.kind == "instant":
        payload = _vector(want, float(now))
        wrong = _wrong(want)
    else:
        start, end, step = W.range_params(now)
        payload = _matrix(want, [float(t) for t in range(start, end + 1, step)])
        wrong = _wrong(want)
    assert W.check_dashboard_response(dash, "job1", panel, now, payload) is None
    assert W.check_dashboard_response(dash, "job1", panel, now, payload, wrong) is not None


def test_dashboard_check_rejects_errors_and_missing_series(dash):
    panel = W.dashboard_panels("job0")[0]
    now = W.dashboard_first_now_s(dash)
    want = W.expected_panel(dash, "job0", panel)
    start, end, step = W.range_params(now)
    grid = [float(t) for t in range(start, end + 1, step)]
    partial = dict(list(want.items())[1:])
    assert W.check_dashboard_response(dash, "job0", panel, now, _matrix(partial, grid))
    short = _matrix(want, grid[1:])
    assert W.check_dashboard_response(dash, "job0", panel, now, short)
    err = {"status": "error", "errorType": "execution", "error": "boom"}
    assert W.check_dashboard_response(dash, "job0", panel, now, err)


def test_bucket_quantile_matches_prometheus():
    # cumulative 10, 20, 40 (+Inf): rank 0.9*40 = 36 is past the last
    # finite bucket, so the answer is its upper bound
    assert W.bucket_quantile(0.9, [10.0, 20.0, 40.0], (1.0, 2.0, float("inf"))) == 2.0
    # rank 0.5*40 = 20 lands exactly on bucket 2's count: 1 + 1*(10/10)
    assert W.bucket_quantile(0.5, [10.0, 20.0, 40.0], (1.0, 2.0, float("inf"))) == 2.0
    assert W.bucket_quantile(0.25, [10.0, 20.0, 40.0], (1.0, 2.0, float("inf"))) == 1.0
    assert W.bucket_quantile(0.125, [10.0, 20.0, 40.0], (1.0, 2.0, float("inf"))) == 0.5


def test_ingest_checks_reject_wrong_expectation():
    spec = W.ingest_spec(3, "smoke")
    for q in W.ingest_rule_queries():
        want = W.expected_rule(spec, q, 80)
        payload = _vector(want, 1.0)
        assert W.check_instant(payload, want, 1.0) is None
        assert W.check_instant(payload, _wrong(want), 1.0) is not None
    readback = {frozenset(): 20.0 * 81}
    assert W.check_instant(_vector(readback, 2.0), readback, 2.0) is None
    assert W.check_instant(_vector(readback, 2.0), {frozenset(): 20.0 * 80}, 2.0) is not None


def _curated_rows(spec):
    rows, off = [], 0
    text = {d[0]: d[1] for d in spec.docs}
    for did in spec.expected_canonical():
        scrubbed = text[did]
        for s in spec.pii:
            scrubbed = scrubbed.replace(s, "<PII>")
        n = len(scrubbed.split())
        rows.append({"doc_id": did, "canonical_id": did, "text_scrubbed": scrubbed,
                     "n_tokens": n, "token_offset": off, "shard_id": off // spec.shard_budget})
        off += n
    return rows


def test_curation_check_rejects_wrong_expectation():
    spec = W.curation_spec(5, "smoke")
    spec.shard_budget = 50  # several shards even at smoke scale
    rows = _curated_rows(spec)
    assert W.check_curated(spec, rows) is None
    spec.cap_max_rows -= 1  # a different expected canonical set
    assert W.check_curated(spec, rows) is not None
    spec.cap_max_rows += 1
    spec.shard_budget += 1  # different expected shard ids
    assert W.check_curated(spec, rows) is not None
    spec.shard_budget -= 1
    leaked = [dict(r) for r in rows]
    leaked[0]["text_scrubbed"] += " " + spec.pii[0]
    assert W.check_curated(spec, leaked) is not None


def test_embedding_check_rejects_wrong_expectation():
    spec = W.curation_spec(5, "smoke")
    vec = dict(spec.embeddings)
    pairs = [(a, b, W.cosine(vec[a], vec[b])) for a, b in sorted(spec.planted_pairs)]
    assert W.check_embedding_pairs(spec, pairs) is None
    assert W.check_embedding_pairs(spec, pairs[1:]) is not None  # a planted pair missing
    spec.emb_threshold = 1.0  # reported pairs no longer verify
    assert W.check_embedding_pairs(spec, pairs) is not None
    spec.emb_threshold = 0.9
    a, b, c = pairs[0]
    assert W.check_embedding_pairs(spec, [(a, b, c - 0.01)] + pairs[1:]) is not None
