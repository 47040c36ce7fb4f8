"""Seeded inputs, closed-form expected answers and answer checks.

Pure Python (no Spark): both the load generator and the engine process
import it, so the engine builds exactly the inputs the checker expects.
Every input is a function of ``(seed, scale)``.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

#: golden tolerance of the PromQL test harness (relative ε)
EPS = 1e-6

#: 2023-11-14T00:00:00Z — every store sample lands in one UTC day
T0_MS = 1_699_920_000_000
SCRAPE_MS = 15_000
#: samples sit half a scrape off the query grid, so a ``[5m]`` window
#: holds exactly 20 samples whether its left edge is open or closed
PHASE_MS = 7_500
#: counter values start far from zero, so rate() never clips its
#: extrapolation at the counter's zero point
COUNTER_OFFSET = 1000.0
LE_BOUNDS = (0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, math.inf)
QUANTILE = 0.9

SCALES = {
    # jobs = dashboard clients; the series total is 512
    "full": dict(instances=32, groups=8, hist_instances=8, hours=1.25,
                 writer_series=200, batch_points=5, history_s=70,
                 clusters=160, embeddings=400, planted_pairs=40),
    # tiny inputs for the benchmark's own smoke tests
    "smoke": dict(instances=8, groups=2, hist_instances=2, hours=1.25,
                  writer_series=20, batch_points=5, history_s=70,
                  clusters=24, embeddings=60, planted_pairs=6),
}


def close(got: float, want: float, eps: float = EPS) -> bool:
    if math.isnan(want):
        return math.isnan(got)
    if math.isinf(want):
        return got == want
    return abs(got - want) <= eps * max(1.0, abs(want))


# -- dashboard --------------------------------------------------------


@dataclass
class DashboardSpec:
    jobs: list[str]
    #: (labels, kind, a, b): counter v = a*elapsed_s + b;
    #: gauge v = a + b*(k mod 20) for sample index k
    series: list[tuple[dict, str, float, float]]
    n_points: int
    #: per job: {instance: counter slope}
    slopes: dict[str, dict[str, float]]
    #: per job: {instance: gauge avg over one 20-sample period}
    gauge_avg: dict[str, dict[str, float]]
    #: per job: cumulative bucket rates, aligned with LE_BOUNDS
    hist_cum: dict[str, list[float]]
    group_of: dict[str, str] = field(default_factory=dict)

    @property
    def n_samples(self) -> int:
        return len(self.series) * self.n_points

    @property
    def last_sample_ms(self) -> int:
        return T0_MS + PHASE_MS + (self.n_points - 1) * SCRAPE_MS


def dashboard_spec(seed: int, scale: str = "full", clients: int = 4) -> DashboardSpec:
    p = SCALES[scale]
    rng = random.Random(seed)
    jobs = [f"job{j}" for j in range(clients)]
    n_inst, n_groups = p["instances"], p["groups"]
    n_counters = clients * n_inst
    # distinct, exactly representable slopes: topk() has no ties
    perm = list(range(n_counters))
    rng.shuffle(perm)
    series: list[tuple[dict, str, float, float]] = []
    slopes: dict[str, dict[str, float]] = {j: {} for j in jobs}
    gauge_avg: dict[str, dict[str, float]] = {j: {} for j in jobs}
    hist_cum: dict[str, list[float]] = {}
    group_of: dict[str, str] = {}
    for ji, job in enumerate(jobs):
        for i in range(n_inst):
            inst = f"i{i:03d}"
            grp = f"g{i % n_groups}"
            group_of[inst] = grp
            base = {"job": job, "instance": inst, "group": grp}
            slope = 0.5 + 0.25 * perm[ji * n_inst + i]
            slopes[job][inst] = slope
            series.append(({"__name__": "http_requests_total", **base},
                           "counter", slope, COUNTER_OFFSET))
            g_base = 20.0 + 0.5 * rng.randrange(40)
            g_amp = 0.25 * (1 + rng.randrange(4))
            gauge_avg[job][inst] = g_base + g_amp * 9.5
            series.append(({"__name__": "node_temperature_celsius", **base},
                           "gauge", g_base, g_amp))
        # histogram: integer per-bucket rates, re-drawn until the
        # quantile rank sits clearly inside a bucket (no float tie at a
        # bucket boundary)
        while True:
            per_inst = [[rng.randrange(6) for _ in LE_BOUNDS]
                        for _ in range(p["hist_instances"])]
            cum_inst = [[sum(r[: b + 1]) for b in range(len(LE_BOUNDS))]
                        for r in per_inst]
            cum = [float(sum(c[b] for c in cum_inst)) for b in range(len(LE_BOUNDS))]
            rank = QUANTILE * cum[-1]
            if cum[-1] > 0 and all(abs(c - rank) > 0.25 for c in cum):
                break
        hist_cum[job] = cum
        for h, c in enumerate(cum_inst):
            for b, le in enumerate(LE_BOUNDS):
                labels = {"__name__": "http_request_duration_seconds_bucket",
                          "job": job, "instance": f"h{h}",
                          "le": "+Inf" if math.isinf(le) else repr(le)}
                series.append((labels, "counter", float(c[b]),
                               COUNTER_OFFSET * (b + 1)))
    n_points = int(p["hours"] * 3600_000 // SCRAPE_MS)
    return DashboardSpec(jobs, series, n_points, slopes, gauge_avg, hist_cum, group_of)


def bucket_quantile(q: float, cum: list[float], bounds=LE_BOUNDS) -> float:
    """Prometheus ``bucketQuantile`` over cumulative bucket counts."""
    if len(cum) < 2:
        return math.nan
    rank = q * cum[-1]
    b = 0
    while b < len(cum) - 1 and cum[b] < rank:
        b += 1
    if b == len(cum) - 1:
        return bounds[-2]
    if b == 0 and bounds[0] <= 0:
        return bounds[0]
    start, end, count = 0.0, bounds[b], cum[b]
    if b > 0:
        start = bounds[b - 1]
        count -= cum[b - 1]
        rank -= cum[b - 1]
    return start + (end - start) * (rank / count)


#: dashboard geometry: 30 min range panels at a 60 s step; the
#: simulated ``now`` advances 1 s per refresh
RANGE_S = 1800
STEP_S = 60
REFRESH_S = 1
LOOKBACK_S = 300


@dataclass(frozen=True)
class Panel:
    name: str
    kind: str  # "range" | "instant" | "labels"
    query: str


def dashboard_panels(job: str) -> list[Panel]:
    sel = f'job="{job}"'
    return [
        Panel("rate_by_group", "range",
              f"sum by (group) (rate(http_requests_total{{{sel}}}[5m]))"),
        Panel("topk", "range", f"topk(3, rate(http_requests_total{{{sel}}}[5m]))"),
        Panel("p90", "range",
              f"histogram_quantile({QUANTILE}, sum by (le) "
              f"(rate(http_request_duration_seconds_bucket{{{sel}}}[5m])))"),
        Panel("temp_avg", "range",
              f'avg_over_time(node_temperature_celsius{{{sel},group="g0"}}[5m])'),
        Panel("count_by_group", "range",
              f"count by (group) (node_temperature_celsius{{{sel}}})"),
        Panel("targets_up", "instant", f"sum(up{{{sel}}})"),
        Panel("job_variable", "labels", "job"),
    ]


def dashboard_first_now_s(spec: DashboardSpec) -> int:
    """First simulated ``now``: the oldest range panel window plus its
    lookback lies inside the data; the range panels' widened windows
    then last 300 refreshes, and ``now`` sits 10 s past a minute, so the
    instant panel's window (it turns over at :00 and :01) lasts 50.
    Refresh 0 fills every panel; the next miss comes at refresh 50."""
    now = (T0_MS // 1000) + RANGE_S + LOOKBACK_S + STEP_S
    while not (now % 60 == 10 and (now - now % STEP_S - RANGE_S) % 480 == 180):
        now += REFRESH_S
    return now


def dashboard_now_s(spec: DashboardSpec, refresh: int) -> int:
    """Simulated ``now`` of a client's refresh; it wraps to the start
    once the data ends, so a client never queries past its samples."""
    first = dashboard_first_now_s(spec)
    span = (spec.last_sample_ms // 1000) - first
    return first + (refresh * REFRESH_S) % (span - span % REFRESH_S)


#: ``up`` samples: one per target every 4 min, inside the 5 min lookback
UP_EVERY_MS = 240_000


def up_series(spec: DashboardSpec) -> list[dict]:
    """The targets' ``up`` series, which set-up sends through remote
    write (the bulk history goes straight to the store)."""
    ts = range(T0_MS + PHASE_MS, spec.last_sample_ms + UP_EVERY_MS, UP_EVERY_MS)
    return [{"labels": {"__name__": "up", "job": job, "instance": inst},
             "samples": [[t, 1.0] for t in ts]}
            for job in spec.jobs for inst in spec.slopes[job]]


def range_params(now_s: int) -> tuple[int, int, int]:
    end = now_s - now_s % STEP_S
    return end - RANGE_S, end, STEP_S


def expected_panel(spec: DashboardSpec, job: str, panel: Panel):
    """Closed-form answer: ``{frozenset(labels): value}`` per grid point
    (the answer is constant over time) or the label-values list."""
    if panel.kind == "labels":
        return sorted(spec.jobs)
    sl = spec.slopes[job]
    if panel.name == "rate_by_group":
        out: dict = {}
        for inst, s in sl.items():
            key = frozenset({"group": spec.group_of[inst]}.items())
            out[key] = out.get(key, 0.0) + s
        return out
    if panel.name == "topk":
        top = sorted(sl.items(), key=lambda kv: -kv[1])[:3]
        return {frozenset({"job": job, "instance": i, "group": spec.group_of[i]}.items()): s
                for i, s in top}
    if panel.name == "p90":
        return {frozenset(): bucket_quantile(QUANTILE, spec.hist_cum[job])}
    if panel.name == "temp_avg":
        return {frozenset({"job": job, "instance": i, "group": "g0"}.items()): v
                for i, v in spec.gauge_avg[job].items() if spec.group_of[i] == "g0"}
    if panel.name == "count_by_group":
        out = {}
        for inst in sl:
            key = frozenset({"group": spec.group_of[inst]}.items())
            out[key] = out.get(key, 0.0) + 1.0
        return out
    if panel.name == "targets_up":
        return {frozenset(): float(len(sl))}
    raise ValueError(panel.name)


def check_vector_points(result: list, want: dict, grid: list[float], value_key: str) -> str | None:
    """Compare a Prometheus API matrix/vector result against
    ``want`` (constant per series) at every grid timestamp. Returns an
    error string, or None when the answer is right."""
    got_keys = set()
    for s in result:
        key = frozenset(s["metric"].items())
        if key not in want:
            return f"unexpected series {dict(key)}"
        if key in got_keys:
            return f"duplicate series {dict(key)}"
        got_keys.add(key)
        pts = s["values"] if value_key == "values" else [s["value"]]
        if [float(t) for t, _ in pts] != grid:
            return f"series {dict(key)}: timestamps differ from the grid"
        for t, v in pts:
            if not close(float(v), want[key]):
                return f"series {dict(key)} at {t}: got {v}, want {want[key]!r}"
    if got_keys != set(want):
        return f"missing series {[dict(k) for k in set(want) - got_keys]}"
    return None


def check_dashboard_response(spec: DashboardSpec, job: str, panel: Panel,
                             now_s: int, payload: dict, want=None) -> str | None:
    if payload.get("status") != "success":
        return f"{panel.name}: {payload.get('errorType')}: {payload.get('error')}"
    if want is None:
        want = expected_panel(spec, job, panel)
    data = payload["data"]
    if panel.kind == "labels":
        return None if data == want else f"{panel.name}: got {data}, want {want}"
    if panel.kind == "instant":
        return check_vector_points(data["result"], want, [float(now_s)], "value")
    start, end, step = range_params(now_s)
    grid = [float(t) for t in range(start, end + 1, step)]
    err = check_vector_points(data["result"], want, grid, "values")
    return None if err is None else f"{panel.name}: {err}"


# -- ingest_alerting --------------------------------------------------

INGEST_METRIC = "bench_ingest_total"
#: value offset, so rate() extrapolation never clips at zero
INGEST_OFFSET = 10_000.0
#: first ingest timestamp (whole second)
INGEST_BASE_MS = T0_MS


@dataclass
class IngestSpec:
    writers: list[str]
    slopes: dict[str, list[float]]
    batch_points: int
    history_s: int

    def batch_seconds(self, k: int) -> list[int]:
        """Whole-second offsets (from INGEST_BASE_MS) of batch ``k``:
        batch 0 carries the history the ``[1m]`` rules need."""
        if k == 0:
            return list(range(self.history_s))
        lo = self.history_s + (k - 1) * self.batch_points
        return list(range(lo, lo + self.batch_points))

    def value(self, writer: str, i: int, sec: int) -> float:
        return self.slopes[writer][i] * sec + INGEST_OFFSET

    def batch(self, writer: str, k: int) -> list[dict]:
        secs = self.batch_seconds(k)
        return [
            {"labels": {"__name__": INGEST_METRIC, "writer": writer, "series": f"s{i:04d}"},
             "samples": [[INGEST_BASE_MS + s * 1000, self.value(writer, i, s)] for s in secs]}
            for i in range(len(self.slopes[writer]))
        ]

    def last_second(self, k: int) -> int:
        return self.batch_seconds(k)[-1]


def ingest_spec(seed: int, scale: str = "full", writers: int = 2) -> IngestSpec:
    p = SCALES[scale]
    rng = random.Random(seed ^ 0x5EED)
    names = [f"w{w}" for w in range(writers)]
    slopes = {w: [0.5 + 0.25 * rng.randrange(64) for _ in range(p["writer_series"])]
              for w in names}
    return IngestSpec(names, slopes, p["batch_points"], p["history_s"])


def ingest_rule_queries() -> list[str]:
    return [
        f"sum by (writer) (rate({INGEST_METRIC}[1m])) > 0",
        f"count by (writer) ({INGEST_METRIC}) > 0",
    ]


def expected_rule(spec: IngestSpec, query: str, sec: int) -> dict:
    if query.startswith("sum by (writer) (rate("):
        return {frozenset({"writer": w}.items()): sum(spec.slopes[w]) for w in spec.writers}
    if query.startswith("count by (writer)"):
        return {frozenset({"writer": w}.items()): float(len(spec.slopes[w]))
                for w in spec.writers}
    raise ValueError(query)


def readback_query(writer: str) -> str:
    return f'sum(count_over_time({INGEST_METRIC}{{writer="{writer}"}}[1h]))'


def check_instant(payload: dict, want: dict, t_s: float) -> str | None:
    if payload.get("status") != "success":
        return f"{payload.get('errorType')}: {payload.get('error')}"
    return check_vector_points(payload["data"]["result"], want, [float(t_s)], "value")


# -- curation ---------------------------------------------------------


@dataclass
class CurationSpec:
    #: (doc_id, text, domain, source)
    docs: list[tuple[int, str, str, str]]
    #: cluster canonical (min doc id) → (domain, source)
    clusters: dict[int, tuple[str, str]]
    pii: list[str]
    embeddings: list[tuple[int, list[float]]]
    planted_pairs: set[tuple[int, int]]
    sample_fraction: dict[str, float]
    cap_max_rows: int
    shard_budget: int
    emb_threshold: float = 0.9

    def expected_canonical(self) -> list[int]:
        """Canonical docs surviving the sampling mix and the per-domain
        cap (smallest ids first), sorted."""
        kept: dict[str, list[int]] = {}
        for cid, (domain, source) in sorted(self.clusters.items()):
            if self.sample_fraction.get(source, 0.0) >= 1.0:
                kept.setdefault(domain, []).append(cid)
        return sorted(c for ids in kept.values() for c in ids[: self.cap_max_rows])


#: domain of cluster ``c`` is ``SKEWED_DOMAINS[c % 10]``
SKEWED_DOMAINS = (0, 0, 0, 0, 1, 1, 2, 3, 4, 5)


def curation_spec(seed: int, scale: str = "full") -> CurationSpec:
    p = SCALES[scale]
    rng = random.Random(seed ^ 0xC0DE)
    vocab = [f"w{rng.randrange(10**6):06d}" for _ in range(4000)]
    docs, clusters, pii = [], {}, []
    did = 0
    for c in range(p["clusters"]):
        words = [rng.choice(vocab) for _ in range(60)]
        secret = [f"user{seed}x{c}@example.com", f"10.{c % 250}.{seed % 250}.7",
                  f"{9_000_000 + c * 13}"][c % 3]
        pii.append(secret)
        words.insert(rng.randrange(60), secret)
        # the corpus's shape is the same for every seed (cluster sizes,
        # skewed domains so the cap binds on some of them only, the
        # source mix); the seed draws the words, PII and edits
        domain = f"d{SKEWED_DOMAINS[c % len(SKEWED_DOMAINS)]}"
        source = "web" if c % 10 < 7 else "forum"
        clusters[did] = (domain, source)
        for m in range(1 + c % 3):
            t = list(words)
            if m == 1:  # exact duplicate
                pass
            elif m == 2:  # near duplicate: one word edited
                t[rng.randrange(len(t))] = rng.choice(vocab)
            docs.append((did, " ".join(t), domain, source))
            did += 1
    embeddings = []
    planted = set()
    dim = 64
    for i in range(p["embeddings"]):
        embeddings.append((i, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
    for k in range(p["planted_pairs"]):
        a = 2 * k
        b = len(embeddings)
        embeddings.append((b, [x + rng.gauss(0.0, 0.005) for x in embeddings[a][1]]))
        planted.add((a, b))
    return CurationSpec(docs, clusters, pii, embeddings, planted,
                        sample_fraction={"web": 1.0, "forum": 0.0},
                        cap_max_rows=max(2, p["clusters"] // 10),
                        shard_budget=1000)


def cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    return dot / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))


def check_curated(spec: CurationSpec, rows: list[dict]) -> str | None:
    """``rows``: doc_id, canonical_id, text_scrubbed, n_tokens,
    token_offset, shard_id of the curated output."""
    want = spec.expected_canonical()
    got = sorted(r["doc_id"] for r in rows)
    if got != want:
        return (f"curated canonical docs: got {len(got)}, want {len(want)} "
                f"(first difference {sorted(set(got) ^ set(want))[:5]})")
    off = 0
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        if r["canonical_id"] != r["doc_id"]:
            return f"doc {r['doc_id']}: canonical_id {r['canonical_id']}"
        if r["token_offset"] != off or r["shard_id"] != off // spec.shard_budget:
            return f"doc {r['doc_id']}: packing offset {r['token_offset']}/{r['shard_id']}, want {off}"
        if any(s in r["text_scrubbed"] for s in spec.pii):
            return f"doc {r['doc_id']}: PII survived the scrub"
        if r["n_tokens"] < 5:
            return f"doc {r['doc_id']}: {r['n_tokens']} tokens passed the quality gate"
        off += r["n_tokens"]
    return None


def check_embedding_pairs(spec: CurationSpec, pairs: list[tuple[int, int, float]]) -> str | None:
    vec = dict(spec.embeddings)
    seen = set()
    for a, b, cos in pairs:
        if not a < b:
            return f"pair ({a}, {b}) not ordered"
        true = cosine(vec[a], vec[b])
        if true < spec.emb_threshold or not close(cos, true):
            return f"pair ({a}, {b}): reported cos {cos}, true {true}"
        seen.add((a, b))
    missing = spec.planted_pairs - seen
    if missing:
        return f"{len(missing)} planted pairs not found, e.g. {sorted(missing)[:3]}"
    return None
