"""Traced mode: spans around the public calls of each engine layer.

Everything here wraps the program from outside (attribute patches on
its modules and classes); no program file knows about it. A span is
``[id, parent, trace, layer, start, end, py4j_calls, extra]``; spans of
one client operation share its trace id (sent as the
``X-Perfbench-Op`` header). Spans stay in memory until the engine
process ends, then :func:`summarize` reduces them.

* py4j round trips are counted by wrapping the gateway client's
  ``send_command`` and charged to the thread's innermost open span.
* Spark jobs are charged to spans through the ``perfbench.span``
  local property, set on span entry and read back from the event log
  (every job carries the local properties of the thread submitting it).
* A thread started inside a span is charged to that span.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
OP_HEADER = "X-Perfbench-Op"


class Span:
    __slots__ = ("sid", "parent", "trace", "layer", "start", "end", "py4j", "extra")

    def __init__(self, sid, parent, trace, layer):
        self.sid, self.parent, self.trace, self.layer = sid, parent, trace, layer
        self.start = time.perf_counter()
        self.end = None
        self.py4j = 0
        self.extra: dict = {}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_prop(self, value) -> None:
        self._tls.quiet = True
        try:
            self.sc.setLocalProperty(SPAN_PROP, value)
        finally:
            self._tls.quiet = False

    @contextmanager
    def span(self, layer: str, trace: str | None = None):
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._ids), parent.sid if parent else None,
                  trace or (parent.trace if parent else "untraced"), layer)
        st.append(sp)
        self._set_prop(str(sp.sid))
        try:
            yield sp
        finally:
            self._set_prop(str(parent.sid) if parent else None)
            st.pop()
            sp.end = time.perf_counter()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def adopt(self, sp: Span):
        """Charge this thread's py4j calls and jobs to ``sp`` (a span
        opened on another thread) without recording a new span."""
        st = self._stack()
        st.append(sp)
        self._set_prop(str(sp.sid))
        try:
            yield
        finally:
            self._set_prop(None)
            st.pop()

    def note_samples(self, n: int) -> None:
        """Samples in the batch this thread writes next (the write span
        cannot count them without running a Spark job)."""
        self._tls.pending_samples = n

    def count_py4j(self) -> None:
        if getattr(self._tls, "quiet", False):
            return
        sp = self.current()
        if sp is not None:
            sp.py4j += 1


def _wrap(owner, name: str, make):
    orig = getattr(owner, name)
    setattr(owner, name, functools.wraps(orig)(make(orig)))


def store_files(path: str) -> dict[str, int]:
    """Parquet files under ``path`` and their sizes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.stat(p).st_size
                except FileNotFoundError:  # a concurrent GC removed it
                    pass
    return out


def install(tracer: Tracer, spark) -> None:
    """Patch the layer boundaries of the engine process."""
    import timbala_spark.api as api_mod
    import timbala_spark.engine as engine_mod
    import timbala_spark.server as server_mod
    import timbala_spark.streaming.compact as compact_mod
    import timbala_spark.streaming.ingest as ingest_mod
    from timbala_spark.frontend import RangeResultCache
    from timbala_spark.streaming.store import resolve_store

    T = tracer

    def spanned(layer, trace_of=None, after=None):
        def make(orig):
            def w(*a, **kw):
                with T.span(layer, trace_of(*a) if trace_of else None) as sp:
                    out = orig(*a, **kw)
                    if after:
                        after(sp, out, *a, **kw)
                    return out
            return w
        return make

    def op_of(_self, h):
        return h.headers.get(OP_HEADER) or "untraced"

    _wrap(server_mod.TimbalaServer, "_route_get", spanned("server.read", op_of))
    _wrap(server_mod.TimbalaServer, "_route_post", spanned("server.write", op_of))
    for name in ("query", "query_range", "label_values", "series"):
        _wrap(api_mod.PromAPI, name, spanned("api"))
    for name in ("query", "query_range"):
        _wrap(engine_mod.Engine, name, spanned("engine"))
    for mod in (api_mod, engine_mod):
        _wrap(mod, "parse", spanned("promql.parse"))
    _wrap(engine_mod, "compile_query", spanned("compiler"))
    _wrap(server_mod, "read_samples_table", spanned("engine.store_open"))

    def decoded(sp, out, payload, *a, **kw):
        sp.extra["bytes_in"] = len(payload)
        sp.extra["samples"] = sum(len(s["samples"]) for s in out)
        T.note_samples(sp.extra["samples"])

    _wrap(server_mod, "decode_write_request", spanned("wire.decode", after=decoded))

    def write_batch(orig):
        def w(samples, path, *a, **kw):
            before = store_files(path)
            with T.span("ingest.write_batch") as sp:
                out = orig(samples, path, *a, **kw)
            new = {p: s for p, s in store_files(path).items() if p not in before}
            sp.extra["files"] = len(new)
            sp.extra["bytes"] = sum(new.values())
            sp.extra["samples"] = getattr(T._tls, "pending_samples", 0)
            return out
        return w

    _wrap(server_mod, "write_samples_batch", write_batch)
    _wrap(ingest_mod, "write_samples_batch", write_batch)

    def compacted(sp, _out, _spark, path, *a, **kw):
        gdir = os.path.dirname(resolve_store(path).samples)
        sp.extra["bytes"] = sum(store_files(gdir).values())

    _wrap(compact_mod, "compact_store", spanned("compact", lambda *a, **kw: "maintenance",
                                                after=compacted))

    def create_df(orig):
        def w(self, *a, **kw):
            cur = T.current()
            if cur is None or cur.layer != "server.write":
                return orig(self, *a, **kw)
            with T.span("server.rows_to_df"):
                return orig(self, *a, **kw)
        return w

    _wrap(type(spark), "createDataFrame", create_df)

    def get_or_fill(orig):
        def w(self, key, fill):
            with T.span("frontend") as sp:
                sp.extra["lookups"] = 1

                def counted_fill():
                    sp.extra["fills"] = 1
                    return fill()

                return orig(self, key, counted_fill)
        return w

    _wrap(RangeResultCache, "get_or_fill", get_or_fill)

    def gated_collect(orig):
        def w(self, df, *a, **kw):
            with T.span("exec") as sp:
                rows = orig(self, df, *a, **kw)
                sp.extra["rows"] = len(rows)
                return rows
        return w

    _wrap(api_mod.PromAPI, "_gated_collect", gated_collect)

    def thread_start(orig):
        # a thread started inside a span works for that span: PromAPI
        # collects on a helper thread, the store writer on two
        def w(self):
            sp = T.current()
            if sp is not None:
                run = self.run

                def adopted():
                    with T.adopt(sp):
                        run()

                self.run = adopted
            return orig(self)
        return w

    _wrap(threading.Thread, "start", thread_start)

    client_cls = type(spark.sparkContext._gateway._gateway_client)

    def send(orig):
        def w(*a, **kw):
            T.count_py4j()
            return orig(*a, **kw)
        return w

    _wrap(client_cls, "send_command", send)


def job_counts(eventlog_dir: str) -> dict[int, int]:
    """Spark jobs per span id, from the event log of a stopped context."""
    counts: dict[int, int] = defaultdict(int)
    for root, _dirs, files in os.walk(eventlog_dir):
        for name in files:
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if '"SparkListenerJobStart"' not in line:
                        continue
                    sid = json.loads(line).get("Properties", {}).get(SPAN_PROP)
                    counts[int(sid) if sid else 0] += 1
    return dict(counts)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    on the same thread nest inside their parent, so they never
    overlap each other)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}


def overlaps(a: Span, b: Span) -> bool:
    return a.start < b.end and b.start < a.end


#: per-layer metrics of a traced run, in BENCHMARK.json order; times
#: are self seconds summed over set-up and the traced operations
PER_LAYER = [
    ("session.start_s", "s"),
    ("client.self_s", "s"),
    ("build.self_s", "s"),
    ("exec.collect_s", "s"),
    ("py4j.calls", "count"),
    ("exec.jobs", "count"),
    ("exec.rows", "count"),
    ("api.calls", "count"),
    ("frontend.lookups", "count"),
    ("frontend.fills", "count"),
    ("frontend.hit_ratio", "ratio"),
    ("engine.calls", "count"),
    ("engine.builds", "count"),
    ("engine.plan_hit_ratio", "ratio"),
    ("engine.store_opens", "count"),
    ("promql.parse_calls", "count"),
    ("compiler.py4j_calls", "count"),
    ("wire.bytes_in", "B"),
    ("ingest.write_jobs", "count"),
    ("ingest.files_written", "count"),
    ("ingest.bytes_per_sample", "B"),
    ("compact.passes", "count"),
    ("compact.bytes_rewritten", "B"),
    ("compact.writes_overlapped", "count"),
    ("pipeline.curate.build_py4j_calls", "count"),
    ("pipeline.curate.build_jobs", "count"),
    ("pipeline.curate.exec_jobs", "count"),
    ("pipeline.embed_dedup.build_py4j_calls", "count"),
    ("pipeline.embed_dedup.build_jobs", "count"),
    ("pipeline.embed_dedup.exec_jobs", "count"),
]

#: self time of each layer, under the names the benchmark doc uses
LAYER_TIMES = {
    "server.read_self_s": "server.read",
    "server.write_self_s": "server.write",
    "server.rows_to_df_s": "server.rows_to_df",
    "api.self_s": "api",
    "frontend.self_s": "frontend",
    "engine.self_s": "engine",
    "engine.store_open_s": "engine.store_open",
    "promql.parse_s": "promql.parse",
    "compiler.compile_s": "compiler",
    "exec.promql_collect_s": "exec",
    "wire.decode_s": "wire.decode",
    "ingest.write_batch_s": "ingest.write_batch",
    "compact.s": "compact",
    "pipeline.curate.build_s": "pipeline.curate.build",
    "pipeline.curate.exec_s": "pipeline.curate.exec",
    "pipeline.embed_dedup.build_s": "pipeline.embed_dedup.build",
    "pipeline.embed_dedup.exec_s": "pipeline.embed_dedup.exec",
    "curation.job_self_s": "curation.job",
    "setup.self_s": "setup",
}


def summarize(records: list, jobs: dict, client_ops: list, traces: set,
              session_s: float) -> dict:
    """Reduce the engine's span records and the client's operations to
    the per-layer metrics. Only spans of ``traces`` (set-up, background
    maintenance and a fixed prefix of the operations) count, so counts
    repeat exactly between runs that replay the same operations.

    ``client_ops``: ``{"op", "lat"}`` of each traced client operation.
    Returns ``{"metrics", "layers", "layer_times", "coverage"}``."""
    spans = []
    for sid, parent, trace, layer, start, end, py4j, extra in records:
        s = Span(sid, parent, trace, layer)
        s.start, s.end, s.py4j, s.extra = start, end, py4j, extra
        spans.append(s)
    selfs = self_times(spans)
    jobs = {int(k): v for k, v in jobs.items()}
    kept = [s for s in spans if s.trace in traces]
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in kept:
        row = layers[s.layer]
        row["calls"] += 1
        row["self_s"] += selfs[s.sid]
        row["py4j"] += s.py4j
        row["jobs"] += jobs.get(s.sid, 0)
        for k, v in s.extra.items():
            row[k] += v

    def L(layer, key):
        return layers[layer][key] if layer in layers else 0.0

    # an operation's wall is its client latency (HTTP) or its
    # curation.job span; its spans' self times should add up to it
    if client_ops:
        roots = {s.trace: s.end - s.start for s in kept if s.parent is None}
        client_self = sum(op["lat"] - roots.get(op["op"], 0.0) for op in client_ops)
        op_traces = {op["op"] for op in client_ops}
        op_wall = sum(op["lat"] for op in client_ops)
    else:
        client_self = L("curation.job", "self_s")
        op_traces = {s.trace for s in kept if s.layer == "curation.job"}
        op_wall = sum(s.end - s.start for s in kept if s.layer == "curation.job")
    op_self = sum(selfs[s.sid] for s in kept if s.trace in op_traces)
    if client_ops:
        op_self += client_self
    writes = [s for s in kept if s.layer == "server.write"]
    compacts = [s for s in kept if s.layer == "compact"]
    calls, builds = L("engine", "calls"), L("compiler", "calls")
    lookups, fills = L("frontend", "lookups"), L("frontend", "fills")
    samples = L("ingest.write_batch", "samples")
    m = {
        "session.start_s": session_s,
        "client.self_s": client_self,
        "build.self_s": sum(L(x, "self_s") for x in (
            "promql.parse", "compiler", "pipeline.curate.build", "pipeline.embed_dedup.build")),
        "exec.collect_s": sum(L(x, "self_s") for x in (
            "exec", "pipeline.curate.exec", "pipeline.embed_dedup.exec")),
        "py4j.calls": sum(s.py4j for s in kept),
        "exec.jobs": L("exec", "jobs"),
        "exec.rows": L("exec", "rows"),
        "api.calls": L("api", "calls"),
        "frontend.lookups": lookups,
        "frontend.fills": fills,
        "frontend.hit_ratio": 1.0 - fills / lookups if lookups else 0.0,
        "engine.calls": calls,
        "engine.builds": builds,
        "engine.plan_hit_ratio": max(0.0, 1.0 - builds / calls) if calls else 0.0,
        "engine.store_opens": L("engine.store_open", "calls"),
        "promql.parse_calls": L("promql.parse", "calls"),
        "compiler.py4j_calls": L("compiler", "py4j"),
        "wire.bytes_in": L("wire.decode", "bytes_in"),
        "ingest.write_jobs": L("ingest.write_batch", "jobs"),
        "ingest.files_written": L("ingest.write_batch", "files"),
        "ingest.bytes_per_sample": L("ingest.write_batch", "bytes") / samples if samples else 0.0,
        "compact.passes": L("compact", "calls"),
        "compact.bytes_rewritten": L("compact", "bytes"),
        "compact.writes_overlapped": sum(any(overlaps(w, c) for c in compacts) for w in writes),
    }
    for step in ("curate", "embed_dedup"):
        m[f"pipeline.{step}.build_py4j_calls"] = L(f"pipeline.{step}.build", "py4j")
        m[f"pipeline.{step}.build_jobs"] = L(f"pipeline.{step}.build", "jobs")
        m[f"pipeline.{step}.exec_jobs"] = L(f"pipeline.{step}.exec", "jobs")
    return {
        "metrics": m,
        "layers": {k: dict(v) for k, v in sorted(layers.items())},
        "layer_times": {k: L(v, "self_s") for k, v in LAYER_TIMES.items()},
        "coverage": op_self / op_wall if op_wall else 0.0,
        "unattributed_jobs": jobs.get(0, 0),
    }
