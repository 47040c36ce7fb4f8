"""timbala-spark benchmark: one workload, one seed, one JSON result.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

It starts the engine (``engine.py``) in a process of its own, drives it
only through its public entry points — the HTTP API of
``TimbalaServer`` for ``dashboard`` and ``ingest_alerting``, the
pipeline functions for ``curation`` — checks every answer, and prints
a report followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gzip
import http.client
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import quote, urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads as W  # noqa: E402
from engine import WARMUP_JOBS, mem_total_mb  # noqa: E402

WORKLOADS = ("dashboard", "ingest_alerting", "curation")
#: whole-run guard: a run must end within 180 s
RUN_LIMIT_S = 170.0
#: traced runs measure set-up plus this fixed prefix of operations,
#: so their counts repeat exactly: refreshes per dashboard client
TRACED_REFRESHES = 8
#: curation jobs per run after the warm-up job, at least: a job takes
#: about 8 s; with three, the run-to-run spread of their 90th
#: percentile was 11 % over ten seeds
MIN_JOBS = 4

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


class RunError(RuntimeError):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


# -- the engine process -------------------------------------------------


class EngineProc:
    def __init__(self, args, work: str, n: int):
        self.log_path = os.path.join(work, "engine.log")
        self._log = open(self.log_path, "w")
        # every scratch file inside the checkout; SPARK_LAUNCHER_OPTS
        # reaches spark-submit's launcher JVM
        env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"), PYTHONUNBUFFERED="1",
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--scale", args.scale, "--work", work,
             "--nproc", str(n), "--trace", str(args.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, start_new_session=True, env=env,
        )
        self.msgs: queue.Queue = queue.Queue()
        self.seen: set[int] = set()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.p.stdout:
            if line.startswith("@@perfbench "):
                self.msgs.put(json.loads(line[len("@@perfbench "):]))
        self.msgs.put({"event": "exit"})

    def expect(self, event: str, deadline: float) -> dict:
        while True:
            try:
                m = self.msgs.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RunError(f"engine sent no {event!r} in time") from None
            if m["event"] == event:
                return m
            if m["event"] == "exit":
                raise RunError(f"engine exited before {event!r}:\n{self.log_tail()}")

    def send(self, line: str) -> None:
        # remember the process tree while it is whole: once the JVM
        # exits, Spark's Python workers are no longer its children
        self.seen |= descendants(self.p.pid)
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def log_tail(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])

    def stop(self) -> None:
        """Wait for the engine, then for every process it started (the
        JVM, Spark's Python workers — those run in process groups of
        their own); kill what is left after a grace period."""
        procs = self.seen | descendants(self.p.pid) | {self.p.pid}
        try:
            self.p.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for _ in range(100):
                procs = {p for p in procs if running(p)}
                if not procs:
                    break
                time.sleep(0.1)
            for p in procs:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        self.p.wait()
        self._log.close()


def _proc_stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def running(pid: int) -> bool:
    try:
        return _proc_stat(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_proc_stat(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


# -- HTTP client ------------------------------------------------------------


class Client:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, method: str, path: str, op: str, body: bytes | None = None):
        """(start, latency, status, body): latency until the whole
        response arrived; decompression happens after it."""
        headers = {spans.OP_HEADER: op, "Accept-Encoding": "gzip"}
        if body is not None:
            headers.update({"Content-Type": "application/x-protobuf",
                            "Content-Encoding": "snappy",
                            "X-Prometheus-Remote-Write-Version": "0.1.0"})
        t0 = time.perf_counter()
        self.conn.request(method, path, body=body, headers=headers)
        r = self.conn.getresponse()
        data = r.read()
        lat = time.perf_counter() - t0
        if r.getheader("Content-Encoding") == "gzip":
            data = gzip.decompress(data)
        return t0, lat, r.status, data

    def get_json(self, path: str, params: dict | None, op: str):
        url = path + ("?" + urlencode(params, quote_via=quote) if params else "")
        t0, lat, status, data = self.call("GET", url, op)
        try:
            payload = json.loads(data)
        except ValueError:
            payload = {"status": "error", "errorType": f"http {status}", "error": data[:200]}
        return t0, lat, payload

    def close(self) -> None:
        self.conn.close()


def record(ops: list, lock, kind, op, t0, lat, err, **kw) -> None:
    with lock:
        ops.append({"kind": kind, "op": op, "t0": t0, "lat": lat, "err": err, **kw})


# -- workloads --------------------------------------------------------------


def dashboard_refresh(cl: Client, spec, c: int, r: int, wants, ops, lock, stop=None) -> None:
    job = spec.jobs[c]
    now_s = W.dashboard_now_s(spec, r)
    for p, panel in enumerate(W.dashboard_panels(job)):
        if stop is not None and stop(r):
            return
        op = f"c{c}r{r}p{p}"
        if panel.kind == "labels":
            path, params = f"/api/v1/label/{panel.query}/values", None
        elif panel.kind == "instant":
            path, params = "/api/v1/query", {"query": panel.query, "time": now_s}
        else:
            start, end, step = W.range_params(now_s)
            path = "/api/v1/query_range"
            params = {"query": panel.query, "start": start, "end": end, "step": step}
        try:
            t0, lat, payload = cl.get_json(path, params, op)
        except (OSError, http.client.HTTPException) as e:
            record(ops, lock, "read", op, time.perf_counter(), 0.0, f"{type(e).__name__}: {e}",
                   refresh=r)
            cl.conn.close()
            continue
        err = W.check_dashboard_response(spec, job, panel, now_s, payload, wants[p])
        record(ops, lock, "read", op, t0, lat, err, refresh=r)


def run_dashboard(eng, ready, args, t_spawn, n_clients, out, deadline) -> None:
    spec = W.dashboard_spec(args.seed, args.scale)
    ops: list = []
    lock = threading.Lock()
    clients = [Client(ready["port"]) for _ in range(n_clients)]
    wants = [[W.expected_panel(spec, spec.jobs[c], p) for p in W.dashboard_panels(spec.jobs[c])]
             for c in range(n_clients)]
    # the targets' up series arrive through remote write; then one
    # maintenance pass compacts the store
    from timbala_spark.sources.wire import encode_write_request

    _t0, _lat, status, body = clients[0].call(
        "POST", "/write", "setup-write", encode_write_request(W.up_series(spec)))
    if status != 200:
        raise RunError(f"set-up remote write failed: http {status}: {body[:200]!r}")
    eng.send("compact")
    compacted = eng.expect("compacted", deadline)
    # warm-up: each client's first refresh fills its caches; the shared
    # label-values entry first, so it fills exactly once
    variable = W.dashboard_panels(spec.jobs[0])[-1]
    _t0, _lat, payload = clients[0].get_json(
        f"/api/v1/label/{variable.query}/values", None, "warm-labels")
    err = W.check_dashboard_response(spec, spec.jobs[0], variable, 0, payload, wants[0][-1])
    record(ops, lock, "read", "warm-labels", _t0, _lat, err, refresh=0)
    warm = [threading.Thread(target=dashboard_refresh,
                             args=(clients[c], spec, c, 0, wants[c], ops, lock))
            for c in range(n_clients)]
    for t in warm:
        t.start()
    for t in warm:
        t.join()
    out["setup_s"] = time.perf_counter() - t_spawn
    prefix = TRACED_REFRESHES if args.trace else 0
    t_start = time.perf_counter()
    t_end = t_start + args.seconds

    def stop(r):
        return time.perf_counter() >= t_end and r > prefix

    def loop(c):
        r = 1
        while not stop(r):
            dashboard_refresh(clients[c], spec, c, r, wants[c], ops, lock, stop)
            r += 1

    threads = [threading.Thread(target=loop, args=(c,)) for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for cl in clients:
        cl.close()
    warm = [o for o in ops if o["refresh"] == 0]
    timed = [o for o in ops if o["refresh"] > 0 and o["t0"] < t_end]
    done = [o["t0"] + o["lat"] for o in timed if o["t0"] + o["lat"] <= t_end]
    out.update(
        warm_errors=[o["err"] for o in warm if o["err"]],
        ops=timed,
        primary=timed,
        throughput=len(done) / (max(done) - t_start),
        traced_ops=[o for o in ops if o["refresh"] <= prefix]
        + [{"op": "setup-write", "lat": _lat}],
        store_bytes_per_sample=compacted["store_bytes_per_sample"],
    )


def run_ingest(eng, ready, args, t_spawn, n, out) -> None:
    spec = W.ingest_spec(args.seed, args.scale)
    port = ready["port"]
    ops: list = []
    lock = threading.Lock()
    from timbala_spark.sources.wire import encode_write_request

    acked = {w: -1 for w in spec.writers}  # last acknowledged second
    rules = W.ingest_rule_queries()
    base_s = W.INGEST_BASE_MS // 1000

    def write(cl, w, k):
        payload = encode_write_request(spec.batch(w, k))
        op = f"{w}b{k}"
        try:
            t0, lat, status, body = cl.call("POST", "/write", op, payload)
        except (OSError, http.client.HTTPException) as e:
            record(ops, lock, "write", op, time.perf_counter(), 0.0, f"{type(e).__name__}: {e}")
            return False
        ok = status == 200
        if ok:
            with lock:
                acked[w] = spec.last_second(k)
        record(ops, lock, "write", op, t0, lat, None if ok else f"http {status}: {body[:200]!r}",
               samples=len(spec.batch_seconds(k)) * len(spec.slopes[w]))
        return ok

    def read(cl, q, op):
        with lock:
            sec = min(acked.values())
        t_s = base_s + sec
        t0, lat, payload = cl.get_json("/api/v1/query", {"query": q, "time": t_s}, op)
        err = W.check_instant(payload, W.expected_rule(spec, q, sec), t_s)
        record(ops, lock, "read", op, t0, lat, err)

    wcl = [Client(port) for _ in spec.writers]
    rcl = [Client(port) for _ in range(min(2, max(1, n - len(spec.writers))))]
    for i, w in enumerate(spec.writers):  # warm-up: the history batch
        write(wcl[i], w, 0)
    for e, q in enumerate(rules):
        read(rcl[e % len(rcl)], q, f"warm{e}")
    warm = list(ops)
    ops.clear()
    out["setup_s"] = time.perf_counter() - t_spawn
    t_start = time.perf_counter()
    deadline = t_start + args.seconds

    def writer(i, w):
        k = 1
        while time.perf_counter() < deadline and write(wcl[i], w, k):
            k += 1

    def evaluator(e):
        i = 0
        while time.perf_counter() < deadline:
            read(rcl[e], rules[(e + i) % len(rules)], f"e{e}q{i}")
            i += 1

    threads = [threading.Thread(target=writer, args=(i, w)) for i, w in enumerate(spec.writers)]
    threads += [threading.Thread(target=evaluator, args=(e,)) for e in range(len(rcl))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    timed = list(ops)
    writes = [o for o in timed if o["kind"] == "write"]
    load_wall = max(o["t0"] + o["lat"] for o in writes) - t_start
    acked_samples = sum(o.get("samples", 0) for o in writes if o["err"] is None)
    # read-back: every acknowledged sample is readable, none twice
    readback = []
    for i, w in enumerate(spec.writers):
        t_s = base_s + acked[w]
        _t0, _lat, payload = rcl[0].get_json(
            "/api/v1/query", {"query": W.readback_query(w), "time": t_s}, f"readback-{w}")
        want = {frozenset(): float(len(spec.slopes[w]) * (acked[w] + 1))}
        readback.append(W.check_instant(payload, want, t_s))
    for cl in wcl + rcl:
        cl.close()
    out.update(
        warm_errors=[o["err"] for o in warm if o["err"]],
        ops=timed,
        primary=writes,
        throughput=acked_samples / load_wall,
        readback_errors=[e for e in readback if e],
        readback_checks=len(readback),
        traced_ops=warm + timed,
    )


def run_curation(eng, ready, args, t_spawn, out, deadline) -> None:
    warm = ready["warmup"]
    out["setup_s"] = time.perf_counter() - t_spawn
    eng.send(f"go {args.seconds} {MIN_JOBS}")
    jobs = []
    while True:
        m = eng.msgs.get(timeout=max(0.1, deadline - time.monotonic()))
        if m["event"] == "job":
            jobs.append({"kind": "job", "op": f"job{m['idx']}", "lat": m["wall"],
                         "err": m["error"], "docs": m["docs"]})
        elif m["event"] == "done":
            break
        else:
            raise RunError(f"unexpected engine message {m['event']!r}:\n{eng.log_tail()}")
    out.update(
        warm_errors=[w["error"] for w in warm if w["error"]],
        ops=jobs,
        primary=jobs,
        throughput=jobs[0]["docs"] / statistics.median(o["lat"] for o in jobs),
        traced_ops=[],
    )


# -- report -----------------------------------------------------------------


def workload_metrics(workload: str, out: dict) -> list[tuple[str, float, str, int]]:
    """The end-to-end metrics under their per-workload names:
    (name, value, unit, samples)."""
    ops = out["ops"]
    rows = [("setup_s", out["setup_s"], "s", 1)]

    def lat(name, sel):
        v = [o["lat"] for o in sel if o["err"] is None]
        if v:
            rows.append((f"{name}_p50_s", statistics.median(v), "s", len(v)))
            rows.append((f"{name}_p90_s", quantile(v, 0.9), "s", len(v)))

    reads = [o for o in ops if o["kind"] == "read"]
    if workload == "dashboard":
        lat("read", reads)
        rows.append(("read_qps", out["throughput"], "1/s", len(reads)))
        rows.append(("store_bytes_per_sample", out["store_bytes_per_sample"], "B", 1))
    elif workload == "ingest_alerting":
        lat("read", reads)
        writes = [o for o in ops if o["kind"] == "write"]
        lat("write", writes)
        rows.append(("ingest_samples_per_s", out["throughput"], "1/s", len(writes)))
    else:
        v = [o["lat"] for o in ops]
        rows.append(("curate_job_p50_s", statistics.median(v), "s", len(v)))
        rows.append(("curate_docs_per_s", out["throughput"], "1/s", len(v)))
    attempted, failed = out["attempted"], out["failed"]
    rows.append(("error_ratio", failed / attempted, "ratio", attempted))
    rows.append(("peak_rss_mb", out["peak_rss_mb"], "MB", 1))
    return rows


def end_to_end(out: dict) -> dict:
    lat = [o["lat"] for o in out["primary"] if o["err"] is None] or [float("nan")]
    vals = {
        "setup_s": out["setup_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "throughput_per_s": out["throughput"],
        "peak_rss_mb": out["peak_rss_mb"],
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(W.SCALES), default="full",
                    help="input size; 'smoke' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "timbala_spark", "server.py")):
        print("perfbench: run from the root of a timbala-spark checkout "
              "(timbala_spark/ not found)", file=sys.stderr)
        return 2
    t_spawn = time.perf_counter()
    deadline = time.monotonic() + RUN_LIMIT_S
    n = nproc()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    eng = EngineProc(args, work, n)
    guard = threading.Timer(RUN_LIMIT_S, lambda: os.killpg(eng.p.pid, signal.SIGKILL))
    guard.daemon = True
    guard.start()
    out: dict = {}
    try:
        ready = eng.expect("ready", deadline)
        ready_t = time.perf_counter()
        if args.workload == "dashboard":
            run_dashboard(eng, ready, args, t_spawn, min(4, n), out, deadline)
        elif args.workload == "ingest_alerting":
            run_ingest(eng, ready, args, t_spawn, n, out)
        else:
            run_curation(eng, ready, args, t_spawn, out, deadline)
        t_load_end = time.perf_counter()
        eng.send("stop")
        report = eng.expect("report", deadline)
        t_report = time.perf_counter()
    except (RunError, queue.Empty, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        print(eng.log_tail(), file=sys.stderr)
        eng.stop()
        return 1
    finally:
        guard.cancel()
    eng.stop()
    shutil.rmtree(work, ignore_errors=True)
    phases = {"engine_ready": ready_t, "setup_done": t_spawn + out["setup_s"],
              "load_done": t_load_end, "engine_report": t_report, "engine_gone": time.perf_counter()}
    out["peak_rss_mb"] = report["peak_rss_mb"]

    env = {"seed": args.seed, "nproc": n, "mem_total_mb": mem_total_mb(), **ready["env"],
           "python": sys.version.split()[0], "scale": args.scale}
    errors = out["warm_errors"] + [o["err"] for o in out["ops"] if o["err"]] \
        + out.get("readback_errors", [])
    out["attempted"] = len(out["ops"]) + out.get("readback_checks", 0)
    out["failed"] = len(errors) - len(out["warm_errors"])
    rows = workload_metrics(args.workload, out)
    print(f"perfbench workload={args.workload} trace={args.trace} seconds={args.seconds} "
          + " ".join(f"{k}={v}" for k, v in env.items()))
    for name, value, unit, count in rows:
        print(f"  {name:<26} {value:>14.6g} {unit:<6} n={count}")
    print("  phases (s since start): " + " ".join(
        f"{k}={v - t_spawn:.2f}" for k, v in phases.items()))
    if args.workload == "curation":
        print("  curation jobs (s): " + " ".join(f"{o['lat']:.2f}" for o in out["ops"]))
    for e in errors[:5]:
        print(f"  wrong or failed: {e}")
    result = {"correct": not errors, "attempted": out["attempted"], "failed": out["failed"]}
    saved = {"env": env, "workload_metrics": {r[0]: {"value": r[1], "unit": r[2], "n": r[3]}
                                           for r in rows}}
    if args.trace:
        traces = ({"setup", "maintenance"} | {o["op"] for o in out["traced_ops"]}
                  | {f"job{i}" for i in range(-WARMUP_JOBS + 1, MIN_JOBS + 1)})
        summary = spans.summarize(report["spans"], report["jobs"], out["traced_ops"],
                                  traces, ready["session_s"])
        print_layers(summary)
        print_overhead(out_dir, args, end_to_end(out))
        result["metrics"] = {k: {"value": summary["metrics"][k], "unit": u}
                             for k, u in spans.PER_LAYER}
        saved["layers"] = summary
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"engine_spans": report["spans"], "jobs_by_span": report["jobs"],
                       "client_ops": out["traced_ops"]}, f)
    else:
        result["metrics"] = end_to_end(out)
    saved["end_to_end"] = end_to_end(out)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(saved, f, indent=1)
    print(json.dumps(result))
    return 0


def print_layers(summary: dict) -> None:
    print(f"  layers (self s, calls, py4j, jobs); coverage of the traced "
          f"operations' wall: {summary['coverage']:.4f}")
    for layer, row in summary["layers"].items():
        print(f"    {layer:<28} {row['self_s']:>10.4f} {int(row['calls']):>7} "
              f"{int(row['py4j']):>8} {int(row['jobs']):>6}")
    for name, v in summary["layer_times"].items():
        if v:
            print(f"  {name:<34} {v:.6g} s")


def print_overhead(out_dir: str, args, traced: dict) -> None:
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        print("  tracing overhead: run the same workload and seed with --trace 0 to compare")
        return
    with open(path) as f:
        plain = json.load(f)["end_to_end"]
    print("  tracing overhead (traced - untraced, same workload and seed):")
    for name, m in traced.items():
        a, b = m["value"], plain[name]["value"]
        rel = f" ({(a - b) / b:+.1%})" if b else ""
        print(f"    {name:<18} {a - b:+.6g} {m['unit']}{rel}")


if __name__ == "__main__":
    sys.exit(main())
