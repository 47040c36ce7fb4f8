"""The engine process of one benchmark run.

Started by ``run.py`` in a process group of its own. It starts the
Spark session, builds the workload's inputs from the seed, then either
serves them through ``TimbalaServer`` (``dashboard``,
``ingest_alerting``) or runs the curation jobs itself (``curation``).
It talks to ``run.py`` in JSON lines: messages out on stdout, prefixed
with ``@@perfbench``, commands in on stdin.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())  # the package under test, from the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
import workloads as W  # noqa: E402

PREFIX = "@@perfbench "
#: background maintenance interval of the ingest_alerting server
MAINTENANCE_S = 2.0
#: curation jobs run before the measured window
WARMUP_JOBS = 1


def msg(event: str, **kw) -> None:
    sys.stdout.write(PREFIX + json.dumps({"event": event, **kw}) + "\n")
    sys.stdout.flush()


def command() -> list[str]:
    """The next command from run.py: ``compact``, ``go <s> <jobs>`` or
    ``stop``."""
    return sys.stdin.readline().split()


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_heap_mb() -> int:
    """An eighth of the machine's memory, between 1 and 2 GiB: the
    inputs are small, and the machine may be shared."""
    return max(1024, min(2048, mem_total_mb() // 8))


def start_session(work: str, nproc: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_mb()
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the whole heap is committed and touched up front, so the peak
        # RSS does not depend on when the collector ran; no hsperfdata
        # file in the system temp dir
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logdir)
             .config("spark.eventLog.compress", "false"))
    return b.getOrCreate()


class NoTracer:
    def span(self, layer, trace=None):
        return contextlib.nullcontext()

    def note_samples(self, n: int) -> None:
        pass


# -- workload set-up ---------------------------------------------------


def setup_dashboard(spark, spec: W.DashboardSpec, store: str, tracer) -> None:
    from pyspark.sql import functions as F

    import timbala_spark.streaming.ingest as ingest_mod
    from timbala_spark.model import prepare_samples

    series = spark.createDataFrame(
        [(lab, kind, a, b) for lab, kind, a, b in spec.series],
        "labels map<string,string>, kind string, a double, b double",
    )
    k = F.col("id")
    t = F.lit(W.T0_MS + W.PHASE_MS) + k * W.SCRAPE_MS
    elapsed_s = (F.lit(W.PHASE_MS) + k * W.SCRAPE_MS) / 1000.0
    samples = series.crossJoin(spark.range(spec.n_points)).select(
        "labels",
        t.alias("t"),
        F.when(F.col("kind") == "counter", F.col("a") * elapsed_s + F.col("b"))
        .otherwise(F.col("a") + F.col("b") * (k % 20)).alias("v"),
    )
    tracer.note_samples(spec.n_samples)
    # through the module attribute, so traced mode sees the call
    ingest_mod.write_samples_batch(prepare_samples(samples), store)


def store_bytes_per_sample(store: str, n_samples: int) -> float:
    """Bytes of the store's current generation per sample written."""
    from timbala_spark.streaming.store import resolve_store

    gdir = os.path.dirname(resolve_store(store).samples)
    return sum(spans.store_files(gdir).values()) / n_samples


def write_corpus(spec: W.CurationSpec, work: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {"docs": os.path.join(work, "docs"), "vecs": os.path.join(work, "vecs")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    ids, texts, domains, sources = zip(*spec.docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts),
        "domain": pa.array(domains), "source": pa.array(sources),
    }), os.path.join(paths["docs"], "part-0.parquet"))
    vids, vecs = zip(*spec.embeddings)
    pq.write_table(pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
    }), os.path.join(paths["vecs"], "part-0.parquet"))
    return paths


def curation_job(spark, spec: W.CurationSpec, paths: dict, tracer, idx: int) -> dict:
    """One job: both steps, each output materialized on the driver.
    Returns the wall time and the answer check's verdict."""
    from timbala_spark.pipeline import curate_corpus, embedding_near_dup_pairs

    t0 = time.perf_counter()
    with tracer.span("curation.job", trace=f"job{idx}"):
        docs = spark.read.parquet(paths["docs"])
        with tracer.span("pipeline.curate.build"):
            cur = curate_corpus(
                docs, sample_fraction=spec.sample_fraction, strata_col="source",
                cap_group_col="domain", cap_max_rows=spec.cap_max_rows,
                shard_budget=spec.shard_budget,
            )
        with tracer.span("pipeline.curate.exec"):
            rows = cur.select("doc_id", "canonical_id", "text_scrubbed", "n_tokens",
                              "token_offset", "shard_id").collect()
        vecs = spark.read.parquet(paths["vecs"])
        with tracer.span("pipeline.embed_dedup.build"):
            pairs_df = embedding_near_dup_pairs(
                vecs, id_col="vec_id", vec_col="embedding",
                threshold=spec.emb_threshold, mode="lsh")
        with tracer.span("pipeline.embed_dedup.exec"):
            pairs = [(r["id_a"], r["id_b"], r["cos"]) for r in pairs_df.collect()]
    wall = time.perf_counter() - t0
    err = (W.check_curated(spec, [r.asDict() for r in rows])
           or W.check_embedding_pairs(spec, pairs))
    return {"wall": wall, "error": err, "docs": len(spec.docs), "idx": idx}


# -- main ----------------------------------------------------------------


def span_records(tracer) -> list:
    return [[s.sid, s.parent, s.trace, s.layer, s.start, s.end, s.py4j, s.extra]
            for s in tracer.spans]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_session(args.work, args.nproc, trace)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    env = {"spark": spark.version,
           "java": sc._jvm.java.lang.System.getProperty("java.version"),
           "driver_heap_mb": driver_heap_mb()}
    tracer = NoTracer()
    if trace:
        tracer = spans.Tracer(sc)
        spans.install(tracer, spark)

    server = None
    if args.workload in ("dashboard", "ingest_alerting"):
        from timbala_spark.server import TimbalaServer

        store = os.path.join(args.work, "store")
        if args.workload == "dashboard":
            spec = W.dashboard_spec(args.seed, args.scale)
            with tracer.span("setup", trace="setup"):
                setup_dashboard(spark, spec, store, tracer)
            server = TimbalaServer(spark, store)
        else:
            server = TimbalaServer(spark, store, maintenance_interval_s=MAINTENANCE_S)
        server.start()
        msg("ready", port=server.port, session_s=session_s, env=env)
        if command() == ["compact"]:  # after the client's set-up writes
            with tracer.span("setup", trace="setup"):
                server.compact()
            n_up = sum(len(s["samples"]) for s in W.up_series(spec))
            msg("compacted", store_bytes_per_sample=store_bytes_per_sample(
                store, spec.n_samples + n_up))
            command()  # stop
    else:
        cspec = W.curation_spec(args.seed, args.scale)
        paths = write_corpus(cspec, args.work)
        # the cold first job (JIT, Spark's code caches) takes 2-3x a warm one
        warm = [curation_job(spark, cspec, paths, tracer, -i) for i in range(WARMUP_JOBS)]
        msg("ready", session_s=session_s, env=env, warmup=warm)
        cmd = command()
        if cmd[:1] == ["go"]:
            seconds, min_jobs = float(cmd[1]), int(cmd[2])
            deadline = time.perf_counter() + seconds
            n = 0
            while n < min_jobs or time.perf_counter() < deadline:
                n += 1
                msg("job", **curation_job(spark, cspec, paths, tracer, n))
            msg("done")
            command()  # stop

    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    if server is not None:
        server.stop()
    proc = sc._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=60)
    report = {"peak_rss_mb": rss}
    if trace:
        report["spans"] = span_records(tracer)
        report["jobs"] = spans.job_counts(os.path.join(args.work, "eventlog"))
    msg("report", **report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
