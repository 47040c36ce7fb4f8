"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (PromQL engine over the events→samples pivot, relational
operators over the TPC-H-ish tables, and the data-pipeline operators),
with matching DuckDB `oracle_sql()` where the semantics are
SQL-expressible; probabilistic/ANN operators are rows-only checks.

Conventions shared by both sides (so value hashes match):
- events timestamps as epoch ms (Spark: nanos-long div 1e6; DuckDB:
  epoch_ms) — verified bit-identical
- `user` label = CAST(user_id % 8 AS string)
- T = max event timestamp (ms); instant queries evaluate at T with a
  12 h lookback window [T-LB, T] inclusive on both ends
- double outputs rounded (ROUND half-away-from-zero on positives in
  both engines); decimal-exact sums for TPC-H aggregates
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from timbala_spark import Engine
from timbala_spark.model import label_get
from timbala_spark.sources.events import (
    USER_BUCKETS,
    event_time_ms_expr,
    events_to_samples,
    load_table,
)

HOUR = 3_600_000
LOOKBACK_MS = 12 * HOUR

_CACHE: dict = {}


def _setup(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _engine(spark: SparkSession, sf_dir: str) -> tuple[Engine, int]:
    key = ("engine", sf_dir)
    if key not in _CACHE:
        _setup(spark)
        # cache: every PromQL entry query re-scans this pivot; the
        # first action materializes it once per sf_dir
        samples = events_to_samples(spark, sf_dir).cache()
        t_max = samples.agg(F.max("t")).first()[0]
        _CACHE[key] = (
            Engine(spark, samples, lookback_ms=LOOKBACK_MS),
            int(t_max),
        )
    return _CACHE[key]


ROLLUP_MS = 3600_000  # 1h rollup resolution for the routed branch


def _rollup_engine(spark: SparkSession, sf_dir: str) -> tuple[Engine, int]:
    """Engine over the SAME cached samples with a 1 h multi-aggregate
    rollup registered (timbala_spark.rollup) — exact routing for
    decomposable *_over_time shapes; everything else falls back."""
    key = ("rollup_engine", sf_dir)
    if key not in _CACHE:
        from timbala_spark.rollup import build_rollup

        base, t_max = _engine(spark, sf_dir)
        ru = build_rollup(base.samples, ROLLUP_MS).cache()
        ru.count()  # materialize once per sf_dir (like the pivot cache)
        _CACHE[key] = (
            Engine(
                spark,
                base.samples,
                lookback_ms=LOOKBACK_MS,
                rollups={ROLLUP_MS: ru},
            ),
            t_max,
        )
    return _CACHE[key]


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _setup(spark)
    return load_table(spark, sf_dir, name)


def _user_v(df: DataFrame, ndigits: int = 6) -> DataFrame:
    return df.select(
        label_get(F.col("labels"), "user").alias("user"),
        F.round("v", ndigits).alias("v"),
    )


# The DuckDB-side prelude mirroring events_to_samples(); `T` comes from
# the tmax CTE.
_PRELUDE = f"""
WITH samples AS (
  SELECT event_type AS name,
         CAST(user_id % {USER_BUCKETS} AS VARCHAR) AS user,
         epoch_ms(ts) AS t,
         value AS v
  FROM events
),
tmax AS (SELECT max(t) AS tend FROM samples),
latest AS (
  SELECT name, user, arg_max(v, t) AS v
  FROM samples, tmax
  WHERE t >= tend - {LOOKBACK_MS} AND t <= tend
  GROUP BY name, user
)
"""


# ---------------------------------------------------------------------------
# PromQL engine queries (SURVEY §2.2-§2.5)


def q_promql_selector(spark, sf_dir):
    """Tagged union (r8): the raw instant selector at t_max plus the
    SAME selector on an hour-aligned timestamp, which the engine
    serves from the 1 h rollup (timbala_spark.rollup SELECTOR class —
    boundary ``s_*`` term or latest window's ``l_*``, staleness via
    the stored marker columns; bit-identical, no float combine). The
    oracle computes BOTH branches from raw samples."""
    eng, t = _engine(spark, sf_dir)
    raw = _user_v(eng.query("click", t / 1000))
    reng, _ = _rollup_engine(spark, sf_dir)
    from timbala_spark.rollup import SELECTOR, pick_rollup

    t_al = t - (t % ROLLUP_MS)
    # loud guard: the aligned branch must actually ROUTE (a silent
    # fallback would pass the oracle while proving nothing)
    assert (
        pick_rollup(reng.rollups, LOOKBACK_MS, 0, t_al, 0, 1, SELECTOR)
        == ROLLUP_MS
    )
    routed = _user_v(reng.query("click", t_al / 1000))
    return _tagged_union(("raw", raw), ("rollup", routed))


def _stored_engine(spark: SparkSession, sf_dir: str) -> tuple[Engine, int]:
    """Engine over the STORED layout: events → split store
    (``write_samples_batch`` + ``compact_store``) → ``read_samples_table``
    → day-pruned scans. Proves the full ingest→store→query path with the
    same oracles as the pivot-backed engine."""
    key = ("stored-engine", sf_dir)
    if key not in _CACHE:
        import tempfile

        from timbala_spark.streaming import compact_store, read_samples_table
        from timbala_spark.streaming.ingest import write_samples_batch

        _setup(spark)
        path = tempfile.mkdtemp(prefix="timbala_contract_store_")
        write_samples_batch(events_to_samples(spark, sf_dir), path)
        # the maintenance pass also materializes the 1 h rollup INTO
        # the committed generation (timbala_spark.rollup store
        # integration) — the stored rate entry's rollup branch then
        # proves the whole write→compact→read→route path on the oracle
        compact_store(spark, path, rollup_ms=(ROLLUP_MS,))
        # dedup="auto" (default) sees the cleared _dirty marker after
        # compaction and skips the replica-collapse exchange
        store = read_samples_table(spark, path)
        from timbala_spark.streaming.ingest import read_rollup_tables

        rollups = read_rollup_tables(spark, path)
        assert rollups, "clean generation must serve its rollups"
        t_max = store.agg(F.max("t")).first()[0]
        _CACHE[key] = (
            Engine(spark, store, lookback_ms=LOOKBACK_MS, rollups=rollups),
            int(t_max),
        )
    return _CACHE[key]


def q_promql_selector_stored(spark, sf_dir):
    """Same result as ``promql_selector`` but served from the split
    store (write → compact → read → day-pruned query)."""
    eng, t = _stored_engine(spark, sf_dir)
    return _user_v(eng.query("click", t / 1000))


def q_promql_rate_stored(spark, sf_dir):
    """Tagged union over the STORED layout: the raw branch on the
    t_max-anchored grid plus the SAME query on an hour-aligned grid,
    which the engine serves from the rollup `compact_store` itself
    materialized into the generation — the oracle computes both
    branches from raw samples, so this entry proves the whole
    write→compact(rollup)→read→route path end to end."""
    eng, t = _stored_engine(spark, sf_dir)
    sel = lambda df: df.select(
        label_get(F.col("labels"), "user").alias("user"),
        F.col("t"),
        F.round("v", 6).alias("v"),
    )
    raw = sel(
        eng.query_range(
            "sum by (user) (rate(click[4h]))",
            (t - 24 * HOUR) / 1000,
            t / 1000,
            7200,
        )
    )
    from timbala_spark.rollup import pick_rollup

    t_al = t - (t % ROLLUP_MS)
    start, end, step = t_al - 24 * HOUR, t_al, 7200
    assert pick_rollup(
        eng.rollups, 4 * HOUR, 0, start, step * 1000, 13, "rate"
    ) == ROLLUP_MS
    routed = sel(
        eng.query_range(
            "sum by (user) (rate(click[4h]))", start / 1000, end / 1000, step
        )
    )
    return _tagged_union(("raw", raw), ("rollup", routed))


def q_promql_sum_by(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query('sum by (user) ({__name__=~".+"})', t / 1000))


def q_promql_rate_range(spark, sf_dir):
    """Tagged union: the raw lag-kernel rate plus the SAME query served
    from the 1 h multi-aggregate rollup (timbala_spark.rollup r7
    extension — within-window corr/first/last pre-aggregates plus
    cross-window lag) on a window-aligned grid; the oracle computes
    BOTH branches' extrapolation formula from raw samples."""
    eng, t = _engine(spark, sf_dir)
    df = eng.query_range(
        "sum by (user) (rate(click[4h]))", (t - 24 * HOUR) / 1000, t / 1000, 7200
    )
    raw = df.select(
        label_get(F.col("labels"), "user").alias("user"),
        F.col("t"),
        F.round("v", 6).alias("v"),
    )
    reng, _ = _rollup_engine(spark, sf_dir)
    from timbala_spark.rollup import pick_rollup

    t_al = t - (t % ROLLUP_MS)
    start, end, step = t_al - 24 * HOUR, t_al, 7200
    # loud guard: this branch must actually ROUTE (silent fallback
    # would pass the oracle while proving nothing)
    assert pick_rollup(
        reng.rollups, 4 * HOUR, 0, start, step * 1000, 13, "rate"
    ) == ROLLUP_MS
    routed = reng.query_range(
        "sum by (user) (rate(click[4h]))", start / 1000, end / 1000, step
    ).select(
        label_get(F.col("labels"), "user").alias("user"),
        F.col("t"),
        F.round("v", 6).alias("v"),
    )
    return _tagged_union(("raw", raw), ("rollup", routed))


def q_promql_avg_over_time(spark, sf_dir):
    """Tagged union: the raw *_over_time path plus the SAME aggregate
    served from the 1 h multi-aggregate rollup (timbala_spark.rollup,
    VERDICT r6 #7) on a window-aligned grid — the oracle computes BOTH
    branches from raw samples, so the rollup branch passing proves the
    routed answer is the raw answer."""
    eng, t = _engine(spark, sf_dir)
    df = eng.query_range(
        "avg_over_time(purchase[6h])", (t - 24 * HOUR) / 1000, t / 1000, 21600
    )
    raw = df.select(
        label_get(F.col("labels"), "user").alias("user"),
        F.col("t"),
        F.round("v", 6).alias("v"),
    )
    reng, _ = _rollup_engine(spark, sf_dir)
    from timbala_spark.rollup import pick_rollup

    t_al = t - (t % ROLLUP_MS)  # hour-aligned end → every step aligned
    start, end, step = t_al - 24 * HOUR, t_al, 2 * 3600
    # loud guard: this branch must actually ROUTE (a silent fallback
    # would still pass the oracle and prove nothing)
    assert pick_rollup(
        reng.rollups, 2 * HOUR, 0, start, step * 1000, 13, "avg_over_time"
    ) == ROLLUP_MS
    routed = reng.query_range(
        "avg_over_time(purchase[2h])", start / 1000, end / 1000, step
    ).select(
        label_get(F.col("labels"), "user").alias("user"),
        F.col("t"),
        F.round("v", 6).alias("v"),
    )
    return _tagged_union(("raw", raw), ("rollup", routed))


def q_promql_topk(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("topk(3, sum by (user) (view))", t / 1000))


def q_promql_binop_ratio(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(
        eng.query("sum by (user) (click) / sum by (user) (view)", t / 1000)
    )


def q_promql_quantile(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return eng.query('quantile(0.9, {__name__=~".+"})', t / 1000).select(
        F.round("v", 6).alias("v")
    )


def q_promql_unless_median(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    q = (
        "(sum by (user) (click) > scalar(quantile(0.5, sum by (user) (click))))"
        " unless "
        "(sum by (user) (error) > scalar(quantile(0.5, sum by (user) (error))))"
    )
    return _user_v(eng.query(q, t / 1000))


def q_promql_offset_count(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return eng.query(
        "sum by (user) (count_over_time(click[12h] offset 12h))", t / 1000
    ).select(label_get(F.col("labels"), "user").alias("user"), F.col("v"))


def q_promql_irate(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("irate(click[6h])", t / 1000))


def q_promql_deriv(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("deriv(purchase[24h])", t / 1000), ndigits=8)


def q_promql_label_join(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    df = eng.query(
        'label_join(sum by (user) (click), "uid", "-", "user", "user")', t / 1000
    )
    return df.select(
        label_get(F.col("labels"), "user").alias("user"),
        label_get(F.col("labels"), "uid").alias("uid"),
        F.round("v", 6).alias("v"),
    )


def q_promql_absent(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    df = eng.query('absent(nonexistent{flag="x"})', t / 1000)
    return df.select(
        label_get(F.col("labels"), "flag").alias("flag"), F.col("v")
    )


_HIST_LES = [2.0, 5.0, 10.0]


def q_promql_histogram_quantile(spark, sf_dir):
    """Cumulative buckets (le ∈ {2,5,10,+Inf}) of event values over the
    last 24 h per user, then histogram_quantile(0.5, ...) through the
    engine's bucket-interpolation kernel."""
    eng, t = _engine(spark, sf_dir)
    ev = _tbl(spark, sf_dir, "events")
    w = ev.select(
        (F.col("user_id") % USER_BUCKETS).cast("string").alias("user"),
        event_time_ms_expr(ev).alias("t"),
        F.col("value").alias("v"),
    ).filter((F.col("t") >= t - 24 * HOUR) & (F.col("t") <= t))
    aggs = [
        F.sum((F.col("v") <= le).cast("long")).alias(f"_c{i}")
        for i, le in enumerate(_HIST_LES)
    ] + [F.count(F.lit(1)).alias("_cinf")]
    counts = w.groupBy("user").agg(*aggs)
    # one row per bucket via a single explode — a per-bucket union of
    # projections over `counts` would re-aggregate the events scan once
    # per branch (5 shuffles instead of 1)
    bucket_pairs = F.array(
        *[
            F.struct(
                F.lit(str(le)).alias("le"), F.col(f"_c{i}").cast("double").alias("c")
            )
            for i, le in enumerate(_HIST_LES)
        ],
        F.struct(F.lit("+Inf").alias("le"), F.col("_cinf").cast("double").alias("c")),
    )
    buckets = counts.select(
        "user", F.explode(bucket_pairs).alias("b")
    ).select(
        F.create_map(
            F.lit("__name__"), F.lit("dist"),
            F.lit("user"), F.col("user"),
            F.lit("le"), F.col("b.le"),
        ).alias("labels"),
        F.lit(t).cast("long").alias("t"),
        F.col("b.c").alias("v"),
    )
    from timbala_spark.model import prepare_samples

    heng = Engine(spark, prepare_samples(buckets), lookback_ms=LOOKBACK_MS)
    out = heng.query("histogram_quantile(0.5, dist)", t / 1000)
    return out.select(
        label_get(F.col("labels"), "user").alias("user"),
        F.round("v", 6).alias("v"),
    )


# ---------------------------------------------------------------------------
# Relational engine queries (TPC-H-ish; decimal-exact sums)


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


def q_tpch_q1(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.expr("TIMESTAMP '2000-12-01 00:00:00'")
    )
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "avg_qty",
        "count_order",
    )


def q_tpch_q3(spark, sf_dir):
    cust = _tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1997-03-15 00:00:00'")
    )
    li = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1997-03-15 00:00:00'")
    )
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    out = (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            F.col("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return out


def q_tpch_q5(spark, sf_dir):
    region = _tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _tbl(spark, sf_dir, "nation")
    cust = _tbl(spark, sf_dir, "customer")
    supp = _tbl(spark, sf_dir, "supplier")
    orders = _tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
    )
    li = _tbl(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("revenue")
    )


def q_events_sessions(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    tms = event_time_ms_expr(ev)
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    d = (
        ev.select("user_id", "event_id", tms.alias("tms"))
        .withColumn("_prev", F.lag("tms").over(w))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull()
                | ((F.col("tms") - F.col("_prev")) > 30 * 60 * 1000),
                1,
            ).otherwise(0),
        )
    )
    return d.groupBy("user_id").agg(
        F.sum("_brk").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def q_events_daily(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    day = F.date_format(F.timestamp_millis(event_time_ms_expr(ev)), "yyyy-MM-dd")
    return (
        ev.select(day.alias("day"), "event_type", "value")
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6).alias(
                "total"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Data-pipeline queries


def q_dedup_exact(spark, sf_dir):
    """Tagged union (50-entry cap): exact dedup in BOTH execution
    models over the same table.

    * ``batch`` — the digest groupBy aggregates (pipeline.exact_dedup
      shape).
    * ``stream`` — the documents parquet replayed through a REAL
      Structured Streaming query (file source, availableNow trigger)
      with ``pipeline.streaming_exact_dedup`` (first-seen-wins digest
      state in the streaming state store) landing to parquet; the
      branch reports aggregates that are deterministic regardless of
      WHICH duplicate survived (count of survivors + total bytes over
      the distinct texts — dup groups share the text, so both are
      representative-independent). -1 sentinels keep the columns
      integral across branches.
    """
    docs = _tbl(spark, sf_dir, "documents")
    g = docs.groupBy("text").agg(F.count(F.lit(1)).alias("_c"))
    batch = g.agg(
        F.sum("_c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)), F.lit(0)
        ).alias("n_dup_groups"),
        F.sum(F.length("text")).alias("sum_distinct_len"),
    ).select(F.lit("batch").alias("op"), "n_docs", "n_distinct", "n_dup_groups", "sum_distinct_len")

    key = ("stream_dedup", sf_dir)
    if key not in _CACHE:
        import atexit
        import os
        import shutil
        import tempfile

        from timbala_spark.pipeline import streaming_exact_dedup

        out_dir = tempfile.mkdtemp(prefix="entry_stream_dedup_")
        # reclaim the staging dir (symlink src, checkpoint, parquet
        # out) when the harness process exits — covers both the happy
        # path and a failure before _CACHE is populated
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
        # the file streaming source lists a DIRECTORY; the testdata
        # table is a single parquet file — stage a symlink dir
        src_dir = os.path.join(out_dir, "src")
        os.makedirs(src_dir)
        os.symlink(
            os.path.join(sf_dir, "documents.parquet"),
            os.path.join(src_dir, "documents.parquet"),
        )
        stream = (
            spark.readStream.schema(docs.schema).parquet(src_dir)
        )
        q = (
            streaming_exact_dedup(stream, ["text"])
            .select("doc_id", "text")
            .writeStream.format("parquet")
            .option("path", os.path.join(out_dir, "out"))
            .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _CACHE[key] = os.path.join(out_dir, "out")
    streamed = spark.read.schema("doc_id long, text string").parquet(_CACHE[key])
    stream_row = streamed.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.length("text")).alias("sum_distinct_len"),
    ).select(
        F.lit("stream").alias("op"),
        F.lit(-1).cast("long").alias("n_docs"),
        "n_distinct",
        F.lit(-1).cast("long").alias("n_dup_groups"),
        "sum_distinct_len",
    )
    return batch.unionByName(stream_row).orderBy("op")


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end curation: exact dedup → 7-gram Jaccard near-dup on
    distinct survivors → connected components → canonical per row
    (the mandatory ordering measured in PERF.md §6d)."""
    from timbala_spark.pipeline import near_dup_pipeline

    docs = _tbl(spark, sf_dir, "documents")
    return near_dup_pipeline(docs, threshold=0.5, n=7).orderBy("doc_id")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Tagged union (50-entry cap): the SAME exact-Jaccard pair set
    from both execution models of the near-dup operator.

    * ``full`` — the batch operator (``ngram_jaccard_pairs``: one
      corpus-wide posting build per invocation).
    * ``incr`` — the r9 incremental index protocol
      (``pipeline/incremental.py``): the corpus processed as two
      doc_id-parity batches, each probed against the persisted posting
      index then appended (probe-before-append), pair union across
      batches.  The metamorphic contract (incremental ≡ full rebuild
      when the stop-shingle cap does not bind — it never binds on this
      word-salad corpus, max posting length 4) makes both branches the
      same pair set, so ONE oracle pair query serves both tags.
    """
    from timbala_spark.pipeline import ngram_jaccard_pairs

    docs = _tbl(spark, sf_dir, "documents")

    # build the incr cache FIRST: the probes inside open their own
    # pin scope, which would evict the full branch's pins if
    # the full operator ran first (the fan-out re-execution class of
    # PERF §20c take 8 — caught in the r9 self-review)
    key = ("ngram_incr", sf_dir)
    if key not in _CACHE:
        import atexit
        import os
        import shutil
        import tempfile

        from timbala_spark.pipeline import (
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        d = tempfile.mkdtemp(prefix="entry_ngram_incr_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        idx = os.path.join(d, "idx")
        pairs_path = os.path.join(d, "pairs")
        ngram_index_build(docs.limit(0), idx, n=7)
        for parity in (0, 1):
            batch = docs.filter(F.col("doc_id") % 2 == parity)
            # probe BEFORE append (the protocol): materialize this
            # batch's pairs while the index still excludes the batch
            ngram_index_probe(
                batch, idx, corpus=docs, threshold=0.5
            ).write.mode("append").parquet(pairs_path)
            ngram_index_append(batch, idx)
        _CACHE[key] = pairs_path

    # 7-word shingles: tiny posting lists on word-salad corpora (max
    # posting length 4 at sf0.1), so the inverted-index join stays
    # near-linear — same result set as 3-grams at this threshold
    out = ngram_jaccard_pairs(docs, n=7, threshold=0.5)
    full = out.select(
        F.lit("full").alias("op"),
        "id_a",
        "id_b",
        F.round("jaccard", 6).alias("jaccard"),
    )
    incr = (
        spark.read.schema("id_a long, id_b long, jaccard double")
        .parquet(_CACHE[key])
        .select(
            F.lit("incr").alias("op"),
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    return full.unionByName(incr).orderBy("op", "id_a", "id_b")


def q_curation_ops(spark, sf_dir):
    """Tagged union (50-entry cap): the four corpus-curation operators
    a 100 TB training-data pipeline runs between dedup and training —
    all pure DataFrame expressions (pipeline/sample.py, text.scrub_pii):

    * ``sample`` — deterministic stratified hash-gate sampling (md5
      gate variant so the oracle replays membership AND the gate value
      bit-for-bit; production uses xxhash64). Map-only, monotone under
      corpus growth.
    * ``cap`` — per-source cap via the DEFAULT single row_number
      window riding Spark's WindowGroupLimit pushdown (shuffle bounded
      by cap×groups).  The broadcast small-group bypass exists
      (``optimize_small_groups=True``) but measured 2.5× slower at
      5M–100M docs (PERF §20a), so this entry pins the default path.
    * ``pack`` — token-budget shard packing via a distributed prefix
      sum (range partition + local window + O(partitions) offset
      join), never a single global-order window.
    * ``pii`` — email/IPv4/ID-run scrub, chained regexp_replace in the
      Java∩RE2 dialect; the oracle replays the scrubbed text itself.
    """
    from timbala_spark.pipeline import (
        cap_per_group,
        pack_greedy,
        scrub_pii,
        stratified_sample,
    )
    from timbala_spark.pipeline.sample import sample_gate_expr

    docs = _tbl(spark, sf_dir, "documents")
    samp = stratified_sample(
        docs,
        {"en": 0.5, "de": 1.0, "zh": 0.25},
        "doc_id",
        strata_col="lang",
        seed=5,
        hash_algo="md5",
    ).select(
        F.lit("sample").alias("op"),
        "doc_id",
        F.col("lang").alias("grp"),
        sample_gate_expr(F.col("doc_id"), seed=5, hash_algo="md5").alias("n"),
    )
    # n = -1 sentinel, not NULL: a nullable bigint degrades to float64
    # in both comparators' pandas frames; keeping the column integral
    # keeps the value hash representation-independent
    cap = cap_per_group(docs, "source", 10, "doc_id").select(
        F.lit("cap").alias("op"),
        "doc_id",
        F.col("source").alias("grp"),
        F.lit(-1).cast("long").alias("n"),
    )
    toks = docs.withColumn(
        "n_tokens", F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    )
    pack = pack_greedy(
        toks, budget=1000, token_col="n_tokens", order_col="doc_id"
    ).select(
        F.lit("pack").alias("op"),
        "doc_id",
        F.concat(F.lit("shard"), F.col("shard_id")).alias("grp"),
        F.col("token_offset").alias("n"),
    )
    pii = scrub_pii(docs).select(
        F.lit("pii").alias("op"),
        "doc_id",
        F.col("text_scrubbed").alias("grp"),
        F.col("n_pii_total").alias("n"),
    )
    return samp.unionByName(cap).unionByName(pack).unionByName(pii)


def q_text_quality(spark, sf_dir):
    """MERGED entry (50-entry cap): the quality features PLUS the
    GPT-2-shaped regex pre-tokenizer count (absorbed from the former
    text_token_count entry when its slot went to curation_ops)."""
    from timbala_spark.pipeline import with_quality_features
    from timbala_spark.pipeline.text import bpe_ish_tokens_expr

    docs = _tbl(spark, sf_dir, "documents")
    out = with_quality_features(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size(bpe_ish_tokens_expr(F.col("text")))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def q_text_langid(spark, sf_dir):
    from timbala_spark.pipeline import with_language_id

    docs = _tbl(spark, sf_dir, "documents")
    return with_language_id(docs).select("doc_id", "pred_lang")


def q_sim_cosine_topk(spark, sf_dir):
    from timbala_spark.pipeline import cosine_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    out = cosine_topk(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        k=5,
    )
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.round("cos", 4).alias("cos"),
    )


def q_embeddings_stats(spark, sf_dir):
    from timbala_spark.pipeline.similarity import as_double_array, norm_expr

    emb = _tbl(spark, sf_dir, "embeddings")
    n = norm_expr(as_double_array(F.col("embedding")))
    return (
        emb.select("label", n.alias("_norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_norm"), 6).alias("avg_norm"),
        )
    )


def q_dedup_embedding(spark, sf_dir):
    """HEADLINE embedding dedup — tagged union (50-entry cap): the
    SAME pair set from both execution models of the 100 TB production
    ordering (PERF.md §6d — exact dedup of bit-identical vectors
    first, then hyperplane-LSH near-dup on the survivors).

    * ``full`` — the batch operator (``embedding_near_dup_pairs``
      mode="lsh": one corpus-wide signature pass per invocation;
      bucket join + exact-cosine verify, no crossJoin, no collect).
    * ``incr`` — the r10 incremental embedding index
      (``pipeline/incremental.py``): survivors processed as two
      vec_id-parity batches, each probed against the persisted
      (vec_id, table, bucket) index then appended
      (probe-before-append), pair union across batches.  Signatures
      are corpus-independent, so with the bucket cap off the
      incremental union is EXACTLY the full pair set — ONE oracle
      pair query serves both tags (the cap never binds at these SFs
      on the full branch either: ~125 rows/cell at sf0.01 vs the
      2048 backstop).

    The planes are deterministic, so the oracle replays the exact
    bucket assignment."""
    from timbala_spark.pipeline import embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings")
    surv = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))

    # build the incr cache FIRST: the probes inside open their own
    # pin scope, which would evict the full branch's pins if
    # the full operator ran first (same ordering rule as
    # q_dedup_ngram_jaccard)
    key = ("emb_incr", sf_dir)
    if key not in _CACHE:
        import atexit
        import os
        import shutil
        import tempfile

        from timbala_spark.pipeline import (
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
        )

        d = tempfile.mkdtemp(prefix="entry_emb_incr_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        idx = os.path.join(d, "idx")
        pairs_path = os.path.join(d, "pairs")
        embedding_index_build(
            surv.limit(0), idx, dim=64, n_planes=4, n_tables=16, seed=42
        )
        for parity in (0, 1):
            batch = surv.filter(F.col("vec_id") % 2 == parity)
            # probe BEFORE append (the protocol); cap off = exact
            # identity with the uncapped oracle join
            embedding_index_probe(
                batch, idx, corpus=surv, threshold=0.4, max_bucket_rows=None
            ).write.mode("append").parquet(pairs_path)
            embedding_index_append(batch, idx)
        _CACHE[key] = pairs_path

    out = embedding_near_dup_pairs(
        surv, threshold=0.4, mode="lsh", n_planes=4, n_tables=16
    )
    full = out.select(
        F.lit("full").alias("op"),
        "id_a",
        "id_b",
        F.round("cos", 6).alias("cos"),
    )
    incr = (
        spark.read.schema("id_a long, id_b long, cos double")
        .parquet(_CACHE[key])
        .select(
            F.lit("incr").alias("op"),
            "id_a",
            "id_b",
            F.round("cos", 6).alias("cos"),
        )
    )
    return full.unionByName(incr).orderBy("op", "id_a", "id_b")


def q_dedup_embedding_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (min-label propagation)
    over the LSH cosine pair graph — scale path end to end (bucketed
    candidate join, ids-only edges; no all-pairs crossJoin). Oracle is
    a recursive CTE over the same replayable LSH pair set."""
    from timbala_spark.pipeline import connected_components, embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.4, mode="lsh", n_planes=4, n_tables=16
    )
    out = connected_components(
        emb.select("vec_id"), pairs, node_col="vec_id"
    )
    return out.select("vec_id", F.col("component").alias("cluster_id"))


def q_events_rollup(spark, sf_dir):
    """Streaming surface, driver-verified: the continuous downsampler's
    transformation (``streaming/downsample.py``) applied to the batch
    events→samples pivot — batch and streaming share the ONE plan
    (``withWatermark`` is a no-op on a batch frame; append-on-watermark
    emission is the only streaming-only difference). Hourly avg per
    series, ``t`` = window end, name suffixed ``:rollup``."""
    from timbala_spark.streaming.downsample import streaming_downsample

    eng, _t = _engine(spark, sf_dir)
    out = streaming_downsample(eng.samples, window="1 hour", agg="avg")
    return out.select(
        "name",
        label_get(F.col("labels"), "user").alias("user"),
        "t",
        F.round("v", 6).alias("v"),
    )


def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payload column →
    Arrow-batched mapInPandas decode (deterministic sha256 fake standing
    in for PIL/ffmpeg) → narrow typed feature rows. The fake decoder is
    pure sha256 arithmetic, so DuckDB can oracle-check the full path."""
    from timbala_spark.pipeline.multimodal import decode_features, synthesize_media

    docs = _tbl(spark, sf_dir, "documents")
    media = synthesize_media(spark, docs, n=64)
    feats = decode_features(media, fake=True)
    feat_mean = F.aggregate(
        F.col("features"), F.lit(0.0).cast("double"), lambda a, x: a + x
    ) / F.lit(8.0)
    return feats.select(
        "media_id",
        "media_type",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round(feat_mean, 6).alias("feat_mean"),
    )


# rows-only entries (probabilistic / ANN / sketch operators — the
# driver's weaker rows-only check applies; unit tests cover semantics)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Pure-LSH pair generation on the full corpus (no exact-dedup
    stage) — 4 planes × 16 tables: collision prob for a θ≈66° pair
    (cos 0.4, the threshold here) is 1-(1-0.63^4)^16 ≈ 0.94 — high
    recall even for marginal pairs; true near-dups (cos ≥ 0.9) ≈ 1.0."""
    from timbala_spark.pipeline import embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(
        emb, threshold=0.4, mode="lsh", n_planes=4, n_tables=16
    )
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_dedup_embedding_blocked(spark, sf_dir):
    """Tagged union (50-entry cap): two routes that must both equal
    the all-pairs baseline.

    * ``blocked`` — BLAS prefilter (mapInPandas over a broadcast
      matrix) + exact-fold verify, bit-identical to the baseline
      (asserted in tests), quadratic loop at C speed; documented bound
      ~1M×64-d (broadcast matrix must fit executors).
    * ``auto`` — the r6 router (VERDICT r5 #3): estimates LSH
      candidate volume from the S-curve (a loose 0.4 threshold admits
      most random pairs) and routes to blocked below the broadcast
      bound, to LSH with auto-scaled params and a degenerate-bucket
      cap above it. At this corpus size the route is deterministically
      ``blocked``, so both tags share the exact all-pairs oracle.
    """
    from timbala_spark.pipeline import embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings")
    blocked = embedding_near_dup_pairs(emb, threshold=0.4, mode="blocked")
    auto = embedding_near_dup_pairs(
        emb, threshold=0.4, mode="auto", n_planes=None, n_tables=None
    )
    return blocked.withColumn("mode", F.lit("blocked")).unionByName(
        auto.withColumn("mode", F.lit("auto"))
    ).select("mode", "id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN, full value check: training sums member vectors in
    ascending-id order (similarity.ivf_topk), so the oracle replays the
    whole Lloyd loop — init, 3 assignment/recompute rounds, final
    assignment, n_probe probing, exact re-rank — as unrolled CTEs."""
    from timbala_spark.pipeline import ivf_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_cells=16,
        n_probe=4,
    )
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.round("cos", 4).alias("cos"),
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH with the md5 hash variant: the oracle inlines the
    XOR permutation constants (seed 42) and replays the exact band
    bucketing, so this is a full value check, not rows-only."""
    from timbala_spark.pipeline import minhash_lsh_pairs

    docs = _tbl(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, n=7, threshold=0.5, hash_algo="md5")
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash (md5 hash variant): the oracle rebuilds the 64-bit
    per-bit majority vote from the same md5-derived token hashes."""
    from timbala_spark.pipeline import simhash_pairs

    docs = _tbl(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, hash_algo="md5")


def q_sim_lsh_topk(spark, sf_dir):
    from timbala_spark.pipeline import lsh_cosine_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    out = lsh_cosine_topk(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_planes=4,
        n_tables=16,
    )
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.round("cos", 4).alias("cos"),
    )


def q_text_fingerprint(spark, sf_dir):
    """MERGED entry (50-entry cap), tagged union:

    * ``fingerprint`` — winnowing fingerprint (md5 hash variant —
      oracle replays the full shingle→window-min→distinct→sort→hash
      pipeline);
    * ``contam13`` — benchmark decontamination (GPT-3's 13-gram
      collision rule): documents with ``doc_id % 17 == 0`` act as the
      held-out eval set, the rest are the training corpus; ``v`` is
      the count of distinct shared lowercased-token 13-grams
      (``pipeline.text.flag_contaminated``, string-join variant — the
      production path hashes grams to 64-bit before the broadcast)."""
    from timbala_spark.pipeline import flag_contaminated, with_fingerprint

    docs = _tbl(spark, sf_dir, "documents")
    fp = with_fingerprint(docs, hash_algo="md5").select(
        F.lit("fingerprint").alias("kind"),
        "doc_id",
        F.col("fingerprint").alias("v"),
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    probe = docs.filter(F.col("doc_id") % 17 != 0)
    contam = flag_contaminated(probe, bench, n=13, hash_grams=False).select(
        F.lit("contam13").alias("kind"),
        "doc_id",
        F.col("n_contam_ngrams").alias("v"),
    )
    return fp.unionByName(contam)


def q_promql_holt_winters(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("holt_winters(purchase[24h], 0.5, 0.1)", t / 1000))


def q_promql_group_left(spark, sf_dir):
    """m:1 vector matching — per-user share of total clicks
    (engine.go:969-1047)."""
    eng, t = _engine(spark, sf_dir)
    return _user_v(
        eng.query("sum by (user) (click) / ignoring (user) group_left sum(click)", t / 1000)
    )


def q_promql_or_filtered(spark, sf_dir):
    """Comparison filter + `or` set union (VectorOr, engine.go:917-937):
    above-median purchasers keep their purchase sum, everyone else
    contributes their click sum."""
    eng, t = _engine(spark, sf_dir)
    q = (
        "(sum by (user) (purchase) > scalar(quantile(0.5, sum by (user) (purchase))))"
        " or sum by (user) (click)"
    )
    return _user_v(eng.query(q, t / 1000))


def q_promql_bool(spark, sf_dir):
    """`bool` modifier: comparison returns 0/1 instead of filtering
    (engine.go:1011-1019)."""
    eng, t = _engine(spark, sf_dir)
    q = "sum by (user) (click) > bool scalar(quantile(0.5, sum by (user) (click)))"
    return _user_v(eng.query(q, t / 1000))


def q_promql_label_replace(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    df = eng.query(
        'label_replace(sum by (user) (click), "grp", "g-$1", "user", "(.+)")',
        t / 1000,
    )
    return df.select(
        label_get(F.col("labels"), "user").alias("user"),
        label_get(F.col("labels"), "grp").alias("grp"),
        F.round("v", 6).alias("v"),
    )


def q_promql_predict_linear(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("predict_linear(purchase[24h], 3600)", t / 1000))


def q_promql_changes(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("changes(click[12h])", t / 1000))


def q_promql_resets(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("resets(purchase[12h])", t / 1000))


def q_promql_count_values(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    df = eng.query(
        'count_values("n", sum by (user) (count_over_time(click[12h])))', t / 1000
    )
    return df.select(label_get(F.col("labels"), "n").alias("n"), F.col("v"))


def q_promql_bottomk(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("bottomk(3, sum by (user) (view))", t / 1000))


def q_promql_stddev(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return eng.query("stddev(sum by (user) (click))", t / 1000).select(
        F.round("v", 6).alias("v")
    )


def q_promql_round_sqrt(spark, sf_dir):
    """round() parity: ties round UP via floor(v/n + 0.5)*n
    (functions.go:331-350) — Spark/DuckDB ROUND are half-even, so both
    sides implement the Go formula explicitly."""
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("round(sqrt(sum by (user) (click)), 0.001)", t / 1000))


def q_promql_date_fns(spark, sf_dir):
    """Zero-arg date functions default to vector(time())
    (dateWrapper, functions.go:885-906)."""
    eng, t = _engine(spark, sf_dir)
    return eng.query("day_of_week() * 100 + hour()", t / 1000).select(F.col("v"))


def q_promql_increase(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("increase(click[12h])", t / 1000))


def q_promql_and(spark, sf_dir):
    """`and` set intersection (VectorAnd, engine.go:894-915): click sums
    restricted to users with above-median error sums."""
    eng, t = _engine(spark, sf_dir)
    q = (
        "sum by (user) (click) and "
        "(sum by (user) (error) > scalar(quantile(0.5, sum by (user) (error))))"
    )
    return _user_v(eng.query(q, t / 1000))


def q_promql_group_right(spark, sf_dir):
    """1:m vector matching — total clicks divided per-user (the 'many'
    side on the right keeps its labels)."""
    eng, t = _engine(spark, sf_dir)
    return _user_v(
        eng.query(
            "sum(click) / ignoring (user) group_right sum by (user) (click)",
            t / 1000,
        )
    )


def q_promql_delta(spark, sf_dir):
    """Gauge delta: extrapolated last-first, NO reset correction and no
    counter zero clamp (functions.go:129-132)."""
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("delta(purchase[12h])", t / 1000))


def q_promql_idelta(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("idelta(click[12h])", t / 1000))


def q_promql_quantile_over_time(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(eng.query("quantile_over_time(0.25, view[12h])", t / 1000))


def q_promql_clamp(spark, sf_dir):
    eng, t = _engine(spark, sf_dir)
    return _user_v(
        eng.query("clamp_max(clamp_min(sum by (user) (click), 20), 60)", t / 1000)
    )


def q_promql_max_min_ot(spark, sf_dir):
    """Binary op between two range-function results (per-user value
    span over the window)."""
    eng, t = _engine(spark, sf_dir)
    return _user_v(
        eng.query("max_over_time(view[12h]) - min_over_time(view[12h])", t / 1000)
    )


# ---------------------------------------------------------------------------
# Merged contract entries: the driver grades at most 50 contract
# queries per round, so closely-related operators share one entry as a
# tagged union (`fn` column) — each branch keeps its own full PromQL
# evaluation and its own oracle SQL branch, so nothing loses coverage.


def _tagged_union(*parts):
    out = None
    for tag, df in parts:
        t = df.select(F.lit(tag).alias("fn"), "*")
        out = t if out is None else out.unionByName(t)
    return out


def q_promql_delta_idelta(spark, sf_dir):
    return _tagged_union(
        ("delta", q_promql_delta(spark, sf_dir)),
        ("idelta", q_promql_idelta(spark, sf_dir)),
    )


def q_promql_changes_resets(spark, sf_dir):
    return _tagged_union(
        ("changes", q_promql_changes(spark, sf_dir)),
        ("resets", q_promql_resets(spark, sf_dir)),
    )


def q_promql_clamp_round(spark, sf_dir):
    return _tagged_union(
        ("clamp", q_promql_clamp(spark, sf_dir)),
        ("round_sqrt", q_promql_round_sqrt(spark, sf_dir)),
    )


def q_promql_topk_bottomk(spark, sf_dir):
    return _tagged_union(
        ("topk", q_promql_topk(spark, sf_dir)),
        ("bottomk", q_promql_bottomk(spark, sf_dir)),
    )


def q_promql_irate_deriv(spark, sf_dir):
    return _tagged_union(
        ("irate", q_promql_irate(spark, sf_dir)),
        ("deriv", q_promql_deriv(spark, sf_dir)),
    )


def q_promql_predict_hw(spark, sf_dir):
    return _tagged_union(
        ("predict_linear", q_promql_predict_linear(spark, sf_dir)),
        ("holt_winters", q_promql_holt_winters(spark, sf_dir)),
    )


def q_promql_label_fns(spark, sf_dir):
    rep = q_promql_label_replace(spark, sf_dir).select(
        "user", F.col("grp").alias("lbl"), "v"
    )
    join = q_promql_label_join(spark, sf_dir).select(
        "user", F.col("uid").alias("lbl"), "v"
    )
    return _tagged_union(("replace", rep), ("join", join))


def q_promql_quantile_stddev(spark, sf_dir):
    return _tagged_union(
        ("quantile", q_promql_quantile(spark, sf_dir)),
        ("stddev", q_promql_stddev(spark, sf_dir)),
    )


def q_promql_ot_quantile_span(spark, sf_dir):
    return _tagged_union(
        ("quantile_ot", q_promql_quantile_over_time(spark, sf_dir)),
        ("span_ot", q_promql_max_min_ot(spark, sf_dir)),
    )


def q_promql_absent_date(spark, sf_dir):
    ab = q_promql_absent(spark, sf_dir).select(
        F.col("flag").alias("lbl"), F.col("v").cast("double").alias("v")
    )
    dt = q_promql_date_fns(spark, sf_dir).select(
        F.lit("").alias("lbl"), F.col("v").cast("double").alias("v")
    )
    return _tagged_union(("absent", ab), ("date_fns", dt))


# ---------------------------------------------------------------------------
# contract functions


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: step-grid range evaluation of a PromQL aggregation over
    rates — parse → compile → scan → explode-grid → kernels → joins, in
    one declarative plan."""
    return q_promql_rate_range(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver grades at most 50 per round
    # (CORRECTNESS_r01 recorded the first 50 in dict order), so
    # closely-related operators are merged into tagged-union entries
    # (see the q_promql_*_* merge functions) and every operator family
    # fits inside the cap.
    q = {
        "promql_selector": q_promql_selector,
        "promql_selector_stored": q_promql_selector_stored,
        "promql_rate_stored": q_promql_rate_stored,
        "promql_sum_by": q_promql_sum_by,
        "promql_rate_range": q_promql_rate_range,
        "promql_avg_over_time": q_promql_avg_over_time,
        "promql_topk_bottomk": q_promql_topk_bottomk,
        "promql_binop_ratio": q_promql_binop_ratio,
        "promql_quantile_stddev": q_promql_quantile_stddev,
        "promql_unless_median": q_promql_unless_median,
        "promql_offset_count": q_promql_offset_count,
        "promql_irate_deriv": q_promql_irate_deriv,
        "promql_label_fns": q_promql_label_fns,
        "promql_absent_date": q_promql_absent_date,
        "promql_histogram_quantile": q_promql_histogram_quantile,
        "promql_group_left": q_promql_group_left,
        "promql_or_filtered": q_promql_or_filtered,
        "promql_bool": q_promql_bool,
        "promql_predict_hw": q_promql_predict_hw,
        "promql_changes_resets": q_promql_changes_resets,
        "promql_count_values": q_promql_count_values,
        "promql_clamp_round": q_promql_clamp_round,
        "promql_increase": q_promql_increase,
        "promql_ot_quantile_span": q_promql_ot_quantile_span,
        "promql_and": q_promql_and,
        "promql_group_right": q_promql_group_right,
        "promql_delta_idelta": q_promql_delta_idelta,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "events_sessions": q_events_sessions,
        "events_daily": q_events_daily,
        "events_rollup": q_events_rollup,
        "dedup_exact": q_dedup_exact,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_blocked": q_dedup_embedding_blocked,
        "dedup_embedding_clusters": q_dedup_embedding_clusters,
        "multimodal_decode": q_multimodal_decode,
        "curation_ops": q_curation_ops,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "embeddings_stats": q_embeddings_stats,
    }
    if len(q) != 50:  # not assert: must survive python -O
        raise RuntimeError(f"driver grades at most 50 entries, got {len(q)}")
    return q


def oracle_sql() -> dict[str, str]:
    lb = LOOKBACK_MS
    h24 = 24 * HOUR
    rate_range = 4 * HOUR
    sql = {}

    sql["promql_selector"] = _PRELUDE + f"""
, tal AS (SELECT tend - (tend % {ROLLUP_MS}) AS ta FROM tmax),
latest_al AS (
  SELECT name, user, arg_max(v, t) AS v
  FROM samples, tal
  WHERE t >= ta - {lb} AND t <= ta
  GROUP BY name, user
)
SELECT 'raw' AS fn, user, ROUND(v, 6) AS v FROM latest WHERE name = 'click'
UNION ALL
SELECT 'rollup' AS fn, user, ROUND(v, 6) AS v
FROM latest_al WHERE name = 'click'
"""

    sql["promql_selector_stored"] = _PRELUDE + """
SELECT user, ROUND(v, 6) AS v FROM latest WHERE name = 'click'
"""

    sql["promql_sum_by"] = _PRELUDE + """
SELECT user, ROUND(SUM(v), 6) AS v FROM latest GROUP BY user
"""

    def _rate_body(step0: str) -> str:
        # the full extrapolation formula (functions.go:99-119) in
        # DuckDB SQL over raw samples, parameterized by the grid start
        # expression — shared by the raw branch (tend-anchored grid)
        # and the rollup-routed branch (hour-aligned grid)
        return f"""
, steps AS (
  SELECT {step0} + i * 7200000 AS step_t FROM tmax, range(13) r(i)
),
w AS (
  SELECT s.user, st.step_t, s.t, s.v,
         lag(s.v) OVER (PARTITION BY s.user, st.step_t ORDER BY s.t) AS pv
  FROM samples s JOIN steps st
    ON s.t >= st.step_t - {rate_range} AND s.t <= st.step_t
  WHERE s.name = 'click'
),
g AS (
  SELECT user, step_t, count(*) AS n,
         min(t) AS first_t, arg_min(v, t) AS first_v,
         max(t) AS last_t,  arg_max(v, t) AS last_v,
         sum(CASE WHEN pv IS NOT NULL AND v < pv THEN pv ELSE 0 END) AS corr
  FROM w GROUP BY user, step_t
),
r AS (
  SELECT user, step_t, n, first_v,
         (last_v - first_v + corr) AS base,
         (first_t - (step_t - {rate_range})) / 1000.0 AS dstart0,
         (step_t - last_t) / 1000.0 AS dend,
         (last_t - first_t) / 1000.0 AS si
  FROM g WHERE n >= 2
),
e AS (
  SELECT user, step_t, base, si, dend, n,
         CASE WHEN base > 0 AND first_v >= 0
                   AND si * (first_v / base) < dstart0
              THEN si * (first_v / base) ELSE dstart0 END AS dstart,
         si / (n - 1) * 1.1 AS thresh,
         si / (n - 1) AS adbs
  FROM r
),
v AS (
  SELECT user, step_t,
         base * ((si
                  + CASE WHEN dstart < thresh THEN dstart ELSE adbs / 2 END
                  + CASE WHEN dend   < thresh THEN dend   ELSE adbs / 2 END)
                 / si) / {rate_range // 1000} AS val
  FROM e
)
SELECT user, step_t AS t, ROUND(SUM(val), 6) AS v
FROM v GROUP BY user, step_t
"""

    sql["promql_rate_range"] = f"""
SELECT 'raw' AS fn, * FROM ({_PRELUDE}{_rate_body(f"tend - {h24}")}) AS _raw
UNION ALL
SELECT 'rollup' AS fn, * FROM (
{_PRELUDE}{_rate_body(f"(tend - tend % 3600000) - {h24}")}) AS _rollup
"""
    # the stored-layout entry is the SAME union (its rollup branch is
    # served from the rollups compact_store materialized in the store)
    sql["promql_rate_stored"] = sql["promql_rate_range"]

    sql["promql_avg_over_time"] = f"""
SELECT 'raw' AS fn, * FROM ({_PRELUDE}
, steps AS (
  SELECT tend - {h24} + i * 21600000 AS step_t FROM tmax, range(5) r(i)
)
SELECT s.user, st.step_t AS t, ROUND(avg(s.v), 6) AS v
FROM samples s JOIN steps st
  ON s.t >= st.step_t - 21600000 AND s.t <= st.step_t
WHERE s.name = 'purchase'
GROUP BY s.user, st.step_t
) AS _raw
UNION ALL
-- rollup-routed branch: SAME definition over raw samples, on the
-- hour-aligned 2h-step grid the engine serves from the 1h rollup —
-- equality here proves the routed answer IS the raw answer
SELECT 'rollup' AS fn, * FROM ({_PRELUDE}
, steps AS (
  SELECT (tend - tend % 3600000) - {h24} + i * 7200000 AS step_t
  FROM tmax, range(13) r(i)
)
SELECT s.user, st.step_t AS t, ROUND(avg(s.v), 6) AS v
FROM samples s JOIN steps st
  ON s.t >= st.step_t - 7200000 AND s.t <= st.step_t
WHERE s.name = 'purchase'
GROUP BY s.user, st.step_t
) AS _rollup
"""

    sql["promql_topk"] = _PRELUDE + """
SELECT user, ROUND(v, 6) AS v FROM latest WHERE name = 'view'
ORDER BY v DESC, user ASC LIMIT 3
"""

    sql["promql_binop_ratio"] = _PRELUDE + """
SELECT c.user, ROUND(c.v / v.v, 6) AS v
FROM (SELECT user, v FROM latest WHERE name = 'click') c
JOIN (SELECT user, v FROM latest WHERE name = 'view') v USING (user)
"""

    sql["promql_quantile"] = _PRELUDE + """
SELECT ROUND(quantile_cont(v, 0.9), 6) AS v FROM latest
"""

    sql["promql_unless_median"] = _PRELUDE + """
, cl AS (SELECT user, v FROM latest WHERE name = 'click'),
er AS (SELECT user, v FROM latest WHERE name = 'error'),
cm AS (SELECT quantile_cont(v, 0.5) AS m FROM cl),
em AS (SELECT quantile_cont(v, 0.5) AS m FROM er)
SELECT c.user, ROUND(c.v, 6) AS v
FROM cl c, cm
WHERE c.v > cm.m
  AND c.user NOT IN (SELECT er.user FROM er, em WHERE er.v > em.m)
"""

    sql["promql_offset_count"] = _PRELUDE + f"""
SELECT user, CAST(count(*) AS DOUBLE) AS v
FROM samples, tmax
WHERE name = 'click' AND t >= tend - {2 * lb} AND t <= tend - {lb}
GROUP BY user
"""

    sql["promql_irate"] = _PRELUDE + """
, w AS (
  SELECT user, t, v,
         row_number() OVER (PARTITION BY user ORDER BY t DESC) AS rn
  FROM samples, tmax
  WHERE name = 'click' AND t >= tend - 21600000 AND t <= tend
)
SELECT a.user,
       ROUND((CASE WHEN a.v < b.v THEN a.v ELSE a.v - b.v END)
             / ((a.t - b.t) / 1000.0), 6) AS v
FROM w a JOIN w b ON a.user = b.user AND a.rn = 1 AND b.rn = 2
"""

    sql["promql_deriv"] = _PRELUDE + f"""
SELECT user,
       ROUND(covar_pop((t - tend) / 1000.0, v) / var_pop((t - tend) / 1000.0), 8) AS v
FROM samples, tmax
WHERE name = 'purchase' AND t >= tend - {h24} AND t <= tend
GROUP BY user
HAVING count(*) >= 2
"""

    sql["promql_label_join"] = _PRELUDE + """
SELECT user, user || '-' || user AS uid, ROUND(v, 6) AS v
FROM latest WHERE name = 'click'
"""

    sql["promql_absent"] = """
SELECT 'x' AS flag, CAST(1.0 AS DOUBLE) AS v
"""

    les = ", ".join(f"({le})" for le in _HIST_LES)
    sql["promql_histogram_quantile"] = _PRELUDE + f"""
, w AS (
  SELECT CAST(user_id % {USER_BUCKETS} AS VARCHAR) AS user, value AS v
  FROM events, tmax
  WHERE epoch_ms(ts) >= tend - {h24} AND epoch_ms(ts) <= tend
),
les(le) AS (VALUES {les}, (CAST('inf' AS DOUBLE))),
counts AS (
  SELECT u.user, l.le, count(w2.v) AS c
  FROM (SELECT DISTINCT user FROM w) u
  CROSS JOIN les l
  LEFT JOIN w w2 ON w2.user = u.user AND w2.v <= l.le
  GROUP BY u.user, l.le
),
ranked AS (
  SELECT user, le, c,
         lag(le) OVER (PARTITION BY user ORDER BY le) AS ple,
         lag(c)  OVER (PARTITION BY user ORDER BY le) AS pc,
         max(c)  OVER (PARTITION BY user) AS total
  FROM counts
),
pick AS (
  SELECT *, 0.5 * total AS rank FROM ranked
  WHERE c >= 0.5 * total
  QUALIFY row_number() OVER (PARTITION BY user ORDER BY le) = 1
)
SELECT user,
       ROUND(CASE
         WHEN isinf(le) THEN {_HIST_LES[-1]}
         WHEN ple IS NULL THEN le * (rank / c)
         ELSE ple + (le - ple) * ((rank - pc) / (c - pc))
       END, 6) AS v
FROM pick
"""

    sql["promql_group_left"] = _PRELUDE + """
SELECT l.user, ROUND(l.v / tot.v, 6) AS v
FROM (SELECT user, v FROM latest WHERE name = 'click') l,
     (SELECT SUM(v) AS v FROM latest WHERE name = 'click') tot
"""

    sql["promql_or_filtered"] = _PRELUDE + """
, pu AS (SELECT user, v FROM latest WHERE name = 'purchase'),
pm AS (SELECT quantile_cont(v, 0.5) AS m FROM pu),
lhs AS (SELECT user, v FROM pu, pm WHERE v > m)
SELECT user, ROUND(v, 6) AS v FROM lhs
UNION ALL
SELECT user, ROUND(v, 6) AS v
FROM latest
WHERE name = 'click' AND user NOT IN (SELECT user FROM lhs)
"""

    sql["promql_bool"] = _PRELUDE + """
, cl AS (SELECT user, v FROM latest WHERE name = 'click'),
cm AS (SELECT quantile_cont(v, 0.5) AS m FROM cl)
SELECT user, ROUND(CASE WHEN v > m THEN 1.0 ELSE 0.0 END, 6) AS v
FROM cl, cm
"""

    sql["promql_label_replace"] = _PRELUDE + """
SELECT user, 'g-' || user AS grp, ROUND(v, 6) AS v
FROM latest WHERE name = 'click'
"""

    sql["promql_predict_linear"] = _PRELUDE + f"""
, w AS (
  SELECT user, (t - tend) / 1000.0 AS x, v
  FROM samples, tmax
  WHERE name = 'purchase' AND t >= tend - {h24} AND t <= tend
),
g AS (
  SELECT user,
         covar_pop(x, v) / var_pop(x) AS slope,
         avg(v) AS avgv, avg(x) AS avgx, count(*) AS n
  FROM w GROUP BY user
)
SELECT user, ROUND(slope * 3600 + (avgv - slope * avgx), 6) AS v
FROM g WHERE n >= 2
"""

    # holt_winters: the double-exponential-smoothing recurrence is
    # sequential on both sides (Spark: aggregate() left fold; DuckDB:
    # recursive CTE stepping one ordered sample at a time), and both
    # evaluate the identical fl-op sequence, so values match exactly.
    # Mirrors functions.go:193-285 seeding: s1 <- x0; b <- x1 - x0; the
    # first merge (i=1) keeps b, later steps blend the trend.
    _hw_b = "(0.1 * (hw.s1 - hw.s0) + (1 - 0.1) * hw.b)"
    sql["promql_holt_winters"] = (
        _PRELUDE.replace("WITH samples", "WITH RECURSIVE samples", 1) + f"""
, win AS (
  SELECT user, v, row_number() OVER (PARTITION BY user ORDER BY t) - 1 AS i
  FROM samples, tmax
  WHERE name = 'purchase' AND t >= tend - {h24} AND t <= tend
),
hw(user, i, s0, s1, b) AS (
  SELECT w1.user, 1,
         w0.v,
         0.5 * w1.v + (1 - 0.5) * (w0.v + (w1.v - w0.v)),
         w1.v - w0.v
  FROM win w1 JOIN win w0 ON w0.user = w1.user AND w0.i = 0
  WHERE w1.i = 1
  UNION ALL
  SELECT w.user, hw.i + 1,
         hw.s1,
         0.5 * w.v + (1 - 0.5) * (hw.s1 + {_hw_b}),
         {_hw_b}
  FROM hw JOIN win w ON w.user = hw.user AND w.i = hw.i + 1
)
SELECT user, ROUND(s1, 6) AS v
FROM (
  SELECT user, s1, row_number() OVER (PARTITION BY user ORDER BY i DESC) AS rn
  FROM hw
) WHERE rn = 1
"""
    )

    sql["promql_changes"] = _PRELUDE + f"""
, w AS (
  SELECT user, v, lag(v) OVER (PARTITION BY user ORDER BY t) AS pv
  FROM samples, tmax
  WHERE name = 'click' AND t >= tend - {lb} AND t <= tend
)
SELECT user,
       ROUND(CAST(count(CASE WHEN pv IS NOT NULL AND v != pv THEN 1 END) AS DOUBLE), 6) AS v
FROM w GROUP BY user
"""

    sql["promql_resets"] = _PRELUDE + f"""
, w AS (
  SELECT user, v, lag(v) OVER (PARTITION BY user ORDER BY t) AS pv
  FROM samples, tmax
  WHERE name = 'purchase' AND t >= tend - {lb} AND t <= tend
)
SELECT user,
       ROUND(CAST(count(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 END) AS DOUBLE), 6) AS v
FROM w GROUP BY user
"""

    sql["promql_count_values"] = _PRELUDE + f"""
, c AS (
  SELECT user, count(*) AS cnt
  FROM samples, tmax
  WHERE name = 'click' AND t >= tend - {lb} AND t <= tend
  GROUP BY user
)
SELECT CAST(cnt AS VARCHAR) AS n, CAST(count(*) AS DOUBLE) AS v
FROM c GROUP BY cnt
"""

    sql["promql_bottomk"] = _PRELUDE + """
SELECT user, ROUND(v, 6) AS v FROM latest WHERE name = 'view'
ORDER BY v ASC, user ASC LIMIT 3
"""

    sql["promql_stddev"] = _PRELUDE + """
, cl AS (SELECT user, v FROM latest WHERE name = 'click')
SELECT ROUND(stddev_pop(v), 6) AS v FROM cl
"""

    sql["promql_round_sqrt"] = _PRELUDE + """
SELECT user, ROUND(floor(sqrt(v) * 1000.0 + 0.5) / 1000.0, 6) AS v
FROM latest WHERE name = 'click'
"""

    sql["promql_date_fns"] = _PRELUDE + """
SELECT CAST(dayofweek(make_timestamp((tend // 1000) * 1000000)) * 100
            + hour(make_timestamp((tend // 1000) * 1000000)) AS DOUBLE) AS v
FROM tmax
"""

    sql["promql_increase"] = _PRELUDE + f"""
, w AS (
  SELECT s.user, s.t, s.v,
         lag(s.v) OVER (PARTITION BY s.user ORDER BY s.t) AS pv
  FROM samples s, tmax
  WHERE s.name = 'click' AND s.t >= tend - {lb} AND s.t <= tend
),
g AS (
  SELECT user, count(*) AS n,
         min(t) AS first_t, arg_min(v, t) AS first_v,
         max(t) AS last_t,  arg_max(v, t) AS last_v,
         sum(CASE WHEN pv IS NOT NULL AND v < pv THEN pv ELSE 0 END) AS corr,
         any_value(tend) AS tend
  FROM w, tmax GROUP BY user
),
r AS (
  SELECT user, n, first_v,
         (last_v - first_v + corr) AS base,
         (first_t - (tend - {lb})) / 1000.0 AS dstart0,
         (tend - last_t) / 1000.0 AS dend,
         (last_t - first_t) / 1000.0 AS si
  FROM g WHERE n >= 2
),
e AS (
  SELECT user, base, si, dend, n,
         CASE WHEN base > 0 AND first_v >= 0
                   AND si * (first_v / base) < dstart0
              THEN si * (first_v / base) ELSE dstart0 END AS dstart,
         si / (n - 1) * 1.1 AS thresh,
         si / (n - 1) AS adbs
  FROM r
)
SELECT user,
       ROUND(base * ((si
                + CASE WHEN dstart < thresh THEN dstart ELSE adbs / 2 END
                + CASE WHEN dend   < thresh THEN dend   ELSE adbs / 2 END)
               / si), 6) AS v
FROM e
"""

    sql["promql_and"] = _PRELUDE + """
, er AS (SELECT user, v FROM latest WHERE name = 'error'),
em AS (SELECT quantile_cont(v, 0.5) AS m FROM er),
keep AS (SELECT user FROM er, em WHERE v > m)
SELECT l.user, ROUND(l.v, 6) AS v
FROM latest l JOIN keep k ON l.user = k.user
WHERE l.name = 'click'
"""

    sql["promql_group_right"] = _PRELUDE + """
SELECT l.user, ROUND(tot.v / l.v, 6) AS v
FROM (SELECT user, v FROM latest WHERE name = 'click') l,
     (SELECT SUM(v) AS v FROM latest WHERE name = 'click') tot
"""

    sql["promql_delta"] = _PRELUDE + f"""
, w AS (
  SELECT s.user, s.t, s.v
  FROM samples s, tmax
  WHERE s.name = 'purchase' AND s.t >= tend - {lb} AND s.t <= tend
),
g AS (
  SELECT user, count(*) AS n,
         min(t) AS first_t, arg_min(v, t) AS first_v,
         max(t) AS last_t,  arg_max(v, t) AS last_v,
         any_value(tend) AS tend
  FROM w, tmax GROUP BY user
),
r AS (
  SELECT user, n,
         (last_v - first_v) AS base,
         (first_t - (tend - {lb})) / 1000.0 AS dstart,
         (tend - last_t) / 1000.0 AS dend,
         (last_t - first_t) / 1000.0 AS si
  FROM g WHERE n >= 2
),
e AS (
  SELECT user, base, si, dend, dstart,
         si / (n - 1) * 1.1 AS thresh,
         si / (n - 1) AS adbs
  FROM r
)
SELECT user,
       ROUND(base * ((si
                + CASE WHEN dstart < thresh THEN dstart ELSE adbs / 2 END
                + CASE WHEN dend   < thresh THEN dend   ELSE adbs / 2 END)
               / si), 6) AS v
FROM e
"""

    sql["promql_idelta"] = _PRELUDE + f"""
, w AS (
  SELECT user, t, v,
         row_number() OVER (PARTITION BY user ORDER BY t DESC) AS rn
  FROM samples, tmax
  WHERE name = 'click' AND t >= tend - {lb} AND t <= tend
)
SELECT a.user, ROUND(a.v - b.v, 6) AS v
FROM w a JOIN w b ON a.user = b.user AND a.rn = 1 AND b.rn = 2
"""

    sql["promql_quantile_over_time"] = _PRELUDE + f"""
SELECT user, ROUND(quantile_cont(v, 0.25), 6) AS v
FROM samples, tmax
WHERE name = 'view' AND t >= tend - {lb} AND t <= tend
GROUP BY user
"""

    sql["promql_clamp"] = _PRELUDE + """
SELECT user, ROUND(LEAST(GREATEST(v, 20.0), 60.0), 6) AS v
FROM latest WHERE name = 'click'
"""

    sql["promql_max_min_ot"] = _PRELUDE + f"""
SELECT user, ROUND(max(v) - min(v), 6) AS v
FROM samples, tmax
WHERE name = 'view' AND t >= tend - {lb} AND t <= tend
GROUP BY user
"""

    sql["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["tpch_q3"] = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

    sql["tpch_q5"] = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

    sql["events_sessions"] = """
WITH d AS (
  SELECT user_id, event_id, epoch_ms(ts) AS tms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_ms(ts), event_id) AS prev
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM d GROUP BY user_id
"""

    sql["events_daily"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total
FROM events
GROUP BY day, event_type
"""

    sql["dedup_exact"] = """
WITH g AS (SELECT text, count(*) AS c FROM documents GROUP BY text)
SELECT 'batch' AS op, CAST(SUM(c) AS BIGINT) AS n_docs, count(*) AS n_distinct,
       CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_groups,
       CAST(SUM(length(text)) AS BIGINT) AS sum_distinct_len
FROM g
UNION ALL
SELECT 'stream' AS op, CAST(-1 AS BIGINT) AS n_docs, count(*) AS n_distinct,
       CAST(-1 AS BIGINT) AS n_dup_groups,
       CAST(SUM(length(text)) AS BIGINT) AS sum_distinct_len
FROM g
ORDER BY op
"""

    sql["dedup_pipeline"] = r"""
WITH RECURSIVE rep AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep, text
  FROM documents
),
surv AS (SELECT doc_id, text FROM rep WHERE doc_id = rep),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tk
  FROM surv
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) - 6 < 1 THEN []
              ELSE list_distinct(list_transform(
                     generate_series(1, len(tk) - 6),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                          tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]))
         END AS s3
  FROM toks
),
e AS (SELECT doc_id, unnest(s3) AS g FROM sh),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(s3) AS n FROM sh),
pr AS (
  SELECT id_a, id_b FROM p
  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr
       UNION ALL SELECT id_b, id_a FROM pr),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT ed.dst, reach.comp FROM reach JOIN ed ON ed.src = reach.id
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
SELECT r.doc_id, c.component AS canonical_id,
       CAST(r.doc_id = c.component AS BIGINT) AS is_canonical
FROM rep r JOIN comp c ON c.id = r.rep
ORDER BY r.doc_id
"""

    sql["dedup_ngram_jaccard"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) - 6 < 1 THEN []
              ELSE list_distinct(list_transform(
                     generate_series(1, len(tk) - 6),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                          tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]))
         END AS s3
  FROM toks
),
e AS (SELECT doc_id, unnest(s3) AS g FROM sh),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(s3) AS n FROM sh),
pairs AS (
  SELECT id_a, id_b,
         ROUND(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
  FROM p JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
  WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
)
SELECT 'full' AS op, id_a, id_b, jaccard FROM pairs
UNION ALL
SELECT 'incr' AS op, id_a, id_b, jaccard FROM pairs
ORDER BY op, id_a, id_b
"""

    from timbala_spark.pipeline.sample import SAMPLE_DENOM
    from timbala_spark.pipeline.text import PII_RULES

    _gate = (
        f"CAST('0x' || substr(md5(doc_id || '#s5'), 1, 8) AS BIGINT)"
        f" % {SAMPLE_DENOM}"
    )
    _pii_steps, _src = [], "text"
    for _name, _pat, _token in PII_RULES:
        _pii_steps.append((_src, _pat, _token))
        _src = f"regexp_replace({_src}, '{_pat}', '{_token}', 'g')"
    _pii_counts = " + ".join(
        f"len(regexp_extract_all({s}, '{p}'))" for s, p, _ in _pii_steps
    )
    sql["curation_ops"] = rf"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS nt
  FROM documents
), packed AS (
  SELECT doc_id,
         COALESCE(SUM(nt) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM toks
)
SELECT 'sample' AS op, doc_id, lang AS grp, {_gate} AS n
FROM documents
WHERE (lang = 'de')
   OR (lang = 'en' AND {_gate} < {SAMPLE_DENOM // 2})
   OR (lang = 'zh' AND {_gate} < {SAMPLE_DENOM // 4})
UNION ALL
SELECT 'cap', doc_id, source, -1
FROM (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn <= 10
UNION ALL
SELECT 'pack', doc_id, 'shard' || CAST(off // 1000 AS BIGINT), CAST(off AS BIGINT)
FROM packed
UNION ALL
SELECT 'pii', doc_id, {_src}, {_pii_counts} FROM documents
"""

    en_sw = ", ".join(f"'{w}'" for w in ("the", "a", "and", "is", "of", "to", "in", "it"))
    sql["text_quality"] = rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS n_bpe_tokens,
       ROUND(CASE WHEN len(tk) > 0
             THEN (length(text) - (len(tk) - 1)) * 1.0 / len(tk)
             ELSE 0 END, 6) AS mean_token_len,
       ROUND(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
             ELSE 0 END, 6) AS alpha_ratio,
       ROUND(CASE WHEN len(tk) > 0
             THEN len(list_filter(tk, x -> lower(x) IN ({en_sw}))) * 1.0 / len(tk)
             ELSE 0 END, 6) AS stopword_ratio
FROM t
"""

    from timbala_spark.pipeline.text import LANG_STOPWORDS

    lang_selects = []
    for lang in sorted(LANG_STOPWORDS):
        swl = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        lang_selects.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(tk, x -> x IN ({swl}))) AS hits FROM t"
        )
    union = "\nUNION ALL\n".join(lang_selects)
    sql["text_langid"] = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS tk
  FROM documents
),
scores AS (
{union}
)
SELECT doc_id, lang AS pred_lang FROM scores
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) = 1
"""

    # ---- md5-replayable sketch oracles ---------------------------------
    # minhash / simhash / fingerprint entries run with hash_algo="md5"
    # (util.hash64_expr): the top 64 bits of md5's hex digest are
    # bit-identical in DuckDB, so the oracle replays the exact sketch —
    # XOR permutations, band bucketing, per-bit majority votes, window
    # minima — value-for-value. h64() below = the DuckDB spelling of
    # that hash (two 32-bit hex halves to avoid 64-bit parse overflow).
    def _h64(expr: str) -> str:
        u = (
            f"(CAST(CAST('0x' || substr(md5({expr}),1,8) AS BIGINT) AS HUGEINT)"
            f" * 4294967296 + CAST('0x' || substr(md5({expr}),9,8) AS BIGINT))"
        )
        return (
            f"CAST(CASE WHEN {u} >= 9223372036854775808"
            f" THEN {u} - 18446744073709551616 ELSE {u} END AS BIGINT)"
        )

    _sh7 = r"""toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) - 6 < 1 THEN []
              ELSE list_distinct(list_transform(
                     generate_series(1, len(tk) - 6),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                          tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]))
         END AS s7
  FROM toks
)"""

    from timbala_spark.pipeline.dedup import _perm_constants

    _cj = ", ".join(f"({j}, {c})" for j, c in enumerate(_perm_constants(64)))
    sql["dedup_minhash_lsh"] = f"""
WITH {_sh7},
hh AS (SELECT doc_id, {_h64('g')} AS h
       FROM (SELECT doc_id, unnest(s7) AS g FROM sh)),
cj(j, c) AS (VALUES {_cj}),
sigs AS (
  SELECT hh.doc_id, cj.j, min(xor(hh.h, cj.c)) AS sig
  FROM hh CROSS JOIN cj GROUP BY hh.doc_id, cj.j
),
bands AS (
  SELECT doc_id, j // 4 AS band,
         string_agg(CAST(sig AS VARCHAR), ',' ORDER BY j) AS sigstr
  FROM sigs GROUP BY doc_id, j // 4
),
bk AS (SELECT doc_id, band, {_h64('sigstr')} AS bucket FROM bands),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, s7, len(s7) AS n FROM sh),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.s7, y.s7)) AS shared, x.n AS na, y.n AS nb
  FROM cand c JOIN sz x ON x.doc_id = c.id_a JOIN sz y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, ROUND(shared * 1.0 / (na + nb - shared), 6) AS jaccard
FROM ver WHERE shared * 1.0 / (na + nb - shared) >= 0.5
"""

    _votes = ",\n         ".join(
        f"SUM(CASE WHEN (u // {2**b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    _usig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST('{2**b}' AS HUGEINT) ELSE 0 END"
        for b in range(64)
    )
    _u_tok = (
        "(CAST(CAST('0x' || substr(md5(tok),1,8) AS BIGINT) AS HUGEINT)"
        " * 4294967296 + CAST('0x' || substr(md5(tok),9,8) AS BIGINT))"
    )
    _usig_c = "COALESCE(u.usig, 0)"
    sql["dedup_simhash"] = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS tok
  FROM documents
),
h AS (SELECT doc_id, {_u_tok} AS u FROM tok),
votes AS (SELECT doc_id, {_votes} FROM h GROUP BY doc_id),
us AS (SELECT doc_id, ({_usig}) AS usig FROM votes),
sig AS (
  SELECT d.doc_id, {_usig_c} AS usig,
         CAST(CASE WHEN {_usig_c} >= 9223372036854775808
              THEN {_usig_c} - 18446744073709551616
              ELSE {_usig_c} END AS BIGINT) AS s
  FROM documents d LEFT JOIN us u ON u.doc_id = d.doc_id
),
banded AS (
  SELECT doc_id, s, b.k AS band, CAST((usig // b.p) % 65536 AS BIGINT) AS val
  FROM sig, (VALUES (0, CAST(1 AS HUGEINT)), (1, CAST(65536 AS HUGEINT)),
                    (2, CAST({2**32} AS HUGEINT)), (3, CAST({2**48} AS HUGEINT))
            ) b(k, p)
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM p WHERE bit_count(xor(sa, sb)) <= 3
"""

    sql["text_fingerprint"] = f"""
WITH base AS (
  SELECT doc_id, text, greatest(length(text) - 7, 0) AS n_sh FROM documents
),
hs AS (
  SELECT doc_id, n_sh,
         list_transform(generate_series(1, n_sh),
                        i -> {_h64("substr(text, i, 8)")}) AS hashes
  FROM base
),
mins AS (
  SELECT doc_id, n_sh,
         CASE WHEN n_sh > 0 THEN
           array_to_string(
             list_transform(
               list_sort(list_distinct(list_transform(
                 generate_series(0, greatest(n_sh - 4, 0)),
                 i -> list_min(list_slice(hashes, i + 1, i + 4))))),
               x -> CAST(x AS VARCHAR)),
             ',')
         END AS sigstr
  FROM hs
)
SELECT 'fingerprint' AS kind, doc_id,
       CASE WHEN n_sh > 0 THEN {_h64('sigstr')} END AS v
FROM mins
UNION ALL
-- contam13: GPT-3 13-gram decontamination, doc_id % 17 = 0 as the
-- held-out benchmark (mirrors pipeline.text.flag_contaminated with
-- hash_grams=False)
SELECT 'contam13' AS kind, d.doc_id, coalesce(h.n, 0) AS v
FROM documents d LEFT JOIN (
  WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS tk
    FROM documents
  ),
  grams AS (
    SELECT doc_id, array_to_string(tk[i:i+12], ' ') AS g
    FROM tok, UNNEST(generate_series(1, len(tk) - 12)) AS u(i)
    WHERE len(tk) >= 13
  ),
  bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0)
  SELECT p.doc_id, count(DISTINCT p.g) AS n
  FROM grams p JOIN bench USING (g)
  WHERE p.doc_id % 17 <> 0
  GROUP BY p.doc_id
) h USING (doc_id)
WHERE d.doc_id % 17 <> 0
"""

    # both tags (blocked / auto-routed-to-blocked at this corpus size)
    # are bit-identical to the all-pairs baseline, so the oracle is
    # the exact all-pairs cosine SQL replayed once per tag
    sql["dedup_embedding_blocked"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
            * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT m.mode, id_a, id_b, ROUND(cos, 6) AS cos
FROM s CROSS JOIN (VALUES ('blocked'), ('auto')) AS m(mode)
WHERE cos >= 0.4
"""

    # events_rollup: the streaming downsampler's hourly-avg windows are
    # epoch-aligned, so t = floor(t/1h)*1h + 1h (window END, the
    # recording-rule convention) and avg replays directly.
    sql["events_rollup"] = f"""
WITH s AS (
  SELECT event_type AS name,
         CAST(user_id % {USER_BUCKETS} AS VARCHAR) AS user,
         epoch_ms(ts) AS t,
         value AS v
  FROM events
)
SELECT name || ':rollup' AS name, user,
       (t - t % 3600000) + 3600000 AS t,
       ROUND(AVG(v), 6) AS v
FROM s
GROUP BY 1, 2, 3
"""

    def _hexbyte(i: int) -> str:
        hx = "'0123456789abcdef'"
        return (
            f"((strpos({hx}, substr(h, {2 * i + 1}, 1)) - 1) * 16"
            f" + strpos({hx}, substr(h, {2 * i + 2}, 1)) - 1)"
        )

    feat_sum = "0.0"
    for i in range(3, 11):
        feat_sum = f"({feat_sum} + {_hexbyte(i)} / 255.0)"
    sql["multimodal_decode"] = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         sha256(text) AS h
  FROM documents WHERE doc_id < 64
)
SELECT media_id, media_type,
       CAST(16 + {_hexbyte(0)} AS BIGINT) AS width,
       CAST(16 + {_hexbyte(1)} AS BIGINT) AS height,
       CAST(CASE WHEN media_type = 'image' THEN 1
                 ELSE 1 + {_hexbyte(2)} % 16 END AS BIGINT) AS n_frames,
       ROUND({feat_sum} / 8.0, 6) AS feat_mean
FROM m
"""

    sql["sim_cosine_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id >= 5
),
s AS (
  SELECT q.query_id, c.neighbor_id,
         list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
            * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) AS cos
  FROM q CROSS JOIN c
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rank,
       neighbor_id, ROUND(cos, 4) AS cos
FROM s
QUALIFY rank <= 5
"""

    # LSH oracles: the hyperplanes are deterministic
    # (np.RandomState(seed).standard_normal, similarity._planes), so
    # they inline into the SQL as literals and DuckDB replays the exact
    # bucket assignment (strict `dot > 0` bit, same fold order — the
    # list_sum/aggregate parity every embedding oracle already relies
    # on) and the exact re-rank. Upgrades both entries from rows-only
    # to exact value checks.
    def _planes_values(n_planes: int, n_tables: int, seed: int = 42,
                       dim: int = 64) -> str:
        from timbala_spark.pipeline.similarity import _planes

        rows = []
        for tbl in range(n_tables):
            for i, p in enumerate(_planes(dim, n_planes, seed + tbl)):
                vec = "[" + ", ".join(repr(float(x)) for x in p) + "]"
                rows.append(f"({tbl}, {1 << i}, {vec})")
        return ",\n".join(rows)

    def _lsh_sig_sql(src: str) -> str:
        """CTE block computing the replayed LSH signatures over `src`
        (which must yield vec_id + embedding): e = doubles, pl = the
        inlined hyperplanes, sig = per-table bucket ids."""
        return f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM ({src})
),
pl(tbl, bit, pv) AS (VALUES {_planes_values(4, 16)}),
sig AS (
  SELECT e.vec_id, pl.tbl,
         SUM(CASE WHEN list_sum(list_transform(list_zip(e.v, pl.pv),
                                               q -> q[1] * q[2])) > 0
                  THEN pl.bit ELSE 0 END) AS bkt
  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.tbl
)"""

    _lsh_sig = _lsh_sig_sql("SELECT vec_id, embedding FROM embeddings")

    _lsh_pairs_tail = """
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
),
sc AS (
  SELECT c.id_a, c.id_b,
         list_sum(list_transform(list_zip(ea.v, eb.v), q -> q[1] * q[2]))
         / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
            * sqrt(list_sum(list_transform(eb.v, x -> x * x)))) AS cos
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
)"""

    # dedup_embedding = exact dedup (min vec_id per identical vector)
    # THEN the replayed LSH near-dup join on the survivors — mirrors
    # q_dedup_embedding's production ordering exactly.
    # tagged union since r10: the incremental-index branch is exactly
    # the same pair set (corpus-independent signatures, cap off), so
    # one pair query fans into both tags.
    sql["dedup_embedding"] = f"""
WITH {_lsh_sig_sql(
        "SELECT min(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding"
    )},{_lsh_pairs_tail}
SELECT t.op, s.id_a, s.id_b, ROUND(s.cos, 6) AS cos
FROM sc s CROSS JOIN (VALUES ('full'), ('incr')) AS t(op)
WHERE s.cos >= 0.4
"""

    # clusters: connected components (min reachable id) over the
    # full-corpus LSH pair set, as a recursive label-propagation CTE —
    # every vec_id appears, singletons map to themselves.
    sql["dedup_embedding_clusters"] = f"""
WITH RECURSIVE {_lsh_sig},{_lsh_pairs_tail},
pr AS (SELECT id_a, id_b FROM sc WHERE cos >= 0.4),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr
       UNION ALL SELECT id_b, id_a FROM pr),
reach(id, comp) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT ed.dst, reach.comp FROM reach JOIN ed ON ed.src = reach.id
)
SELECT id AS vec_id, min(comp) AS cluster_id FROM reach GROUP BY id
"""

    sql["sim_lsh_topk"] = f"""
WITH {_lsh_sig},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bkt = c.bkt
  WHERE q.vec_id < 5 AND c.vec_id >= 5
),
s AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_sum(list_transform(list_zip(eq.v, ec.v), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(eq.v, x -> x * x)))
            * sqrt(list_sum(list_transform(ec.v, x -> x * x)))) AS cos
  FROM cand cd
  JOIN e eq ON eq.vec_id = cd.query_id
  JOIN e ec ON ec.vec_id = cd.neighbor_id
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rank,
       neighbor_id, ROUND(cos, 4) AS cos
FROM s
QUALIFY rank <= 5
"""

    # IVF oracle: replay the ENTIRE training loop in SQL. The Spark side
    # trains with fully deterministic fp (ordered sequential-fold means,
    # similarity.ivf_topk), so DuckDB reproduces the same centroids
    # bit-for-bit: init = n_cells lowest-id corpus vectors, `iterations`
    # unrolled Lloyd rounds (assign by min L2 with cell-index
    # tie-break, recompute centroids as the id-ordered fold mean with a
    # zero-array init matching Spark's aggregate(), empty cells keep
    # their previous centroid), then final assignment, n_probe nearest
    # cells per query, exact cosine re-rank. This upgrades the entry
    # from rows-only to a full value check.
    def _ivf_sql(n_cells: int, n_probe: int, iterations: int, k: int) -> str:
        d2 = (
            "list_sum(list_transform(list_zip({v}, {c}), "
            "dd -> (dd[1]-dd[2])*(dd[1]-dd[2])))"
        )
        parts = [
            f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
corpus AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
queries AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
cent0 AS (
  SELECT CAST(rn - 1 AS INT) AS cell, v AS cv FROM (
    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v FROM corpus
  ) WHERE rn <= {n_cells}
)"""
        ]
        for i in range(1, iterations + 1):
            prev = f"cent{i - 1}"
            dist = d2.format(v="c.v", c="p.cv")
            parts.append(
                f"""asg{i} AS (
  SELECT c.vec_id, c.v, p.cell
  FROM corpus c CROSS JOIN {prev} p
  QUALIFY row_number() OVER (PARTITION BY c.vec_id
                             ORDER BY {dist} ASC, p.cell ASC) = 1
),
sum{i} AS (
  SELECT cell, list(v ORDER BY vec_id) AS lv, count(*) AS n
  FROM asg{i} GROUP BY cell
),
new{i} AS (
  SELECT cell,
         list_transform(
           list_reduce(
             list_prepend(list_transform(lv[1], x -> CAST(0.0 AS DOUBLE)), lv),
             (a, b) -> list_transform(list_zip(a, b), zz -> zz[1] + zz[2])),
           x -> x / n) AS cv
  FROM sum{i}
),
cent{i} AS (
  SELECT p.cell, COALESCE(nw.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN new{i} nw ON nw.cell = p.cell
)"""
            )
        last = f"cent{iterations}"
        parts.append(
            f"""af AS (
  SELECT c.vec_id AS neighbor_id, c.v AS cv, p.cell
  FROM corpus c CROSS JOIN {last} p
  QUALIFY row_number() OVER (PARTITION BY c.vec_id
                             ORDER BY {d2.format(v="c.v", c="p.cv")} ASC,
                                      p.cell ASC) = 1
),
qc AS (
  SELECT q.vec_id AS query_id, q.v AS qv, p.cell
  FROM queries q CROSS JOIN {last} p
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY {d2.format(v="q.v", c="p.cv")} ASC,
                                      p.cell ASC) <= {n_probe}
),
s AS (
  SELECT qc.query_id, af.neighbor_id,
         list_sum(list_transform(list_zip(qc.qv, af.cv), p -> p[1] * p[2]))
         / (sqrt(list_sum(list_transform(qc.qv, x -> x * x)))
            * sqrt(list_sum(list_transform(af.cv, x -> x * x)))) AS cos
  FROM qc JOIN af ON af.cell = qc.cell
)"""
        )
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rank,
       neighbor_id, ROUND(cos, 4) AS cos
FROM s
QUALIFY rank <= {k}
"""
        )

    sql["sim_ivf_topk"] = _ivf_sql(16, 4, 3, 5)

    sql["embeddings_stats"] = """
SELECT label, count(*) AS n,
       ROUND(AVG(sqrt(list_sum(list_transform(
             list_transform(embedding, x -> CAST(x AS DOUBLE)),
             x -> x * x)))), 6) AS avg_norm
FROM embeddings
GROUP BY label
"""

    # ---- tagged-union oracles for the merged contract entries ----------
    # `queries()` merges closely-related operators into one entry via
    # _tagged_union (literal `fn` tag + unionByName); the oracle mirrors
    # that shape: each branch wraps its per-part SQL in a subquery
    # (DuckDB allows a full WITH — even RECURSIVE — inside a subquery)
    # and selects an explicit column list so every branch lines up.
    # `sql.pop` consumes the per-part SQL so no dead keys are returned.
    def _u(*branches: tuple[str, str, str]) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT '{tag}' AS fn, {cols} FROM (\n{part}\n) AS _{tag}"
            for tag, cols, part in branches
        )

    sql["promql_topk_bottomk"] = _u(
        ("topk", "user, v", sql.pop("promql_topk")),
        ("bottomk", "user, v", sql.pop("promql_bottomk")),
    )
    sql["promql_quantile_stddev"] = _u(
        ("quantile", "v", sql.pop("promql_quantile")),
        ("stddev", "v", sql.pop("promql_stddev")),
    )
    sql["promql_irate_deriv"] = _u(
        ("irate", "user, v", sql.pop("promql_irate")),
        ("deriv", "user, v", sql.pop("promql_deriv")),
    )
    sql["promql_label_fns"] = _u(
        ("replace", "user, grp AS lbl, v", sql.pop("promql_label_replace")),
        ("join", "user, uid AS lbl, v", sql.pop("promql_label_join")),
    )
    sql["promql_absent_date"] = _u(
        ("absent", "flag AS lbl, v", sql.pop("promql_absent")),
        ("date_fns", "'' AS lbl, v", sql.pop("promql_date_fns")),
    )
    sql["promql_predict_hw"] = _u(
        ("predict_linear", "user, v", sql.pop("promql_predict_linear")),
        ("holt_winters", "user, v", sql.pop("promql_holt_winters")),
    )
    sql["promql_changes_resets"] = _u(
        ("changes", "user, v", sql.pop("promql_changes")),
        ("resets", "user, v", sql.pop("promql_resets")),
    )
    sql["promql_clamp_round"] = _u(
        ("clamp", "user, v", sql.pop("promql_clamp")),
        ("round_sqrt", "user, v", sql.pop("promql_round_sqrt")),
    )
    sql["promql_ot_quantile_span"] = _u(
        ("quantile_ot", "user, v", sql.pop("promql_quantile_over_time")),
        ("span_ot", "user, v", sql.pop("promql_max_min_ot")),
    )
    sql["promql_delta_idelta"] = _u(
        ("delta", "user, v", sql.pop("promql_delta")),
        ("idelta", "user, v", sql.pop("promql_idelta")),
    )

    # round-trip integrity: every oracle must target a live queries()
    # entry — a dead key here means an entry rename lost its oracle
    # (exactly the r2 regression: 48/50 -> 34/50 driver-verified)
    unknown = set(sql) - set(queries())
    if unknown:
        raise RuntimeError(f"oracle_sql keys not in queries(): {sorted(unknown)}")
    return sql
