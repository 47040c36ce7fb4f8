"""Corpus-curation operators: deterministic sampling, per-group caps,
and token-budget shard packing.

These are the selection/layout stages of a large-scale training-data
pipeline (the reference engine stops at query semantics; a 100 TB
corpus additionally needs reproducible subsetting before training):

* :func:`stratified_sample` — hash-gate sampling.  No RNG state, no
  shuffle: a row's fate is a pure function of ``(key, seed)``, so the
  sample is reproducible across runs, resumable mid-job, and stable
  under repartitioning — the properties `sample()`'s per-partition RNG
  does not give you.  Map-only at any scale.
* :func:`cap_per_group` — keep at most N rows per group (per-domain
  caps in web-corpus curation).  One row_number window whose shuffle
  Spark bounds to cap×groups via ``WindowGroupLimit`` (the measured
  winner — PERF §20); a broadcast small-group bypass stays opt-in.
* :func:`pack_greedy` — assign documents to fixed token-budget shards
  in a deterministic global order.  Implemented as a distributed
  prefix sum (quantile-split buckets → O(buckets) subtotal aggregate →
  broadcast offsets → ONE bucket-partitioned cumulative window), NOT a
  single global window, so it scales past one task.

All operators are pure DataFrame expressions (no Python UDFs).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window, functions as F

from .util import hash64_expr, small_corpus

#: Sampling-gate denominator: fractions resolve to an integer number of
#: hash buckets out of this many, so Spark and any SQL oracle compare
#: the same integers (no float-threshold edge cases).
SAMPLE_DENOM = 1_000_000


def sample_gate_expr(key, seed: int = 0, hash_algo: str = "xxhash64"):
    """The sampling gate: uniform bucket in ``[0, SAMPLE_DENOM)`` from a
    hash of ``key`` salted with ``seed``.  A row is kept when its gate
    is below ``fraction * SAMPLE_DENOM``; different seeds give
    independent samples of the same corpus.

    The ``md5`` variant gates on the top 32 hex-derived bits only —
    always non-negative, so a SQL oracle replays it without signed /
    unsigned 64-bit modulo mismatches (DuckDB:
    ``CAST('0x' || substr(md5(k), 1, 8) AS BIGINT) % SAMPLE_DENOM``).
    """
    salted = F.concat(key.cast("string"), F.lit(f"#s{seed}"))
    if hash_algo == "md5":
        bucket = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")
    else:
        bucket = hash64_expr(salted, hash_algo)
    return F.pmod(bucket, F.lit(SAMPLE_DENOM))


def stratified_sample(
    df: DataFrame,
    fraction,
    key_col: str,
    strata_col: str | None = None,
    seed: int = 0,
    hash_algo: str = "xxhash64",
) -> DataFrame:
    """Deterministic (stratified) sample.

    ``fraction`` is either a float applied uniformly, or — with
    ``strata_col`` — a mapping ``{stratum: fraction}``; strata missing
    from the mapping are dropped (explicit is better than a silent
    default when deciding what enters a training mix).

    Scale: a single map-only filter; the gate is one hash per row and
    pushes through whole-stage codegen.  Because membership depends
    only on ``(key, seed)``, re-running over a grown corpus keeps every
    previously-sampled row (monotone sampling), which is what
    incremental corpus refreshes need.
    """
    gate = sample_gate_expr(F.col(key_col), seed, hash_algo)
    if isinstance(fraction, Mapping):
        if strata_col is None:
            raise ValueError("per-stratum fractions require strata_col")
        expr = F.lit(None).cast("long")
        for stratum, frac in sorted(fraction.items()):
            expr = F.when(
                F.col(strata_col) == stratum, F.lit(int(round(frac * SAMPLE_DENOM)))
            ).otherwise(expr)
        return df.filter(gate < expr)
    thr = int(round(float(fraction) * SAMPLE_DENOM))
    return df.filter(gate < F.lit(thr))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    order_col: str,
    optimize_small_groups: bool = False,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group, chosen by ascending
    ``order_col`` (deterministic — ties are impossible when order_col
    is a key; pass a key).

    Scale: the default is the single ``row_number`` window — NOT the
    obvious loser it used to be: Spark inserts ``WindowGroupLimit``
    below the exchange for ``row_number() <= k`` filters, so each map
    task forwards at most ``max_rows`` rows per group and the shuffle
    is bounded by cap×groups, not corpus size.  Measured on a 5M-doc /
    20k-Zipfian-domain corpus (PERF §20): one pass, 1.4 s.

    ``optimize_small_groups=True`` keeps the broadcast-bypass variant
    (counts aggregate → window only over the over-cap slice; under-cap
    groups pass scan→filter with no sort).  Measured 2.7× SLOWER on
    the same corpus — its three extra corpus scans cost more than the
    group-limited shuffle saves — so it is opt-in, useful only when an
    over-cap group list is already known (e.g. from a catalog) and the
    window input can be pre-filtered without the counts pass.  Results
    are identical either way (asserted in tests).
    """
    if max_rows < 1:
        raise ValueError("max_rows must be >= 1")
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    if not optimize_small_groups:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_rows)
            .drop("__rn")
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.filter(F.col("__n") > max_rows).select(group_col)
    # Broadcast the over-cap list both ways: heavy hitters are few by
    # construction (each holds > max_rows rows of the corpus).
    big = df.join(F.broadcast(over), group_col, "left_semi")
    small = df.join(F.broadcast(over), group_col, "left_anti")
    capped = (
        big.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )
    return small.unionByName(capped)


def pack_greedy(
    df: DataFrame,
    budget: int,
    token_col: str,
    order_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Assign rows to fixed token-budget shards in ascending
    ``order_col`` order: shard ``i`` covers token offsets
    ``[i*budget, (i+1)*budget)``, each row is placed at its exclusive
    running-token offset.  A row may straddle a boundary (standard
    block packing for sequence-training shards: exact, deterministic,
    single pass).

    Adds ``shard_id`` (bigint) and ``token_offset`` (bigint, exclusive
    prefix sum of ``token_col``).  ``order_col`` must be a NON-NULL
    NUMERIC key (ids, timestamps): quantile splits need a numeric
    column, uniqueness makes the prefix sum well-defined, and a NULL
    would break the bucket ordering invariant.

    Scale: a global ``ORDER BY`` window would serialize into ONE task.
    Instead, the classic two-phase prefix sum with the bucket id
    derived FROM THE DATA (approxQuantile split points → a pure
    expression), not from ``spark_partition_id()``:

    * phase 1 — a map-side-combined aggregate of per-bucket token
      subtotals (no corpus shuffle: O(buckets) rows move), turned into
      exclusive bucket offsets on the driver and broadcast back;
    * phase 2 — ONE corpus shuffle: the cumulative window partitioned
      by the bucket expression.

    A ``spark_partition_id()`` bucket (the first implementation) is
    cheaper to assign but forces ``repartitionByRange`` + a persist
    (the id is only stable while the shuffled frame is pinned) + a
    SECOND corpus shuffle when the window re-clusters by the id —
    measured 5× slower at 5M docs (PERF §20).  The quantile-split
    bucket is a deterministic function of the row, so the plan is
    scan → agg (small) ⨝ scan → one exchange → local sort, and nothing
    needs pinning — PROVIDED the input LINEAGE is deterministic: the
    quantile, subtotal, and final jobs are three separate actions over
    ``df``, so an upstream that returns different rows per action
    (``rand()`` without a seed, a changing source, an unpersisted
    nondeterministic sample) breaks the bucket↔offset correspondence.
    ``curate_corpus`` pins its curated frame before packing for
    exactly this reason; standalone callers with nondeterministic
    upstreams must persist first.  The offset join is a LEFT join
    guarded by ``raise_error``: a bucket that appears at the final
    action but was absent from the subtotal pass (the signature of a
    nondeterministic upstream) fails loudly instead of silently
    dropping rows.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
    # Small-corpus gate (r11): below the shared metadata-only cut the
    # distributed prefix sum degenerates to ONE bucket — no quantile
    # action, no subtotal collect (the offset is 0 by definition), one
    # global window that a small frame fits in a single task anyway.
    # Output is identical (the prefix sum never depended on where the
    # bucket boundaries fell); at scale the gate reads "big" and the
    # two-phase machinery runs unchanged.  The two skipped jobs were a
    # fixed per-call driver cost that dominated small invocations.
    if small_corpus(df):
        splits: list[float] = []
    else:
        # Split points: n-quantiles of order_col (Greenwald–Khanna —
        # one pass, deterministic, no RNG).  Bucket = #splits strictly
        # below the row's order value; equal values share a bucket.
        probs = [i / n_partitions for i in range(1, n_partitions)]
        splits = sorted(set(df.stat.approxQuantile(order_col, probs, 0.001)))
    x = F.col(order_col).cast("double")

    def _bucket_tree(lo: int, hi: int):
        # Leftmost split >= x within splits[lo:hi); answer in [lo, hi].
        # A WHEN binary-search tree: O(log splits) codegen'd
        # comparisons per row.  The flat alternative —
        # size(filter(splits_array, s -> s < x)) — is an INTERPRETED
        # higher-order function, O(splits) per row: measured 21 s vs
        # 1 s on the 5M×255-split subtotal aggregate (PERF §20, the
        # §9 HOF-trap list strikes again).
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.lit(splits[mid]) >= x, _bucket_tree(lo, mid)
        ).otherwise(_bucket_tree(mid + 1, hi))

    bucket = _bucket_tree(0, len(splits)) if splits else F.lit(0)
    with_b = df.withColumn("__bkt", bucket)

    local = Window.partitionBy("__bkt").orderBy(F.col(order_col).asc())
    cum_excl = F.coalesce(
        F.sum(F.col(token_col).cast("long")).over(
            local.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    out = with_b.withColumn("__local_off", cum_excl)
    if splits:
        subtotals = (
            with_b.groupBy("__bkt")
            .agg(F.sum(F.col(token_col).cast("long")).alias("__sub"))
            .orderBy("__bkt")
            .collect()  # bounded: one row per bucket
        )
        offsets, acc = [], 0
        for r in subtotals:
            offsets.append((r["__bkt"], acc))
            acc += r["__sub"] or 0
        off_df = spark.createDataFrame(
            offsets or [(0, 0)], "__bkt int, __off long"
        )
        out = out.join(F.broadcast(off_df), "__bkt", "left").withColumn(
            "__off",
            F.when(
                F.col("__off").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "pack_greedy: bucket appeared after the subtotal "
                            "pass (nondeterministic input lineage?) __bkt="
                        ),
                        F.col("__bkt").cast("string"),
                    )
                ).cast("long"),
            ).otherwise(F.col("__off")),
        )
    else:
        # single bucket: its exclusive offset is 0 by definition — a
        # literal, not a join against a one-row frame (whose
        # createDataFrame runs a Python worker in every task)
        out = out.withColumn("__off", F.lit(0).cast("long"))
    return (
        out
        .withColumn(
            "token_offset", (F.col("__off") + F.col("__local_off")).cast("long")
        )
        .withColumn(
            "shard_id", F.floor(F.col("token_offset") / F.lit(int(budget)))
        )
        .drop("__bkt", "__local_off", "__off")
    )
