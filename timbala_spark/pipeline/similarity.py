"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute force: broadcast the (small) query set,
  one fused map stage computes dot products (``zip_with`` +
  ``aggregate``, JVM-side), a per-query window takes top-k.  At 100 TB
  the corpus side stays partition-parallel; only queries broadcast.
* ``lsh_cosine_topk`` — the scale path: random-hyperplane LSH buckets
  (sign bits of plane·v) restrict candidates to matching buckets, then
  exact re-rank. Recall is tunable via (n_planes, n_tables).
* ``ivf_topk`` — IVF-style: k-means-ish coarse centroids (sampled
  deterministic seeds, a few Lloyd iterations in Spark), probe the
  nearest ``n_probe`` cells only.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .util import ensure_parallelism, pin, pinning


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic fp)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def _fold_dot_sql(a_name: str, b_name: str) -> str:
    """:func:`dot_expr` as a SQL string over two NAMED columns — the
    interpreted zip_with/aggregate fold, verbatim."""
    return (
        f"aggregate(zip_with(`{a_name}`, `{b_name}`, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def dot_sql(a_name: str, b_name: str, dim: int) -> Column:
    """:func:`dot_expr` for fixed-width vectors, built to run in
    WHOLE-STAGE CODEGEN instead of the interpreted higher-order-function
    evaluator (r11; the §9 HOF-trap list, applied to the hot pair
    kernel itself).

    Bit-identical by construction: when both arrays have exactly
    ``dim`` elements the unrolled ``0.0 + a[0]*b[0] + a[1]*b[1] + …``
    chain is the fold's own left-associated addition sequence (same
    terms, same order, seeded with the same ``0.0``); any other width
    falls back to the verbatim fold, preserving zip_with's null-pad
    semantics for mismatched or NULL inputs.  A parity test pins the
    two equal on random and edge vectors (empty/short/long/NaN/NULL).

    Measured (2M rows × 64-d, interleaved noop-sink minima): fold
    2.25 s → unrolled 0.60 s, 3.8× — per-ROW cost, so it scales to the
    100 TB verify joins unchanged.

    ``dim <= 0`` returns the verbatim fold (r12, ADVICE r11): an empty
    unrolled term list would render unparseable SQL, so every caller
    is safe by construction whatever width it threads through.
    """
    if dim <= 0:
        return F.expr(_fold_dot_sql(a_name, b_name))
    terms = " + ".join(
        f"(get(`{a_name}`, {i}) * get(`{b_name}`, {i}))" for i in range(dim)
    )
    return F.expr(
        f"CASE WHEN size(`{a_name}`) = {dim} AND size(`{b_name}`) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} "
        f"ELSE {_fold_dot_sql(a_name, b_name)} END"
    )


def norm_sql(a_name: str, dim: int) -> Column:
    """``norm_expr`` via :func:`dot_sql` — same guarded unrolled form,
    same ``sqrt`` on top, bit-identical at every width."""
    return F.sqrt(dot_sql(a_name, a_name, dim))


def cosine_from_parts(dot: Column, na: Column, nb: Column) -> Column:
    """cos = dot/(na·nb) with the zero-norm convention cos := 0 — a
    zero vector has no direction, so it is similar to nothing (and an
    unguarded ANSI division would abort the whole job on one zero
    embedding in the corpus). At practical thresholds (> 0) this means
    zero vectors never pair, matching the blocked BLAS path where the
    NaN similarity fails every >= comparison."""
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def cosine_expr(a: Column, b: Column) -> Column:
    return cosine_from_parts(dot_expr(a, b), norm_expr(a), norm_expr(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Returns (query_id, rank, neighbor_id, cos). Ties broken by
    neighbor_id for determinism.

    The pair dot and the row norms run the interpreted fold
    (:func:`dot_expr`).  The unrolled codegen kernel (:func:`dot_sql`)
    gives the same values but won only 1.11× end to end at 400k ×
    64-d, where the broadcast nested-loop join and row assembly
    dominate, and lost 1.8× on tiny corpora to its per-invocation
    Catalyst cost (0.597 vs 1.090 s at 2k × 5 vectors), so this
    operator no longer carries it (OPTIMIZATION_r12 §1, §7a).
    """
    # norms precomputed once per row (not per pair): bit-identical to
    # cosine_expr — same expression tree, sqrt(dot(v,v)) just evaluated
    # earlier — but the per-pair work drops from 3 interpreted-HOF folds
    # to 1
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", norm_expr(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", norm_expr(F.col("_qv")))
    joined = c.crossJoin(F.broadcast(q)).withColumn(
        "cos",
        cosine_from_parts(
            dot_expr(F.col("_qv"), F.col("_cv")), F.col("_qn"), F.col("_cn")
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_params_for(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.9,
    target_bucket_rows: int = 200,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Pick (n_planes, n_tables) for hyperplane LSH from the corpus
    size and the cosine threshold, instead of a fixed shape.

    The math: a pair at angle θ collides in one table with probability
    p1 = (1 - θ/π)^n_planes, and in ≥1 of T independent tables with
    1-(1-p1)^T. Candidate volume per table is ~N²/2^(n_planes+1) for
    balanced buckets, so n_planes must GROW with the corpus —
    log2(N / target_bucket_rows) — or buckets stay huge and the
    verify join degenerates toward all-pairs (measured at sf0.1: 4
    planes × 16 tables on 2k vectors admits 64% of ALL pairs).
    n_tables is then the smallest T that restores the recall the
    extra planes cost, capped to bound the banding explode.

    Returns parameters for the *stated* threshold: recall for pairs
    far above it is strictly higher (p1 rises toward 1 as θ→0)."""
    if not (-1.0 <= threshold <= 1.0):
        raise ValueError(f"threshold {threshold} outside [-1, 1]")
    theta = math.acos(max(-1.0, min(1.0, threshold)))
    p_plane = 1.0 - theta / math.pi  # per-plane agreement probability
    n_planes = max(2, math.ceil(math.log2(max(2, n_rows) / target_bucket_rows)))
    p1 = p_plane**n_planes
    if p1 <= 0.0:
        return n_planes, max_tables
    # smallest T with 1-(1-p1)^T >= target_recall
    n_tables = math.ceil(
        math.log(1.0 - target_recall) / math.log(1.0 - p1)
    )
    return n_planes, max(1, min(max_tables, n_tables))


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane (sign of plane·v),
    packed into a long."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: x * y,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        out = out + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def lsh_bucket_sql(col_name: str, planes: list[list[float]]) -> Column:
    """:func:`lsh_bucket_expr` built as ONE parsed SQL expression over a
    NAMED column — value-identical (same zip_with/aggregate fold, same
    term order, same comparisons; ``repr`` round-trips every double
    exactly), but the construction is a single ``F.expr`` parse instead
    of thousands of py4j Column calls.  At 22 planes × 16 dims ×
    4 tables the Column forest costs ~4 s of DRIVER time per operator
    call (measured r11 — the per-batch append and probe each paid it),
    the same plan-construction pathology PERF §13 fixed for the
    engine's batched projections.  Use this form wherever the vector
    column has a name; keep :func:`lsh_bucket_expr` for callers holding
    an anonymous Column (a parity test pins the two identical).

    Deliberately NOT unrolled the way :func:`dot_sql` is (r11 negative
    result, on record): an unrolled signature is
    planes × dim × tables terms in ONE projection — ~4k expression
    nodes at the batch operator's 16 tables × 4 planes × 64 dims — and
    the per-invocation Catalyst/codegen cost of that tree measured
    2–4.8× WORSE end-to-end on the LSH entries (interleaved worktree
    A/B, 8f8b45d vs 184983b: dedup_embedding ratio 1.97, sim_lsh_topk
    4.77) even though the per-row kernel is faster.  The signature is
    evaluated once per row per table, not once per candidate pair, so
    the interpreted fold is not the bottleneck the pair-verify dot
    was; keep the fold here, keep :func:`dot_sql` for the pair
    kernels."""
    terms = ["CAST(0 AS BIGINT)"]
    for i, p in enumerate(planes):
        arr = ", ".join(f"{float(x)!r}D" for x in p)
        d = (
            f"aggregate(zip_with(`{col_name}`, array({arr}), "
            "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN {d} > 0 THEN CAST({1 << i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(terms))


def _lsh_banded(
    src: DataFrame,
    vec: str,
    carry: list[str],
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(``carry``..., _tbl, _bkt): one row per table with the
    random-hyperplane bucket of the vector column ``vec`` — every
    table's bucket in ONE projection (explode of a struct array, the
    shape of MinHash banding), over the planes ``_planes(dim,
    n_planes, seed + t)`` of table ``t``.  The one bucket construction
    of :func:`lsh_cosine_topk`, ``embedding_near_dup_pairs(mode="lsh")``
    and the persisted embedding index, so an index probe generates
    exactly the batch operator's candidate cells.  String-built fold:
    one ``F.expr`` parse per table instead of a py4j Column forest
    (see :func:`lsh_bucket_sql`)."""
    return src.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_tbl"),
                        lsh_bucket_sql(
                            vec, _planes(dim, n_planes, seed + t)
                        ).alias("_bkt"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select(
        *carry, F.col("_tb._tbl").alias("_tbl"), F.col("_tb._bkt").alias("_bkt")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing an LSH bucket with
    the query in ANY of ``n_tables`` independent tables, re-ranked
    exactly. The bucket join replaces the cross join — this is what
    survives a 100× corpus scale-up.  Norms and re-rank dots run the
    interpreted fold, as in :func:`cosine_topk`; ``dim`` sizes the
    hyperplanes."""
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("_cv"),
    ).withColumn("_cn", norm_expr(F.col("_cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", norm_expr(F.col("_qv")))
    # one pass per side: every table's bucket in a single projection
    # instead of one union branch per table re-scanning the source
    shape = (dim, n_planes, n_tables, seed)
    cb = _lsh_banded(c, "_cv", ["neighbor_id", "_cv", "_cn"], *shape)
    qb = _lsh_banded(q, "_qv", ["query_id", "_qv", "_qn"], *shape)
    cand = (
        cb.join(F.broadcast(qb), ["_tbl", "_bkt"])
        .select("query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    ranked = cand.withColumn(
        "cos",
        cosine_from_parts(
            dot_expr(F.col("_qv"), F.col("_cv")), F.col("_qn"), F.col("_cn")
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


@pinning
def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    iterations: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: learn ``n_cells`` coarse centroids with a few
    Lloyd iterations (deterministic init: lowest ids), assign corpus
    vectors to cells, probe only the ``n_probe`` nearest cells per
    query. Centroids are tiny → broadcast; assignment is map-only.

    Training is fully deterministic, including float summation order:
    each centroid update folds the member vectors in ascending-id order
    (``array_sort(collect_list)`` + sequential ``aggregate``), never a
    partition-order ``avg`` — so the trained centroids, and therefore
    the probed candidate sets, are bit-replayable by a SQL oracle that
    sums in the same order (driver contract ``sim_ivf_topk``)."""
    # r11: the pin carries (id, vec) only — the corpus norm moves BELOW
    # the init collect so it can use the codegen kernel once ``dim`` is
    # known (it was never read by the k-means loop anyway, so the pin
    # materialization no longer pays an interpreted fold per row)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("_cv"),
    )
    c = pin(c)
    init = [
        r["_cv"]
        for r in c.orderBy("neighbor_id").limit(n_cells).collect()
    ]
    centroids = init
    dim = len(init[0]) if init else 0
    for _ in range(iterations):
        cent_arr = F.array(
            *[F.array(*[F.lit(float(x)) for x in cvec]) for cvec in centroids]
        )
        assigned = c.withColumn(
            "_cell",
            _nearest_cell_expr(F.col("_cv"), cent_arr),
        )
        # centroid = element-wise mean, summed as a sequential fold over
        # members sorted by id (deterministic fp; ~n_cells rows out)
        new = (
            assigned.groupBy("_cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("neighbor_id").alias("_id"),
                            F.col("_cv").alias("_v"),
                        )
                    )
                ).alias("_xs")
            )
            .select(
                "_cell",
                F.transform(
                    F.aggregate(
                        F.col("_xs"),
                        F.array_repeat(F.lit(0.0).cast("double"), dim),
                        lambda acc, s: F.zip_with(
                            acc, s["_v"], lambda a, b: a + b
                        ),
                    ),
                    lambda x: x / F.size("_xs"),
                ).alias("_centroid"),
            )
            .collect()
        )
        got = {r["_cell"]: r["_centroid"] for r in new}
        centroids = [got.get(i, centroids[i]) for i in range(len(centroids))]
    cent_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in cvec]) for cvec in centroids]
    )
    # r11: per-row norm and per-candidate dot through the codegen
    # kernels — ``dim`` is known here (taken from the collected init
    # centroids, an action the trainer runs regardless), the kernels
    # guard on width and fall back to the verbatim fold, so values are
    # bit-identical for every input.  The cell-assignment fold is
    # deliberately NOT unrolled: n_cells × dim terms per row is the
    # same Catalyst-blowup shape the LSH bucket unroll measured 2–4.8×
    # WORSE (see lsh_bucket_sql's negative-result note).
    use_kernel = dim > 0
    assigned = c.withColumn(
        "_cell", _nearest_cell_expr(F.col("_cv"), cent_arr)
    ).withColumn(
        "_cn", norm_sql("_cv", dim) if use_kernel else norm_expr(F.col("_cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("_qv"),
    ).withColumn(
        "_qn", norm_sql("_qv", dim) if use_kernel else norm_expr(F.col("_qv"))
    ).withColumn(
        "_cells", _nearest_cells_expr(F.col("_qv"), cent_arr, n_probe)
    )
    qx = q.select("query_id", "_qv", "_qn", F.explode("_cells").alias("_cell"))
    cand = assigned.join(F.broadcast(qx), "_cell").select(
        "query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn"
    )
    ranked = cand.withColumn(
        "cos",
        cosine_from_parts(
            dot_sql("_qv", "_cv", dim)
            if use_kernel
            else dot_expr(F.col("_qv"), F.col("_cv")),
            F.col("_qn"),
            F.col("_cn"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _dist2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _nearest_cell_expr(vec: Column, cent_arr: Column) -> Column:
    scored = F.transform(
        cent_arr, lambda cv, i: F.struct(_dist2(vec, cv).alias("d"), i.alias("i"))
    )
    return F.array_min(scored)["i"]


def _nearest_cells_expr(vec: Column, cent_arr: Column, n_probe: int) -> Column:
    scored = F.array_sort(
        F.transform(
            cent_arr,
            lambda cv, i: F.struct(_dist2(vec, cv).alias("d"), i.alias("i")),
        )
    )
    return F.transform(F.slice(scored, 1, n_probe), lambda s: s["i"])
