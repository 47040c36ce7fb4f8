"""End-to-end near-duplicate curation: the composition a training-data
pipeline actually runs.

PERF.md §6d measured why the ORDER is mandatory at scale: identical
copies collide in every LSH bucket, so sketch-based near-dup cost
grows quadratically in duplicate-cluster size. Removing exact
duplicates first (constant-size digest shuffle) caps every
downstream posting list / bucket at the distinct-document level.

Stages (all existing operators, one lineage):

1. exact dedup — sha256 digest groupBy, representative = min id;
2. near-dup pairs among the distinct survivors (n-gram Jaccard by
   default — any ``*_pairs`` operator fits);
3. connected components over the pair graph (min-label propagation);
4. canonical assignment for EVERY input row: ``canonical_id`` =
   component of the row's exact-representative; ``is_canonical`` = 1
   for exactly one row per final cluster.

A downstream keep-one-per-cluster filter is then
``filter(is_canonical = 1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import connected_components, ngram_jaccard_pairs
from .util import pin, pinning, release_pins, small_corpus

#: Bounded-collect union-find opt-in for the pipeline's components
#: stage (r11): near-dup pair graphs are a vanishing fraction of the
#: corpus (ids-only, 16 B/edge — 200k edges is ~3 MB on the driver),
#: and below this bound the driver-side union-find resolves them in
#: 2 jobs instead of the distributed loop's ~7 (identical labels by
#: construction — see ``connected_components``).  Same bound the
#: streaming stage already opts in at; above it the 100 TB distributed
#: loop runs unchanged.
COMPONENTS_COLLECT_EDGES = 200_000


@pinning
def near_dup_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 7,
) -> DataFrame:
    """Returns one row per input row: (``id_col``, canonical_id,
    is_canonical ∈ {0,1})."""
    dig = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).withColumn("_digest", F.sha2(F.col("_text"), 256))
    ids = dig.select("_id", "_digest")
    # The digest map is consumed by several separate ACTIONS downstream
    # (the stop-shingle report, component-label seeding, the canonical
    # join) — unpinned, each would re-run the sha256 pass and the
    # digest shuffle over the whole corpus (PERF §20c take 3).
    # Ids+digest are ~50 B/doc.
    ids = pin(ids)
    reps = ids.groupBy("_digest").agg(F.min("_id").alias("_rep"))
    # reps feeds FOUR separate consumers (the doc→rep mapping, the
    # survivor text join, the component seed, components' final semi
    # join), several of them in their own actions — pin it (~40 B/doc)
    # so each reads a cache scan instead of re-running the digest
    # aggregation exchange (PERF §20c take 8)
    reps = pin(reps)
    # doc → exact representative (digest join: 32-byte key, never text)
    mapping = ids.join(reps, "_digest").select("_id", "_rep")
    survivors = (
        dig.join(reps, "_digest")
        .filter(F.col("_id") == F.col("_rep"))
        .select(F.col("_id").alias(id_col), F.col("_text").alias(text_col))
    )
    pairs = ngram_jaccard_pairs(
        survivors,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        n=n,
        eager=True,  # pair list is consumed by 2 union branches +
        # the components loop: checkpoint it once, drop the
        # text/posting pins (PERF §20c take 8)
    )
    # Seed the components from the PINNED digest map, not from
    # ``survivors``: the survivor frame's lineage is the text-wide
    # digest join, and connected_components materializes its node
    # frame in its own checkpoint action plus the final semi join —
    # seeding with survivors re-executed the ~(text bytes) exchange
    # once per such action at 20M docs (PERF §20c take 8). Same ids:
    # survivors ≡ reps._rep by construction.
    comp = connected_components(
        reps.select(F.col("_rep").alias(id_col)),
        pairs,
        node_col=id_col,
        # the pair list is already eagerly checkpointed above, so the
        # bounded probe reads a materialized frame; small graphs then
        # resolve driver-side in 2 jobs instead of the loop's ~7
        # (identical labels — the streaming stage's r11 fast path)
        collect_threshold=COMPONENTS_COLLECT_EDGES,
    )
    return (
        mapping.join(comp, mapping["_rep"] == comp[id_col])
        .select(
            F.col("_id").alias(id_col),
            F.col("component").alias("canonical_id"),
            (F.col("_id") == F.col("component")).cast("long").alias("is_canonical"),
        )
    )


@pinning
def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_threshold: float = 0.5,
    min_tokens: int = 5,
    max_mean_token_len: float = 40.0,
    sample_fraction=None,
    strata_col: str | None = None,
    cap_group_col: str | None = None,
    cap_max_rows: int | None = None,
    shard_budget: int | None = None,
    seed: int = 0,
    keep_original_text: bool = False,
    scratch_dir: str | None = None,
) -> DataFrame:
    """The whole training-data curation flow as ONE lineage — the
    composition a 100 TB corpus actually runs before training:

    1. near-dup canonicalization (:func:`near_dup_pipeline`: exact
       digest dedup → n-gram Jaccard pairs → connected components) —
       keep one canonical document per duplicate cluster;
    2. benchmark decontamination (optional: 13-gram collision rule,
       ``text.flag_contaminated`` — broadcast distinct gram set,
       map-only probe);
    3. PII scrubbing (``text.scrub_pii`` — training text is the
       SCRUBBED text from here on);
    4. quality gate (cheap heuristics on the scrubbed text: minimum
       token count, mean-token-length ceiling — the junk/boilerplate
       filters);
    5. deterministic (stratified) sampling (optional — hash gate,
       reproducible and monotone under corpus growth);
    6. per-domain caps (optional — row_number + WindowGroupLimit);
    7. token-budget shard packing (optional — two-phase prefix sum;
       adds ``shard_id``/``token_offset`` for the training writer).

    Stage ORDER is the cost argument: dedup first caps every later
    stage at distinct-document volume (PERF §6d); scrub before the
    quality gate so metrics see what training sees; sampling/caps
    before packing so shards are final.  Every stage is an existing
    audited operator; this function only fixes the composition.

    Components checkpoint: unless the corpus is under the shared
    metadata-only :func:`~.util.small_corpus` cut (unknown size ⇒
    big, so in-memory frames take the checkpoint), the composition
    truncates the lineage at the near-dup output. The composition is
    otherwise ONE action, so every stage's shuffle files stay
    referenced until the end — the dedup stage's digest joins and
    posting shuffles alone are several × corpus bytes, and at 20M
    docs the SUM of all live stages exceeds a single box's scratch
    even though each stage is individually linear (PERF §20c take 2).
    The near-dup output is ids-only (~24 B/doc), so an eager
    ``localCheckpoint`` here is cheap and makes every dedup-stage
    shuffle file garbage the ContextCleaner can reclaim WHILE the
    scrub/gate/layout stages run (pair it with a short
    ``spark.cleaner.periodicGC.interval`` — the default 30 min is too
    slow to help within one job). On a cluster the same boundary
    bounds peak scratch per executor; callers needing
    executor-loss-safe recovery should write the (tiny) canonical map
    to storage instead.

    ``scratch_dir``: optional storage-backed stage boundary — the
    curated frame is written to parquet there and re-read before the
    packing stage (what a production pipeline does anyway: land the
    curated corpus, then lay out shards). Guarantees every upstream
    shuffle file is reclaimable before layout runs — the lever that
    closes the single-box 20M composition (PERF §20c take 4).

    Returns the curated frame: original columns (minus the raw text
    unless ``keep_original_text`` — the scrubbed text is what trains,
    and carrying both doubles every downstream byte) + ``text_scrubbed``,
    ``n_tokens``, ``canonical_id``, and the optional layout columns.
    """
    from .sample import cap_per_group, pack_greedy, stratified_sample
    from .text import flag_contaminated, scrub_pii, tokens_expr

    cur = near_dup_pipeline(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=dedup_threshold,
    )
    if not small_corpus(docs):
        # checkpoint the ids-only canonical map so the dedup stages'
        # shuffle files become reclaimable while the layout stages run
        cur = cur.localCheckpoint(eager=True)
        # past the checkpoint nothing recomputes the dedup lineage —
        # drop this call's pins (digest map, reps, text, postings:
        # ~15 GB of cache at 20M docs) before the scrub/layout stages
        release_pins()
    out = (
        docs.join(cur, id_col)
        .filter(F.col("is_canonical") == 1)
        .drop("is_canonical")
    )
    if benchmark is not None:
        out = flag_contaminated(
            out, benchmark, text_col=text_col, id_col=id_col
        ).filter(~F.col("contaminated")).drop("contaminated", "n_contam_ngrams")
    # counts=False: the composition trains on the scrubbed text and
    # never reads the per-rule tallies — the replace-only chain is the
    # measured 1.69× on the dominant curation stage (PERF §20d);
    # callers wanting audit tallies run scrub_pii standalone
    out = scrub_pii(out, text_col=text_col, counts=False)
    if not keep_original_text:
        # training reads the scrubbed text; carrying the original
        # doubles every downstream shuffle/persist byte for nothing
        # (measured: the raw column is a third of the e2e footprint)
        out = out.drop(text_col)
    out = out.withColumn(
        "n_tokens", F.size(tokens_expr(F.col("text_scrubbed")))
    ).filter(
        (F.col("n_tokens") >= min_tokens)
        & (
            F.when(
                F.col("n_tokens") > 0,
                F.length("text_scrubbed") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0))
            <= max_mean_token_len
        )
    )
    if sample_fraction is not None:
        out = stratified_sample(
            out, sample_fraction, id_col, strata_col=strata_col, seed=seed
        )
    if cap_group_col is not None and cap_max_rows is not None:
        out = cap_per_group(out, cap_group_col, cap_max_rows, id_col)
    if scratch_dir is not None:
        # Storage-backed stage boundary (PERF §20c take 4): write the
        # curated-and-filtered corpus out and re-read it. A real
        # 100 TB pipeline lands the curated corpus in the lake before
        # the layout stages anyway; on a single box this is the only
        # boundary that GUARANTEES the dedup/scrub shuffle files are
        # reclaimable before the layout shuffles start — a persist
        # keeps its whole input lineage referenced for recompute-on-
        # eviction, a parquet round-trip does not.
        import os

        p = os.path.join(scratch_dir, "curated_stage")
        out.write.mode("overwrite").parquet(p)
        out = out.sparkSession.read.parquet(p)
    if shard_budget is not None:
        # Pin the curated frame first: packing's quantile and subtotal
        # phases are extra ACTIONS, and each would otherwise re-drive
        # the whole dedup/scrub lineage (AQE re-plans per action, so
        # shuffle-stage reuse cannot be relied on — measured 3× the
        # end-to-end wall at 5M docs without this persist, PERF §20).
        # (With ``scratch_dir`` the lineage is just the parquet scan —
        # the persist then only buys the quantile/subtotal passes a
        # local read.)
        out = pin(out)
        out = pack_greedy(out, shard_budget, "n_tokens", id_col)
    return out
