"""Streaming curation stages: online exact dedup + quality gate for
an incrementally-ingested document corpus.

A 100 TB training corpus is rarely assembled in one batch — crawls and
feeds land continuously, and the cheap curation stages belong at
ingest time so the lake only accumulates documents that can survive
them. This module runs the batch operators' exact semantics under
Structured Streaming:

* :func:`streaming_exact_dedup` — first-seen-wins exact dedup on a
  content digest across micro-batches, via the engine's keyed state
  store (``dropDuplicates`` on the digest column).  State is one
  ~32-byte digest per distinct document, checkpointed — the stream
  restarts without re-admitting previously seen content.  Unbounded
  by default (a corpus digest set IS unbounded state, sized at
  ~digest × distinct docs — 3 GB per 100M docs, a deliberate cost);
  pass ``watermark=(ts_col, delay)`` to bound state by event time
  when upstream guarantees duplicates arrive within the window
  (``dropDuplicatesWithinWatermark``).
* :func:`streaming_quality_gate` — the batch quality gate's
  expressions (token count + mean-token-length) applied per row;
  stateless, identical to ``curate_corpus`` stage 4 on the same text
  (near-dup and layout stages stay batch: candidate joins and prefix
  sums need corpus-wide visibility; the reference point is
  Kafka-style ingest → landed parquet → periodic batch compaction,
  the same split the store uses for samples).

Both return transformed streaming frames — compose them between
``readStream`` and ``writeStream`` like any projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import tokens_expr
from .util import release_pins


def streaming_exact_dedup(
    stream: DataFrame,
    cols: list[str],
    watermark: tuple[str, str] | None = None,
    digest_col: str = "_digest",
) -> DataFrame:
    """First-seen-wins exact dedup over a streaming frame.

    ``cols`` are digested (sha256 over a 0x1e-joined concat — the
    batch ``exact_dedup`` digest, ``dedup.py``) and duplicates of any
    previously-seen digest are dropped via the streaming state store.
    Batch-mode parity: on a non-streaming frame this degrades to the
    same ``dropDuplicates``, keeping an arbitrary row per digest —
    use batch ``exact_dedup`` when min-id representatives matter.

    ``watermark=(ts_col, "10 minutes")`` switches to
    ``dropDuplicatesWithinWatermark``: state is evicted once the
    watermark passes, bounding it for sources whose duplicates are
    time-local (retries, at-least-once replays) rather than global.
    """
    digest = F.sha2(
        F.concat_ws("\x1e", *[F.col(c) for c in cols]), 256
    )
    out = stream.withColumn(digest_col, digest)
    if watermark is not None:
        ts_col, delay = watermark
        out = out.withWatermark(ts_col, delay)
        deduped = out.dropDuplicatesWithinWatermark([digest_col])
    else:
        deduped = out.dropDuplicates([digest_col])
    return deduped.drop(digest_col)


def streaming_quality_gate(
    stream: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_mean_token_len: float = 40.0,
) -> DataFrame:
    """The batch quality gate (``curate_corpus`` stage 4) as a
    stateless streaming projection: keep documents with at least
    ``min_tokens`` whitespace tokens and a mean token length at most
    ``max_mean_token_len``.  Adds ``n_tokens``."""
    out = stream.withColumn(
        "n_tokens", F.size(tokens_expr(F.col(text_col)))
    )
    return out.filter(
        (F.col("n_tokens") >= min_tokens)
        & (
            F.when(
                F.col("n_tokens") > 0,
                F.length(text_col) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0))
            <= max_mean_token_len
        )
    )


#: Sentinel default for the streaming stage's candidate cap: resolve
#: to the KIND's own batch-operator backstop (ngram → the 256
#: stop-shingle cap, embedding → the 2048 stop-bucket cap, minhash →
#: no cap exists).  r11, VERDICT r10 #2: the old shared ``256``
#: default was tuned for shingle document-frequency but flowed through
#: as the embedding bucket cap — 8× tighter than the batch operator's
#: backstop, so moving an embedding corpus from batch to streaming at
#: defaults silently censored more hot cells.  ``None`` stays an
#: explicit "uncapped"; explicit integers pass through verbatim.
PER_KIND_CAP = "per-kind"


def _resolve_cap(max_postings, kind: str) -> int | None:
    from .incremental import _modality

    cap = _modality(kind).cap
    if max_postings == PER_KIND_CAP:
        return cap
    if max_postings is not None and cap is None:
        raise ValueError(
            f"kind={kind!r} has no candidate cap (banded signatures "
            "bound candidates structurally); pass max_postings=None"
        )
    return max_postings


def near_dup_batch_stage(
    batch: DataFrame,
    index_dir: str,
    survivors_corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_postings: int | None | str = PER_KIND_CAP,
    batch_tag: str | None = None,
    kind: str = "ngram",
) -> DataFrame:
    """One micro-batch of ONLINE near-dup dedup against the persisted
    index (``pipeline.incremental``): returns the batch's SURVIVORS
    and appends their index rows.

    ``kind`` selects the modality (r10; an entry of
    ``pipeline.incremental``'s modality table): ``"ngram"`` probes the
    posting index over a TEXT column (``text_col``; exact-Jaccard
    pairs at ``threshold``, ``max_postings`` = the stop-shingle cap);
    ``"embedding"`` probes the hyperplane-bucket index over a VECTOR
    column (``text_col`` names it, e.g. ``"embedding"``; exact-cosine
    pairs at ``threshold``, ``max_postings`` = the stop-bucket cap);
    ``"minhash"`` (r11) probes the banded-signature index over a TEXT
    column (exact-Jaccard pairs at ``threshold``; no cap — banding
    bounds candidates structurally).  ``max_postings`` defaults to the
    KIND's own batch-operator backstop (:data:`PER_KIND_CAP`), so
    batch and streaming censor identically at defaults.  The survivor
    rules, replay safety and append idempotence below are
    modality-independent — all probes share the anti-join/degree
    discipline and tagged appends.

    Semantics (deterministic, replay-safe): a document survives iff

    1. no pair ≥ ``threshold`` connects it to an already-indexed
       document (first-seen-wins across batches), and
    2. it is the canonical (min id) of its within-batch near-dup
       component (the batch operator's representative rule applied
       per micro-batch).

    Replay safety: the probe anti-joins the batch's OWN ids out of the
    matched index postings before anything else (``ngram_index_probe``,
    r10 — previously only id-equal matches were excluded, which left
    the batch's replayed postings inflating the probe's GLOBAL degree
    counts, so shingles near the ``max_postings`` cap could be
    spuriously censored only on the replay).  Re-processing a batch
    whose survivors were already appended therefore sees exactly the
    first run's degrees, candidates and survivor set.
    ``batch_tag`` (the streaming runner passes the
    foreachBatch ``batch_id``) makes the posting append itself
    idempotent: a replayed batch overwrites its own ``append-<tag>``
    subdir instead of duplicating postings — crucial because
    duplicated postings would inflate the probe's degree counts and
    spuriously censor shingles near the stop-shingle cap, REGARDLESS
    of where a crash interleaved with any side-channel bookkeeping.

    ``survivors_corpus`` must cover the TEXTS of all indexed ids (the
    survivors parquet the runner maintains) — probe's verify reads
    only candidate docs from it (ids-only semi-join)."""
    from .dedup import connected_components
    from .incremental import _append, _probe

    max_postings = _resolve_cap(max_postings, kind)
    batch = batch.localCheckpoint(eager=True)  # stabilize the batch
    pairs = _probe(
        kind,
        batch,
        index_dir,
        survivors_corpus.unionByName(batch.select(survivors_corpus.columns)),
        id_col,
        text_col,
        threshold,
        max_postings,
    ).localCheckpoint(eager=True)
    # no-pair fast path (r11, VERDICT r10 #3): a batch with no
    # near-dup pair anywhere — the common case on a well-mixed feed —
    # survives whole.  Skipping the membership tagging, the drop
    # joins and the component machinery cuts ~6 fixed jobs off the
    # per-batch floor; isEmpty on the checkpointed pairs is one
    # limit-1 job.
    if pairs.isEmpty():
        _append(kind, batch, index_dir, id_col, text_col, batch_tag)
        return batch
    b_ids = batch.select(F.col(id_col).alias("_bid")).distinct()
    # tag each pair end with batch membership (ids are globally unique)
    tagged = (
        pairs.join(
            b_ids.withColumnRenamed("_bid", "id_a").withColumn(
                "_a_in", F.lit(True)
            ),
            "id_a",
            "left",
        )
        .join(
            b_ids.withColumnRenamed("_bid", "id_b").withColumn(
                "_b_in", F.lit(True)
            ),
            "id_b",
            "left",
        )
        .withColumn("_a_in", F.coalesce("_a_in", F.lit(False)))
        .withColumn("_b_in", F.coalesce("_b_in", F.lit(False)))
    )
    # rule 1: batch docs matching an INDEXED doc are dropped
    cross_dropped = (
        tagged.filter(F.col("_a_in") != F.col("_b_in"))
        .select(
            F.when(F.col("_a_in"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("_drop")
        )
        .distinct()
    )
    kept = batch.join(
        cross_dropped, batch[id_col] == cross_dropped["_drop"], "left_anti"
    )
    # rule 2: canonical per within-batch component among the remaining
    within = tagged.filter(F.col("_a_in") & F.col("_b_in")).select(
        "id_a", "id_b"
    )
    kept_ids = kept.select(F.col(id_col).alias("_id"))
    within = (
        within.join(
            kept_ids.withColumnRenamed("_id", "id_a"), "id_a", "left_semi"
        ).join(
            kept_ids.withColumnRenamed("_id", "id_b"), "id_b", "left_semi"
        )
    )
    # within-batch graphs are micro-batch-sized: the bounded-collect
    # union-find resolves them in 2 jobs instead of the iterative
    # loop's ~7 (r11 fixed-floor work; edge sets past the threshold
    # fall through to the distributed loop unchanged)
    comp = connected_components(
        kept.select(F.col(id_col)),
        within,
        node_col=id_col,
        collect_threshold=200_000,
    )
    survivors = (
        kept.join(comp, id_col)
        .filter(F.col(id_col) == F.col("component"))
        .drop("component")
        .localCheckpoint(eager=True)
    )
    _append(kind, survivors, index_dir, id_col, text_col, batch_tag)
    return survivors


# ---------------------------------------------------------------------------
# survivors-tree maintenance (r10, VERDICT r9 task 4): every micro-batch
# writes one `batch=<id>` dir, so a long-lived stream accumulates one
# directory per batch and the per-batch corpus listing grows without
# bound.  compact_survivors() runs a two-level LSM scheme behind a
# CAS'd meta pointer with the same crash-discipline as the index
# generations (backend lock, pointer moves by conditional PUT, sweeps
# only after the pointer moves):
#
#   fold   — rewrite the LIVE batch dirs (only them: O(new batches),
#            NOT O(corpus)) into one new `settled-<k>` dir and append
#            it to the meta's generation list;
#   merge  — rewrite ALL settled generations into one (O(corpus), run
#            rarely: auto-triggered when the generation list exceeds
#            merge_threshold, amortizing to O(corpus / threshold·N)
#            per batch).
#
# The READER RULE makes every crash point benign: the corpus is
# exactly the meta's settled generations plus the batch dirs with
# id > settled_through — a folded batch dir whose delete never ran is
# IGNORED (its rows are in a listed generation), and a stray settled
# dir a crashed fold left behind is invisible (not in the list) and
# swept by the next pass.

_SURV_META = "_survivors_meta.json"


def _surv_meta_path(survivors_path: str) -> str:
    import os

    return os.path.join(survivors_path, _SURV_META)


def _read_surv_meta(survivors_path: str) -> tuple[dict, bytes | None]:
    """(meta, raw bytes) — (never-compacted defaults, None) when no
    meta exists.  The default ``through`` is a deep sentinel (not -1)
    so NEGATIVE batch ids stay live before the first fold — the
    seeding pattern (PERF §22 addendum 2) lands a
    pre-existing corpus as ``batch=-1`` precisely so the stream's own
    ids (0, 1, …) never collide with it."""
    import json

    from ..streaming.backend import get_backend

    try:
        raw = get_backend().read_small(_surv_meta_path(survivors_path))
        return json.loads(raw), raw
    except FileNotFoundError:
        return {"gens": [], "through": -(1 << 62)}, None


def survivor_paths(survivors_path: str) -> list[str]:
    """The reader rule: the meta's settled generations plus live
    ``batch=<id>`` dirs with id > settled_through.  Folded batch dirs
    whose delete a crash skipped, and stray settled dirs a crashed
    fold left, are both excluded — readers never double-count.
    Enumeration goes through the backend seam (``list_dir``; r11) so
    an object-store backend can serve the listing."""
    import os

    from ..streaming.backend import get_backend

    meta, _ = _read_surv_meta(survivors_path)
    out = [os.path.join(survivors_path, g) for g in meta["gens"]]
    for e in get_backend().list_dir(survivors_path):
        if e.startswith("batch="):
            try:
                bid = int(e.split("=", 1)[1])
            except ValueError:
                continue
            if bid > meta["through"]:
                out.append(os.path.join(survivors_path, e))
    return out


def read_survivors(spark, survivors_path: str, schema) -> DataFrame | None:
    """The survivors corpus under the reader rule; ``None`` when no
    survivors have landed yet.  Listing cost is O(settled generations
    + live batch dirs) — bounded by (merge_threshold + compaction
    cadence), not stream lifetime."""
    paths = survivor_paths(survivors_path)
    if not paths:
        return None
    return spark.read.schema(schema).parquet(*paths)


def compact_survivors(
    spark,
    survivors_path: str,
    schema=None,
    mode: str = "auto",
    merge_threshold: int = 16,
    lock_timeout_s: float = 30.0,
) -> int:
    """Survivors-tree maintenance; returns the number of batch dirs
    folded.

    ``mode="fold"`` rewrites only the live batch dirs into one new
    settled generation — O(new batches) per call, which is what makes
    it safe to run from inside the stream's own ``foreachBatch``
    (``streaming_near_dup(compact_every=N)``; the stream is quiescent
    there and the runner is the single writer).  ``mode="merge"``
    additionally consolidates all settled generations into one —
    O(corpus), the offline/reconcile-time operation.  ``mode="auto"``
    folds, then merges only when the generation list exceeds
    ``merge_threshold``.

    Crash-safe by the reader rule (module comment): new dirs become
    visible only when the meta pointer CASes forward; sweeps run
    after, and a skipped sweep leaves reader-invisible strays that the
    next call removes."""
    import json
    import os

    from ..streaming.backend import ANY_CONTENT, get_backend

    be = get_backend()
    os.makedirs(survivors_path, exist_ok=True)
    with be.lock(survivors_path, timeout_s=lock_timeout_s):
        meta, raw = _read_surv_meta(survivors_path)
        paths = survivor_paths(survivors_path)
        live = [p for p in paths if os.path.basename(p).startswith("batch=")]
        # sweep STALE dirs first (reader-invisible, so always safe
        # under the lock): batch dirs at/below settled_through — a
        # crashed sweep's leftovers or a replayed batch's rewrite of a
        # folded dir — and settled dirs absent from the meta's list
        for e in be.list_dir(survivors_path):
            p = os.path.join(survivors_path, e)
            if e.startswith("batch="):
                try:
                    if int(e.split("=", 1)[1]) <= meta["through"]:
                        be.delete_tree(p)
                except ValueError:
                    pass
            elif e.startswith("settled-") and e not in meta["gens"]:
                be.delete_tree(p)

        def _next_gen_name() -> str:
            used = [
                int(g.split("-", 1)[1])
                for g in meta["gens"]
                if g.split("-", 1)[1].isdigit()
            ]
            return f"settled-{(max(used) + 1) if used else 0}"

        reader = (
            spark.read.schema(schema) if schema is not None else spark.read
        )
        folded = 0
        if live and mode in ("fold", "auto", "merge"):
            # FOLD: only the live batch dirs — never the settled data
            new_gen = _next_gen_name()
            reader.parquet(*live).write.mode("overwrite").parquet(
                os.path.join(survivors_path, new_gen)
            )
            meta = {
                "gens": meta["gens"] + [new_gen],
                "through": max(
                    int(os.path.basename(p).split("=", 1)[1]) for p in live
                ),
            }
            data = json.dumps(meta).encode()
            be.put_small_cas(
                _surv_meta_path(survivors_path),
                data,
                raw if raw is not None else ANY_CONTENT,
            )
            raw = data
            for p in live:
                be.delete_tree(p)
            folded = len(live)
        if len(meta["gens"]) > 1 and (
            mode == "merge"
            or (mode == "auto" and len(meta["gens"]) > merge_threshold)
        ):
            # MERGE: consolidate the generation list into one
            old = list(meta["gens"])
            merged = _next_gen_name()
            reader.parquet(
                *[os.path.join(survivors_path, g) for g in old]
            ).write.mode("overwrite").parquet(
                os.path.join(survivors_path, merged)
            )
            meta = {"gens": [merged], "through": meta["through"]}
            be.put_small_cas(
                _surv_meta_path(survivors_path),
                json.dumps(meta).encode(),
                raw,
            )
            for g in old:
                be.delete_tree(os.path.join(survivors_path, g))
        return folded


def streaming_near_dup(
    stream: DataFrame,
    index_dir: str,
    survivors_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 7,
    max_postings: int | None | str = PER_KIND_CAP,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    kind: str = "ngram",
    dim: int = 64,
    n_planes: int | str = 6,
    n_tables: int = 8,
    seed: int = 42,
    num_hashes: int = 64,
    bands: int | None = 16,
    ladder_target_collisions: float = 0.25,
):
    """Online near-dup dedup at ingest: each micro-batch is probed
    against the persisted index, survivors land under
    ``survivors_path/batch=<id>/`` (per-batch overwrite → idempotent
    under foreachBatch's at-least-once replay) and their index rows
    append.

    ``kind="ngram"`` (default) dedups a TEXT column by exact n-gram
    Jaccard (``n``-word shingles, stop-shingle cap ``max_postings``);
    ``kind="embedding"`` (r10) dedups a VECTOR column (``id_col``
    e.g. ``"vec_id"``, ``text_col`` naming the array column, e.g.
    ``"embedding"``) by exact cosine over hyperplane-LSH candidates —
    (``dim``, ``n_planes``, ``n_tables``, ``seed``) shape the bucket
    index, ``max_postings`` becomes the stop-bucket cap.  Pick
    ``n_planes`` for the EXPECTED lake size (random pairs collide at
    n_tables/2^n_planes per table) — or pass ``n_planes="auto"``
    (r11, VERDICT r10 task 1) and the runner climbs the plane-depth
    LADDER itself: the first batch sizes the initial depth
    (``embedding_params_for``; ``n_tables`` stays the caller's recall
    knob at every depth), every batch adopts the index meta's current
    (n_planes, n_tables), and when the meta's ``indexed_vecs``
    counter crosses a rung —
    ``embedding_params_for(total, ladder_target_collisions)`` wants
    more planes than the index has — the runner reconciles the index
    to the deeper depth from inside ``foreachBatch`` (where it is the
    single writer, the same spot ``compact_every`` uses).
    ``ladder_target_collisions`` pins per-batch candidate volume at
    ~``|batch| · n_tables · target`` random collisions.
    This is what keeps per-batch probe cost FLAT as the lake grows
    (PERF §22 r10: fixed depth measured LINEAR, 19.4 → 84.2 s at
    1M → 4M; the in-repo template is the bucketed store's
    ``auto_bucket_count``, ``streaming/compact.py``; the reference
    analog is the leveled compactor's automatic range escalation,
    ``vendor/github.com/prometheus/tsdb/compact.go:128-167``).  In
    auto mode ``dim`` and ``seed`` stay pinned; explicit ``n_planes``
    keeps the r10 behavior (shape pinned, manual reconcile +
    restart).
    ``kind="minhash"`` (r11) dedups a TEXT column by exact Jaccard
    over banded-MinHash candidates — (``n``, ``num_hashes``,
    ``bands``) shape the signatures (``bands=None`` derives the band
    count from ``threshold`` exactly like the batch operator); no
    candidate cap exists for this kind.
    ``max_postings`` defaults to the kind's own batch backstop
    (:data:`PER_KIND_CAP`) so batch and streaming censor identically
    at defaults.

    This closes the r8 split (streaming tier = exact dedup + quality
    gate only): the candidate join still gets corpus-wide visibility —
    through the INDEX, priced per batch — instead of requiring a
    periodic O(corpus) rebuild (PERF §22).  Returns the started
    streaming query.

    ``compact_every=N`` folds the accumulated ``batch=<id>`` dirs into
    a settled generation every N micro-batches (from inside
    ``foreachBatch``, where the stream is quiescent and the runner is
    the single writer; O(N batches) per fold — settled data is NOT
    rewritten, generations auto-merge only past ``compact_survivors``'
    merge_threshold), bounding the per-batch corpus listing at
    O(merge_threshold + N) dirs instead of O(stream lifetime) — the
    r9 unbounded-listing finding.  Compaction only moves files;
    a replayed batch whose dir was folded is IGNORED by the reader
    rule (its rows are in the settled generation) and its rewrite of
    ``batch=<id>`` is swept by the next compaction, so replay
    idempotence is preserved."""
    import os

    from .incremental import (
        _check_params,
        _modality,
        _read_meta,
        _reconcile,
        embedding_params_for,
    )

    m = _modality(kind)
    max_postings = _resolve_cap(max_postings, kind)
    given = dict(
        n=n, num_hashes=num_hashes, bands=bands,
        dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed,
    )
    shape = {p: v for p, v in given.items() if p in m.params}
    if m.settle is not None:
        # resolve derived parameters (MinHash bands from the
        # threshold) up front so the per-batch check pins a concrete
        # shape
        shape = m.settle(shape, threshold)
    auto_ladder = n_planes == "auto"
    if auto_ladder and m.ladder is None:
        raise ValueError('n_planes="auto" applies to kind="embedding"')
    # an EXISTING index must have been built with the caller's
    # parameters — silently probing with the index's own shape would
    # dedup with different shingles/buckets than requested.  In
    # auto-ladder mode the bucket shape (n_planes, n_tables) is the
    # INDEX's to own — the runner adopts the meta's current rung,
    # which is exactly what makes an automatic climb safe mid-stream —
    # while dim and seed stay caller-pinned.
    pinned = {
        p: v
        for p, v in shape.items()
        if not (auto_ladder and p in ("n_planes", "n_tables"))
    }

    def _process_batch(batch_df, batch_id):
        from ..streaming.backend import get_backend

        spark = batch_df.sparkSession
        if not get_backend().exists(
            os.path.join(index_dir, "_index_meta.json")
        ):
            first = dict(shape)
            if auto_ladder:
                # size the initial depth to the first batch — the
                # ladder only ever deepens from here; tables stay the
                # caller's recall knob
                first["n_planes"] = embedding_params_for(
                    batch_df.count(), ladder_target_collisions
                )
            m.build(batch_df.limit(0), index_dir, id_col, text_col, **first)
        _check_params(_read_meta(index_dir), kind, **pinned)
        survivors_corpus = read_survivors(
            spark, survivors_path, batch_df.schema
        )
        if survivors_corpus is None:
            survivors_corpus = batch_df.limit(0)
        else:
            survivors_corpus = survivors_corpus.select(*batch_df.columns)
        survivors = near_dup_batch_stage(
            batch_df,
            index_dir,
            survivors_corpus,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            max_postings=max_postings,
            batch_tag=f"b{batch_id}",
            kind=kind,
        )
        # per-batch dir overwrite: replays rewrite the same files
        survivors.write.mode("overwrite").parquet(
            os.path.join(survivors_path, f"batch={batch_id}")
        )
        climbed = False
        if auto_ladder:
            # rung check AFTER the append advanced indexed_vecs and
            # the survivors dir landed (the reconcile corpus must
            # cover every indexed id).  The climb is a full
            # re-signing — O(corpus), but it fires only on log2
            # crossings, exactly the leveled-compactor cadence.
            meta = _read_meta(index_dir)
            want_p = embedding_params_for(
                meta.get(m.ladder, 0), ladder_target_collisions
            )
            if want_p > meta["n_planes"]:
                corpus = read_survivors(
                    spark, survivors_path, batch_df.schema
                )
                _reconcile(
                    kind, corpus, index_dir, id_col, text_col, n_planes=want_p
                )
                climbed = True
        if compact_every and (batch_id + 1) % compact_every == 0:
            from .incremental import index_compact

            compact_survivors(spark, survivors_path, batch_df.schema)
            # the INDEX side accumulates one append-<tag> dir per
            # micro-batch too: fold them the cheap way — a pure rewrite
            # of the hashed index rows (O(index bytes)), no re-shingling
            # (skipped when a ladder reconcile just rewrote the whole
            # generation this batch — nothing left to fold)
            if not climbed:
                index_compact(spark, index_dir)

    def _process(batch_df, batch_id):
        # the next batch may run on another callback thread, so this
        # batch's pins go when it returns (its outputs are checkpointed)
        try:
            _process_batch(batch_df, batch_id)
        finally:
            release_pins()

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
