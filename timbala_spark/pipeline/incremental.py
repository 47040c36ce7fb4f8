"""Incremental near-duplicate curation: persisted posting/sketch
indexes probed by new batches.

The batch operators (:func:`~timbala_spark.pipeline.dedup.
ngram_jaccard_pairs`, :func:`~timbala_spark.pipeline.dedup.
minhash_lsh_pairs`) rebuild their inverted index over the WHOLE corpus
on every invocation — O(corpus) re-shingling + a corpus-wide posting
shuffle per curation pass.  A lake fed continuously (the
``pipeline/streaming.py`` ingest tier) pays that forever.  The store
side solved the identical problem with incremental compaction —
rewrite only touched days (``streaming/compact.py``; the reference's
analog is the leveled compactor, ``vendor/github.com/prometheus/
tsdb/compact.go:128-167``, which compacts only the blocks
whose ranges changed).  This module gives the curation side the same
treatment:

* **build**   — shingle/sketch the corpus ONCE, persist the hashed
  index (16 B/posting logical rows for n-grams, 24 B/row band
  signatures for MinHash, ~20 B/row (vec_id, table, bucket)
  hyperplane signatures for embeddings — never text, never string
  arrays, never vectors; parquet footprint per APPEND DIR is higher
  for tiny batches, which is what ``reconcile``'s settled rewrite
  amortizes).
* **probe**   — candidates for a NEW batch = the batch's own hashes
  joined against the persisted index + the batch's internal pairs,
  then the same candidate-reduced exact-Jaccard verify as the batch
  operators.  No corpus text is ever re-read except for the verified
  CANDIDATE documents (a semi-join), and no corpus-wide shuffle runs:
  with the batch side broadcast the index join is map-side over a
  columnar hash-only scan.
* **append**  — add the batch's index rows (parquet append into the
  current generation; no rewrite of existing rows).
* **reconcile** — periodic full rebuild into a NEW generation
  (compaction: drops deleted docs, re-applies current parameters),
  with the old generation removed only after the meta pointer moves.

Equivalence contract (the metamorphic property tested in
``tests/test_incremental_dedup.py``): processing a corpus as ANY
sequence of batches — ``pairs = ⋃ probe(batch_i); append(batch_i)`` —
yields exactly the full-rebuild pair set, provided the stop-shingle
cap never fires.  With an active ``max_postings`` cap the incremental
pass sees PREFIX posting counts (≤ the final counts the full rebuild
censors on), so it censors no more than the rebuild: the incremental
pair set is a SUPERSET of the rebuild's, and every extra pair is a
true near-duplicate (the verify is exact Jaccard on both paths) —
recall is monotone in incrementality, never worse.  MinHash banding
has no cap and the signature of a document is corpus-independent, so
the MinHash identity is exact unconditionally.  The embedding index
(hyperplane LSH, r10) inherits both halves: signatures are
corpus-independent (exact identity when the bucket cap is off) and
its ``max_bucket_rows`` cap censors on prefix cell sizes (superset
recall when it binds, every extra pair exact-cosine verified).

Scale notes (100 TB):

* Probe cost is O(batch shingling) + O(index scan).  The scan reads
  16 B/posting columnar with the batch's hash set broadcast
  (map-side, zero shuffle of the index); when a batch is too large to
  broadcast (``batch_broadcast=False``) the join degrades to a
  hash-join shuffle of 16 B rows — still never text — and past that
  point ``reconcile`` (a full rebuild) is the honest tool.
* The index is append-only between reconciles; generations make the
  reconcile swap atomic at the meta pointer, mirroring the sample
  store's manifest generations.

Crash-safety (r10, VERDICT r9 task 2): every index mutation — and, as
of r11, the generation-sweep enumeration (``list_dir``) — routes
through the store's :class:`~timbala_spark.streaming.backend.
StorageBackend` seam — writers hold the backend's maintenance mutex
(flock on POSIX, an expiring stealable LEASE on object stores), the
meta pointer moves by conditional PUT (CAS on the exact previous
bytes, so a writer that stalls past its lease and loses to a stealer
cannot clobber the stealer's commit), and generation removal is a
backend prefix delete that runs AFTER the pointer moves.  A writer
killed at any backend operation leaves the meta pointing at a
COMPLETE generation (old before the CAS, new after), orphaning at
most stray bytes that the next build/reconcile sweeps
(``_drop_other_generations``); Spark's own parquet task commits cover
mid-write kills (uncommitted ``_temporary`` files are invisible to
the probe's listing).  The ``idxcrash`` family of
``tools/fuzz_all.py`` kill-point-fuzzes exactly this protocol.
Readers (probes) are lock-free and assume the single curation driver
does not reconcile under its own in-flight probe.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import (
    _minhash_band_structs,
    _minhash_band_structs_fold,
    _minhash_sigs_by_id,
    hash64_expr,
    minhash_params_for,
    minhash_signature_expr,
    word_shingles_expr,
)
from .util import ensure_parallelism, pin, pinning, small_corpus

_META = "_index_meta.json"


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _META)


def _read_meta_bytes(index_dir: str) -> bytes:
    from ..streaming.backend import get_backend

    try:
        return get_backend().read_small(_meta_path(index_dir))
    except FileNotFoundError:
        raise FileNotFoundError(
            f"not a near-dup index (no {_META}): {index_dir}"
        ) from None


def _read_meta(index_dir: str) -> dict:
    return json.loads(_read_meta_bytes(index_dir))


def _write_meta(index_dir: str, meta: dict, expect=None) -> None:
    """Publish the meta pointer through the backend seam.

    ``expect``: the exact previous meta bytes (conditional PUT — the
    commit CAS; raises :class:`~timbala_spark.streaming.backend.
    CASConflictError` if another writer moved the pointer first, e.g.
    a lease stealer after this writer stalled past expiry), or
    :data:`~timbala_spark.streaming.backend.ANY_CONTENT` for the
    unconditional initial publish (``build`` owns the dir).  A crash
    between the generation's data write and this publish leaves the
    previous meta pointing at the previous COMPLETE generation — the
    index is stale, never corrupt."""
    from ..streaming.backend import ANY_CONTENT, get_backend

    data = json.dumps(meta).encode()
    get_backend().put_small_cas(
        _meta_path(index_dir), data, ANY_CONTENT if expect is None else expect
    )


def _gen_dir(index_dir: str, gen: int) -> str:
    return os.path.join(index_dir, f"gen-{gen}")


def _check_params(meta: dict, kind: str, **params) -> None:
    if meta.get("kind") != kind:
        raise ValueError(
            f"index kind mismatch: index is {meta.get('kind')!r}, "
            f"operation expects {kind!r}"
        )
    for k, v in params.items():
        if meta.get(k) != v:
            raise ValueError(
                f"index parameter mismatch on {k!r}: index was built "
                f"with {meta.get(k)!r}, probe/append called with {v!r} "
                "— results would not compose; reconcile() with the new "
                "parameters instead"
            )


def _write_append(out: DataFrame, gen_dir: str, batch_tag: str | None) -> None:
    """Append ``out`` into a generation: plain parquet append without a
    tag; idempotent overwrite of an ``append-<tag>`` subdir with one
    (probes read the generation with ``recursiveFileLookup``)."""
    if batch_tag is None:
        out.write.mode("append").parquet(gen_dir)
        return
    import re as _re

    safe = _re.sub(r"[^A-Za-z0-9_.-]", "_", batch_tag)
    out.write.mode("overwrite").parquet(
        os.path.join(gen_dir, f"append-{safe}")
    )


def _drop_other_generations(index_dir: str, keep_gen: int) -> None:
    """Remove generation dirs other than ``keep_gen`` (backend prefix
    delete) — run AFTER the meta pointer moves, so a kill here leaves
    only orphan bytes: build() resets the pointer to gen-0 and
    reconcile() moves it forward, and without this sweep a previous
    generation's corpus-sized posting files (or a crashed writer's
    stray partial generation) would linger forever."""
    from ..streaming.backend import get_backend

    be = get_backend()
    for entry in be.list_dir(index_dir):
        if entry.startswith("gen-") and entry != f"gen-{keep_gen}":
            be.delete_tree(os.path.join(index_dir, entry))


def _writer_lock(index_dir: str, lock_timeout_s: float):
    """The index writers' maintenance mutex: the backend's lock (flock
    on POSIX; an expiring, stealable lease on object stores — crash
    recovery is lease expiry, not kernel cleanup).  Probes do not take
    it."""
    from ..streaming.backend import get_backend

    os.makedirs(index_dir, exist_ok=True)
    return get_backend().lock(index_dir, timeout_s=lock_timeout_s)


def _publish_build(
    index_dir: str, out: DataFrame, meta: dict, lock_timeout_s: float
) -> None:
    """Initial generation publish: data first, pointer second, sweep
    third — a kill at any backend op leaves either no index (no meta
    yet) or a complete gen-0."""
    with _writer_lock(index_dir, lock_timeout_s):
        out.write.mode("overwrite").parquet(_gen_dir(index_dir, 0))
        _write_meta(index_dir, meta)
        _drop_other_generations(index_dir, 0)


def _publish_append(
    index_dir: str,
    kind: str,
    out_fn,
    batch_tag: str | None,
    lock_timeout_s: float,
    meta_update_fn=None,
) -> None:
    """Append under the lock with a CAS'd counter bump: ``out_fn(meta)``
    builds the rows from the CURRENT parameters.  A kill after the
    data write but before the CAS leaves the postings visible with a
    stale counter — benign (the counter is informational), and a
    tagged replay overwrites the same subdir.  ``meta_update_fn(meta)``
    (optional) returns extra meta fields to fold into the same CAS —
    the embedding kind uses it to advance ``indexed_vecs``, the
    counter the plane-depth ladder climbs on (same advisory tolerance
    as ``appended_batches``: a replayed append double-bumps, the next
    reconcile resets it exactly)."""
    with _writer_lock(index_dir, lock_timeout_s):
        raw = _read_meta_bytes(index_dir)
        meta = json.loads(raw)
        _check_params(meta, kind)
        out = out_fn(meta)
        _write_append(out, _gen_dir(index_dir, meta["generation"]), batch_tag)
        meta["appended_batches"] += 1
        if meta_update_fn is not None:
            meta.update(meta_update_fn(meta))
        _write_meta(index_dir, meta, expect=raw)


def _publish_reconcile(
    index_dir: str,
    kind: str,
    out_fn,
    meta_update: dict,
    lock_timeout_s: float,
) -> None:
    """Generational swap under the lock: new generation written in
    full, pointer moved by CAS on the exact previous bytes, old
    generations swept only after the pointer moves.  Kill before the
    CAS → pointer still at the old complete generation (stray new-gen
    bytes swept by the next pass, which rewrites the same dir anyway);
    kill after → pointer at the new complete generation (old gen is
    the stray).  The CAS also defends against a stalled writer whose
    lease a second writer stole: the loser's late pointer move fails
    instead of clobbering the stealer's commit."""
    with _writer_lock(index_dir, lock_timeout_s):
        raw = _read_meta_bytes(index_dir)
        meta = json.loads(raw)
        _check_params(meta, kind)
        new_gen = meta["generation"] + 1
        out = out_fn(meta)
        out.write.mode("overwrite").parquet(_gen_dir(index_dir, new_gen))
        meta.update(meta_update)
        meta["generation"] = new_gen
        meta["appended_batches"] = 0
        _write_meta(index_dir, meta, expect=raw)
        _drop_other_generations(index_dir, new_gen)


#: physical row schema per index kind (what probes read and
#: index_compact rewrites)
_KIND_SCHEMAS = {
    "ngram": "doc_id long, s long",
    "minhash": "doc_id long, band int, bucket long",
    "embedding": "vec_id long, tbl int, bkt long",
}


def index_compact(
    spark: SparkSession, index_dir: str, lock_timeout_s: float = 30.0
) -> None:
    """Consolidate the current generation's files — including the
    per-batch ``append-<tag>`` subdirs a streaming feeder accumulates
    one-per-micro-batch — into a new generation, WITHOUT recomputing
    any signatures: a pure rewrite of the ≤24 B/row index rows,
    O(index bytes), vs ``reconcile``'s O(corpus) re-shingle/re-sign.
    Works for every index kind (the schema comes from the meta).

    Rows are ``distinct()``-ed in the rewrite: an at-least-once feeder
    that replays a batch whose tagged append dir was already folded
    re-creates the dir with rows the consolidated files now also hold
    — the duplicates are neutralized at probe time (the probes dedup
    matched index rows) and collapsed for good by the next compact.
    Crash-safety is :func:`_publish_reconcile`'s (CAS'd pointer swap,
    post-pointer sweep)."""
    meta = _read_meta(index_dir)
    schema = _KIND_SCHEMAS[meta["kind"]]

    def out_fn(m):
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(_gen_dir(index_dir, m["generation"]))
            .distinct()
        )

    _publish_reconcile(index_dir, meta["kind"], out_fn, {}, lock_timeout_s)


# ---------------------------------------------------------------------------
# shared candidate/verify machinery


def _ngram_postings(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_algo: str
) -> DataFrame:
    """(_id, _s): one row per (document, distinct shingle hash).
    Identical hashing to ``ngram_jaccard_pairs``' posting table —
    explode BEFORE hashing so the hash runs in codegen, not inside an
    interpreted array transform (the §9 HOF trap); same r11
    ``small_corpus``-gated sliding-join arm for the shingle windows
    (plan shape only — values identical)."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                word_shingles_expr(
                    F.col(text_col), n, small=small_corpus(df)
                )
            ).alias("_str"),
        )
        .select("_id", hash64_expr(F.col("_str"), hash_algo).alias("_s"))
    )


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    hash_algo: str,
) -> DataFrame:
    """(_id, _band, _bucket): the banded MinHash signature, identical
    construction to ``minhash_lsh_pairs`` (same permutation constants,
    same band bucket hash, same r11 small-corpus gate: below the gate
    the interpreted ``minhash_signature_expr`` fold runs map-only; at
    scale the shared codegen aggregation ``_minhash_sigs_by_id`` /
    ``_minhash_band_structs`` runs instead — bit-identical
    (parity-tested both algos), 6.7× on the signature stage, one extra
    ids-keyed exchange of 8 + 8·num_hashes bytes/doc that the map-side
    partial MIN collapses to one row per id)."""
    small = small_corpus(df)
    base = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            word_shingles_expr(F.col(text_col), n, small=small).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)  # unshingleable docs sketch nothing
    )
    if small:
        sig = minhash_signature_expr(
            F.transform(
                F.col("_sh"), lambda s: hash64_expr(s, hash_algo)
            ),
            num_hashes,
        )
        banded = base.select(
            "_id",
            F.explode(
                _minhash_band_structs_fold(sig, num_hashes, bands, hash_algo)
            ).alias("bb"),
        )
    else:
        sigs = _minhash_sigs_by_id(base, num_hashes, hash_algo)
        banded = sigs.select(
            "_id",
            F.explode(
                _minhash_band_structs(num_hashes, bands, hash_algo)
            ).alias("bb"),
        )
    return banded.select(
        "_id", F.col("bb.band").alias("_band"), F.col("bb.bucket").alias("_bucket")
    )


def _verify_pairs(
    cand: DataFrame,
    texts: DataFrame,
    n: int,
    threshold: float,
) -> DataFrame:
    """Candidate-reduced exact verify, the invariant shared with the
    batch operators: shingle ARRAYS are computed map-side for
    candidate documents only and never enter a corpus-wide shuffle.

    ``cand``: (id_a, id_b) with id_a < id_b.  ``texts``: (_id, _text)
    covering every id in ``cand`` — the GUARDED lookup (missing ids
    raise, they must not silently drop pairs)."""
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # guarded LEFT join (pipeline/sample.py's pattern): a candidate id
    # absent from the text lookup means the caller's corpus frame does
    # not cover the index — fail loudly, a silent inner join would
    # just lose recall
    sh = (
        cand_ids.join(texts, "_id", "left")
        .select(
            "_id",
            F.when(
                F.col("_text").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "incremental near-dup verify: candidate doc "
                        ),
                        F.col("_id").cast("string"),
                        F.lit(
                            " has no text in the supplied corpus frame "
                            "— the corpus must cover every indexed id"
                        ),
                    )
                ).cast("array<string>"),
            )
            .otherwise(
                word_shingles_expr(
                    F.col("_text"), n, small=small_corpus(texts)
                )
            )
            .alias("_sh"),
        )
        .withColumn("_n", F.size("_sh"))
    )
    # pinned: sh feeds both sides of the pair join; its lineage holds
    # the corpus semi-join, which must not run twice
    sh = pin(sh)
    return (
        cand.join(
            sh.select(
                F.col("_id").alias("id_a"),
                F.col("_sh").alias("_sha"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("_id").alias("id_b"),
                F.col("_sh").alias("_shb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .withColumn("_shared", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.col("_shared")
            / (F.col("_na") + F.col("_nb") - F.col("_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _candidate_texts(
    cand: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(_id, _text) covering every candidate id: the batch's own texts
    plus the matched INDEXED docs' texts pulled candidate-reduced from
    ``corpus`` (ids-only semi join — the invariant that corpus text is
    only ever read for verified candidates lives HERE, once, for both
    probe kinds)."""
    return (
        batch.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        )
        .unionByName(
            corpus.select(
                F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
            ).join(
                cand.select(F.col("id_a").alias("_id"))
                .union(cand.select(F.col("id_b").alias("_id")))
                .distinct(),
                "_id",
                "left_semi",
            )
        )
        .dropDuplicates(["_id"])
    )


def _ordered_pairs(a_id, b_id) -> list:
    return [
        F.least(a_id, b_id).alias("id_a"),
        F.greatest(a_id, b_id).alias("id_b"),
    ]


# ---------------------------------------------------------------------------
# n-gram Jaccard index


def ngram_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    hash_algo: str = "xxhash64",
    lock_timeout_s: float = 30.0,
) -> None:
    """Create (or overwrite) an n-gram posting index over ``docs``.

    Postings are (doc_id, shingle_hash) — 16 B/row, written once;
    probes against the index never re-shingle these documents."""
    post = _ngram_postings(docs, id_col, text_col, n, hash_algo)
    _publish_build(
        index_dir,
        post.select(F.col("_id").alias("doc_id"), F.col("_s").alias("s")),
        {
            "kind": "ngram",
            "n": n,
            "hash_algo": hash_algo,
            "generation": 0,
            "appended_batches": 0,
        },
        lock_timeout_s,
    )


def ngram_index_append(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_tag: str | None = None,
    lock_timeout_s: float = 30.0,
) -> None:
    """Append a batch's postings to the current generation (no rewrite
    of existing rows).  Probe the batch BEFORE appending it: a probe
    after append would also match the batch against itself.

    ``batch_tag`` makes the append IDEMPOTENT: postings land in an
    ``append-<tag>`` subdir with overwrite semantics, so an
    at-least-once caller (the streaming runner replaying a
    micro-batch after a crash) re-writes the same rows instead of
    duplicating them — duplicated postings would double the batch's
    contribution to the probe's degree counts and spuriously censor
    shingles near the cap."""
    _publish_append(
        index_dir,
        "ngram",
        lambda meta: _ngram_postings(
            docs, id_col, text_col, meta["n"], meta["hash_algo"]
        ).select(F.col("_id").alias("doc_id"), F.col("_s").alias("s")),
        batch_tag,
        lock_timeout_s,
    )


@pinning
def ngram_index_probe(
    batch: DataFrame,
    index_dir: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    max_postings: int | None = 256,
    batch_broadcast: bool = True,
) -> DataFrame:
    """Near-dup pairs TOUCHING the batch: batch×index + batch×batch.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold —
    exactly the full-rebuild pairs involving at least one batch
    document (superset-recall under an active cap; see module doc).

    ``corpus`` supplies text for matched INDEXED documents (the lake's
    curated tables; candidate-reduced via an ids-only semi join — at
    most the matched docs' texts are read).  ``max_postings`` applies
    the batch operator's stop-shingle cap on GLOBAL degree
    (index + batch).  ``batch_broadcast`` broadcasts the batch's
    posting table so the index join is map-side (zero index shuffle);
    disable for batches too large to broadcast (~>1M docs), which
    falls back to a 16 B/row hash join."""
    meta = _read_meta(index_dir)
    _check_params(meta, "ngram")
    n, algo = meta["n"], meta["hash_algo"]
    spark = batch.sparkSession
    # recursiveFileLookup: per-batch idempotent appends (append-<tag>
    # subdirs) live inside the generation alongside flat files
    idx = (
        spark.read.schema("doc_id long, s long")
        .option("recursiveFileLookup", "true")
        .parquet(_gen_dir(index_dir, meta["generation"]))
    )

    bpost = _ngram_postings(batch, id_col, text_col, n, algo)
    # pinned: feeds the degree count, the cross join and the
    # within-batch join
    bpost = pin(bpost)
    bkeys = bpost.select(F.col("_s").alias("s")).distinct()
    if batch_broadcast:
        bkeys = F.broadcast(bkeys)
    # matched index postings: the only touch of the index — map-side
    # when the batch side broadcasts; output bounded by the index
    # degree of the batch's shingles.  The batch's OWN ids are
    # anti-joined out first: the protocol is probe-before-append, so
    # on a first run this is a no-op — but on a foreachBatch REPLAY
    # that crashed after the append, the batch's postings are already
    # in the index, and without the exclusion they would (a) count
    # twice in the global degree below, spuriously censoring shingles
    # near the cap only on the replay (r9 ADVICE — the replayed
    # survivor set could differ from the crash-free run), and
    # (b) duplicate every within-batch candidate through the cross
    # join.  Excluding them restores first-run degrees exactly.
    b_ids = batch.select(F.col(id_col).alias("_oid")).distinct()
    matched = (
        idx.join(bkeys, "s")
        .select(F.col("doc_id").alias("_oid"), "s")
        .join(F.broadcast(b_ids), "_oid", "left_anti")
        # a healthy index has unique (doc, shingle) rows; the dedup
        # neutralizes the one anomaly the protocol admits — a tagged
        # append replayed AFTER index_compact folded its dir — so
        # duplicated postings can never inflate degree counts
        .dropDuplicates(["_oid", "s"])
    )
    # pinned: matched feeds the degree count AND the cross join —
    # unpinned, each consumer re-executes the index scan (the fan-out
    # re-execution lesson of PERF §20c take 8, which this module
    # exists to apply)
    matched = pin(matched)

    if max_postings is not None:
        # global degree = index degree + batch degree, per shingle —
        # exactly what the full rebuild censors on (its posting table
        # is index ∪ batch at this point in the sequence).  ONE
        # aggregation over the union of posting rows (r11: previously
        # two groupBys + a full-outer join — an extra shuffle on every
        # micro-batch probe for the identical hot set)
        hot = (
            matched.select("s")
            .unionAll(bpost.select(F.col("_s").alias("s")))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") > max_postings)
            .select("s")
        )
        # `hot` feeds two broadcast anti-joins (matched + batch side):
        # unpinned, the union+aggregation executes once per broadcast
        # build (r12, same duplicated-subtree shape as the batch
        # operator's stop-shingle pin).  Over-cap shingles only — tiny.
        hot = pin(hot)
        matched = matched.join(F.broadcast(hot), "s", "left_anti")
        bpost_c = bpost.join(
            F.broadcast(hot).withColumnRenamed("s", "_s"), "_s", "left_anti"
        )
    else:
        bpost_c = bpost

    cross = (
        matched.join(
            bpost_c.select(F.col("_id").alias("_bid"), F.col("_s").alias("s")),
            "s",
        )
        .filter(F.col("_oid") != F.col("_bid"))
        .select(*_ordered_pairs(F.col("_oid"), F.col("_bid")))
    )
    within = (
        bpost_c.alias("x")
        .join(
            bpost_c.alias("y"),
            (F.col("x._s") == F.col("y._s"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    # materialize the candidate list ONCE (ids-only, probe-bounded):
    # it fans into cand_ids (twice) + the verify pair join, and Spark
    # re-executes the whole candidate machinery per consumer otherwise
    # (measured 90 s vs 24 s FULL REBUILD at 1M docs before this line
    # existed — the probe was losing to the thing it replaces)
    cand = cross.union(within).distinct().localCheckpoint(eager=True)
    texts = _candidate_texts(cand, batch, corpus, id_col, text_col)
    return _verify_pairs(cand, texts, n, threshold)


def ngram_index_reconcile(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | None = None,
    hash_algo: str | None = None,
    lock_timeout_s: float = 30.0,
) -> None:
    """Full rebuild into a NEW generation (the periodic compaction):
    drops postings of deleted docs, optionally re-parameterizes, and
    swaps atomically at the meta pointer (conditional PUT) before
    removing the old generation's files."""

    def out_fn(meta):
        eff_n = meta["n"] if n is None else n
        eff_algo = meta["hash_algo"] if hash_algo is None else hash_algo
        return _ngram_postings(
            corpus, id_col, text_col, eff_n, eff_algo
        ).select(F.col("_id").alias("doc_id"), F.col("_s").alias("s"))

    upd: dict = {}
    if n is not None:
        upd["n"] = n
    if hash_algo is not None:
        upd["hash_algo"] = hash_algo
    _publish_reconcile(index_dir, "ngram", out_fn, upd, lock_timeout_s)


# ---------------------------------------------------------------------------
# MinHash/LSH index


def minhash_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int | None = 16,
    threshold: float = 0.2,
    hash_algo: str = "xxhash64",
    lock_timeout_s: float = 30.0,
) -> None:
    """Create (or overwrite) a banded-MinHash signature index.

    Rows are (doc_id, band, bucket) — 24 B, ``bands`` rows per
    document regardless of text size.  A document's signature is
    corpus-independent, so incremental probing is EXACTLY equivalent
    to a full rebuild (no cap, no prefix effect)."""
    if bands is None:
        bands = minhash_params_for(threshold, num_hashes)
    b = _minhash_bands(docs, id_col, text_col, n, num_hashes, bands, hash_algo)
    _publish_build(
        index_dir,
        b.select(
            F.col("_id").alias("doc_id"),
            F.col("_band").alias("band"),
            F.col("_bucket").alias("bucket"),
        ),
        {
            "kind": "minhash",
            "n": n,
            "num_hashes": num_hashes,
            "bands": bands,
            "hash_algo": hash_algo,
            "generation": 0,
            "appended_batches": 0,
        },
        lock_timeout_s,
    )


def minhash_index_append(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_tag: str | None = None,
    lock_timeout_s: float = 30.0,
) -> None:
    """Append a batch's band signatures (probe the batch first).
    ``batch_tag``: idempotent per-batch append, see
    :func:`ngram_index_append`."""
    _publish_append(
        index_dir,
        "minhash",
        lambda meta: _minhash_bands(
            docs,
            id_col,
            text_col,
            meta["n"],
            meta["num_hashes"],
            meta["bands"],
            meta["hash_algo"],
        ).select(
            F.col("_id").alias("doc_id"),
            F.col("_band").alias("band"),
            F.col("_bucket").alias("bucket"),
        ),
        batch_tag,
        lock_timeout_s,
    )


@pinning
def minhash_index_probe(
    batch: DataFrame,
    index_dir: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    batch_broadcast: bool = True,
) -> DataFrame:
    """Near-dup pairs touching the batch, via banded signatures:
    candidates share a (band, bucket) cell with a batch document, then
    the exact-Jaccard verify.  Identical pair set to a full
    ``minhash_lsh_pairs`` run restricted to pairs touching the batch."""
    meta = _read_meta(index_dir)
    _check_params(meta, "minhash")
    spark = batch.sparkSession
    idx = (
        spark.read.schema("doc_id long, band int, bucket long")
        .option("recursiveFileLookup", "true")
        .parquet(_gen_dir(index_dir, meta["generation"]))
    )
    bb = _minhash_bands(
        batch,
        id_col,
        text_col,
        meta["n"],
        meta["num_hashes"],
        meta["bands"],
        meta["hash_algo"],
    )
    # pinned: feeds the key set, the cross join and the within join
    bb = pin(bb)
    bkeys = bb.select(
        F.col("_band").alias("band"), F.col("_bucket").alias("bucket")
    ).distinct()
    if batch_broadcast:
        bkeys = F.broadcast(bkeys)
    # batch's own ids excluded for the same replay-safety reason as
    # ngram_index_probe (no degree cap here, so this is purely the
    # cross-join dedup + work reduction — the pair set was already
    # replay-identical via the final distinct)
    b_ids = batch.select(F.col(id_col).alias("_oid")).distinct()
    matched = (
        idx.join(bkeys, ["band", "bucket"])
        .select(F.col("doc_id").alias("_oid"), "band", "bucket")
        .join(F.broadcast(b_ids), "_oid", "left_anti")
        .dropDuplicates(["_oid", "band", "bucket"])  # see ngram probe
    )
    matched = pin(matched)
    cross = (
        matched.join(
            bb.select(
                F.col("_id").alias("_bid"),
                F.col("_band").alias("band"),
                F.col("_bucket").alias("bucket"),
            ),
            ["band", "bucket"],
        )
        .filter(F.col("_oid") != F.col("_bid"))
        .select(*_ordered_pairs(F.col("_oid"), F.col("_bid")))
    )
    within = (
        bb.alias("x")
        .join(
            bb.alias("y"),
            (F.col("x._band") == F.col("y._band"))
            & (F.col("x._bucket") == F.col("y._bucket"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    cand = cross.union(within).distinct().localCheckpoint(eager=True)
    texts = _candidate_texts(cand, batch, corpus, id_col, text_col)
    return _verify_pairs(cand, texts, meta["n"], threshold)


def minhash_index_reconcile(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lock_timeout_s: float = 30.0,
) -> None:
    """Full signature rebuild into a new generation (compaction)."""
    _publish_reconcile(
        index_dir,
        "minhash",
        lambda meta: _minhash_bands(
            corpus,
            id_col,
            text_col,
            meta["n"],
            meta["num_hashes"],
            meta["bands"],
            meta["hash_algo"],
        ).select(
            F.col("_id").alias("doc_id"),
            F.col("_band").alias("band"),
            F.col("_bucket").alias("bucket"),
        ),
        {},
        lock_timeout_s,
    )


# ---------------------------------------------------------------------------
# embedding (hyperplane-LSH) index


def embedding_params_for(
    n_vectors: int,
    target_collisions: float = 0.25,
) -> int:
    """The plane-depth LADDER: n_planes for an embedding index
    expected to hold ``n_vectors`` — the rung function
    ``streaming_near_dup(n_planes="auto")`` climbs (r11, VERDICT r10
    task 1).

    PROBE economics, not the batch self-join's: a probe batch meets
    ~``N / 2^planes`` random collisions per vector per table, so the
    rung is ``planes = ceil(log2(N / target_collisions))`` — depth
    follows log2(corpus) and the per-batch candidate volume stays
    pinned at ~``|batch| · n_tables · target_collisions`` no matter
    how the lake grows.  PERF §22 r10 measured exactly this: fixed
    depth is LINEAR (probe 19.4 → 84.2 s at 1M → 4M), flat only on
    the ladder — and the recorded ladder points (22 planes at 1M, 24
    at 4M) are precisely this rung at the 0.25 default.  ``n_tables``
    is NOT part of the rung: table count is the caller's recall knob
    (near-exact duplicates collide per table at ~(1-θ/π)^planes ≈
    0.7+ even at depth 22, so a handful of tables keeps near-dup
    recall high regardless of depth), and climbing it with the corpus
    would multiply probe cost for recall the dedup use case does not
    need.  Do NOT confuse with
    :func:`~timbala_spark.pipeline.similarity.lsh_params_for`
    (``target_bucket_rows=200``): that shape is tuned for the batch
    operator's corpus×corpus self-join under a bucket cap; at probe
    scale it admits ~800× the candidates (measured: OOM at 1M corpus
    × 100k batch on 13 planes vs 200k candidates on this rung).
    Monotone non-decreasing in ``n_vectors`` by construction, so rung
    crossings only ever DEEPEN the index."""
    import math

    return max(
        2, math.ceil(math.log2(max(2, n_vectors) / target_collisions))
    )


def _embedding_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(_id, _tbl, _bkt): the hyperplane bucket signature per table —
    IDENTICAL construction to ``embedding_near_dup_pairs``' LSH mode
    (``dedup.py``: ``lsh_bucket_expr`` over ``_planes(dim, n_planes,
    seed + t)``), so an index probe generates exactly the batch
    operator's candidate cells.  Signatures are corpus-independent:
    a vector's buckets never change as the lake grows, which is what
    makes the incremental identity EXACT (no prefix effect except
    through the optional bucket-size cap)."""
    from .similarity import _planes, as_double_array, lsh_bucket_sql

    # width guard (r10 ADVICE): zip_with null-pads a width mismatch,
    # so without this every plane dot of a wrong-width vector is NULL,
    # every signature collapses into bucket 0 of every table, and the
    # default bucket cap then censors the one giant cell — the probe
    # silently returns zero pairs.  A persisted-index API must fail
    # loudly instead: raise per offending row (NULL vectors too —
    # size(NULL) is NULL, failing the equality).
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            F.when(
                F.size(F.col(vec_col)) == dim,
                as_double_array(F.col(vec_col)),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("embedding index: vector "),
                        F.col(id_col).cast("string"),
                        F.lit(" has "),
                        F.coalesce(
                            F.size(F.col(vec_col)).cast("string"),
                            F.lit("NULL"),
                        ),
                        F.lit(
                            f" components, index dim is {dim} — "
                            "signatures would silently collapse to "
                            "bucket 0; fix the column or rebuild the "
                            "index with the right dim"
                        ),
                    )
                ).cast("array<double>")
            )
            .alias("_v"),
        )
        .select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            # string-built fold: one F.expr parse per
                            # table vs a py4j Column forest costing
                            # ~4 s of driver time per call at
                            # 22 planes × 4 tables (r11; PERF §13)
                            lsh_bucket_sql(
                                "_v", _planes(dim, n_planes, seed + t)
                            ).alias("bkt"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("_tb"),
        )
        .select(
            "_id",
            F.col("_tb.tbl").alias("_tbl"),
            F.col("_tb.bkt").alias("_bkt"),
        )
    )


def _candidate_vectors(
    cand: DataFrame,
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(_id, _raw) covering every candidate id — the vector twin of
    :func:`_candidate_texts`: the batch's own vectors plus matched
    INDEXED vectors pulled candidate-reduced from ``corpus`` (ids-only
    semi join; corpus vectors are only ever read for verified
    candidates).  Vectors stay RAW here — the double conversion and
    the norm fold are interpreted-HOF work that must run on the
    candidate-REDUCED frame inside :func:`_verify_cosine`, not on
    every corpus row below the semi join (same deferral as the text
    twin, which shingles only after the reduction)."""
    return (
        batch.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw")
        )
        .unionByName(
            corpus.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw")
            ).join(
                cand.select(F.col("id_a").alias("_id"))
                .union(cand.select(F.col("id_b").alias("_id")))
                .distinct(),
                "_id",
                "left_semi",
            )
        )
        .dropDuplicates(["_id"])
    )


def _verify_cosine(
    cand: DataFrame, vecs: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """Candidate-reduced exact-cosine verify — the embedding analog of
    :func:`_verify_pairs`.  ``vecs``: (_id, _raw) covering every id in
    ``cand`` (GUARDED: a candidate id with no vector raises; a silent
    inner join would just lose recall).  The double conversion and the
    norm run HERE, on the reduced frame — via the guarded unrolled
    codegen kernel (``similarity.dot_sql``, r11: bit-identical to the
    fold at every width, 3.8× per row; ``dim`` from the index meta)."""
    from .similarity import as_double_array, cosine_from_parts, dot_sql, norm_sql

    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    v = (
        cand_ids.join(vecs, "_id", "left")
        .select(
            "_id",
            F.when(
                F.col("_raw").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "incremental embedding verify: candidate vec "
                        ),
                        F.col("_id").cast("string"),
                        F.lit(
                            " has no vector in the supplied corpus frame "
                            "— the corpus must cover every indexed id"
                        ),
                    )
                ).cast("array<double>"),
            )
            .otherwise(as_double_array(F.col("_raw")))
            .alias("_v"),
        )
        .withColumn("_norm", norm_sql("_v", dim))
    )
    # pinned: v feeds both sides of the pair join (same fan-out rule
    # as _verify_pairs)
    v = pin(v)
    return (
        cand.join(
            v.select(
                F.col("_id").alias("id_a"),
                F.col("_v").alias("_va"),
                F.col("_norm").alias("_na"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("_id").alias("id_b"),
                F.col("_v").alias("_vb"),
                F.col("_norm").alias("_nb"),
            ),
            "id_b",
        )
        .withColumn(
            "cos",
            cosine_from_parts(
                dot_sql("_va", "_vb", dim),
                F.col("_na"),
                F.col("_nb"),
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_index_build(
    vecs: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    lock_timeout_s: float = 30.0,
) -> None:
    """Create (or overwrite) a hyperplane-bucket signature index over
    an embedding corpus.

    Rows are (vec_id, tbl, bkt) — ~20 B, ``n_tables`` rows per vector
    regardless of embedding width; vectors themselves never enter the
    index.  Signatures are corpus-independent (the planes are a pure
    function of (dim, n_planes, seed)), so probing incrementally is
    EXACTLY equivalent to a full rebuild unless the bucket-size cap
    binds — the same fixed-permutation property the MinHash index
    relies on, applied to the vector modality (closes VERDICT r9
    missing #1: an embedding-bearing lake no longer re-signs O(corpus)
    per curation pass; reference analog the leveled compactor,
    ``vendor/github.com/prometheus/tsdb/compact.go:128-167``)."""
    b = _embedding_buckets(
        vecs, id_col, vec_col, dim, n_planes, n_tables, seed
    )
    _publish_build(
        index_dir,
        b.select(
            F.col("_id").alias("vec_id"),
            F.col("_tbl").alias("tbl"),
            F.col("_bkt").alias("bkt"),
        ),
        {
            "kind": "embedding",
            "dim": dim,
            "n_planes": n_planes,
            "n_tables": n_tables,
            "seed": seed,
            "generation": 0,
            "appended_batches": 0,
            # the ladder counter (embedding_params_for): appends
            # advance it, reconcile resets it exactly
            "indexed_vecs": vecs.select(F.col(id_col)).distinct().count(),
        },
        lock_timeout_s,
    )


def embedding_index_append(
    vecs: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_tag: str | None = None,
    lock_timeout_s: float = 30.0,
) -> None:
    """Append a batch's bucket signatures (probe the batch first).
    ``batch_tag``: idempotent per-batch append, see
    :func:`ngram_index_append`.  Advances the meta's ``indexed_vecs``
    ladder counter by the batch's distinct-id count (one ids-only
    count job; advisory — a replayed append double-bumps, which only
    climbs the ladder a rung early, and reconcile resets it
    exactly)."""
    _publish_append(
        index_dir,
        "embedding",
        lambda meta: _embedding_buckets(
            vecs,
            id_col,
            vec_col,
            meta["dim"],
            meta["n_planes"],
            meta["n_tables"],
            meta["seed"],
        ).select(
            F.col("_id").alias("vec_id"),
            F.col("_tbl").alias("tbl"),
            F.col("_bkt").alias("bkt"),
        ),
        batch_tag,
        lock_timeout_s,
        meta_update_fn=lambda meta: {
            "indexed_vecs": meta.get("indexed_vecs", 0)
            + vecs.select(F.col(id_col)).distinct().count()
        },
    )


@pinning
def embedding_index_probe(
    batch: DataFrame,
    index_dir: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_bucket_rows: int | None = 2048,
    batch_broadcast: bool = True,
) -> DataFrame:
    """Near-dup pairs TOUCHING the batch, via persisted hyperplane
    buckets: candidates share a (table, bucket) cell with a batch
    vector, then the exact-cosine verify.

    Returns (id_a, id_b, cos), id_a < id_b, cos ≥ threshold — exactly
    the pairs an ``embedding_near_dup_pairs(mode="lsh")`` full run
    (same planes: dim/n_planes/n_tables/seed from the index meta)
    reports involving at least one batch vector, when the bucket cap
    does not bind.  ``max_bucket_rows`` mirrors the batch operator's
    degenerate-bucket cap on the GLOBAL cell size (index + batch): at
    probe time the cell size is a PREFIX of the final count, ≤ what
    the full rebuild censors on, so the incremental pass censors no
    more than the rebuild — superset recall, every extra pair
    exact-cosine verified (the n-gram cap contract, module doc).
    ``corpus`` supplies vectors for matched INDEXED ids
    (candidate-reduced ids-only semi join)."""
    meta = _read_meta(index_dir)
    _check_params(meta, "embedding")
    spark = batch.sparkSession
    idx = (
        spark.read.schema("vec_id long, tbl int, bkt long")
        .option("recursiveFileLookup", "true")
        .parquet(_gen_dir(index_dir, meta["generation"]))
    )
    bb = _embedding_buckets(
        batch,
        id_col,
        vec_col,
        meta["dim"],
        meta["n_planes"],
        meta["n_tables"],
        meta["seed"],
    )
    # pinned: feeds the key set, the degree count, the cross join and
    # the within join
    bb = pin(bb)
    bkeys = bb.select(
        F.col("_tbl").alias("tbl"), F.col("_bkt").alias("bkt")
    ).distinct()
    if batch_broadcast:
        bkeys = F.broadcast(bkeys)
    # batch's own ids anti-joined out: replay safety (see
    # ngram_index_probe — degrees AND candidates match the first run)
    b_ids = batch.select(F.col(id_col).alias("_oid")).distinct()
    matched = (
        idx.join(bkeys, ["tbl", "bkt"])
        .select(F.col("vec_id").alias("_oid"), "tbl", "bkt")
        .join(F.broadcast(b_ids), "_oid", "left_anti")
        .dropDuplicates(["_oid", "tbl", "bkt"])  # see ngram probe
    )
    matched = pin(matched)

    if max_bucket_rows is not None and max_bucket_rows > 0:
        # global cell size = index rows + batch rows per (tbl, bkt) —
        # what the full rebuild's stop-bucket cap censors on.  ONE
        # aggregation over the union (r11, VERDICT r10 #3: the two
        # groupBys + full-outer join cost an extra shuffle in every
        # micro-batch probe's fixed floor for the identical hot set)
        hot = (
            matched.select("tbl", "bkt")
            .unionAll(
                bb.select(
                    F.col("_tbl").alias("tbl"), F.col("_bkt").alias("bkt")
                )
            )
            .groupBy("tbl", "bkt")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") > max_bucket_rows)
            .select("tbl", "bkt")
        )
        # `hot` feeds two broadcast anti-joins (matched + batch side):
        # unpinned, the union+aggregation executes once per broadcast
        # build (r12, same duplicated-subtree shape as the batch
        # operator's cell pin).  Over-cap cells only — tiny.
        hot = pin(hot)
        matched = matched.join(F.broadcast(hot), ["tbl", "bkt"], "left_anti")
        bb_c = bb.join(
            F.broadcast(hot)
            .withColumnRenamed("tbl", "_tbl")
            .withColumnRenamed("bkt", "_bkt"),
            ["_tbl", "_bkt"],
            "left_anti",
        )
    else:
        bb_c = bb

    cross = (
        matched.join(
            bb_c.select(
                F.col("_id").alias("_bid"),
                F.col("_tbl").alias("tbl"),
                F.col("_bkt").alias("bkt"),
            ),
            ["tbl", "bkt"],
        )
        .filter(F.col("_oid") != F.col("_bid"))
        .select(*_ordered_pairs(F.col("_oid"), F.col("_bid")))
    )
    within = (
        bb_c.alias("x")
        .join(
            bb_c.alias("y"),
            (F.col("x._tbl") == F.col("y._tbl"))
            & (F.col("x._bkt") == F.col("y._bkt"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
    )
    # ids-only candidate list materialized ONCE (fans into cand_ids
    # twice + the verify pair join — the probe-path fan-out lesson)
    cand = cross.union(within).distinct().localCheckpoint(eager=True)
    vecs = _candidate_vectors(cand, batch, corpus, id_col, vec_col)
    return _verify_cosine(cand, vecs, threshold, meta["dim"])


def embedding_index_reconcile(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    lock_timeout_s: float = 30.0,
) -> None:
    """Full signature rebuild into a new generation (compaction):
    drops deleted vectors' rows, optionally re-parameterizes the
    bucket shape, swaps at the meta pointer (conditional PUT).

    Re-parameterization is the LADDER step for a growing lake: random
    pairs collide at n_tables/2^n_planes per table, so a fixed plane
    depth makes probe candidate volume grow linearly with the corpus —
    climbing n_planes with log2(corpus) (the
    :func:`embedding_params_for` probe rung) keeps the per-batch
    probe flat.  Probes
    and appends refuse a mismatched shape (``_check_params``), so the
    swap is the one sanctioned transition — and
    ``streaming_near_dup(n_planes="auto")`` performs it automatically
    on rung crossings (r11).  Resets the ``indexed_vecs`` ladder
    counter to the corpus's exact distinct-id count."""

    def out_fn(meta):
        return _embedding_buckets(
            corpus,
            id_col,
            vec_col,
            meta["dim"],
            meta["n_planes"] if n_planes is None else n_planes,
            meta["n_tables"] if n_tables is None else n_tables,
            meta["seed"],
        ).select(
            F.col("_id").alias("vec_id"),
            F.col("_tbl").alias("tbl"),
            F.col("_bkt").alias("bkt"),
        )

    upd: dict = {
        "indexed_vecs": corpus.select(F.col(id_col)).distinct().count()
    }
    if n_planes is not None:
        upd["n_planes"] = n_planes
    if n_tables is not None:
        upd["n_tables"] = n_tables
    _publish_reconcile(index_dir, "embedding", out_fn, upd, lock_timeout_s)
