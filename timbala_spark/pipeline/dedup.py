"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of running these on Spark):

* exact dedup — one hash aggregation on a digest column; fully
  partial-aggregatable, no skew risk beyond genuinely hot digests.
* n-gram Jaccard — exact pairwise similarity via an inverted index
  (explode shingles → self-join on shingle → count shared).  The join
  key is the shingle, so posting-list length controls the blow-up; the
  ``max_postings`` guard drops degenerate stop-shingles, which is what
  keeps this feasible at 100 TB (quadratic only within a posting list).
* MinHash+LSH — the scale path: constant-size signatures per doc,
  band-bucket join generates candidates, exact Jaccard verifies.
* SimHash — 64-bit sketch via per-bit majority vote of token hashes;
  near-dup = small Hamming distance on the sketch.
* embedding-cosine near-dup — exact all-pairs baseline plus an LSH-
  blocked variant (random-hyperplane buckets bound the candidate set).

All expression-only (xxhash64, higher-order functions): no Python in
the data path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .text import sliding_join_expr, tokens_expr
from .util import (
    ensure_parallelism,
    hash64_expr,
    pin,
    pinning,
    release_pins,
    small_corpus,
)


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str
) -> DataFrame:
    """One representative row (min id) per distinct value of ``cols``;
    adds ``n_dups``. Digest-based so wide text never becomes the
    shuffle key."""
    digest = F.sha2(F.concat_ws("\x1e", *[F.col(c) for c in cols]), 256)
    return (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("_digest")
    )


def word_shingles_expr(text: Column, n: int, small: bool = False) -> Column:
    """Distinct word n-grams of a document.

    r11: windows built by :func:`~timbala_spark.pipeline.text.
    sliding_join_expr` — the tokenization let-bound so it evaluates
    once per row, O(len·n) — instead of ``transform(sequence, i ->
    array_join(slice(toks, i, n)))``, whose lambda body captured the
    whole tokenization tree and re-evaluated it per window position
    under the higher-order-function interpreter: O(len²) token splits
    per document (the winnowing-minima class; measured 20× on
    400-token docs, growing with length; invisible at the 54-token
    bench corpus, which is why it survived to r11).  ``small`` picks
    the short-document arm (callers thread the shared metadata-only
    ``small_corpus`` gate; plan shape only — values bit-identical,
    parity-tested).  The legacy NULL-text output (a single-NULL
    array — ``sequence(1, greatest(NULL, 1))`` produced one NULL
    shingle) is reproduced by the explicit guard.

    NB: ``sequence(1, 0)`` in Spark is DESCENDING, so short documents
    need the explicit empty-array guard."""
    toks = tokens_expr(text)
    cnt = F.size(toks) - F.lit(n - 1)
    return (
        F.when(text.isNull(), F.array(F.lit(None).cast("string")))
        .when(cnt < 1, F.array().cast("array<string>"))
        .otherwise(
            F.array_distinct(sliding_join_expr(toks, n, small=small))
        )
    )


#: Default stop-shingle cap for n-gram candidate generation — named so
#: the streaming stage's per-kind default resolution cannot drift from
#: the batch operator's (r11, VERDICT r10 #2).
_DEFAULT_MAX_POSTINGS = 256


def _jaccard_verify(
    cand: DataFrame, sh: DataFrame, threshold: float, sets: bool = True
) -> DataFrame:
    """The exact-Jaccard verify tail of ``ngram_jaccard_pairs``,
    ``minhash_lsh_pairs`` and the incremental text probes: ``cand``
    (id_a, id_b) joined on both ends to ``sh`` (_id, _sh, _n) — a
    document's shingle set and its size — then |a ∩ b| / |a ∪ b| ≥
    ``threshold``.  ``sets=False``: ``cand`` already carries
    ``_shared`` and ``sh`` is (_id, _n) (the uncapped n-gram count
    path).  Returns (id_a, id_b, jaccard)."""

    def side(s: str) -> DataFrame:
        return sh.select(
            F.col("_id").alias(f"id_{s}"),
            *([F.col("_sh").alias(f"_sh{s}")] if sets else []),
            F.col("_n").alias(f"_n{s}"),
        )

    out = cand.join(side("a"), "id_a").join(side("b"), "id_b")
    if sets:
        out = out.withColumn(
            "_shared", F.size(F.array_intersect("_sha", "_shb"))
        )
    return (
        out.withColumn(
            "jaccard",
            F.col("_shared")
            / (F.col("_na") + F.col("_nb") - F.col("_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@pinning
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.2,
    max_postings: int | None = _DEFAULT_MAX_POSTINGS,
    eager: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for every pair of
    documents sharing at least one shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``max_postings`` (default 256) caps the inverted-index posting
    lists used for CANDIDATE GENERATION: shingles occurring in more
    than that many documents ("stop-shingles") generate no candidates,
    bounding the self-join at ``max_postings²`` pairs per shingle —
    without it, a 100 TB corpus's degenerate shingles (boilerplate,
    common phrases) blow up quadratically on exactly the keys that
    carry no signal. Capped candidates are then verified with an EXACT
    ``array_intersect`` Jaccard over the full (uncapped) shingle sets,
    so the cap is recall-only: reported values are exact, and the only
    misses are pairs whose *every* shared shingle is a stop-shingle.
    At a Jaccard threshold ≥ 0.2 such a pair would have to be built
    almost entirely from >256-document boilerplate — run ``exact_dedup``
    first (as ``near_dup_pipeline`` does) so identical copies don't
    inflate posting lists. ``None`` opts out (pure inverted-index
    count, no verify join: cheaper when the corpus is known clean).

    Scratch design (r8, PERF §20c take 7 — the single mode that
    replaced r7's persist-vs-recompute pair): the operator pins exactly
    two frames, the ``(id, text)`` projection (~1.3× text bytes, the
    smallest possible pin — the stop-shingle report, candidate build
    and verify arrays are separate consumers and an unpinned input
    lineage such as ``near_dup_pipeline``'s digest join would
    re-execute per action) and the hashed POSTING table (16 B/shingle).
    The string shingle arrays are never pinned and never enter a
    shuffle: postings carry 64-bit hashes, and the verify join
    recomputes arrays map-side from the pinned text for CANDIDATE
    documents only (left-semi against the candidate ids).  The r7
    design pinned the full string arrays (~n× text bytes of
    high-entropy strings the columnar cache cannot compress) or — its
    "big corpus" mode — recomputed them per consumer, which the r8
    per-action audit measured at 5× the wall AND 5× the shuffle
    scratch of the pinned-text design at 5M docs (23.3 GB vs 4.3 GB;
    the mode auto-selected at 20M was the one that ENOSPCed the
    composition).

    ``eager=True`` materializes the (small) pair list via an eager
    ``localCheckpoint`` and unpersists the operator's internal pins
    before returning.  Pipelines that fan the result into several
    plan branches (``near_dup_pipeline``'s undirected-edge union
    consumes it twice) should use it: without the checkpoint each
    branch re-executes the whole candidate machinery — measured as
    ~2× the posting exchanges at 20M docs (PERF §20c take 8) — and
    the text/posting pins would otherwise stay resident long after
    the pair list is final.

    Small corpora (under the shared metadata-only
    :func:`~.util.small_corpus` cut) skip the one PURE-ACTION job —
    the stop-shingle COUNT (the fired-cap report) — whose fixed cost
    dominated sub-10k-doc calls (r9; the r8 bench regression).  The
    eager intermediate candidate checkpoint is unconditional when
    ``eager=True`` (both gate paths: the components loop downstream
    re-consumes the pair list per iteration, and the lazy-pin
    alternative measured ~0.4 s slower even at the 5k-doc bench
    corpus), and lazy pins are kept on every path.  Pair results are
    identical on both paths — only the count action and its cap log
    differ.
    """
    # Small-corpus fast path (r9): skip the one PURE-ACTION job — the
    # stop-shingle count (the fired-cap report) — whose fixed job cost
    # dominated the sub-10k-doc bench corpus (the r8 regression,
    # 1.76 → 2.71 s).  The eager intermediate checkpoint is NOT gated
    # (see the cand comment below).
    # Lazy pins are kept on every path (persist itself costs nothing
    # until an action, and cached scans only help).  The gate is
    # metadata-only (leaf file sizes — no job) and fails CLOSED:
    # unknown size ⇒ big ⇒ full machinery.  Results are identical on
    # both paths — only actions and the cap log differ.
    small = small_corpus(df)
    src = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    src = pin(src)
    sh = src.select(
        "_id", word_shingles_expr(F.col("_text"), n, small=small).alias("_sh")
    ).withColumn("_n", F.size("_sh"))
    if max_postings is not None:
        # Candidate generation runs on 64-bit shingle HASHES, not the
        # shingle strings: the inverted index is the operator's only
        # corpus-sized shuffle, and an n=7 word shingle is ~100+ bytes
        # while its xxhash64 is 8 — measured 357 s → 81 s on a 5M-doc
        # all-unique corpus (PERF §20b). Exactness is unaffected: equal
        # strings hash equal (no candidate is ever lost), a collision
        # only ADDS a spurious candidate, and every candidate is
        # verified below with exact Jaccard over the full STRING
        # shingle sets. The hash is computed after a local explode so
        # it stays in codegen (hashing inside array transform() would
        # run interpreted — the §9 HOF trap).
        posting = sh.select("_id", F.explode("_sh").alias("_str")).select(
            "_id", F.xxhash64("_str").alias("_s")
        )
        # pin the hashed postings (16 B/shingle — ~8× smaller than the
        # string arrays r7 pinned): the stop-shingle count below is its
        # own action, and the candidate join consumes the table again —
        # without the pin each re-shingles the whole corpus (PERF §20c
        # take 7)
        posting = pin(posting)
        hot = (
            posting.groupBy("_s")
            .count()
            .filter(F.col("count") > max_postings)
            .select("_s")
        )
        # r12: pinned — the stop-shingle aggregation is embedded in the
        # broadcast build side of BOTH anti-joined posting consumers
        # (the a- and b-side of the candidate join) and the initial
        # plan does not exchange-reuse across them (job audit: the
        # posting-wide agg ran twice per invocation).  `hot` is tiny
        # (over-cap shingles only), the agg over the pinned postings is
        # the expensive part.  Values unchanged — plan-shape only.
        hot = pin(hot)
        # fired-cap report, same contract as the LSH bucket cap:
        # a few boilerplate shingles are the design; most shingles
        # over-cap means the corpus is duplicate-dominated and the
        # remedy is exact_dedup first (near_dup_pipeline's order).
        # (Cap detection on hashes: a collision can only merge two
        # shingles' counts — recall-only, like the cap itself.)
        import logging

        lg = logging.getLogger(__name__)
        # The anti-join is applied UNCONDITIONALLY (a broadcast of an
        # empty build side is a no-op), so the candidate set depends on
        # neither the fired-cap count nor logging config (r9 — the
        # count used to gate the join, forcing an action on every
        # call).  The count job survives only as the fired-cap REPORT
        # on big corpora: one pass over the pinned postings, the
        # operator's only non-result action.
        if not small:
            n_hot = hot.count()
            if n_hot:
                lg.info(
                    "ngram_jaccard: %d shingles exceed max_postings=%d "
                    "and generate no candidates (recall-only: survivors "
                    "verify with exact Jaccard over the full shingle "
                    "sets). If recall matters on a duplicate-heavy "
                    "corpus, run exact_dedup first.",
                    n_hot,
                    max_postings,
                )
        posting = posting.join(F.broadcast(hot), "_s", "left_anti")
    else:
        # explicit opt-out: pure inverted-index counts over the raw
        # shingle strings (exact, no verify join — for known-clean
        # corpora; pays the string-keyed shuffle)
        posting = sh.select("_id", F.explode("_sh").alias("_s"))
    a = posting.select(F.col("_id").alias("id_a"), "_s")
    b = posting.select(F.col("_id").alias("id_b"), "_s")
    if max_postings is not None:
        # candidate pairs from capped postings; exact verify from the
        # full shingle sets (ids-only shuffle for the candidate dedup)
        cand = (
            a.join(b, "_s")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # Materialize the candidate list ONCE. It is consumed three
        # times downstream (both union branches of cand_ids + the
        # verify join), and Spark does NOT reuse the posting exchange
        # across those subtrees — measured at 20M docs as ~10 separate
        # 3.2 GB executions of the identical posting shuffle, the
        # dominant term of the composition's scratch (PERF §20c
        # take 8). The list is ids-only and post-cap bounded; eager
        # callers storage-back it (the checkpoint also frees every
        # posting exchange file once this action completes), lazy
        # callers pin it.
        if eager:
            # kept on BOTH gate paths: the components loop downstream
            # re-consumes the pair list per iteration, and the lazy
            # pin alternative measured ~0.4 s slower even at the
            # 5k-doc bench corpus (r9 A/B on dedup_pipeline)
            cand = cand.localCheckpoint(eager=True)
        else:
            cand = pin(cand)
        # Semi-join reduction BEFORE the verify joins (r8, PERF §20c):
        # only documents that appear in some candidate pair need their
        # shingle ARRAYS at verify time — on a mostly-unique corpus
        # that is a vanishing fraction, and the arrays are the
        # operator's heaviest column (~KB/doc of high-entropy strings;
        # at 20M docs shuffling them for both join sides is ~50 GB of
        # scratch, the term that ENOSPCed the e2e composition even
        # with the r7 modes). The candidate-id set is ids-only; AQE
        # broadcasts it when small, making the semi join MAP-SIDE —
        # the arrays then never enter a shuffle at all. Dup-heavy
        # corpora degrade gracefully: the semi join becomes a shuffled
        # join over (id, text) rows, still never an array-wide
        # shuffle. NB the semi join runs against SRC (id, text), not
        # the shingle projection, so even the shuffled degradation
        # moves text (~1/n the array bytes); the arrays are computed
        # map-side AFTER the reduction, for candidates only.
        cand_ids = (
            cand.select(F.col("id_a").alias("_id"))
            .union(cand.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        sh_c = (
            src.join(cand_ids, "_id", "left_semi")
            .select(
                "_id",
                word_shingles_expr(F.col("_text"), n, small=small).alias(
                    "_sh"
                ),
            )
            .withColumn("_n", F.size("_sh"))
        )
        # r12: pinned — sh_c feeds BOTH verify joins (id_a and id_b
        # sides); unpinned, each side re-runs the semi join, the
        # candidate-id union/distinct inside it, and the shingle-array
        # computation (job audit: the two ~KB/doc array passes were the
        # invocation's heaviest duplicate jobs).  Candidate-reduced, so
        # the pin is small by design at every scale — the same pin the
        # incremental text probes take.
        sh_c = pin(sh_c)
        result = _jaccard_verify(cand, sh_c, threshold)
    else:
        shared = (
            a.join(b, "_s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_shared"))
        )
        result = _jaccard_verify(shared, sh, threshold, sets=False)
    if eager:
        # one execution of the candidate machinery, then the pair list
        # (ids + a double — tiny) is storage-backed and this call's
        # text/posting pins are dead weight (a caller's stay pinned)
        result = result.localCheckpoint(eager=True)
        release_pins()
    return result


def _perm_constants(num_hashes: int, seed: int = 42) -> list[int]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        int(x)
        for x in rng.randint(-(2**63), 2**63 - 1, size=num_hashes, dtype=np.int64)
    ]


def minhash_signature_expr(shingle_hashes: Column, num_hashes: int) -> Column:
    """MinHash signature from pre-hashed shingles: permutation j is
    ``h XOR c_j`` over the xxhash64 shingle hashes (deterministic
    constants, seed=42). Array<long> of length num_hashes.

    Hashing each shingle ONCE and permuting with XOR keeps the
    per-row cost at |shingles| string hashes + 64·|shingles| long XORs;
    higher-order functions run interpreted (no codegen), so re-hashing
    strings per permutation is ~25× slower. XOR by a random constant is
    a bijection of the 64-bit space and the inputs are already
    xxhash64-mixed, so the induced orderings behave like independent
    permutations. ANSI-safe (no overflow, unlike multiply-mod)."""
    cs = F.array(*[F.lit(c) for c in _perm_constants(num_hashes)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(
            F.transform(
                shingle_hashes, lambda h: h.bitwiseXOR(F.get(cs, j))
            )
        ),
    )


def _minhash_sigs_by_id(
    sh: DataFrame,
    num_hashes: int,
    hash_algo: str,
    id_col: str = "_id",
    shingle_col: str = "_sh",
) -> DataFrame:
    """(``id_col``, _m0.._m{num_hashes-1}): the MinHash signature as 64
    codegen MIN aggregates over exploded shingle hashes — bit-identical
    to ``minhash_signature_expr``'s fold (min over the same XOR'd hash
    set, order-independent) but the hot loop runs in whole-stage
    codegen instead of the interpreted higher-order-function evaluator,
    and the shingle-string hash itself moves out of ``transform()``
    into a post-explode codegen projection (the same §9 HOF trap the
    n-gram posting build avoids).  Measured 14.6 s → 2.2 s on
    2M rows × 20 hashes (interleaved minima, r11).

    Requires ``id_col`` unique and every row shingleable (callers
    filter ``size(shingle_col) > 0`` first — an empty set has no
    minimum; the fold path yields an all-NULL signature there and
    every caller already drops such rows before banding).  The
    explode keeps each document's hashes inside its input partition,
    so the partial MIN collapses to one row per id map-side and the
    exchange carries ids × (8 + 8·num_hashes) bytes."""
    cs = _perm_constants(num_hashes)
    ex = sh.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("_str")
    ).select(id_col, hash64_expr(F.col("_str"), hash_algo).alias("_h"))
    return ex.groupBy(id_col).agg(
        *[
            F.min(F.col("_h").bitwiseXOR(F.lit(cs[j]))).alias(f"_m{j}")
            for j in range(num_hashes)
        ]
    )


def _minhash_band_structs_fold(
    sig: Column, num_hashes: int, bands: int, hash_algo: str
) -> Column:
    """array<struct<band, bucket>> from an array<long> signature column
    (the ``minhash_signature_expr`` fold form) — the small-corpus arm
    of the banding construction; see :func:`_minhash_band_structs` for
    the codegen arm and the gate rationale."""
    rows_per_band = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            hash64_expr(
                F.array_join(
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                ),
                hash_algo,
            ).alias("bucket"),
        ),
    )


def _minhash_band_structs(
    num_hashes: int, bands: int, hash_algo: str
) -> Column:
    """array<struct<band, bucket>> over the ``_m*`` signature columns of
    :func:`_minhash_sigs_by_id` — the banding construction of
    ``minhash_lsh_pairs`` (band bucket = 64-bit hash of the
    comma-joined decimal signature slice) with the slice/cast/join
    running on flat columns in codegen instead of array HOFs.
    ``concat_ws`` equals the fold path's ``array_join`` because no
    signature element is NULL (callers shingle-filter first)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hash64_expr(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"_m{j}").cast("string")
                            for j in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    ),
                    hash_algo,
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_params_for(threshold: float, num_hashes: int = 64) -> int:
    """Pick the band count whose S-curve inflection sits nearest the
    target Jaccard threshold.

    With ``b`` bands of ``r = num_hashes/b`` rows, a pair at Jaccard
    ``s`` becomes a candidate with probability ``1-(1-s^r)^b``, which
    jumps from ~0 to ~1 around ``s ≈ (1/b)^(1/r)``. Banding below the
    inflection floods the verify join with sub-threshold candidates;
    above it, true pairs near the threshold are missed. Only divisors
    of ``num_hashes`` are considered (whole bands)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold {threshold} outside (0, 1]")
    best, best_dist = num_hashes, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        inflection = (1.0 / b) ** (1.0 / r)
        dist = abs(math.log(inflection) - math.log(threshold))
        if dist < best_dist:
            best, best_dist = b, dist
    return best


@pinning
def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int | None = 16,
    threshold: float = 0.2,
    hash_algo: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    Signature → ``bands`` bands of ``num_hashes/bands`` rows; a shared
    band bucket makes a candidate pair; candidates are verified with
    exact Jaccard over the shingle sets.  This is the 100 TB path: the
    candidate join is on (band_idx, band_hash) — constant-width keys,
    no quadratic blow-up outside genuinely similar clusters.

    ``hash_algo="md5"`` swaps the shingle/bucket hash for the
    DuckDB-replayable md5 variant (see ``util.hash64_expr``); the
    contract oracle inlines the same XOR permutation constants and
    replays the exact banding.
    """
    if bands is None:
        bands = minhash_params_for(threshold, num_hashes)
    # r11 (guide §4): above the shared small-corpus gate the signature
    # runs as 64 codegen MIN aggregates over exploded, post-explode-
    # hashed shingles — bit-identical to the interpreted
    # minhash_signature_expr fold (parity-tested both algos) and 6.7×
    # faster on the signature stage (14.6 → 2.2 s at 2M rows × 20
    # hashes, interleaved minima).  BELOW the gate the fold form is
    # kept: the codegen arm's fixed costs (one extra ids-keyed
    # exchange, a second pin materialization, wide-aggregate codegen
    # compile) measured 1.64× at the 5k-doc bench corpus (interleaved
    # worktree A/B) — the same fixed-cost-vs-throughput split every
    # other gated path in this module records.  Gate is metadata-only
    # and fails CLOSED to the big-corpus (codegen) arm.
    small = small_corpus(df)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        word_shingles_expr(F.col(text_col), n, small=small).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    if small:
        # small arm: signature inside the pin — it feeds FOUR plan
        # branches (both sides of the band self-join + both verify
        # joins); without a persist each branch re-evaluates the
        # interpreted-HOF signature work — and when AQE
        # broadcast-converts those joins the rebuilds serialize
        # (measured 162 s vs 11 s at sf0.01 local[8]).
        base = base.withColumn(
            "_hs", F.transform(F.col("_sh"), lambda s: hash64_expr(s, hash_algo))
        ).withColumn("_sig", minhash_signature_expr(F.col("_hs"), num_hashes))
    base = pin(base)
    # a document too short/empty to shingle has no MinHash (min over
    # an empty set) and no Jaccard (0/0 — would ANSI-abort the
    # verify): it generates no candidates, same as the n-gram path
    # where it has no postings (byte-identical empties are
    # exact_dedup's domain). The filter sits AFTER the persist on
    # purpose: placed before it, predicate pushdown re-evaluates the
    # shingle HOF a second time per row for the filter condition —
    # measured 1.8 → 4.5 s at sf0.1 (interleaved A/B minima).
    base = base.filter(F.col("_n") > 0)
    if small:
        banded = base.select(
            "_id",
            F.explode(
                _minhash_band_structs_fold(
                    F.col("_sig"), num_hashes, bands, hash_algo
                )
            ).alias("bb"),
        )
    else:
        # big arm: the codegen signature aggregation, pinned — the band
        # self-join reads it on both sides (ids + 64 longs ≈ 520 B/row,
        # far smaller than the small arm's _hs/_sig pin).
        sigs = pin(_minhash_sigs_by_id(base, num_hashes, hash_algo))
        banded = sigs.select(
            "_id",
            F.explode(
                _minhash_band_structs(num_hashes, bands, hash_algo)
            ).alias("bb"),
        )
    banded = banded.select(
        "_id", F.col("bb.band").alias("_band"), F.col("bb.bucket").alias("_bucket")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x._band") == F.col("y._band"))
            & (F.col("x._bucket") == F.col("y._bucket"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b")
        )
        .distinct()
    )
    return _jaccard_verify(cand, base, threshold)


#: blocked mode evaluates all pairs but at BLAS (vector-instruction)
#: speed inside one mapInPandas batch; an LSH candidate costs a
#: shuffled join row + an interpreted cosine fold — roughly this many
#: times more per pair (order-of-magnitude constant; PERF §6d's 56 s →
#: 5.4 s exact-first measurement and the r5 threshold-0.4 probe both
#: sit near it). LSH must prune harder than this factor to win.
_LSH_VS_BLAS_PAIR_COST = 64

#: Default stop-bucket cap for LSH candidate generation (auto AND
#: explicit ``mode="lsh"`` — VERDICT r6 closed the explicit-mode gap).
#: Bounds the self-join at cap^2 rows per (table, bucket) cell;
#: recall-only because a true pair needs just one non-degenerate
#: collision among the independent tables.
_DEFAULT_MAX_BUCKET_ROWS = 2048


def _cosine_verify(
    pairs: DataFrame | None, v: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """The exact-cosine verify tail of ``embedding_near_dup_pairs``
    and the incremental vector probe: ``pairs`` (id_a, id_b) — or
    ``None`` for every pair (the exact mode's cross join) — joined on
    both ends to ``v`` (_id, _v, _norm), scored by the guarded unrolled
    dot kernel (``similarity.dot_sql``: bit-identical to the fold at
    every width, 3.8× per row) and kept at cos ≥ ``threshold``.
    Returns (id_a, id_b, cos)."""
    from .similarity import cosine_from_parts, dot_sql

    a = v.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = v.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    if pairs is None:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        cand = pairs.join(a, "id_a").join(b, "id_b")
    return (
        cand.withColumn(
            "cos",
            cosine_from_parts(
                dot_sql("_va", "_vb", dim), F.col("_na"), F.col("_nb")
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


@pinning
def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    mode: str = "exact",
    dim: int = 64,
    n_planes: int | None = 6,
    n_tables: int | None = 8,
    seed: int = 42,
    blocked_max_rows: int = 1_000_000,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Returns (id_a, id_b, cos) with id_a < id_b and cos >= threshold.

    * ``mode="exact"``: all-pairs self-join — the correctness baseline
      (quadratic; fine for a corpus that fits one shuffle).
    * ``mode="blocked"``: same exact result, computed as a vectorized
      prefilter + exact verify: corpus blocks × broadcast matrix BLAS
      cosine in ``mapInPandas`` admits every pair with cos within a
      float margin of the threshold, then the surviving pairs (a tiny
      fraction) are re-scored with the SAME sequential fold as
      ``mode="exact"`` and filtered at the true threshold — so the
      output is bit-identical while the quadratic inner loop runs at
      BLAS speed. Corpus side stays partition-parallel; only the
      broadcast bound (matrix fits on executors) limits it.
    * ``mode="lsh"``: the 100 TB path — random-hyperplane bucket join
      (same signature machinery as ``lsh_cosine_topk``) generates
      candidates, exact cosine verifies.  Recall tunable via
      (n_planes, n_tables); high-cosine pairs land in the same bucket
      with probability (1 - θ/π)^n_planes per table.
      ``max_bucket_rows`` caps degenerate buckets exactly like the
      n-gram path's stop-shingles: a (table, bucket) holding more
      rows than the cap generates NO candidates (its pairs must
      collide in another table), bounding the join at cap² per
      bucket. Recall-only — survivors are still verified exactly.
      Defaults to ``_DEFAULT_MAX_BUCKET_ROWS`` (2048) in both auto
      and explicit lsh modes; pass ``0`` to disable the cap.
    * ``mode="auto"``: route on the estimated candidate volume
      (VERDICT r5: at loose thresholds the LSH S-curve admits most
      random pairs — 1.27M candidates from 2k vectors at 0.4 — while
      blocked is exact and bounded). A random high-dimensional pair
      sits near 90°, agreeing with each hyperplane w.p. ~1/2, so LSH
      admits ~``n_tables/2^n_planes`` of all pairs; blocked scans
      every pair but ~``_LSH_VS_BLAS_PAIR_COST``× cheaper per pair.
      Below the broadcast bound with weak pruning → ``blocked``
      (exact output); otherwise → ``lsh`` with auto-scaled
      (planes, tables) and a default bucket cap. The decision is
      logged (``timbala_spark.pipeline.dedup`` logger).
    """
    from .similarity import as_double_array, norm_sql

    # norm once per row (bit-identical to computing it per pair; see the
    # cosine_topk note) — the per-pair cost is a single dot kernel.
    # Persisted: every mode consumes `e` from 2+ plan branches (both
    # sides of the pair join at minimum), and the array conversion +
    # norm are worth computing exactly once.  norm_sql/dot_sql (r11):
    # the guarded unrolled codegen kernel — bit-identical to the fold
    # at every width, 3.8× per row (similarity.dot_sql).
    e = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    ).withColumn("_norm", norm_sql("_v", dim))
    e = pin(e)
    if mode == "auto":
        import logging

        from .similarity import lsh_params_for

        n_corpus = e.count()  # one pass on the persisted projection
        p_auto, t_auto = lsh_params_for(n_corpus, threshold)
        p_eff = n_planes if n_planes is not None else p_auto
        t_eff = n_tables if n_tables is not None else t_auto
        # fraction of RANDOM (~90°) pairs colliding in >=1 table
        sel = min(1.0, t_eff * 0.5 ** p_eff)
        log = logging.getLogger(__name__)
        if n_corpus <= blocked_max_rows and sel * _LSH_VS_BLAS_PAIR_COST > 1.0:
            mode = "blocked"
            log.info(
                "embedding_near_dup auto-route: blocked (n=%d, threshold=%g: "
                "LSH(planes=%d, tables=%d) would admit ~%.1f%% of all pairs "
                "— prunes less than the ~%dx BLAS per-pair advantage)",
                n_corpus, threshold, p_eff, t_eff, 100 * sel,
                _LSH_VS_BLAS_PAIR_COST,
            )
        else:
            mode = "lsh"
            n_planes, n_tables = p_eff, t_eff
            if max_bucket_rows is None:
                max_bucket_rows = _DEFAULT_MAX_BUCKET_ROWS  # backstop
            log.info(
                "embedding_near_dup auto-route: lsh (n=%d, threshold=%g, "
                "planes=%d, tables=%d, est. candidate fraction %.2g, "
                "max_bucket_rows=%d)",
                n_corpus, threshold, n_planes, n_tables, sel, max_bucket_rows,
            )
    if mode == "exact":
        pair_ids = None
    elif mode == "blocked":
        import numpy as np
        from pyspark.sql.types import LongType, StructField, StructType

        # blocked mode collects the corpus matrix to the driver and
        # broadcasts it — fine to ~1M×64-d (~0.5 GB), fatal beyond.
        # Fail fast with a clear message instead of OOMing the driver;
        # the LSH mode is the unbounded-scale path. (`e` is persisted
        # above, so this count and the collect below share one pass.)
        n_corpus = e.count()
        if n_corpus > blocked_max_rows:
            raise ValueError(
                f"mode='blocked' collects the corpus to the driver; "
                f"{n_corpus} rows exceeds blocked_max_rows="
                f"{blocked_max_rows}. Use mode='lsh' (bucketed candidate "
                f"join, no driver collect) at this scale, or raise the "
                f"bound explicitly if the driver has the memory."
            )
        rows = e.select("_id", "_v", "_norm").collect()
        ids = np.array([r["_id"] for r in rows], dtype=np.int64)
        mat = np.array([r["_v"] for r in rows], dtype=np.float64)
        norms = np.array([r["_norm"] for r in rows], dtype=np.float64)
        bc = df.sparkSession.sparkContext.broadcast((ids, mat, norms))
        # prefilter margin: BLAS (pairwise/FMA) and the sequential fold
        # differ by ~1e-15 relative; 1e-9 absolute is orders of
        # magnitude wider, so no true pair is ever lost
        margin = 1e-9

        def gen(batches):
            import pandas as pd

            b_ids, b_mat, b_norms = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                a_ids = pdf["_id"].to_numpy(dtype=np.int64)
                a_mat = np.array(list(pdf["_v"]), dtype=np.float64)
                a_norms = pdf["_norm"].to_numpy(dtype=np.float64)
                # zero-norm rows yield NaN similarities that fail the
                # >= below — same "zero vector pairs with nothing"
                # convention as similarity.cosine_from_parts
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
                keep = (sims >= threshold - margin) & (
                    a_ids[:, None] < b_ids[None, :]
                )
                ai, bi = np.nonzero(keep)
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": b_ids[bi]}
                )

        pair_ids = e.select("_id", "_v", "_norm").mapInPandas(
            gen,
            StructType(
                [StructField("id_a", LongType()), StructField("id_b", LongType())]
            ),
        )
    elif mode == "lsh":
        if max_bucket_rows is None:
            # VERDICT r6: explicit LSH used to leave buckets uncapped,
            # so a duplicate-heavy corpus at a loose threshold could
            # still hit the degenerate-bucket cap^2 blowup the auto
            # route guards against. Same default backstop as auto;
            # pass max_bucket_rows=0 to disable the cap explicitly.
            max_bucket_rows = _DEFAULT_MAX_BUCKET_ROWS
            import logging

            logging.getLogger(__name__).info(
                "embedding_near_dup lsh: defaulting max_bucket_rows=%d "
                "(recall-only: an over-cap (table,bucket) generates no "
                "candidates; a true pair needs one non-degenerate "
                "collision across %s tables; survivors verify exactly). "
                "Pass max_bucket_rows=0 to disable.",
                max_bucket_rows, n_tables if n_tables is not None else "auto",
            )
        if max_bucket_rows is not None and max_bucket_rows <= 0:
            max_bucket_rows = None  # explicit opt-out: uncapped
        if n_planes is None or n_tables is None:
            # auto-scale the bucket shape to the corpus: fixed planes
            # do not survive growth (the 100 TB trap is 2^p buckets
            # staying constant while N grows 1000x). One count on the
            # persisted projection; explicit params skip it.
            from .similarity import lsh_params_for

            p_auto, t_auto = lsh_params_for(e.count(), threshold)
            n_planes = n_planes if n_planes is not None else p_auto
            n_tables = n_tables if n_tables is not None else t_auto
        # ONE pass computes every table's bucket (explode of a struct
        # array, same shape as minhash banding) — the construction the
        # embedding index persists
        from .similarity import _lsh_banded

        banded = _lsh_banded(e, "_v", ["_id"], dim, n_planes, n_tables, seed)
        # bucket signatures (n_tables × n_planes dot products per row)
        # feed both sides of the self-join — persist (see
        # minhash_lsh_pairs note; chained with `e`'s persist above).
        # The candidate join carries IDS ONLY: shipping the vectors
        # through it multiplies the shuffle by the embedding width ×
        # duplicate bucket hits (OOMed at sf0.1); vectors are
        # re-attached per distinct pair afterwards.
        banded = pin(banded)
        if max_bucket_rows is not None:
            # stop-bucket exclusion, mirroring the n-gram stop-shingle
            # cap: an over-cap (table, bucket) cell generates no
            # candidates — with T independent tables a true pair only
            # needs ONE non-degenerate collision, and survivors are
            # verified exactly, so the cap is recall-only
            import logging

            cells = banded.groupBy("_tbl", "_bkt").count()
            # The anti-joined `banded` feeds BOTH sides of the bucket
            # self-join below, so the cell aggregation would otherwise
            # execute once per side (r12: the plan showed the
            # HashAggregate+Exchange subtree twice — the same
            # duplicated-subtree shape as the n-gram stop-shingle pin
            # at `pin(hot)` above).  `cells` is one row per
            # (table, bucket) cell — tiny next to `banded` — so pin it
            # on both arms; the pin is lazy and adds no action job.
            cells = pin(cells)
            hot = cells.filter(F.col("count") > max_bucket_rows).select(
                "_tbl", "_bkt"
            )
            # Small corpora skip the two PURE-ACTION report jobs (the
            # cell count + fired-cap count — the same r9 gate the
            # n-gram path applies to its stop-shingle report; r11).
            # The anti-join below is UNCONDITIONAL either way, so the
            # candidate set is identical on both paths.
            if not small_corpus(df):
                n_cells = cells.count()
                n_hot = hot.count()
                if n_hot:
                    # the fired-cap report (VERDICT r6 #3 recall
                    # contract): the cap silently costing a FEW
                    # degenerate buckets is the design; the cap wiping
                    # out most cells means the (planes, tables) shape
                    # cannot separate this corpus — at 2^planes buckets
                    # per table, N rows put N/2^planes in every bucket,
                    # and once that exceeds the cap recall collapses
                    # toward zero. That deserves a WARNING, not a
                    # debug line.
                    lg = logging.getLogger(__name__)
                    pct = 100.0 * n_hot / max(1, n_cells)
                    msg = (
                        "embedding_near_dup lsh: %d of %d (table,bucket) "
                        "cells exceed max_bucket_rows=%d (%.0f%%) and "
                        "generate no candidates. Recall-only, but if most "
                        "cells are capped the corpus is not separable at "
                        "this (n_planes=%d, n_tables=%d) — run exact_dedup "
                        "first, raise n_planes, or use mode='auto'."
                    )
                    args = (
                        n_hot, n_cells, max_bucket_rows, pct, n_planes,
                        n_tables,
                    )
                    if 2 * n_hot >= n_cells:
                        lg.warning(msg, *args)
                    else:
                        lg.info(msg, *args)
            banded = banded.join(
                F.broadcast(hot), ["_tbl", "_bkt"], "left_anti"
            )
        pair_ids = (
            banded.alias("x")
            .join(
                banded.alias("y"),
                (F.col("x._tbl") == F.col("y._tbl"))
                & (F.col("x._bkt") == F.col("y._bkt"))
                & (F.col("x._id") < F.col("y._id")),
            )
            .select(
                F.col("x._id").alias("id_a"),
                F.col("y._id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return _cosine_verify(pair_ids, e, threshold, dim)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
    collect_threshold: int = 0,
) -> DataFrame:
    """Connected components over a near-dup pair graph by min-label
    propagation: every node starts as its own component; each round a
    node takes the min component id among itself and its neighbors.
    Converges in O(component diameter) rounds — near-dup clusters are
    shallow, so a handful of Spark jobs.

    Returns (``node_col``, ``component``) for EVERY node (singletons map
    to themselves); ``component`` is the min node id of the cluster —
    the canonical-representative convention of dedup pipelines.

    Scale notes: each round is a neighbor-min shuffle over |V|+2|E|
    rows plus a pointer-jumping hop (``comp ← comp[comp]``) that makes
    the round count O(log diameter) instead of O(diameter);
    ``localCheckpoint`` cuts the iterative lineage so plans stay flat.
    Edges referencing ids outside ``nodes`` propagate labels but are
    excluded from the output.

    ``collect_threshold`` > 0 enables a BOUNDED-collect fast path for
    small edge sets (r11, VERDICT r10 #3): when the graph has at most
    that many edges, the ids-only edge list (16 B/row) is collected,
    together with which of its endpoints are nodes, in one execution,
    and resolved by driver-side union-find instead of the iterative
    loop — 2 executions instead of ~7, which matters on the streaming
    stage's per-micro-batch floor where within-batch graphs are tiny.
    Identical output by construction: a component's label is the min
    NODE id reachable through the edge set (outside ids relay but
    never label, exactly the propagation semantics).  Edge sets above
    the threshold fall through to the distributed loop — the 100 TB
    path is unchanged.
    """
    if collect_threshold > 0:
        probe = edges.select(
            F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
        ).limit(collect_threshold + 1)
        # ONE collect answers both questions the union-find asks: the
        # bounded edge list, and which of its endpoints are in
        # ``nodes`` (outside ids relay, never label).  Edge rows carry
        # a row id in ``_e``; member rows carry the node id in ``_m``,
        # from a semi join of the nodes against the broadcast
        # endpoints.  Both branches read the same limit exchange, which
        # Spark reuses, so the edge lineage runs once: the row id is
        # nondeterministic, which keeps its projection above the limit
        # (a deterministic one is pushed below it, and the two
        # exchanges then differ).  Over the threshold the member rows
        # go unused.
        node_type = nodes.schema[node_col].dataType
        eps = probe.select(F.explode(F.array("_src", "_dst")).alias(node_col))
        members = nodes.select(node_col).join(
            F.broadcast(eps), node_col, "left_semi"
        )
        no_edge = [
            F.lit(None).cast(f.dataType).alias(f.name) for f in probe.schema
        ]
        rows = (
            probe.select(
                "*",
                F.monotonically_increasing_id().alias("_e"),
                F.lit(None).cast(node_type).alias("_m"),
            )
            .unionByName(
                members.select(
                    *no_edge, F.lit(None).cast("long").alias("_e"),
                    F.col(node_col).alias("_m"),
                )
            )
            .collect()
        )
        e_rows = [r for r in rows if r["_e"] is not None]
        if len(e_rows) <= collect_threshold:
            if not e_rows:
                return nodes.select(
                    F.col(node_col), F.col(node_col).alias("component")
                ).dropDuplicates([node_col])
            # union-find over the collected edges; component label =
            # min NODE id in the component
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for r in e_rows:
                a, b = find(r["_src"]), find(r["_dst"])
                if a != b:
                    parent[a] = b
            spark = nodes.sparkSession
            node_eps = {r["_m"] for r in rows if r["_e"] is None}
            comp_min: dict = {}
            for i in node_eps:
                root = find(i)
                comp_min[root] = min(comp_min.get(root, i), i)
            mapping = [(i, comp_min[find(i)]) for i in node_eps]
            map_df = spark.createDataFrame(
                mapping,
                f"{node_col} {node_type.simpleString()},"
                f" _cc {node_type.simpleString()}",
            )
            return (
                nodes.select(node_col)
                .join(F.broadcast(map_df), node_col, "left")
                .select(
                    F.col(node_col),
                    F.coalesce("_cc", F.col(node_col)).alias("component"),
                )
                .dropDuplicates([node_col])
            )
        # over threshold: fall through to the distributed loop
    # materialize the (possibly expensive) edge lineage ONCE — the
    # per-round msgs join would otherwise re-evaluate the whole pair
    # generation every iteration (measured 60 s vs 11 s at sf0.1 when
    # edges come from an all-pairs cosine join)
    und = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).unionByName(
        edges.select(
            F.col(dst_col).alias("_src"), F.col(src_col).alias("_dst")
        )
    ).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col(node_col).alias("_id"), F.col(node_col).alias("_comp")
    ).localCheckpoint(eager=True)
    # any edge means at least one propagation round is needed — seeds
    # the convergence guard below so an exhausted loop can never
    # return a silently wrong clustering
    changed = und.limit(1).count()
    if changed == 0:
        # no edges: every node is its own component.  Skipping the
        # loop saves ~3 jobs on the streaming stage's common case (a
        # micro-batch with no within-batch near-dups among kept docs).
        # dropDuplicates matches the loop path's one-row-per-id
        # normalization (its groupBy collapses duplicate node ids) —
        # without it the two return paths disagreed on non-distinct
        # ``nodes`` (r10 ADVICE).
        return nodes.select(
            F.col(node_col), F.col(node_col).alias("component")
        ).dropDuplicates([node_col])
    for _ in range(max_iter):
        msgs = und.join(
            labels.withColumnRenamed("_id", "_src"), "_src"
        ).select(F.col("_dst").alias("_id"), "_comp")
        new = (
            labels.unionByName(msgs)
            .groupBy("_id")
            .agg(F.min("_comp").alias("_comp"))
        )
        # pointer jumping: follow one extra hop through the mapping so
        # long chains collapse exponentially
        mapping = new.select(
            F.col("_id").alias("_comp"), F.col("_comp").alias("_cc2")
        )
        new = (
            new.join(mapping, "_comp", "left")
            .select(
                "_id", F.coalesce("_cc2", F.col("_comp")).alias("_comp")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(
                labels.withColumnRenamed("_comp", "_old"), "_id"
            )
            .filter(F.col("_comp") != F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed:
        # pointer jumping gives ~2^max_iter reach, so the default 30
        # covers any physical graph — but a too-small max_iter must
        # FAIL, not return a partial clustering as if it converged
        raise RuntimeError(
            "connected_components did not converge within "
            f"max_iter={max_iter} rounds; raise max_iter (reach grows "
            "as ~2^rounds via pointer jumping)"
        )
    return labels.join(
        nodes.select(F.col(node_col).alias("_id")), "_id", "left_semi"
    ).select(
        F.col("_id").alias(node_col), F.col("_comp").alias("component")
    )


def simhash_expr(text: Column, hash_algo: str = "xxhash64") -> Column:
    """64-bit SimHash of the token multiset: per-bit majority vote over
    a 64-bit token hash (xxhash64 default; md5 variant for oracle
    replay). The 64 bit-sums are unrolled into one aggregate with an
    array<long> accumulator — a single pass over the tokens, entirely
    JVM-side."""
    toks = tokens_expr(text)
    hashes = F.transform(toks, lambda t: hash64_expr(t, hash_algo))
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)
    counts = F.aggregate(
        hashes,
        zero64,
        lambda acc, h: F.array(
            *[
                F.get(acc, b)
                + (F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1)
                for b in range(64)
            ]
        ),
    )
    out = F.lit(0).cast("long")
    for b in range(64):
        out = out + F.when(
            F.get(counts, b) > 0, F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def _simhash_votes_by_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_algo: str,
    assume_tokenized: bool = False,
) -> DataFrame:
    """(_sh_id, simhash) via explode + 64 whole-stage-codegen SUM
    aggregates. Bit-identical to ``simhash_expr``'s fold — the votes
    are order-independent integer ±1 sums — but the hot loop runs in
    generated JVM code instead of the interpreted higher-order-function
    evaluator (measured ~20 s → ~1 s on 5k docs at sf0.1). Requires
    ``id_col`` unique. Docs with no tokens get simhash 0 (the fold's
    zero-count result).

    r12: the token hash moved OUT of the array ``transform`` into a
    post-explode codegen projection — higher-order-function lambda
    bodies run interpreted, so hashing inside ``transform`` paid the
    same §4 HOF trap the n-gram posting build and the r11 MinHash
    signature already avoid.  ``explode(transform(toks, hash)) ≡
    hash(explode(toks))`` element-for-element, so values are unchanged.

    ``assume_tokenized=True`` (r12): the caller guarantees every row
    has ≥1 token (``simhash_pairs`` filters ``size(tokens) > 0``
    first), so every id reaches the vote aggregation and the ids
    left-join + coalesce that only exist to restore token-empty rows
    are a per-invocation no-op costing a second source scan, an
    exchange and a join — skipped.  Values identical by construction;
    a parity test pins the two paths equal on token-filtered input."""
    toks = tokens_expr(F.col(text_col))
    hashes = df.select(
        F.col(id_col).alias("_sh_id"), F.explode(toks).alias("_tok")
    ).select("_sh_id", hash64_expr(F.col("_tok"), hash_algo).alias("_h"))
    # r12: the 64 vote sums and the 64-term bit reconstruction are
    # STRING-BUILT (65 F.expr parses) instead of a py4j Column forest
    # (~900 py4j round trips per invocation) — the same DRIVER-time
    # pathology lsh_bucket_sql records (PERF §13): a plan-probe read
    # the DataFrame build at 4.8–18.6 s/invocation on this entry while
    # Catalyst planning was 0.2 s.  Values identical: same SQL
    # functions over the same input — ``shiftright(_h,b) & 1`` is the
    # bitwiseAND, ``shiftleft(1L, b)`` is exactly ``1 << b`` for b<63
    # and Java's min-long wrap at b=63, the CASE mirrors when/otherwise.
    votes = hashes.groupBy("_sh_id").agg(
        *[
            F.expr(
                f"sum((shiftright(_h, {b}) & CAST(1 AS BIGINT)) * 2 - 1)"
                f" AS _c{b}"
            )
            for b in range(64)
        ]
    )
    sim_sql = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"(CASE WHEN _c{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for b in range(64)
        ]
    )
    sums = votes.select("_sh_id", F.expr(sim_sql).alias("simhash"))
    if assume_tokenized:
        return sums
    ids = df.select(F.col(id_col).alias("_sh_id"))
    return ids.join(sums, "_sh_id", "left").select(
        "_sh_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    hash_algo: str = "xxhash64",
    id_col: str | None = None,
) -> DataFrame:
    """Adds a ``simhash`` column. Pass a unique ``id_col`` to compute
    the bit votes with the codegen'd grouped-sum path (same values,
    ~20× faster — see ``_simhash_votes_by_id``); without one it falls
    back to the single-expression fold."""
    if id_col is None:
        return df.withColumn("simhash", simhash_expr(F.col(text_col), hash_algo))
    sums = _simhash_votes_by_id(df, id_col, text_col, hash_algo)
    return df.join(
        sums.withColumnRenamed("_sh_id", id_col), id_col, "left"
    )


@pinning
def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 16,
    hash_algo: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates whose SimHash Hamming distance ≤ max_hamming.

    Blocking: split the 64-bit sketch into 4 × 16-bit bands; by
    pigeonhole any pair within Hamming distance 3 shares at least one
    exact band — so the join key is (band_idx, band_value), never the
    full cross product.
    """
    n_bands = 64 // band_bits
    # the 64-wide bit vote is the expensive part and feeds both sides
    # of the band self-join — computed by the codegen'd grouped-sum
    # path on ids only (the text never reaches the join), then persist
    # (see minhash_lsh_pairs note). Token-empty documents (empty,
    # whitespace- or punctuation-only) all sketch to simhash 0 and
    # would pair with each other despite sharing no content signal —
    # they generate no candidates, same convention as the minhash and
    # n-gram paths (byte-identical empties are exact_dedup's domain).
    h = _simhash_votes_by_id(
        ensure_parallelism(df).filter(
            F.size(tokens_expr(F.col(text_col))) > 0
        ),
        id_col,
        text_col,
        hash_algo,
        # every row here has >=1 token, so the votes cover every id —
        # the ids left-join that restores token-empty rows would be a
        # value no-op costing a second scan + exchange + join per
        # invocation (r12; plan: 16 -> fewer Exchange, one join gone)
        assume_tokenized=True,
    ).withColumnRenamed("_sh_id", "_id")
    h = pin(h)
    mask = (1 << band_bits) - 1
    banded = h.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "simhash", "bb.band", "bb.val")
    pairs = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.col("x.simhash").alias("_ha"),
            F.col("y.simhash").alias("_hb"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs
