"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Spark SQL expressions (whole-stage codegen, no
Python UDFs) so they vectorize and scale linearly with input splits:
language-ID (stopword-hit heuristic), quality scoring, token counting,
and winnowing-style document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Tiny per-language stopword seeds for the n-gram/stopword heuristic.
#: Deliberately short and frozen: the DuckDB oracle mirrors them.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "a", "and", "is", "of", "to", "in", "it"),
    "es": ("el", "la", "los", "y", "es", "de", "un", "que"),
    "fr": ("le", "la", "les", "et", "est", "de", "un", "que"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "不"),
}

_WS = r"\s+"


def _staging_name(df: DataFrame, base: str) -> str:
    """Collision-checked name for an internal staging column (r12,
    ADVICE r11): the public operators add-then-drop a temp column, and
    a caller frame that already carries the bare name would be
    silently overwritten and dropped.  Appending ``_`` until unique
    keeps the common case (no collision) byte-identical plans."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization; empty tokens removed."""
    return F.filter(F.split(text, _WS), lambda x: x != "")


def bpe_ish_tokens_expr(text: Column) -> Column:
    """A BPE-ish regex tokenization: words, numbers, or single
    punctuation marks (the shape of a GPT-2-style pre-tokenizer)."""
    return F.filter(
        F.regexp_extract_all(
            text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), F.lit(1)
        ),
        lambda x: x != "",
    )


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens_expr(F.col(text_col))))


def sliding_join_expr(toks: Column, n: int, small: bool = False) -> Column:
    """Space-joined ``n``-token windows of ``toks`` at every start
    position (1-based, positions ``1..size-n+1``) — O(len·n).

    The previous form — ``transform(sequence(1, cnt), i ->
    array_join(slice(toks, i, n), " "))`` — captured the whole ``toks``
    subexpression tree (filter+split over the document) in the lambda
    body, which the higher-order-function interpreter re-evaluates per
    element: O(len²) token splits per document, the same class as the
    winnowing-minima defect fixed earlier this round, and invisible at
    bench scale (54-token docs) while quadratic at corpus scale.

    Both arms here evaluate the tokenization ONCE per row by binding it
    to a lambda variable: ``transform`` over a single-element
    ``array(struct(toks))`` evaluates its argument once, and field
    access on the bound struct is O(1) — a let-binding, expressed in
    Catalyst.  They differ only in how each window string is built:

    * ``small=True`` — per-position ``array_join(slice(t, i, n))`` over
      the bound array: one O(n) join per window.  Fastest on SHORT
      documents at every n (0.85 → 0.42 s at the 54-token bench corpus,
      n=5; 3.0 → 0.55 s at n=13), where per-pass HOF overhead dominates.
    * ``small=False`` (default, the scale arm) — a zip_with chain over
      ``n-1`` shifted slices of the bound array, trivial two-string
      concat bodies.  Fastest on LONG documents for the shingle widths
      the operators use (36.5 → 1.8 s per noop pass over 30k docs × 400
      tokens at n=5 — 20×; 34.2 → 2.5 s at n=13), where per-element
      cost dominates.

    Values are bit-identical across both arms and the old form
    (parity-tested on random + edge texts, n ∈ {2, 5, 13}): position
    i's window is ``toks[i] || ' ' || … || toks[i+n-1]``, exactly
    ``array_join(slice(toks, i, n), ' ')`` for the NULL-free arrays
    ``tokens_expr`` produces; zip_with's null padding marks the
    <n-token tail positions NULL and the final prefix slice keeps
    positions ``1..max(cnt, 1)`` — the old sequence bounds.  Callers
    gate the arm on the shared metadata-only ``small_corpus`` cut
    (plan-shape only, never results) and must guard NULL/short inputs
    BEFORE this expression (the arms disagree on bare-NULL ``toks``:
    join-form yields ``[NULL]``, chain-form ``NULL``)."""

    def windows(t: Column) -> Column:
        if small:
            return F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(t) - F.lit(n - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            )
        cur = t
        for j in range(1, n):
            shifted = F.slice(t, j + 1, F.greatest(F.size(t) - j, F.lit(0)))
            cur = F.zip_with(
                cur, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
            )
        return F.slice(
            cur, 1, F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
        )

    return F.element_at(
        F.transform(
            F.array(F.struct(toks.alias("t"))), lambda s: windows(s["t"])
        ),
        1,
    )


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality heuristics: token count, mean token length,
    alphabetic character ratio, English stopword ratio.  At 100 TB this
    is a single map-only pass over the corpus.

    r11: the tokenization is LET-BOUND (evaluated once per row into a
    lambda variable via ``transform`` over a one-element struct array)
    and all four features computed from the bound value as one struct.
    The previous form referenced the ``tokens_expr`` tree ~7× across
    the output columns (every ``size(toks)`` and the stopword filter
    re-tokenized the document under the interpreted HOF evaluator) —
    measured 2.09 → 1.64 s per noop pass over 300k docs × 200 tokens,
    values bit-identical (parity incl. NULL/empty/CJK texts).  A
    sentinel-string codegen rewrite of the stopword count was also
    measured and is 2.3× WORSE (regex sentinel build + 8 literal scans
    cost more than the interpreted filter) — do not re-try."""
    toks = tokens_expr(F.col(text_col))
    text = F.col(text_col)
    n_chars = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    sw = list(LANG_STOPWORDS["en"])

    def features(s: Column) -> Column:
        t = s["t"]
        n = F.size(t)
        hits = F.size(F.filter(t, lambda x: F.lower(x).isin(sw)))
        return F.struct(
            n.alias("n_tokens"),
            F.when(n > 0, (n_chars - (n - 1)) / n.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("mean_token_len"),
            F.when(n_chars > 0, alpha / n_chars.cast("double"))
            .otherwise(0.0)
            .alias("alpha_ratio"),
            F.when(n > 0, hits / n.cast("double"))
            .otherwise(0.0)
            .alias("stopword_ratio"),
        )

    q = F.element_at(
        F.transform(F.array(F.struct(toks.alias("t"))), features), 1
    )
    qc = _staging_name(df, "__q")
    return (
        df.withColumn(qc, q)
        .withColumn("n_tokens", F.col(f"{qc}.n_tokens"))
        .withColumn("mean_token_len", F.col(f"{qc}.mean_token_len"))
        .withColumn("alpha_ratio", F.col(f"{qc}.alpha_ratio"))
        .withColumn("stopword_ratio", F.col(f"{qc}.stopword_ratio"))
        .drop(qc)
    )


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of stopword-hit counts, ties broken
    by language code order (deterministic).

    r11: the lowered tokenization is LET-BOUND so the five per-language
    stopword filters share ONE evaluation of it per row (the previous
    form captured the ``tokens_expr`` tree in each filter argument —
    five tokenizations per row).  Measured 3.75 → 1.85 s per noop pass
    over 300k docs × 200 tokens, values bit-identical."""
    toks = tokens_expr(F.lower(F.col(text_col)))

    def hit_filter(stopwords):
        # NB: the lambda must take exactly one arg — a two-arg lambda is
        # interpreted by F.filter as (element, index)
        return lambda x: x.isin(stopwords)

    def best_of(s: Column) -> Column:
        t = s["t"]
        scores = []
        for lang in sorted(LANG_STOPWORDS):
            scores.append(
                F.struct(
                    F.size(
                        F.filter(t, hit_filter(list(LANG_STOPWORDS[lang])))
                    ).alias("hits"),
                    # ties: later languages must NOT win → use a
                    # descending tiebreak key so max picks the
                    # alphabetically first
                    F.lit(-sorted(LANG_STOPWORDS).index(lang)).alias("tie"),
                    F.lit(lang).alias("lang"),
                )
            )
        return F.greatest(*scores)

    best = F.element_at(
        F.transform(F.array(F.struct(toks.alias("t"))), best_of), 1
    )
    # coalesce is unreachable (element_at over a literal one-element
    # array never yields NULL) — it only restores the non-nullable
    # schema flag the pre-let-bind ``greatest(struct(lit(lang)))``
    # expression carried, so the declared output schema is unchanged
    lc = _staging_name(df, "__lid")
    return (
        df.withColumn(lc, best)
        .withColumn(
            "pred_lang", F.coalesce(F.col(f"{lc}.lang"), F.lit(""))
        )
        .withColumn("lang_score", F.col(f"{lc}.hits"))
        .drop(lc)
    )


def with_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    hash_algo: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprint: a 64-bit hash over each k-char
    shingle, take the min hash of every `window` consecutive shingles,
    keep the distinct mins. ``fingerprint`` = hash of the sorted mins —
    a robust near-duplicate signature computed entirely JVM-side.
    ``hash_algo="md5"`` makes the whole pipeline DuckDB-replayable
    (see ``util.hash64_expr``)."""
    from .util import ensure_parallelism, hash64_expr

    df = ensure_parallelism(df)
    text = F.col(text_col)
    n_sh = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    # sequence(1, 0) would be descending — guard short texts
    hashes = F.when(n_sh < 1, F.array().cast("array<long>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
            lambda i: hash64_expr(text.substr(i, F.lit(k)), hash_algo),
        )
    )
    # The shingle-hash array is STAGED as its own column and the
    # window minima taken per position as ``array_min(slice(h, i,
    # window))`` over the staged column: O(len·window) per row.  The
    # unstaged form — the same slice over the whole `hashes`
    # subexpression inside a transform — re-evaluated the substring
    # hashes for EVERY window position under the higher-order-function
    # interpreter: O(len²) per document (measured 42 s for one noop
    # pass over the 5k-doc sf0.1 corpus; ~1 s after).  The stage column
    # is referenced twice (size and slice), so Catalyst's
    # CollapseProject keeps it single-evaluation (the scrub_pii rule:
    # expensive producers with >1 consumer are not inlined).  A LEAST
    # chain over `window` shifted slices gives the same values but won
    # only 1.25× at 60k × 300-token docs and lost 1.55× at sf0.1, so
    # it was removed (OPTIMIZATION_r12 §4).  The fingerprint oracle
    # replays the whole pipeline; a test pins this form to a
    # pure-Python reference.
    hc = _staging_name(df, "__fp_hashes")
    h = F.col(hc)
    mins = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(h) - F.lit(window - 1), F.lit(1)),
            ),
            lambda i: F.array_min(F.slice(h, i, window)),
        )
    )
    fp = hash64_expr(
        F.array_join(
            F.transform(F.array_sort(mins), lambda x: x.cast("string")), ","
        ),
        hash_algo,
    )
    return (
        df.withColumn(hc, hashes)
        .withColumn(
            "fingerprint",
            F.when(n_sh > 0, fp).otherwise(F.lit(None).cast("long")),
        )
        .drop(hc)
    )


def ngrams_expr(
    text: Column, n: int, lowercase: bool = True, small: bool = False
) -> Column:
    """Lowercased whitespace-token ``n``-grams, space-joined — the
    collision unit of benchmark decontamination (fewer than ``n``
    tokens → empty array).

    ``small`` picks :func:`sliding_join_expr`'s short-document arm
    (plan shape only — values identical); the NULL-text guard preserves
    the old transform form's [NULL] output there
    (``sequence(1, greatest(NULL, 1))`` produced one NULL gram)."""
    toks = tokens_expr(F.lower(text) if lowercase else text)
    cnt = F.size(toks) - F.lit(n - 1)
    return (
        F.when(text.isNull(), F.array(F.lit(None).cast("string")))
        .when(cnt < 1, F.array().cast("array<string>"))
        .otherwise(sliding_join_expr(toks, n, small=small))
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token ``n``-gram with an evaluation/benchmark corpus — the 13-gram
    collision rule of GPT-3 (Brown et al. 2020, appendix C) and PaLM.

    100 TB design: the benchmark side reduces to a DISTINCT set of
    n-gram keys (8-byte xxhash64 by default — a million-question eval
    suite is tens of MB) and is broadcast, so the corpus side is one
    map-only pass (tokenize → gram → hash → probe the broadcast hash
    set); only MATCHED (id, gram) pairs — a vanishing fraction — enter
    the shuffle that counts distinct collisions per document. Set
    ``broadcast=False`` to let AQE plan a shuffled join for benchmark
    sets too large to broadcast. ``hash_grams=False`` joins on the raw
    gram strings (DuckDB-replayable, used by the oracle entry; the
    hashed production path differs only on 64-bit collisions).

    Returns ``docs`` plus ``n_contam_ngrams`` (distinct shared grams)
    and ``contaminated``.
    """
    from .util import small_corpus

    small = small_corpus(docs)
    g = ngrams_expr(F.col(text_col), n, small=small)
    if hash_grams:
        g = F.transform(g, lambda s: F.xxhash64(s))
    bench = benchmark.select(
        F.explode(
            ngrams_expr(F.col(text_col), n, small=small)
            if not hash_grams
            else F.transform(
                ngrams_expr(F.col(text_col), n, small=small),
                lambda s: F.xxhash64(s),
            )
        ).alias("_g")
    ).distinct()
    if broadcast:
        bench = F.broadcast(bench)
    probe = docs.select(F.col(id_col), F.explode(g).alias("_g"))
    hits = (
        probe.join(bench, "_g")
        .groupBy(id_col)
        .agg(F.count_distinct("_g").alias("n_contam_ngrams"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn(
            "n_contam_ngrams",
            F.coalesce(F.col("n_contam_ngrams"), F.lit(0)).cast("long"),
        )
        .withColumn("contaminated", F.col("n_contam_ngrams") > 0)
    )


#: PII scrub rules, applied IN ORDER (emails first so their digit/dot
#: runs can't be half-eaten by the later rules).  Every pattern is in
#: the common Java-regex ∩ RE2 subset (no lookaround, no backrefs), so
#: a DuckDB oracle replays the scrub bit-for-bit with
#: ``regexp_replace(..., 'g')`` / ``regexp_extract_all``.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("idnum", r"\b\d{7,}\b", "<ID>"),
)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
    counts: bool = True,
) -> DataFrame:
    """Redact common PII shapes (emails, IPv4 addresses, long ID-like
    digit runs) and count redactions per rule.

    Adds ``out_col`` (scrubbed text), one ``n_pii_<rule>`` count per
    rule (matches seen at that rule's turn, i.e. after earlier rules
    already rewrote the text — the counts sum to total redactions),
    and ``n_pii_total``.

    Scale: a single map-only projection of chained ``regexp_replace``
    calls — whole-stage codegen, no Python, no shuffle; linear in
    corpus bytes, which is the only acceptable cost for a pass that
    must touch all 100 TB.  The counts are FUSED into the replace pass
    (one regex traversal per rule, not count+replace): rule ``k``'s
    count is recovered from the literal-token delta
    ``occurrences(token, after_k) − occurrences(token, before_k)``,
    where occurrence counting is a cheap literal ``replace`` + two
    ``length``s, never a second regex scan.  Exact by construction:
    ``regexp_replace`` rewrites every non-overlapping match (the same
    multiset ``regexp_extract_all`` returns), no replacement token
    contains a match of any rule, and pre-existing tokens in the input
    are cancelled by the subtraction.  Each intermediate text is a
    named stage column referenced more than once, so Catalyst's
    CollapseProject keeps the regex chain single-evaluation (expensive
    producers with >1 consumer are not inlined).  ``counts=False``
    keeps only the scrub chain.
    """
    if not counts:
        cur = F.col(text_col)
        for _name, pat, token in PII_RULES:
            cur = F.regexp_replace(cur, pat, token)
        return df.withColumn(out_col, cur)

    def occurrences(x: Column, token: str) -> Column:
        return (
            (F.length(x) - F.length(F.replace(x, F.lit(token), F.lit(""))))
            / F.lit(len(token))
        ).cast("long")

    out = df
    prev = F.col(text_col)
    stages: list[str] = []
    for i, (_name, pat, token) in enumerate(PII_RULES):
        stage = f"__pii_t{i}"
        out = out.withColumn(stage, F.regexp_replace(prev, pat, token))
        stages.append(stage)
        prev = F.col(stage)
    total = F.lit(0).cast("long")
    before = F.col(text_col)
    for stage, (name, _pat, token) in zip(stages, PII_RULES):
        cname = f"n_pii_{name}"
        out = out.withColumn(
            cname, occurrences(F.col(stage), token) - occurrences(before, token)
        )
        total = total + F.col(cname)
        before = F.col(stage)
    return (
        out.withColumn(out_col, F.col(stages[-1]))
        .withColumn("n_pii_total", total)
        .drop(*stages)
    )
