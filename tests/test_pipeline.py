"""Data-pipeline operator tests over the driver's sf0.001 tables."""

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestTextOps:
    def test_token_count(self, spark, documents):
        from timbala_spark.pipeline import with_token_count

        got = with_token_count(documents).select("doc_id", "n_tokens").collect()
        py = {
            r["doc_id"]: len(r["text"].split())
            for r in documents.select("doc_id", "text").collect()
        }
        assert all(r["n_tokens"] == py[r["doc_id"]] for r in got)

    def test_quality_features(self, spark, documents):
        from timbala_spark.pipeline import with_quality_features

        row = (
            with_quality_features(documents)
            .orderBy("doc_id")
            .select("doc_id", "n_tokens", "mean_token_len", "alpha_ratio", "stopword_ratio")
            .first()
        )
        assert row["n_tokens"] > 0
        assert 0 <= row["alpha_ratio"] <= 1
        assert 0 <= row["stopword_ratio"] <= 1

    def test_staging_columns_survive_caller_collisions(self, spark):
        """r12 (ADVICE r11): the operators' internal staging columns
        (__q / __lid / __fp_hashes) must not clobber caller columns of
        the same name — the collision-checked temp name must leave the
        caller's column untouched and produce identical results."""
        from timbala_spark.pipeline import (
            with_fingerprint,
            with_language_id,
            with_quality_features,
        )

        base = spark.createDataFrame(
            [(1, "the quick brown fox the"), (2, "el que la es de")],
            "doc_id long, text string",
        )
        clash = (
            base.withColumn("__q", F.lit("keep-q"))
            .withColumn("__lid", F.lit("keep-lid"))
            .withColumn("__fp_hashes", F.lit("keep-fp"))
        )
        for fn in (with_quality_features, with_language_id, with_fingerprint):
            got = fn(clash)
            assert set(clash.columns) <= set(got.columns)
            kept = got.select("doc_id", "__q", "__lid", "__fp_hashes")
            assert sorted(map(tuple, kept.collect())) == [
                (1, "keep-q", "keep-lid", "keep-fp"),
                (2, "keep-q", "keep-lid", "keep-fp"),
            ]
            ref = fn(base).drop("__q", "__lid", "__fp_hashes")
            out_cols = [c for c in got.columns if c not in clash.columns]
            assert sorted(
                map(tuple, got.select("doc_id", *out_cols).collect())
            ) == sorted(map(tuple, ref.select("doc_id", *out_cols).collect()))

    def test_fingerprint_matches_python_reference(self, spark, tmp_path):
        """with_fingerprint (per-position window minima over the staged
        hash column) must equal a pure-Python winnowing reference,
        bit-for-bit, on a 30-row parquet corpus with short/empty/NULL
        edges.  md5 (``hash64_expr``'s DuckDB-replayable variant) is
        the hash both sides can compute."""
        import hashlib
        import random

        from timbala_spark.pipeline import with_fingerprint

        def h64(s: str) -> int:
            v = int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
            return v - (1 << 64) if v >= 1 << 63 else v

        def reference(text, k, window):
            if text is None or len(text) < k:
                return None
            hs = [h64(text[i : i + k]) for i in range(len(text) - k + 1)]
            mins = {
                min(hs[i : i + window])
                for i in range(max(len(hs) - window + 1, 1))
            }
            return h64(",".join(str(m) for m in sorted(mins)))

        rng = random.Random(7)
        rows = [
            (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(40))))
            for i in range(26)
        ] + [(100, None), (101, ""), (102, "abc"), (103, "abcdefgh")]
        p = str(tmp_path / "fp_ref")
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(p)
        df = spark.read.parquet(p)

        for k, window in ((8, 4), (3, 2), (5, 7)):
            got = dict(
                with_fingerprint(df, k=k, window=window, hash_algo="md5")
                .select("doc_id", "fingerprint")
                .collect()
            )
            want = {i: reference(t, k, window) for i, t in rows}
            assert got == want, (k, window)
            assert len({v for v in want.values() if v is not None}) > 1

    def test_quality_langid_match_unbound_reference(self, spark, documents):
        """r11: with_quality_features / with_language_id let-bind the
        tokenization (one evaluation per row instead of ~7 / 5).
        Values must be bit-identical to the original multi-evaluation
        expressions — checked on corpus docs plus NULL/empty/CJK/
        whitespace edges."""
        from timbala_spark.pipeline import (
            with_language_id,
            with_quality_features,
        )
        from timbala_spark.pipeline.text import LANG_STOPWORDS, tokens_expr

        edge = spark.createDataFrame(
            [
                (10_000, None),
                (10_001, ""),
                (10_002, "   "),
                (10_003, "The the THE tHe"),
                (10_004, "的 了 是 hello"),
                (10_005, " el la le les que "),
                (10_006, "x" * 300),
            ],
            "doc_id long, text string",
        )
        df = documents.select("doc_id", "text").union(edge)

        toks = tokens_expr(F.col("text"))
        n = F.size(toks)
        n_chars = F.length(F.col("text"))
        alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
        sw = list(LANG_STOPWORDS["en"])
        hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(sw)))
        ref_q = df.select(
            "doc_id",
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
        got_q = with_quality_features(df).select(*ref_q.columns)
        assert got_q.exceptAll(ref_q).count() == 0
        assert ref_q.exceptAll(got_q).count() == 0
        assert got_q.schema == ref_q.schema

        ltoks = tokens_expr(F.lower(F.col("text")))
        scores = []
        for lang in sorted(LANG_STOPWORDS):
            stop = list(LANG_STOPWORDS[lang])
            scores.append(
                F.struct(
                    F.size(
                        F.filter(ltoks, (lambda s: lambda x: x.isin(s))(stop))
                    ).alias("hits"),
                    F.lit(-sorted(LANG_STOPWORDS).index(lang)).alias("tie"),
                    F.lit(lang).alias("lang"),
                )
            )
        best = F.greatest(*scores)
        ref_l = df.select(
            "doc_id",
            best["lang"].alias("pred_lang"),
            best["hits"].alias("lang_score"),
        )
        got_l = with_language_id(df).select(*ref_l.columns)
        assert got_l.exceptAll(ref_l).count() == 0
        assert ref_l.exceptAll(got_l).count() == 0
        assert got_l.schema == ref_l.schema

    def test_language_id_deterministic(self, spark, documents):
        from timbala_spark.pipeline import with_language_id

        a = with_language_id(documents).select("doc_id", "pred_lang").collect()
        b = with_language_id(documents).select("doc_id", "pred_lang").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        langs = {r["pred_lang"] for r in a}
        assert langs <= {"de", "en", "es", "fr", "zh"}

    def test_fingerprint(self, spark, documents):
        from timbala_spark.pipeline import with_fingerprint

        fp = with_fingerprint(documents).select("doc_id", "fingerprint")
        rows = fp.collect()
        assert all(r["fingerprint"] is not None for r in rows)
        # identical text ⇒ identical fingerprint
        dup = documents.limit(1).union(documents.limit(1))
        fps = with_fingerprint(dup).select("fingerprint").collect()
        assert fps[0][0] == fps[1][0]

    def test_fingerprint_matches_per_position_reference(self, spark):
        """The staged-column window minima (O(len·window) per row)
        must reproduce the original unstaged per-position
        array_min(slice(hashes, i+1, window)) form (O(len²) under the
        HOF interpreter) bit-for-bit — incl. texts shorter than the
        window, shorter than k, empty, and multi-k edge shapes."""
        import random
        import string

        from pyspark.sql import functions as F

        from timbala_spark.pipeline import with_fingerprint
        from timbala_spark.pipeline.util import hash64_expr

        rng = random.Random(5)
        texts = [
            "",
            "ab",                      # < k
            "abcdefgh",                # exactly k -> one shingle
            "abcdefghij",              # k < len < k+window-1
            *(
                "".join(
                    rng.choice(string.ascii_lowercase + " ")
                    for _ in range(rng.randint(1, 200))
                )
                for _ in range(200)
            ),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

        def reference(k: int, window: int, algo: str):
            text = F.col("text")
            n_sh = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
            hashes = F.when(
                n_sh < 1, F.array().cast("array<long>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
                    lambda i: hash64_expr(text.substr(i, F.lit(k)), algo),
                )
            )
            mins = F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_sh - window, F.lit(0))),
                    lambda i: F.array_min(F.slice(hashes, i + 1, window)),
                )
            )
            fp = hash64_expr(
                F.array_join(
                    F.transform(
                        F.array_sort(mins), lambda h: h.cast("string")
                    ),
                    ",",
                ),
                algo,
            )
            return F.when(n_sh > 0, fp).otherwise(F.lit(None).cast("long"))

        for k, window, algo in ((8, 4, "xxhash64"), (3, 2, "md5"), (5, 7, "xxhash64")):
            got = with_fingerprint(df, k=k, window=window, hash_algo=algo)
            bad = got.withColumn("_ref", reference(k, window, algo)).filter(
                "NOT (fingerprint <=> _ref)"
            )
            assert bad.count() == 0, (k, window, algo)

    def test_sliding_join_matches_transform_reference(self, spark):
        """r11: word_shingles_expr / ngrams_expr moved from the
        O(len²) ``transform(sequence, i -> array_join(slice(toks, i,
        n)))`` form (lambda body re-evaluates the tokenization per
        position) to the O(len·n) sliding_join_expr zip_with chain.
        Values must be bit-identical — including the legacy NULL-text
        output (a single-NULL array) and short/empty/whitespace
        texts."""
        import random
        import string

        from timbala_spark.pipeline.dedup import word_shingles_expr
        from timbala_spark.pipeline.text import ngrams_expr, tokens_expr

        rng = random.Random(11)
        texts = [
            None,
            "",
            "   ",
            "one",
            " lead trail  ",
            "a b c d e",
            "a b c d e f g",
            "a a a a a a a a",
            *(
                " ".join(
                    "".join(
                        rng.choice(string.ascii_lowercase)
                        for _ in range(rng.randint(1, 8))
                    )
                    for _ in range(rng.randint(0, 60))
                )
                for _ in range(150)
            ),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

        def ref(text, n, lowercase, distinct):
            toks = tokens_expr(F.lower(text) if lowercase else text)
            cnt = F.size(toks) - F.lit(n - 1)
            grams = F.transform(
                F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
            if distinct:
                grams = F.array_distinct(grams)
            return F.when(cnt < 1, F.array().cast("array<string>")).otherwise(
                grams
            )

        for n in (2, 5, 13):
            for small in (False, True):
                cases = [
                    (
                        word_shingles_expr(F.col("text"), n, small=small),
                        ref(F.col("text"), n, False, True),
                    ),
                    (
                        ngrams_expr(F.col("text"), n, small=small),
                        ref(F.col("text"), n, True, False),
                    ),
                ]
                for got_expr, ref_expr in cases:
                    bad = df.select(
                        "doc_id", got_expr.alias("_got"), ref_expr.alias("_ref")
                    ).filter("NOT (_got <=> _ref)")
                    assert bad.count() == 0, (n, small)

    def test_decontamination_known_overlap(self, spark):
        from timbala_spark.pipeline import flag_contaminated

        words = [f"w{i}" for i in range(20)]
        rows = [
            (0, " ".join(words)),                 # shares 13-grams w/ bench
            (1, " ".join(words[:12])),            # too short for any 13-gram
            (2, " ".join(reversed(words))),       # same tokens, no 13-gram
            (3, "  " + "  ".join(w.upper() for w in words[2:16]) + " "),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, " ".join(words[2:16]))], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["n_contam_ngrams"]
            for r in flag_contaminated(docs, bench, n=13).collect()
        }
        # bench doc holds 14 tokens -> two 13-grams; doc 0 contains both,
        # doc 3 is the same text up to case/whitespace (lowercased
        # whitespace tokens -> both grams again)
        assert got == {0: 2, 1: 0, 2: 0, 3: 2}

    def test_decontamination_hashed_equals_string_path(
        self, spark, documents
    ):
        from pyspark.sql import functions as F

        from timbala_spark.pipeline import flag_contaminated

        bench = documents.filter(F.col("doc_id") % 17 == 0)
        probe = documents.filter(F.col("doc_id") % 17 != 0)

        def canon(hash_grams):
            out = flag_contaminated(
                probe, bench, n=13, hash_grams=hash_grams
            ).select("doc_id", "n_contam_ngrams")
            return {r["doc_id"]: r["n_contam_ngrams"] for r in out.collect()}

        hashed, strings = canon(True), canon(False)
        assert hashed == strings
        assert sum(1 for v in strings.values() if v > 0) > 0  # corpus dups

    def test_decontamination_probe_stays_broadcast(self, spark, documents):
        import contextlib
        import io

        from pyspark.sql import functions as F

        from timbala_spark.pipeline import flag_contaminated

        bench = documents.filter(F.col("doc_id") % 17 == 0)
        probe = documents.filter(F.col("doc_id") % 17 != 0)
        out = flag_contaminated(probe, bench, n=13)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # the gram probe must be a broadcast hash join (map-only pass
        # over the corpus), never a shuffled join of exploded grams
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan


class TestDedup:
    def test_exact_dedup_finds_injected_dups(self, spark, documents):
        from timbala_spark.pipeline import exact_dedup

        dup = documents.union(
            documents.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
        )
        out = exact_dedup(dup, ["text"], "doc_id")
        n_docs = documents.count()
        assert out.count() == n_docs
        assert out.filter(F.col("n_dups") == 2).count() == 5
        # representative is the min id
        assert out.agg(F.max("doc_id")).first()[0] < 100000

    def test_ngram_jaccard_self_pairs(self, spark, documents):
        from timbala_spark.pipeline import ngram_jaccard_pairs

        dup = documents.limit(20).union(
            documents.limit(3).withColumn("doc_id", F.col("doc_id") + 1000)
        )
        pairs = ngram_jaccard_pairs(dup, threshold=0.99).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert {(0, 1000), (1, 1001), (2, 1002)} <= got
        assert all(abs(r["jaccard"] - 1.0) < 1e-12 for r in pairs if r["id_b"] >= 1000 and r["id_a"] == r["id_b"] - 1000)

    def test_minhash_lsh_finds_exact_dups(self, spark, documents):
        from timbala_spark.pipeline import minhash_lsh_pairs

        dup = documents.limit(30).union(
            documents.limit(3).withColumn("doc_id", F.col("doc_id") + 1000)
        )
        pairs = minhash_lsh_pairs(dup, threshold=0.9).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert {(0, 1000), (1, 1001), (2, 1002)} <= got

    @pytest.mark.parametrize("hash_algo", ["xxhash64", "md5"])
    def test_minhash_banding_matches_fold_reference(self, spark, hash_algo):
        """r11: the codegen signature aggregation (_minhash_sigs_by_id
        + _minhash_band_structs) must reproduce the interpreted
        minhash_signature_expr fold bit-for-bit — same (id, band,
        bucket) set, unshingleable docs absent on both paths."""
        from timbala_spark.pipeline.dedup import (
            hash64_expr,
            minhash_signature_expr,
            word_shingles_expr,
        )
        from timbala_spark.pipeline.incremental import _minhash_bands

        rows = [(0, ""), (1, "one two"), (2, "   "), (3, None)]
        rows += [
            (
                10 + i,
                " ".join(
                    f"w{(i * 31 + j * 7) % 97}" for j in range((i % 40) + 5)
                ),
            )
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        num_hashes, bands = 64, 16
        rpb = num_hashes // bands
        ref_base = (
            docs.select(
                F.col("doc_id").alias("_id"),
                word_shingles_expr(F.col("text"), 5).alias("_sh"),
            )
            .filter(F.size("_sh") > 0)
            .withColumn(
                "_hs",
                F.transform(F.col("_sh"), lambda s: hash64_expr(s, hash_algo)),
            )
            .withColumn("_sig", minhash_signature_expr(F.col("_hs"), num_hashes))
        )
        ref = ref_base.select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        hash64_expr(
                            F.array_join(
                                F.transform(
                                    F.slice(F.col("_sig"), b * rpb + 1, rpb),
                                    lambda h: h.cast("string"),
                                ),
                                ",",
                            ),
                            hash_algo,
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select("_id", "bb.band", "bb.bucket")
        got = _minhash_bands(
            docs, "doc_id", "text", 5, num_hashes, bands, hash_algo
        ).select("_id", F.col("_band").alias("band"), F.col("_bucket").alias("bucket"))
        assert ref.exceptAll(got).count() == 0
        assert got.exceptAll(ref).count() == 0

    def test_minhash_small_and_big_arms_identical(
        self, spark, documents, tmp_path, monkeypatch
    ):
        """r11: the small-corpus (interpreted fold) and big-corpus
        (codegen aggregation) signature arms of minhash_lsh_pairs must
        return the identical pair set.  Parquet-backed input so the
        metadata gate can actually read a size."""
        from timbala_spark.pipeline import minhash_lsh_pairs

        p = str(tmp_path / "docs")
        documents.limit(60).union(
            documents.limit(6).withColumn("doc_id", F.col("doc_id") + 1000)
        ).write.parquet(p)
        docs = spark.read.parquet(p)
        monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", str(1 << 40))
        small_arm = sorted(
            map(tuple, minhash_lsh_pairs(docs, threshold=0.5).collect())
        )
        monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", "0")
        big_arm = sorted(
            map(tuple, minhash_lsh_pairs(docs, threshold=0.5).collect())
        )
        assert small_arm == big_arm
        assert {(0, 1000), (1, 1001)} <= {(a, b) for a, b, _ in small_arm}

    def test_minhash_fold_and_codegen_arms_agree_on_twenty_docs(
        self, spark, documents, tmp_path, monkeypatch
    ):
        """Default-tier sibling of the 66-row slow test: the fold and
        codegen signature arms return the same pairs on 20 documents."""
        from timbala_spark.pipeline import minhash_lsh_pairs

        p = str(tmp_path / "docs")
        documents.limit(16).union(
            documents.limit(4).withColumn("doc_id", F.col("doc_id") + 1000)
        ).write.parquet(p)
        docs = spark.read.parquet(p)
        arms = []
        for cut in (str(1 << 40), "0"):
            monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", cut)
            arms.append(
                sorted(map(tuple, minhash_lsh_pairs(docs, threshold=0.5).collect()))
            )
        assert arms[0] == arms[1]
        assert {(0, 1000), (1, 1001)} <= {(a, b) for a, b, _ in arms[0]}

    def test_simhash_votes_fast_path_matches_join_path(self, spark, documents):
        """r12: on token-filtered input, the assume_tokenized fast path
        (no ids left-join) must equal the join path row-for-row; and
        the post-explode codegen hash must equal the fold reference
        (simhash_expr) on every doc including short ones."""
        from timbala_spark.pipeline.dedup import (
            _simhash_votes_by_id,
            simhash_expr,
            tokens_expr,
        )

        docs = documents.limit(30).filter(
            F.size(tokens_expr(F.col("text"))) > 0
        )
        fast = sorted(
            map(
                tuple,
                _simhash_votes_by_id(
                    docs, "doc_id", "text", "xxhash64", assume_tokenized=True
                ).collect(),
            )
        )
        joined = sorted(
            map(
                tuple,
                _simhash_votes_by_id(
                    docs, "doc_id", "text", "xxhash64"
                ).collect(),
            )
        )
        ref = sorted(
            map(
                tuple,
                docs.select(
                    "doc_id", simhash_expr(F.col("text"), "xxhash64")
                ).collect(),
            )
        )
        assert fast == joined == ref and len(fast) == 30

    def test_simhash_fast_path_matches_join_path_on_ten_docs(
        self, spark, documents
    ):
        """Default-tier sibling of the 30-row slow test: the
        assume_tokenized fast path, the join path and the fold
        reference agree on 10 documents."""
        from timbala_spark.pipeline.dedup import (
            _simhash_votes_by_id,
            simhash_expr,
            tokens_expr,
        )

        docs = documents.limit(10).filter(
            F.size(tokens_expr(F.col("text"))) > 0
        )

        def rows(df):
            return sorted(map(tuple, df.collect()))

        fast = rows(
            _simhash_votes_by_id(
                docs, "doc_id", "text", "xxhash64", assume_tokenized=True
            )
        )
        joined = rows(_simhash_votes_by_id(docs, "doc_id", "text", "xxhash64"))
        ref = rows(docs.select("doc_id", simhash_expr(F.col("text"), "xxhash64")))
        assert fast == joined == ref and len(fast) == 10

    def test_simhash(self, spark, documents):
        from timbala_spark.pipeline import simhash_pairs, with_simhash

        h = with_simhash(documents.limit(10)).select("doc_id", "simhash").collect()
        assert len({r["simhash"] for r in h}) > 1
        dup = documents.limit(20).union(
            documents.limit(2).withColumn("doc_id", F.col("doc_id") + 1000)
        )
        pairs = simhash_pairs(dup, max_hamming=0).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert {(0, 1000), (1, 1001)} <= got


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark, embeddings):
        import numpy as np

        from timbala_spark.pipeline import cosine_topk

        queries = embeddings.filter(F.col("vec_id") < 3)
        corpus = embeddings.filter(F.col("vec_id") >= 3)
        got = cosine_topk(corpus, queries, k=5).collect()

        rows = embeddings.select("vec_id", "embedding").collect()
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
        for qid in range(3):
            qv = vecs[qid]
            sims = sorted(
                (
                    (float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), -nid)
                    for nid, v in vecs.items()
                    if nid >= 3
                ),
                reverse=True,
            )[:5]
            want = [-nid for _, nid in sims]
            mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
            assert mine == want, (qid, mine, want)

    def test_lsh_recall(self, spark, embeddings):
        from timbala_spark.pipeline import cosine_topk, lsh_cosine_topk

        queries = embeddings.filter(F.col("vec_id") < 3)
        corpus = embeddings.filter(F.col("vec_id") >= 3)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk(corpus, queries, k=3).collect()
        }
        # random gaussian corpus → top neighbors sit near cos≈0.4, so
        # per-table hit prob ≈ (1-θ/π)^planes; 4 planes × 16 tables
        # gives expected recall ≈ 0.9
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_cosine_topk(
                corpus, queries, k=3, n_planes=4, n_tables=16
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6, recall

    def test_ivf(self, spark, embeddings):
        from timbala_spark.pipeline import ivf_topk

        queries = embeddings.filter(F.col("vec_id") < 2)
        corpus = embeddings.filter(F.col("vec_id") >= 2)
        got = ivf_topk(corpus, queries, k=3, n_cells=8, n_probe=3).collect()
        assert len(got) == 6
        for qid in (0, 1):
            ranks = [r["rank"] for r in got if r["query_id"] == qid]
            assert sorted(ranks) == [1, 2, 3]


class TestMultimodal:
    def test_decode_stub_raises(self, spark, documents):
        from timbala_spark.pipeline.multimodal import (
            DecoderNotAvailable,
            decode_features,
            synthesize_media,
        )

        media = synthesize_media(spark, documents, n=6)
        with pytest.raises(Exception):
            decode_features(media, fake=False).collect()

    def test_fake_decode_plumbing(self, spark, documents):
        from timbala_spark.pipeline.multimodal import (
            decode_features,
            synthesize_media,
        )

        media = synthesize_media(spark, documents, n=9)
        out = decode_features(media, fake=True).collect()
        assert len(out) == 9
        for r in out:
            assert r["width"] >= 16 and r["height"] >= 16
            assert len(r["features"]) == 8
            if r["media_type"] == "image":
                assert r["n_frames"] == 1
        # deterministic
        out2 = decode_features(media, fake=True).collect()
        assert sorted(r["media_id"] for r in out) == sorted(
            r["media_id"] for r in out2
        )

    def test_frame_sample_plan(self, spark, documents):
        from timbala_spark.pipeline.multimodal import (
            frame_sample_plan,
            synthesize_media,
        )

        media = synthesize_media(spark, documents, n=12)
        plan = frame_sample_plan(media, every_n=5).collect()
        assert all(r["frame_idx"] % 5 == 0 for r in plan)

    def test_resize_stub_raises(self, spark, documents):
        from timbala_spark.pipeline.multimodal import (
            resize_images,
            synthesize_media,
        )

        media = synthesize_media(spark, documents, n=6)
        with pytest.raises(Exception):
            resize_images(media, 32, 32, fake=False).collect()

    def test_fake_resize_plumbing(self, spark, documents):
        import hashlib

        from timbala_spark.pipeline.multimodal import (
            decode_features,
            resize_images,
            synthesize_media,
        )

        media = synthesize_media(spark, documents, n=9)
        src = {r["media_id"]: r for r in media.collect()}
        out = resize_images(media, 32, 48, fake=True).collect()
        assert len(out) == 9
        for r in out:
            if r["media_type"] == "image":
                assert (
                    r["meta"]["width"] == "32" and r["meta"]["height"] == "48"
                )
                want = hashlib.sha256(
                    bytes(src[r["media_id"]]["payload"]) + b"32x48"
                ).digest()
                assert bytes(r["payload"]) == want
            else:  # non-images pass through untouched — payload AND meta
                assert bytes(r["payload"]) == bytes(
                    src[r["media_id"]]["payload"]
                )
                assert dict(r["meta"]) == dict(src[r["media_id"]]["meta"])
        # output keeps MEDIA_SCHEMA: stages compose (resize -> decode)
        feats = decode_features(
            resize_images(media, 32, 48, fake=True), fake=True
        ).collect()
        assert len(feats) == 9


class TestLshBucketSqlParity:
    def test_string_built_bucket_is_value_identical(self, spark):
        """lsh_bucket_sql (one F.expr parse; r11 — the Column forest
        cost ~4 s of driver time per operator call at 22 planes ×
        4 tables) must produce bit-identical buckets to
        lsh_bucket_expr, including planes whose repr uses exponent
        notation."""
        import random

        from timbala_spark.pipeline.similarity import (
            _planes,
            lsh_bucket_expr,
            lsh_bucket_sql,
        )

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-3, 3) for _ in range(16)]) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "id long, v array<double>")
        cases = [
            _planes(16, 22, 99),
            # exponent-notation reprs must parse to the same doubles
            [[1e-7, -2.5e-12, 3.0, -4.5e-05] + [0.1] * 12],
        ]
        for planes in cases:
            bad = df.select(
                lsh_bucket_expr(F.col("v"), planes).alias("a"),
                lsh_bucket_sql("v", planes).alias("b"),
            ).filter("a <> b OR a IS NULL OR b IS NULL")
            assert bad.count() == 0

    def test_bucket_width_mismatch_falls_back_to_fold(self, spark):
        """A vector whose width differs from the planes' must keep the
        fold's null-pad degeneracy (bucket 0 for every table) — the
        r11 unrolled fast path only fires on exact-width rows."""
        from timbala_spark.pipeline.similarity import (
            _planes,
            lsh_bucket_expr,
            lsh_bucket_sql,
        )

        planes = _planes(16, 6, 3)
        df = spark.createDataFrame(
            [(1, [0.5] * 15), (2, [0.5] * 17), (3, []), (4, None)],
            "id long, v array<double>",
        )
        rows = df.select(
            "id",
            lsh_bucket_expr(F.col("v"), planes).alias("a"),
            lsh_bucket_sql("v", planes).alias("b"),
        ).collect()
        for r in rows:
            assert r["a"] == r["b"], r


class TestDotSqlParity:
    def test_unrolled_dot_and_norm_are_bit_identical(self, spark):
        """dot_sql/norm_sql (r11): the guarded unrolled codegen kernel
        must be BIT-identical to the interpreted zip_with/aggregate
        fold — same left-associated addition order on exact-width rows,
        verbatim fold on every other width (empty/short/long/NULL/NaN),
        so no operator's values can move."""
        import random

        from timbala_spark.pipeline.similarity import (
            dot_expr,
            dot_sql,
            norm_expr,
            norm_sql,
        )

        rng = random.Random(11)
        rows = [
            (
                i,
                [rng.uniform(-3, 3) for _ in range(16)],
                [rng.uniform(-3, 3) for _ in range(16)],
            )
            for i in range(500)
        ]
        rows += [
            (1000, [], []),
            (1001, [1.0] * 15, [2.0] * 15),
            (1002, [1.0] * 17, [2.0] * 17),
            (1003, None, [1.0] * 16),
            (1004, [float("nan")] * 16, [1.0] * 16),
            (1005, [0.0] * 16, [-1.0] * 16),
        ]
        df = spark.createDataFrame(
            rows, "id long, a array<double>, b array<double>"
        )
        bad = df.select(
            dot_expr(F.col("a"), F.col("b")).alias("f"),
            dot_sql("a", "b", 16).alias("u"),
            norm_expr(F.col("a")).alias("nf"),
            norm_sql("a", 16).alias("nu"),
        ).filter("NOT (f <=> u) OR NOT (nf <=> nu)")
        assert bad.count() == 0


class TestLshParams:
    def test_collision_math(self):
        import math as m

        from timbala_spark.pipeline import lsh_params_for

        # the returned (p, T) must actually deliver the target recall
        # at the stated threshold: 1-(1-(1-θ/π)^p)^T >= 0.9
        for n in (1_000, 100_000, 10_000_000):
            for thr in (0.4, 0.7, 0.9):
                p, t = lsh_params_for(n, thr, target_recall=0.9)
                p1 = (1 - m.acos(thr) / m.pi) ** p
                assert 1 - (1 - p1) ** t >= 0.9 or t == 64  # cap binds
        # planes grow with the corpus (the fixed-shape 100 TB trap)
        p_small, _ = lsh_params_for(2_000, 0.9)
        p_big, _ = lsh_params_for(2_000_000, 0.9)
        assert p_big > p_small
        # tighter thresholds collide more per plane -> fewer tables
        _, t_loose = lsh_params_for(100_000, 0.4)
        _, t_tight = lsh_params_for(100_000, 0.95)
        assert t_tight <= t_loose

    def test_minhash_band_inflection(self):
        from timbala_spark.pipeline import minhash_params_for

        # the chosen band count's S-curve inflection (1/b)^(1/r) must
        # sit nearer the target than any other divisor's
        import math as m

        for thr in (0.1, 0.2, 0.5, 0.8):
            b = minhash_params_for(thr, 64)
            assert 64 % b == 0
            r = 64 // b
            chosen = abs(m.log((1 / b) ** (1 / r)) - m.log(thr))
            for b2 in (1, 2, 4, 8, 16, 32, 64):
                r2 = 64 // b2
                assert chosen <= abs(
                    m.log((1 / b2) ** (1 / r2)) - m.log(thr)
                ) + 1e-12
        # loose thresholds need more bands (higher collision rates)
        assert minhash_params_for(0.1, 64) > minhash_params_for(0.9, 64)

    def test_auto_mode_runs(self, spark, embeddings):
        from timbala_spark.pipeline import embedding_near_dup_pairs

        out = embedding_near_dup_pairs(
            embeddings, threshold=0.4, mode="lsh", n_planes=None, n_tables=None
        )
        rows = out.collect()
        # LSH pairs are a subset of the exact pair set
        exact = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        }
        assert {(r["id_a"], r["id_b"]) for r in rows} <= exact
        assert len(rows) > 0


class TestEmbeddingNearDup:
    def test_exact_matches_numpy(self, spark, embeddings):
        import numpy as np

        from timbala_spark.pipeline import embedding_near_dup_pairs

        got = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        }
        rows = embeddings.select("vec_id", "embedding").collect()
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
        ids = sorted(vecs)
        want = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                if c >= 0.4:
                    want[(a, b)] = c
        assert set(got) == set(want)
        for k, c in got.items():
            assert math.isclose(c, want[k], rel_tol=1e-9)

    def test_blocked_identical_to_exact(self, spark, embeddings):
        """mode="blocked" (BLAS prefilter + exact-fold verify) must be
        bit-identical to mode="exact" — the margin guarantees no pair
        near the threshold is lost to float-order differences."""
        from timbala_spark.pipeline import embedding_near_dup_pairs

        def run(mode):
            return sorted(
                (r["id_a"], r["id_b"], r["cos"])
                for r in embedding_near_dup_pairs(
                    embeddings, threshold=0.4, mode=mode
                ).collect()
            )

        assert run("blocked") == run("exact")

    def test_blocked_rejects_oversized_corpus(self, spark, embeddings):
        """Blocked mode must fail fast (clear error) above its driver-
        collect bound, not OOM the driver at scale."""
        import pytest

        from timbala_spark.pipeline import embedding_near_dup_pairs

        with pytest.raises(ValueError, match="blocked_max_rows"):
            embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="blocked", blocked_max_rows=3
            ).count()

    def test_lsh_subset_of_exact(self, spark, embeddings):
        from timbala_spark.pipeline import embedding_near_dup_pairs

        exact = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="lsh", n_planes=4, n_tables=16
            ).collect()
        }
        # candidates are verified with the exact cosine, so LSH output
        # is always a subset; recall should be high at these settings
        assert lsh <= exact
        assert len(lsh) >= len(exact) * 0.5


    def test_auto_routes_blocked_at_loose_threshold(self, spark, embeddings):
        """VERDICT r5 #3: threshold 0.4 on a small corpus has weak LSH
        locality (most random pairs admitted) — auto must route to
        blocked and return the EXACT pair set."""
        import logging

        from timbala_spark.pipeline import embedding_near_dup_pairs

        with self._capture_route() as records:
            got = sorted(
                (r["id_a"], r["id_b"])
                for r in embedding_near_dup_pairs(
                    embeddings, threshold=0.4, mode="auto",
                    n_planes=None, n_tables=None,
                ).collect()
            )
        exact = sorted(
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        )
        assert got == exact
        assert any("auto-route: blocked" in r.getMessage() for r in records)

    def test_auto_routes_lsh_above_broadcast_bound(self, spark, embeddings):
        from timbala_spark.pipeline import embedding_near_dup_pairs

        with self._capture_route() as records:
            got = {
                (r["id_a"], r["id_b"])
                for r in embedding_near_dup_pairs(
                    embeddings, threshold=0.4, mode="auto",
                    n_planes=None, n_tables=None, blocked_max_rows=3,
                ).collect()
            }
        exact = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        }
        assert got <= exact  # verified candidates: always a subset
        assert any("auto-route: lsh" in r.getMessage() for r in records)

    def test_lsh_bucket_cap_is_recall_only(self, spark, embeddings):
        from timbala_spark.pipeline import embedding_near_dup_pairs

        exact = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="exact"
            ).collect()
        }
        capped = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in embedding_near_dup_pairs(
                embeddings, threshold=0.4, mode="lsh", n_planes=4,
                n_tables=16, max_bucket_rows=8,
            ).collect()
        }
        assert set(capped) <= set(exact)
        for k, c in capped.items():  # values stay exact under the cap
            assert math.isclose(c, exact[k], rel_tol=1e-9)

    def test_explicit_lsh_defaults_bucket_cap(self, spark):
        """VERDICT r6 #2: explicit mode='lsh' must default the
        degenerate-bucket backstop (previously only mode='auto' set
        it), so a duplicate-heavy corpus at a loose threshold stays
        bounded. max_bucket_rows=0 is the explicit opt-out."""
        from timbala_spark.pipeline import embedding_near_dup_pairs

        # duplicate-heavy worst case: identical vectors collide into
        # ONE (table, bucket) cell in every table
        n = 12
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kw = dict(threshold=0.9, mode="lsh", dim=4, n_planes=4, n_tables=4)
        # a cap below the bucket size suppresses ALL candidates
        # (recall-only — every pair lives in over-cap cells)
        assert (
            embedding_near_dup_pairs(df, max_bucket_rows=4, **kw).count() == 0
        )
        # 0 disables the cap: the full n*(n-1)/2 duplicate pairs
        uncapped = embedding_near_dup_pairs(df, max_bucket_rows=0, **kw)
        assert uncapped.count() == n * (n - 1) // 2
        # default (None) applies _DEFAULT_MAX_BUCKET_ROWS=2048 — far
        # above this bucket, so the result matches uncapped; the point
        # is it no longer means "uncapped" (guarded by the unit check
        # on the module constant below)
        assert (
            embedding_near_dup_pairs(df, **kw).count() == n * (n - 1) // 2
        )
        from timbala_spark.pipeline import dedup as _d

        assert _d._DEFAULT_MAX_BUCKET_ROWS == 2048

    @staticmethod
    def _capture_route():
        import contextlib
        import logging

        @contextlib.contextmanager
        def cm():
            records = []

            class H(logging.Handler):
                def emit(self, record):
                    records.append(record)

            logger = logging.getLogger("timbala_spark.pipeline.dedup")
            h = H()
            prev = logger.level
            logger.addHandler(h)
            logger.setLevel(logging.INFO)
            try:
                yield records
            finally:
                logger.removeHandler(h)
                logger.setLevel(prev)

        return cm()


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from timbala_spark.pipeline import connected_components

        # components: {1,2,3,4} via chain, {5,6}, singleton {7}
        nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (5, 6)], ["id_a", "id_b"]
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(nodes, edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}

    def test_chain_deeper_than_one_round(self, spark):
        from timbala_spark.pipeline import connected_components

        # a 12-node path: takes several propagation rounds
        nodes = spark.createDataFrame([(i,) for i in range(12)], ["id"])
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
        )
        got = connected_components(nodes, edges).collect()
        assert all(r["component"] == 0 for r in got)

    @pytest.mark.parametrize("threshold", [0, 100])
    def test_collect_path_matches_distributed(self, spark, threshold):
        """The bounded-collect union-find (r11) must equal the
        distributed loop on every structure: chains, outside-id
        relays, singletons.  threshold=100 collects; threshold=0 (and
        an over-threshold run below) exercises the loop."""
        from timbala_spark.pipeline import connected_components

        nodes = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 7, 9)], ["id"]
        )
        # 3-4 linked THROUGH outside id 99 (relays, never labels);
        # 7 linked only to outside 50 (component stays {7})
        edges = spark.createDataFrame(
            [(1, 2), (3, 99), (99, 4), (7, 50)], ["id_a", "id_b"]
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                nodes, edges, collect_threshold=threshold
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 3, 4: 3, 7: 7, 9: 9}
        # over-threshold edge sets fall through to the loop
        got2 = {
            r["id"]: r["component"]
            for r in connected_components(
                nodes, edges, collect_threshold=2
            ).collect()
        }
        assert got2 == got

    def test_duplicate_node_ids_one_row_per_id_both_paths(self, spark):
        """Non-distinct ``nodes`` must yield one output row per id on
        BOTH return paths — the edgeless early return used to pass
        duplicates through while the loop path normalized (r10
        ADVICE)."""
        from timbala_spark.pipeline import connected_components

        nodes = spark.createDataFrame(
            [(1,), (1,), (2,), (2,), (3,)], ["id"]
        )
        empty = spark.createDataFrame([], "id_a long, id_b long")
        got = connected_components(nodes, empty).collect()
        assert sorted((r["id"], r["component"]) for r in got) == [
            (1, 1), (2, 2), (3, 3)
        ]
        edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        got = connected_components(nodes, edges).collect()
        assert sorted((r["id"], r["component"]) for r in got) == [
            (1, 1), (2, 1), (3, 3)
        ]


class TestCurationPipeline:
    def test_near_dup_pipeline_with_exact_dups(self, spark):
        """Exact duplicates must map to their representative's cluster,
        and exactly one row per final cluster is canonical."""
        from timbala_spark.pipeline import near_dup_pipeline

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = base + " extra"
        rows = [
            (0, base),
            (1, base),          # exact dup of 0
            (2, near),          # near dup of 0 (9 shared 7-shingles... high jaccard)
            (3, "completely different words entirely unrelated text here now ok"),
            (4, "completely different words entirely unrelated text here now ok"),  # exact dup of 3
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["canonical_id"], r["is_canonical"])
            for r in near_dup_pipeline(df, threshold=0.3, n=7).collect()
        }
        assert got[0] == (0, 1)
        assert got[1] == (0, 0)   # exact dup: canonical is 0, not itself
        assert got[2] == (0, 0)   # near dup joins cluster 0
        assert got[3] == (3, 1)
        assert got[4] == (3, 0)
        assert sum(v[1] for v in got.values()) == 2  # one canonical per cluster


class TestDegenerateInputs:
    """Real corpora contain empty documents and zero vectors; none of
    them may abort a job (ANSI division) or produce contentless
    near-dup pairs. Conventions: cos(zero vector, ·) := 0 — pairs with
    nothing at practical thresholds — and shingle-/token-empty
    documents generate no near-dup candidates (byte-identical empties
    are exact_dedup's domain)."""

    @pytest.fixture(scope="class")
    def weird_docs(self, spark):
        return spark.createDataFrame(
            [
                (1, ""),
                (2, "   "),
                (3, "!!!???"),
                (4, "normal document with several words here ok"),
                (5, "normal document with several words here ok"),
            ],
            "doc_id long, text string",
        )

    @pytest.fixture(scope="class")
    def weird_embs(self, spark):
        return spark.createDataFrame(
            [
                (1, [0.0] * 8),
                (2, [1.0] + [0.0] * 7),
                (3, [1.0] + [0.0] * 7),
                (4, [0.5] * 8),
            ],
            "vec_id long, embedding array<double>",
        )

    def test_minhash_skips_unshingleable_docs(self, weird_docs):
        from timbala_spark.pipeline.dedup import minhash_lsh_pairs

        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(weird_docs, threshold=0.5).collect()
        }
        assert pairs == {(4, 5)}  # empties never pair, no abort

    def test_simhash_skips_token_empty_docs(self, weird_docs):
        from timbala_spark.pipeline.dedup import simhash_pairs

        pairs = {
            (r["id_a"], r["id_b"])
            for r in simhash_pairs(weird_docs).collect()
        }
        assert pairs == {(4, 5)}  # "" / "   " / "!!!???" share no signal

    @pytest.mark.parametrize("mode", ["exact", "blocked", "lsh"])
    def test_embedding_near_dup_zero_norm_never_pairs(
        self, weird_embs, mode
    ):
        from timbala_spark.pipeline.dedup import embedding_near_dup_pairs

        pairs = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs(
                weird_embs, threshold=0.8, mode=mode
            ).collect()
        }
        assert pairs == {(2, 3)}, mode

    def test_connected_components_convergence_guard(self, spark):
        """An exhausted max_iter must FAIL, never return a partial
        clustering as if it converged."""
        from timbala_spark.pipeline.dedup import connected_components

        n = 24
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(nodes, chain, max_iter=1)
        out = connected_components(nodes, chain).collect()  # default ok
        assert {r["component"] for r in out} == {0}

    def test_topk_with_zero_norm_vectors(self, weird_embs):
        from timbala_spark.pipeline.similarity import cosine_topk

        rows = cosine_topk(weird_embs, weird_embs, k=2).collect()
        assert len(rows) == 8  # 4 queries x k, no abort
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["cos"])
            )
        # the zero vector's similarities are all 0 by convention
        assert all(c == 0.0 for _, _, c in by_q[1])
        # and a unit vector ranks its duplicate first, zero vector last
        assert by_q[2][0][1] in (2, 3) and by_q[2][0][2] == 1.0


class TestEnsureParallelism:
    """r9: the repartition heuristic must be metadata-only and fire
    only where it helps (ADVICE r8 #1)."""

    def _analyzed(self, df):
        return df._jdf.queryExecution().analyzed().treeString()

    def test_narrow_scan_over_one_file_repartitions(self, spark, tmp_path):
        from timbala_spark.pipeline.util import ensure_parallelism

        p = str(tmp_path / "one")
        spark.range(100).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p).filter("id > 1").select("id")
        out = ensure_parallelism(df)
        assert "Repartition" in self._analyzed(out)

    def test_join_derived_small_frame_restores_parallelism(
        self, spark, tmp_path
    ):
        """AQE coalesces a small join/agg output to few partitions, so
        a CPU-heavy stage on top still needs the repartition — gated on
        the leaf file count (measured: dedup_pipeline 4.1 -> 9.2 s when
        this branch was briefly removed in r9)."""
        from timbala_spark.pipeline.util import ensure_parallelism

        p = str(tmp_path / "j")
        spark.range(100).coalesce(1).write.parquet(p)
        base = spark.read.parquet(p)
        j = base.alias("a").join(base.alias("b"), "id").select("id")
        assert len(j.inputFiles()) > 0  # leaf files, the scale proxy
        out = ensure_parallelism(j)
        assert "Repartition" in out._jdf.queryExecution().analyzed().treeString()

    def test_scan_scale_wide_frame_untouched(self, spark, tmp_path):
        """Many leaf files ⇒ scan-scale frame ⇒ no restoring shuffle
        (the 20M composition must never pay a text-wide repartition)."""
        from timbala_spark.pipeline.util import ensure_parallelism

        target = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "wide")
        spark.range(1000).repartition(target * 2).write.parquet(p)
        base = spark.read.parquet(p)
        j = base.alias("a").join(base.alias("b"), "id").select("id")
        assert len(j.inputFiles()) >= target
        assert ensure_parallelism(j) is j

    def test_in_memory_single_partition_repartitions(self, spark):
        """createDataFrame frames return [] from inputFiles(); the
        partition-count fallback (safe: no exchange in a narrow plan)
        must still repartition a 1-partition in-memory frame."""
        from timbala_spark.pipeline.util import ensure_parallelism

        mem = spark.createDataFrame([(i,) for i in range(10)], "x long").coalesce(1)
        out = ensure_parallelism(mem)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_enough_partitions_untouched(self, spark):
        from timbala_spark.pipeline.util import ensure_parallelism

        target = spark.sparkContext.defaultParallelism
        mem = spark.createDataFrame([(i,) for i in range(64)], "x long").repartition(
            target
        )
        # repartition() is itself a wide node -> untouched
        assert ensure_parallelism(mem) is mem


class TestNgramSmallCorpusGate:
    """r9: sub-64 MB corpora skip the fired-cap count job and the
    eager intermediate checkpoint; results must be identical."""

    def test_estimated_input_bytes(self, spark, tmp_path):
        from timbala_spark.pipeline.util import estimated_input_bytes

        p = str(tmp_path / "sz")
        spark.range(1000).write.parquet(p)
        df = spark.read.parquet(p)
        est = estimated_input_bytes(df)
        assert est is not None and 100 < est < 10 << 20
        # in-memory frame: unknown -> None (assume big, fail closed)
        mem = spark.createDataFrame([(1,)], "x long")
        assert estimated_input_bytes(mem) is None

    def test_small_and_big_paths_identical(self, spark, monkeypatch):
        from timbala_spark.pipeline.dedup import ngram_jaccard_pairs

        texts = [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different words in this one document here"),
            (3, "the quick brown fox jumps over the lazy dog today"),
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")

        def run():
            return sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    docs, n=3, threshold=0.2, eager=True
                ).collect()
            )

        monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", "0")
        big = run()
        # force the small path even for the in-memory frame (est=None
        # would fail closed): a huge cutoff alone does not flip it, so
        # go through a tiny parquet roundtrip instead
        monkeypatch.delenv("TIMBALA_SMALL_CORPUS_BYTES")
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            docs.write.mode("overwrite").parquet(d + "/t")
            on_disk = spark.read.parquet(d + "/t")
            small = sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    on_disk, n=3, threshold=0.2, eager=True
                ).collect()
            )
        assert big == small
        assert [p[:2] for p in big] == [(0, 1), (0, 3), (1, 3)]
        assert big[1][2] == 1.0  # exact duplicate pair
