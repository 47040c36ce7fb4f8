"""Incremental near-dup index (pipeline/incremental.py): the
metamorphic contract is incremental == full rebuild.

* n-gram: processing the corpus as ANY batch sequence (probe, then
  append, per batch) yields exactly ``ngram_jaccard_pairs``'s pair set
  when the stop-shingle cap does not fire, and a SUPERSET whose extras
  are true near-dups when it does.
* MinHash: exact identity unconditionally (signatures are
  corpus-independent, no cap).
"""

import random

import pytest
from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(seed=7, n_docs=60, vocab=30, words=12, dup_every=4):
    """Synthetic corpus with planted near-dups: every ``dup_every``-th
    doc is a 1-word mutation of its predecessor."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        if i % dup_every == 1 and rows:
            toks = rows[-1][1].split()
            toks[rng.randrange(len(toks))] = f"w{rng.randrange(vocab)}"
            rows.append((i, " ".join(toks)))
        else:
            rows.append(
                (i, " ".join(f"w{rng.randrange(vocab)}" for _ in range(words)))
            )
    return rows


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def _splits(rows, k, seed):
    rng = random.Random(seed)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    cuts = sorted(rng.sample(range(1, len(rows)), k - 1)) if k > 1 else []
    out, prev = [], 0
    for c in cuts + [len(rows)]:
        out.append(shuffled[prev:c])
        prev = c
    return [b for b in out if b]


class TestNgramIncremental:
    @pytest.mark.parametrize("seed,k", [(1, 2), (2, 3), (3, 5)])
    def test_incremental_equals_full_rebuild(self, spark, tmp_path, seed, k):
        from timbala_spark.pipeline.dedup import ngram_jaccard_pairs
        from timbala_spark.pipeline.incremental import (
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=seed)
        docs = _mk_docs(spark, rows)
        # cap high enough to never fire -> exact identity required
        full = _pairs_set(
            ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_postings=10_000)
        )
        assert full, "corpus must contain planted near-dups"

        d = str(tmp_path / f"idx{seed}")
        ngram_index_build(docs.limit(0), d, n=3)
        got = set()
        for batch_rows in _splits(rows, k, seed):
            batch = _mk_docs(spark, batch_rows)
            got |= _pairs_set(
                ngram_index_probe(
                    batch, d, corpus=docs, threshold=0.2, max_postings=10_000
                )
            )
            ngram_index_append(batch, d)
        assert got == full

    def test_cap_active_incremental_is_superset(self, spark, tmp_path):
        """With a binding cap the incremental pass censors on PREFIX
        counts <= final counts: it may keep pairs the rebuild's cap
        censors, and every extra is exact-verified >= threshold."""
        from timbala_spark.pipeline.dedup import ngram_jaccard_pairs
        from timbala_spark.pipeline.incremental import (
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        # boilerplate-heavy corpus: a shared 5-token prefix pushes its
        # shingles over a tiny cap once enough docs are indexed
        rows = [
            (i, "common header tokens appear here tail%d x%d" % (i, i % 3))
            for i in range(20)
        ]
        docs = _mk_docs(spark, rows)
        full = _pairs_set(
            ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_postings=6)
        )
        d = str(tmp_path / "capidx")
        ngram_index_build(docs.limit(0), d, n=3)
        got = set()
        for batch_rows in _splits(rows, 4, seed=11):
            batch = _mk_docs(spark, batch_rows)
            got |= _pairs_set(
                ngram_index_probe(
                    batch, d, corpus=docs, threshold=0.1, max_postings=6
                )
            )
            ngram_index_append(batch, d)
        assert got >= full
        # extras are genuine near-dups: verify is exact on both paths
        assert all(j >= 0.1 for (_, _, j) in got - full)
        # and with the cap off, incremental == full == the superset cap
        uncapped = _pairs_set(
            ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_postings=10_000)
        )
        assert got <= uncapped

    def test_probe_cost_reads_only_candidate_texts(self, spark, tmp_path):
        """The probe must not re-shingle the corpus: its plan touches
        the corpus table only under the candidate semi-join (ids-only
        reduction), never as a full shingle pass."""
        from timbala_spark.pipeline.incremental import (
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=5)
        docs = _mk_docs(spark, rows)
        corpus_path = str(tmp_path / "corpus")
        docs.write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        d = str(tmp_path / "idx")
        ngram_index_build(corpus, d, n=3)
        batch = _mk_docs(spark, [(1000, rows[0][1])])
        out = ngram_index_probe(batch, d, corpus=corpus, threshold=0.2)
        plan = out._jdf.queryExecution().optimizedPlan().treeString()
        # the corpus parquet appears in the plan solely for the
        # candidate text lookup: every scan of it sits under the
        # LeftSemi reduction, so no corpus-wide shingle pass exists
        assert "LeftSemi" in plan
        # and the probe finds the planted exact copy of doc 0
        pairs = _pairs_set(out)
        assert (0, 1000, 1.0) in pairs

    def test_reconcile_compacts_and_drops_deleted(self, spark, tmp_path):
        from timbala_spark.pipeline.incremental import (
            _read_meta,
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
            ngram_index_reconcile,
        )

        rows = _corpus(seed=9)
        docs = _mk_docs(spark, rows)
        d = str(tmp_path / "idx")
        ngram_index_build(docs, d, n=3)
        ngram_index_append(_mk_docs(spark, [(999, rows[0][1])]), d)
        assert _read_meta(d)["appended_batches"] == 1
        # drop doc 999 from the lake, reconcile: its postings vanish
        ngram_index_reconcile(docs, d)
        meta = _read_meta(d)
        assert meta["generation"] == 1 and meta["appended_batches"] == 0
        probe = ngram_index_probe(
            _mk_docs(spark, [(1000, rows[0][1])]), d, corpus=docs, threshold=0.2
        )
        ids = {r["id_a"] for r in probe.collect()} | {
            r["id_b"] for r in probe.collect()
        }
        assert 999 not in ids and 0 in ids

    def test_param_mismatch_raises(self, spark, tmp_path):
        from timbala_spark.pipeline.incremental import (
            _check_params,
            _read_meta,
            minhash_index_probe,
            ngram_index_build,
        )

        docs = _mk_docs(spark, _corpus())
        d = str(tmp_path / "idx")
        ngram_index_build(docs, d, n=3)
        with pytest.raises(ValueError, match="kind mismatch"):
            minhash_index_probe(docs, d, corpus=docs)
        with pytest.raises(ValueError, match="parameter mismatch"):
            _check_params(_read_meta(d), "ngram", n=5)

    def test_missing_corpus_text_fails_loudly(self, spark, tmp_path):
        """A candidate whose text the corpus frame does not cover must
        raise, not silently drop the pair (guarded LEFT join)."""
        from timbala_spark.pipeline.incremental import (
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=13)
        docs = _mk_docs(spark, rows)
        d = str(tmp_path / "idx")
        ngram_index_build(docs, d, n=3)
        batch = _mk_docs(spark, [(1000, rows[0][1])])
        empty_corpus = docs.filter(F.lit(False))
        # the guard may fire in a task (converted to
        # SparkRuntimeException) or inside a broadcast-build thread
        # (surfacing as a raw Py4JJavaError) depending on where AQE
        # places the verify join — accept either, match the message
        with pytest.raises(Exception, match="has no text"):
            ngram_index_probe(
                batch, d, corpus=empty_corpus, threshold=0.2
            ).collect()


class TestReplayDegrees:
    def test_replayed_probe_sees_first_run_degrees(self, spark, tmp_path):
        """A foreachBatch replay probes AFTER the crash-interrupted
        run already appended the batch's postings.  The probe must
        anti-join the batch's own ids out of the matched index rows:
        otherwise the batch's shingles count twice in the global
        degree (once from the index replay, once from the batch side)
        and shingles near the cap are spuriously censored ONLY on the
        replay, changing the survivor set (r9 ADVICE, medium)."""
        from timbala_spark.pipeline.incremental import (
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        t = "alpha beta gamma delta"  # 2 3-shingles, shared by all
        indexed = _mk_docs(spark, [(i, t) for i in range(3)])
        batch = _mk_docs(spark, [(10 + i, t) for i in range(4)])
        corpus = indexed.unionByName(batch)
        d = str(tmp_path / "idx")
        ngram_index_build(indexed, d, n=3)
        # cap 8: first-run global degree is 3 (index) + 4 (batch) = 7,
        # under the cap; a replay double-counting the batch would see
        # 7 + 4 = 11 and censor every shingle, losing all pairs
        kw = dict(corpus=corpus, threshold=0.5, max_postings=8)
        first = _pairs_set(ngram_index_probe(batch, d, **kw))
        assert len(first) == 3 * 4 + 6  # cross + within, all jaccard 1
        ngram_index_append(batch, d, batch_tag="b0")
        replay = _pairs_set(ngram_index_probe(batch, d, **kw))
        assert replay == first


class TestMinHashIncremental:
    @pytest.mark.parametrize("seed,k", [(4, 2), (5, 4)])
    def test_incremental_equals_full_rebuild(self, spark, tmp_path, seed, k):
        from timbala_spark.pipeline.dedup import minhash_lsh_pairs
        from timbala_spark.pipeline.incremental import (
            minhash_index_append,
            minhash_index_build,
            minhash_index_probe,
        )

        rows = _corpus(seed=seed, n_docs=40)
        docs = _mk_docs(spark, rows)
        full = _pairs_set(
            minhash_lsh_pairs(
                docs, n=3, num_hashes=32, bands=16, threshold=0.2
            )
        )
        assert full
        d = str(tmp_path / f"mh{seed}")
        minhash_index_build(
            docs.limit(0), d, n=3, num_hashes=32, bands=16, threshold=0.2
        )
        got = set()
        for batch_rows in _splits(rows, k, seed):
            batch = _mk_docs(spark, batch_rows)
            got |= _pairs_set(
                minhash_index_probe(batch, d, corpus=docs, threshold=0.2)
            )
            minhash_index_append(batch, d)
        assert got == full


def _vec_rows(seed=3, n=60, dim=8, dup_every=4):
    """Synthetic embeddings with planted near-dups: every
    ``dup_every``-th vector is a tiny perturbation of its
    predecessor (cos ≈ 1)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i % dup_every == 1 and rows:
            v = [x + rng.uniform(-0.01, 0.01) for x in rows[-1][1]]
        else:
            v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    return rows


def _mk_vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cos_pairs_set(df):
    return {(r["id_a"], r["id_b"], round(r["cos"], 9)) for r in df.collect()}


_EMB_KW = dict(dim=8, n_planes=4, n_tables=8, seed=42)


class TestEmbeddingIncremental:
    @pytest.mark.parametrize("seed,k", [(6, 2), (7, 4)])
    def test_incremental_equals_full_rebuild(self, spark, tmp_path, seed, k):
        """Signatures are corpus-independent, so with the bucket cap
        off the incremental union is EXACTLY the batch operator's LSH
        pair set — no prefix caveat (VERDICT r9 task 1)."""
        from timbala_spark.pipeline.dedup import embedding_near_dup_pairs
        from timbala_spark.pipeline.incremental import (
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
        )

        rows = _vec_rows(seed=seed)
        vecs = _mk_vecs(spark, rows)
        full = _cos_pairs_set(
            embedding_near_dup_pairs(
                vecs, threshold=0.8, mode="lsh", max_bucket_rows=0, **_EMB_KW
            )
        )
        assert full, "corpus must contain planted near-dups"

        d = str(tmp_path / f"emb{seed}")
        embedding_index_build(vecs.limit(0), d, **_EMB_KW)
        got = set()
        for batch_rows in _splits(rows, k, seed):
            batch = _mk_vecs(spark, batch_rows)
            got |= _cos_pairs_set(
                embedding_index_probe(
                    batch, d, corpus=vecs, threshold=0.8, max_bucket_rows=None
                )
            )
            embedding_index_append(batch, d)
        assert got == full

    def test_width_mismatch_raises_not_degenerates(self, spark, tmp_path):
        """A vector whose width disagrees with the index dim must FAIL
        LOUDLY at build/append/probe (r10 ADVICE): zip_with null-pads
        the mismatch, so without the guard every plane dot is NULL,
        every signature collapses to bucket 0, and the bucket cap then
        silently censors the one giant cell — recall loss with no
        error."""
        from timbala_spark.pipeline.incremental import (
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
        )

        good = _mk_vecs(spark, _vec_rows(seed=5, n=10))
        bad = _mk_vecs(spark, [(100, [0.1, 0.2, 0.3])])  # 3-wide, dim=8
        d = str(tmp_path / "embdim")
        with pytest.raises(Exception, match="components, index dim"):
            embedding_index_build(bad, d, **_EMB_KW)
        embedding_index_build(good, d, **_EMB_KW)
        with pytest.raises(Exception, match="components, index dim"):
            embedding_index_append(bad, d)
        with pytest.raises(Exception, match="components, index dim"):
            embedding_index_probe(
                bad, d, corpus=good, threshold=0.8
            ).collect()
        # NULL vectors fail the same guard (size(NULL) is NULL,
        # failing the width equality)
        null_vec = spark.createDataFrame(
            [(101, None)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="components, index dim"):
            embedding_index_append(null_vec, d)

    def test_cap_active_incremental_is_superset(self, spark, tmp_path):
        """A binding bucket cap censors on PREFIX cell sizes <= final
        sizes: the incremental union may keep pairs the rebuild's cap
        censors, every extra exact-cosine verified."""
        from timbala_spark.pipeline.dedup import embedding_near_dup_pairs
        from timbala_spark.pipeline.incremental import (
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
        )

        # duplicate-heavy: 24 near-copies of one vector land in one
        # (table, bucket) cell per table and blow a tiny cap
        rng = random.Random(17)
        base = [rng.uniform(-1.0, 1.0) for _ in range(8)]
        rows = [
            (i, [x + rng.uniform(-0.005, 0.005) for x in base])
            for i in range(24)
        ]
        vecs = _mk_vecs(spark, rows)
        kw = dict(threshold=0.9, **_EMB_KW)
        full_capped = _cos_pairs_set(
            embedding_near_dup_pairs(
                vecs, mode="lsh", max_bucket_rows=10, **kw
            )
        )
        uncapped = _cos_pairs_set(
            embedding_near_dup_pairs(vecs, mode="lsh", max_bucket_rows=0, **kw)
        )
        d = str(tmp_path / "embcap")
        embedding_index_build(vecs.limit(0), d, **_EMB_KW)
        got = set()
        for batch_rows in _splits(rows, 4, seed=19):
            batch = _mk_vecs(spark, batch_rows)
            got |= _cos_pairs_set(
                embedding_index_probe(
                    batch, d, corpus=vecs, threshold=0.9, max_bucket_rows=10
                )
            )
            embedding_index_append(batch, d)
        assert got >= full_capped
        assert got <= uncapped
        assert all(c >= 0.9 for (_, _, c) in got - full_capped)

    def test_replayed_probe_matches_first_run(self, spark, tmp_path):
        """Probe-after-append (a foreachBatch replay) must reproduce
        the pre-append probe exactly — own-id anti-join + prefix cap
        degrees, same contract as the n-gram probe."""
        from timbala_spark.pipeline.incremental import (
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
        )

        rows = _vec_rows(seed=23, n=40)
        vecs = _mk_vecs(spark, rows)
        idx_rows, batch_rows = rows[:20], rows[20:]
        d = str(tmp_path / "embreplay")
        embedding_index_build(_mk_vecs(spark, idx_rows), d, **_EMB_KW)
        batch = _mk_vecs(spark, batch_rows)
        kw = dict(corpus=vecs, threshold=0.8, max_bucket_rows=25)
        first = _cos_pairs_set(embedding_index_probe(batch, d, **kw))
        embedding_index_append(batch, d, batch_tag="b0")
        assert _cos_pairs_set(embedding_index_probe(batch, d, **kw)) == first

    def test_reconcile_and_param_guards(self, spark, tmp_path):
        from timbala_spark.pipeline.incremental import (
            _check_params,
            _read_meta,
            embedding_index_append,
            embedding_index_build,
            embedding_index_probe,
            embedding_index_reconcile,
            ngram_index_probe,
        )

        rows = _vec_rows(seed=29, n=30)
        vecs = _mk_vecs(spark, rows)
        d = str(tmp_path / "embrec")
        embedding_index_build(vecs, d, **_EMB_KW)
        # a deleted vector's signatures vanish on reconcile
        embedding_index_append(_mk_vecs(spark, [(999, rows[0][1])]), d)
        embedding_index_reconcile(vecs, d)
        meta = _read_meta(d)
        assert meta["generation"] == 1 and meta["appended_batches"] == 0
        probe = embedding_index_probe(
            _mk_vecs(spark, [(1000, rows[0][1])]), d, corpus=vecs,
            threshold=0.99,
        )
        ids = set()
        for r in probe.collect():
            ids |= {r["id_a"], r["id_b"]}
        assert 999 not in ids and 0 in ids
        # kind/param guards
        with pytest.raises(ValueError, match="kind mismatch"):
            ngram_index_probe(
                _mk_docs(spark, [(1, "a b c")]), d, corpus=None
            )
        with pytest.raises(ValueError, match="parameter mismatch"):
            _check_params(_read_meta(d), "embedding", n_planes=5)


class TestTaggedAppend:
    def test_tagged_append_is_idempotent(self, spark, tmp_path):
        """A replayed per-batch append (same tag) must overwrite, not
        duplicate — duplicated postings would inflate probe degree
        counts and spuriously censor shingles near the cap (r9
        self-review finding)."""
        from timbala_spark.pipeline.incremental import (
            _gen_dir,
            _read_meta,
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=21)
        docs = _mk_docs(spark, rows)
        d = str(tmp_path / "idx")
        ngram_index_build(docs.limit(0), d, n=3)

        def n_postings():
            g = _gen_dir(d, _read_meta(d)["generation"])
            return (
                spark.read.schema("doc_id long, s long")
                .option("recursiveFileLookup", "true")
                .parquet(g)
                .count()
            )

        ngram_index_append(docs, d, batch_tag="b0")
        first = n_postings()
        assert first > 0
        ngram_index_append(docs, d, batch_tag="b0")  # replay
        assert n_postings() == first
        # a DIFFERENT tag really appends
        more = _mk_docs(spark, [(1000, rows[0][1])])
        ngram_index_append(more, d, batch_tag="b1")
        assert n_postings() > first
        # and probes see tagged postings (recursive read)
        pairs = _pairs_set(
            ngram_index_probe(
                _mk_docs(spark, [(2000, rows[0][1])]),
                d,
                corpus=docs.unionByName(more),
                threshold=0.2,
            )
        )
        assert any(a == 0 and b == 2000 for a, b, _ in pairs)
        assert any(a == 1000 and b == 2000 for a, b, _ in pairs)


class TestIndexCompact:
    def test_compact_folds_appends_probe_identical(self, spark, tmp_path):
        """index_compact consolidates append-<tag> dirs into one
        generation WITHOUT recomputing signatures: probe results are
        identical before and after, the generation advances, and the
        append dirs are gone."""
        import os

        from timbala_spark.pipeline.incremental import (
            _gen_dir,
            _read_meta,
            index_compact,
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=31)
        docs = _mk_docs(spark, rows)
        d = str(tmp_path / "idx")
        ngram_index_build(docs.limit(0), d, n=3)
        for k in range(3):
            ngram_index_append(
                _mk_docs(spark, rows[k * 20 : (k + 1) * 20]),
                d,
                batch_tag=f"b{k}",
            )
        probe = _mk_docs(spark, [(1000, rows[0][1])])
        before = _pairs_set(
            ngram_index_probe(probe, d, corpus=docs, threshold=0.2)
        )
        assert before
        index_compact(spark, d)
        meta = _read_meta(d)
        assert meta["generation"] == 1 and meta["appended_batches"] == 0
        gen = _gen_dir(d, 1)
        assert not any(e.startswith("append-") for e in os.listdir(gen))
        after = _pairs_set(
            ngram_index_probe(probe, d, corpus=docs, threshold=0.2)
        )
        assert after == before

    def test_replay_after_compact_is_neutralized(self, spark, tmp_path):
        """A tagged append replayed AFTER its dir was folded duplicates
        its rows in the generation; probes must dedup matched index
        rows so degrees (and candidates) match the duplicate-free
        index, and the next compact collapses the rows for good."""
        from timbala_spark.pipeline.incremental import (
            index_compact,
            ngram_index_append,
            ngram_index_build,
            ngram_index_probe,
        )

        t = "alpha beta gamma delta"
        indexed = _mk_docs(spark, [(i, t) for i in range(3)])
        batch = _mk_docs(spark, [(10 + i, t) for i in range(4)])
        corpus = indexed.unionByName(batch)
        d = str(tmp_path / "idx")
        ngram_index_build(indexed.limit(0), d, n=3)
        ngram_index_append(indexed, d, batch_tag="b0")
        ngram_index_append(batch, d, batch_tag="b1")
        index_compact(spark, d)
        # replay b1 post-compact: its rows now exist twice on disk
        ngram_index_append(batch, d, batch_tag="b1")
        probe = _mk_docs(spark, [(100, t)])
        # cap 9: true global degree is 7 (index) + 1 (probe batch) = 8;
        # double-counted b1 rows would read 12 and censor everything
        got = _pairs_set(
            ngram_index_probe(
                probe, d, corpus=corpus.unionByName(probe),
                threshold=0.5, max_postings=9,
            )
        )
        assert len(got) == 7  # one probe doc pairs with all 7 indexed
        # and the next compact collapses the duplicates physically
        index_compact(spark, d)
        n_rows = (
            spark.read.schema("doc_id long, s long")
            .option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / "idx" / "gen-2"))
            .count()
        )
        assert n_rows == 7 * 2  # 7 docs x 2 distinct 3-shingles


class TestBatchBroadcastOff:
    """The large-batch degradation path (batch_broadcast=False: the
    index join becomes a plain hash join of ≤24 B rows instead of a
    broadcast map-side join) must be value-identical — it is the same
    logical plan with a different physical strategy."""

    def test_ngram_and_embedding_identical(self, spark, tmp_path):
        from timbala_spark.pipeline.incremental import (
            embedding_index_build,
            embedding_index_probe,
            ngram_index_build,
            ngram_index_probe,
        )

        rows = _corpus(seed=37)
        docs = _mk_docs(spark, rows)
        d = str(tmp_path / "idx")
        ngram_index_build(docs, d, n=3)
        batch = _mk_docs(spark, [(1000, rows[0][1]), (1001, rows[4][1])])
        kw = dict(corpus=docs.unionByName(batch), threshold=0.2)
        on = _pairs_set(ngram_index_probe(batch, d, **kw))
        off = _pairs_set(
            ngram_index_probe(batch, d, batch_broadcast=False, **kw)
        )
        assert on and on == off

        vrows = _vec_rows(seed=41, n=40)
        vecs = _mk_vecs(spark, vrows)
        dv = str(tmp_path / "vidx")
        embedding_index_build(vecs, dv, **_EMB_KW)
        vbatch = _mk_vecs(spark, [(1000, vrows[0][1]), (1001, vrows[8][1])])
        vkw = dict(corpus=vecs.unionByName(vbatch), threshold=0.99)
        von = _cos_pairs_set(embedding_index_probe(vbatch, dv, **vkw))
        voff = _cos_pairs_set(
            embedding_index_probe(vbatch, dv, batch_broadcast=False, **vkw)
        )
        assert von and von == voff


    @pytest.mark.parametrize("kind", ["ngram", "minhash", "embedding"])
    def test_each_kind_identical(self, spark, tmp_path, kind):
        """The fast sibling of the test above, over every index kind
        on ≤40-row inputs: broadcast on == off, with pairs to find."""
        from timbala_spark.pipeline import incremental as inc

        if kind == "embedding":
            rows = _vec_rows(seed=41, n=32)
            mk, pairs, thr, build_kw = _mk_vecs, _cos_pairs_set, 0.99, _EMB_KW
        else:
            rows = _corpus(seed=37, n_docs=32)
            mk, pairs, thr = _mk_docs, _pairs_set, 0.2
            build_kw = dict(n=3)
            if kind == "minhash":
                build_kw.update(num_hashes=32, bands=16)
        corpus = mk(spark, rows)
        d = str(tmp_path / kind)
        getattr(inc, f"{kind}_index_build")(corpus, d, **build_kw)
        probe = getattr(inc, f"{kind}_index_probe")
        batch = mk(spark, [(1000, rows[0][1]), (1001, rows[8][1])])
        kw = dict(corpus=corpus.unionByName(batch), threshold=thr)
        on = pairs(probe(batch, d, **kw))
        off = pairs(probe(batch, d, batch_broadcast=False, **kw))
        assert on and on == off


class TestEmbeddingProbePlan:
    def test_probe_reads_only_candidate_vectors(self, spark, tmp_path):
        """The embedding probe must not re-sign or re-read the corpus:
        its plan touches the corpus table only under the candidate
        semi-join reduction (the vector twin of the ngram plan gate)."""
        from timbala_spark.pipeline.incremental import (
            embedding_index_build,
            embedding_index_probe,
        )

        rows = _vec_rows(seed=43, n=50)
        vecs = _mk_vecs(spark, rows)
        corpus_path = str(tmp_path / "corpus")
        vecs.write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        d = str(tmp_path / "idx")
        embedding_index_build(corpus, d, **_EMB_KW)
        batch = _mk_vecs(spark, [(1000, rows[0][1])])
        out = embedding_index_probe(batch, d, corpus=corpus, threshold=0.99)
        plan = out._jdf.queryExecution().optimizedPlan().treeString()
        assert "LeftSemi" in plan
        pairs = _cos_pairs_set(out)
        assert any(a == 0 and b == 1000 for a, b, _ in pairs)
