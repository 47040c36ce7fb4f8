"""Curation operators: deterministic sampling, per-group caps,
token-budget packing, PII scrubbing."""

import pytest
from pyspark.sql import functions as F

from timbala_spark.pipeline import (
    cap_per_group,
    pack_greedy,
    scrub_pii,
    stratified_sample,
)
from timbala_spark.pipeline.sample import SAMPLE_DENOM, sample_gate_expr


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"word{i} " * (i % 17 + 1), ["en", "de", "fr"][i % 3], f"src{i % 5}")
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


# ---------------------------------------------------------------- sampling
def test_stratified_sample_deterministic_and_monotone(spark, docs):
    a = stratified_sample(docs, 0.3, "doc_id", seed=7)
    b = stratified_sample(docs, 0.3, "doc_id", seed=7)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b and 0 < len(ids_a) < 600
    # monotone: a larger fraction strictly contains the smaller sample
    big = sorted(
        r.doc_id
        for r in stratified_sample(docs, 0.6, "doc_id", seed=7).select("doc_id").collect()
    )
    assert set(ids_a) <= set(big)
    # different seed ⇒ different membership (overwhelmingly likely)
    other = sorted(
        r.doc_id
        for r in stratified_sample(docs, 0.3, "doc_id", seed=8).select("doc_id").collect()
    )
    assert other != ids_a


def test_stratified_sample_rate_is_roughly_right(spark, docs):
    n = stratified_sample(docs, 0.5, "doc_id", seed=1).count()
    assert 0.35 * 600 < n < 0.65 * 600


def test_per_stratum_fractions(spark, docs):
    out = stratified_sample(
        docs, {"en": 1.0, "de": 0.0}, "doc_id", strata_col="lang", seed=3
    )
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}  # de sampled at 0, fr missing from the map → dropped
    assert out.count() == docs.filter("lang = 'en'").count()


def test_md5_gate_matches_duckdb(spark, docs):
    import duckdb

    gate = sample_gate_expr(F.col("doc_id"), seed=5, hash_algo="md5")
    got = {
        r.doc_id: r.g
        for r in docs.select("doc_id", gate.alias("g")).collect()
    }
    want = dict(
        duckdb.sql(
            f"""SELECT i, CAST('0x' || substr(md5(i || '#s5'), 1, 8) AS BIGINT)
                 % {SAMPLE_DENOM} FROM range(600) t(i)"""
        ).fetchall()
    )
    assert got == want


# ------------------------------------------------------------------- caps
def test_cap_per_group_matches_plain_window(spark, docs):
    fast = cap_per_group(docs, "source", 50, "doc_id", optimize_small_groups=True)
    plain = cap_per_group(docs, "source", 50, "doc_id")
    assert sorted(r.doc_id for r in fast.collect()) == sorted(
        r.doc_id for r in plain.collect()
    )
    # every group capped at 50, and the kept rows are the SMALLEST ids
    per = {r.source: r.n for r in fast.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(n == 50 for n in per.values())
    kept = sorted(r.doc_id for r in fast.filter("source = 'src0'").collect())
    assert kept == sorted(i for i in range(600) if i % 5 == 0)[:50]


def test_cap_per_group_small_groups_pass_through(spark, docs):
    out = cap_per_group(docs, "source", 1000, "doc_id")
    assert out.count() == 600


# ---------------------------------------------------------------- packing
def test_pack_greedy_matches_serial_prefix_sum(spark, docs):
    toks = docs.withColumn("n_tokens", F.size(F.split("text", r"\s+")) - 1)
    out = pack_greedy(toks, budget=100, token_col="n_tokens", order_col="doc_id", n_partitions=7)
    got = {
        r.doc_id: (r.token_offset, r.shard_id)
        for r in out.select("doc_id", "token_offset", "shard_id").collect()
    }
    rows = sorted(
        (r.doc_id, r.n_tokens) for r in toks.select("doc_id", "n_tokens").collect()
    )
    acc = 0
    for doc_id, n in rows:
        assert got[doc_id] == (acc, acc // 100), doc_id
        acc += n
    # shards are contiguous 0..max
    shards = sorted({s for _, s in got.values()})
    assert shards == list(range(shards[-1] + 1))


def test_pack_greedy_small_corpus_gate_is_value_identical(spark, docs, tmp_path, monkeypatch):
    """The r11 single-bucket small-corpus gate (no quantile action, no
    subtotal collect) must produce exactly the two-phase machinery's
    output.  A parquet-backed frame makes the metadata gate readable;
    env=0 disables it for the reference arm."""
    p = str(tmp_path / "docs.parquet")
    docs.withColumn(
        "n_tokens", F.size(F.split("text", r"\s+")) - 1
    ).write.parquet(p)
    toks = spark.read.parquet(p)
    small = pack_greedy(toks, 100, "n_tokens", "doc_id", n_partitions=7)
    monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", "0")
    big = pack_greedy(toks, 100, "n_tokens", "doc_id", n_partitions=7)
    cols = ["doc_id", "shard_id", "token_offset"]
    assert sorted(map(tuple, small.select(*cols).collect())) == sorted(
        map(tuple, big.select(*cols).collect())
    )


def test_pack_greedy_partition_count_invariance(spark, docs):
    toks = docs.withColumn("n_tokens", F.lit(10))
    a = pack_greedy(toks, 64, "n_tokens", "doc_id", n_partitions=3)
    b = pack_greedy(toks, 64, "n_tokens", "doc_id", n_partitions=13)
    assert sorted(map(tuple, a.select("doc_id", "shard_id", "token_offset").collect())) == sorted(
        map(tuple, b.select("doc_id", "shard_id", "token_offset").collect())
    )


# -------------------------------------------------------------------- PII
def test_scrub_pii(spark):
    rows = [
        (0, "contact me at alice.smith+x@example.co.uk or bob@test.io thanks"),
        (1, "server 192.168.0.1 answered; card 12345678901234 is stored"),
        (2, "clean text with short 123 and 1.2.3 nothing to scrub"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[0].text_scrubbed == "contact me at <EMAIL> or <EMAIL> thanks"
    assert out[0].n_pii_email == 2 and out[0].n_pii_total == 2
    assert out[1].text_scrubbed == "server <IP> answered; card <ID> is stored"
    assert (out[1].n_pii_ipv4, out[1].n_pii_idnum) == (1, 1)
    assert out[2].text_scrubbed == rows[2][1] and out[2].n_pii_total == 0
    assert out[3].text_scrubbed == "" and out[3].n_pii_total == 0


def test_scrub_pii_matches_duckdb(spark):
    """The scrub is DuckDB-replayable: same rules, same order."""
    import duckdb

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "a@b.com then 10.0.0.255 then 99999999",
                "x@y.zz.aa 1.1.1.1 777 7777777 mixed@multi.dot.tld",
                "no pii here",
                "edge 999.999.999.999 still ipv4-shaped",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text_scrubbed for r in scrub_pii(df).collect()
    }
    duckdb.sql("CREATE OR REPLACE TABLE t AS SELECT * FROM (VALUES "
               + ",".join(f"({i}, '{t}')" for i, t in rows)
               + ") v(doc_id, text)")
    want = dict(
        duckdb.sql(
            r"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                 '\b\d{7,}\b', '<ID>', 'g') FROM t"""
        ).fetchall()
    )
    assert got == want


def test_scrub_pii_fused_counts_match_per_turn_semantics(spark):
    """The fused literal-delta counts (one regex traversal per rule)
    equal the contract semantics — matches of each rule's pattern on
    that rule's PRE-IMAGE (what ``regexp_extract_all`` would count) —
    including adversarial inputs: pre-existing replacement tokens,
    spans adjacent to token fragments, and token-creating rewrites."""
    import re

    from timbala_spark.pipeline.text import PII_RULES

    texts = [
        "plain <EMAIL> already here and a real a@b.com",
        "<IP> then 10.1.2.3 then <IP> again",
        "<ID>1234567<ID> and 7654321",
        "<EMA a@b.co IL> joins around the span",
        "<x@y.zEMAIL> overlap bait",
        "a@b.c<EMAIL> trailing literal",
        "nested 1.2.3.4.5.6.7.8 runs 123456789012345",
        "<EMAIL><EMAIL> doubled, no match",
        "",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    for i, t in enumerate(texts):
        cur = t
        for name, pat, token in PII_RULES:
            want = len(re.findall(pat, cur))
            assert got[i][f"n_pii_{name}"] == want, (i, name, cur)
            cur = re.sub(pat, token, cur)
        assert got[i].text_scrubbed == cur
        assert got[i].n_pii_total == sum(
            got[i][f"n_pii_{n}"] for n, _, _ in PII_RULES
        )


# -------------------------------------------------------- full composition
def _curation_rows():
    rows = []
    for i in range(40):
        rows.append((i, "alpha beta gamma delta epsilon zeta eta theta word%d ok" % (i % 7), "en", "s%d" % (i % 2)))
    rows += [
        (100, rows[0][1], "en", "s0"),                       # exact dup of doc 0
        (101, "short", "en", "s0"),                          # fails min_tokens
        (102, "reach me a@b.com " + "tok " * 9, "en", "s1"), # PII, survives
        (103, "the quiz question text is exactly this one two three four five six seven eight nine ten eleven twelve thirteen", "en", "s0"),
    ]
    return rows


def test_curate_corpus_end_to_end(spark):
    from timbala_spark.pipeline.curate import curate_corpus

    docs = spark.createDataFrame(_curation_rows(), "doc_id long, text string, lang string, source string")
    bench = spark.createDataFrame(
        [(0, "the quiz question text is exactly this one two three four five six seven eight nine ten eleven twelve thirteen")],
        "qid long, text string",
    )
    out = curate_corpus(
        docs,
        benchmark=bench,
        min_tokens=6,
        cap_group_col="source",
        cap_max_rows=50,
        shard_budget=64,
    ).collect()
    ids = {r.doc_id for r in out}
    assert 100 not in ids          # exact duplicate removed
    assert 101 not in ids          # quality gate
    assert 103 not in ids          # decontaminated (13-gram collision)
    assert 102 in ids              # survives, scrubbed
    row102 = next(r for r in out if r.doc_id == 102)
    assert row102.text_scrubbed.startswith("reach me <EMAIL>")
    # packing columns exist and form a valid exclusive prefix sum
    got = sorted((r.doc_id, r.token_offset, r.n_tokens, r.shard_id) for r in out)
    acc = 0
    for _id, off, nt, shard in got:
        assert off == acc and shard == acc // 64
        acc += nt


def test_curate_corpus_checkpoint_arm_is_value_identical(spark, tmp_path, monkeypatch):
    """curate_corpus checkpoints the components map unless the corpus
    is under the small-corpus cut.  A parquet-backed corpus lets the
    metadata gate read a size; env=0 forces the checkpoint arm.  Both
    arms must return the same rows."""
    from timbala_spark.pipeline.curate import curate_corpus

    p = str(tmp_path / "corpus")
    spark.createDataFrame(
        _curation_rows(), "doc_id long, text string, lang string, source string"
    ).write.parquet(p)
    docs = spark.read.parquet(p)

    def run():
        out = curate_corpus(docs, min_tokens=6, shard_budget=64)
        return sorted(tuple(sorted(r.asDict().items())) for r in out.collect())

    no_checkpoint = run()
    monkeypatch.setenv("TIMBALA_SMALL_CORPUS_BYTES", "0")
    checkpoint = run()
    assert no_checkpoint == checkpoint
    ids = {dict(r)["doc_id"] for r in checkpoint}
    assert 100 not in ids and 101 not in ids and 102 in ids


def test_pack_greedy_randomized_property(spark):
    """Seeded randomized sweep: any (token distribution, budget,
    bucket count) must reproduce the serial exclusive prefix sum —
    including zero-token rows, heavy skew, and more buckets than rows."""
    import numpy as np

    rng = np.random.RandomState(11)
    for trial in range(6):
        n = int(rng.randint(1, 400))
        toks = rng.choice([0, 1, 3, 50, 700], size=n, p=[0.2, 0.3, 0.3, 0.15, 0.05])
        budget = int(rng.choice([1, 17, 256, 10_000]))
        nparts = int(rng.choice([1, 2, 5, 64]))
        df = spark.createDataFrame(
            [(int(i), int(t)) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
        )
        out = pack_greedy(df, budget, "n_tokens", "doc_id", n_partitions=nparts)
        got = {r.doc_id: (r.token_offset, r.shard_id) for r in out.collect()}
        acc = 0
        for i, t in enumerate(toks):
            assert got[i] == (acc, acc // budget), (trial, n, budget, nparts, i)
            acc += int(t)


def test_pack_greedy_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    out = pack_greedy(df, 100, "n_tokens", "doc_id")
    assert out.count() == 0
    assert {"doc_id", "n_tokens", "shard_id", "token_offset"} <= set(out.columns)


def test_scrub_pii_counts_off(spark):
    df = spark.createDataFrame([(0, "hit a@b.co and 12345678")], "doc_id long, text string")
    out = scrub_pii(df, counts=False)
    assert out.columns == ["doc_id", "text", "text_scrubbed"]
    assert out.collect()[0].text_scrubbed == "hit <EMAIL> and <ID>"


def test_scrub_pii_streaming_composes(spark, tmp_path):
    """The scrub is a stateless projection, so it must be directly
    usable on a Structured Streaming frame (no extra plumbing)."""
    src = str(tmp_path / "in")
    df = spark.createDataFrame([(0, "mail a@b.co now"), (1, "plain")], "doc_id long, text string")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        scrub_pii(stream)
        .writeStream.format("memory")
        .queryName("pii_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r.doc_id: r for r in spark.sql("select * from pii_stream_test").collect()}
    assert rows[0].text_scrubbed == "mail <EMAIL> now" and rows[0].n_pii_total == 1
    assert rows[1].n_pii_total == 0


# ------------------------------------------------- size gate under a pin
def _parquet_docs(spark, tmp_path, n=120):
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (i, f"document {i} says word{i % 7} and word{i % 11} twice here", f"d{i % 3}")
            for i in range(n)
        ],
        "doc_id long, text string, domain string",
    ).write.parquet(p)
    return spark.read.parquet(p)


def test_small_corpus_sees_through_a_pin(spark, tmp_path):
    """A pinned frame measures as its unpinned twin: the estimate reads
    the scans of the analyzed plan, which the pin's in-memory relation
    does not hide."""
    from timbala_spark.pipeline.util import (
        estimated_input_bytes,
        pin,
        release_pins,
        small_corpus,
    )

    df = _parquet_docs(spark, tmp_path).filter(F.col("doc_id") % 2 == 0)
    want, want_bytes = small_corpus(df), estimated_input_bytes(df)
    assert want and want_bytes
    # a fresh twin: a frame whose plan was already optimized keeps that
    # plan, so only a frame first planned under the pin loses its files
    pinned = pin(df.filter(F.col("doc_id") >= 0))
    try:
        assert small_corpus(pinned) == want
        assert estimated_input_bytes(pinned) == want_bytes
    finally:
        release_pins()


def test_curate_pack_on_a_small_corpus_skips_the_quantile_pass(
    spark, tmp_path, monkeypatch
):
    """``curate_corpus`` packs its pinned frame: on a small parquet
    corpus the packing takes the single-bucket arm, with no
    approxQuantile pass."""
    from timbala_spark.pipeline import curate_corpus

    cls = type(spark.range(1))
    calls = []
    quantile = cls.approxQuantile

    def spy(self, *args, **kwargs):
        calls.append(args)
        return quantile(self, *args, **kwargs)

    monkeypatch.setattr(cls, "approxQuantile", spy)
    out = curate_corpus(_parquet_docs(spark, tmp_path), shard_budget=64)
    rows = out.select("doc_id", "n_tokens", "token_offset", "shard_id").collect()
    assert rows and not calls
    # the packing is the serial exclusive prefix sum in doc_id order
    acc = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert (r.token_offset, r.shard_id) == (acc, acc // 64)
        acc += r.n_tokens
