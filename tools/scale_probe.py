"""Mid-scale (sf1-equivalent) evidence for the gated scale arms
(VERDICT r11 #8): the r11 wins (winnowing minima, shingle let-bind,
MinHash codegen signatures) were proven with noop-sink micro A/Bs
because bench's count() prunes payload columns; this probe gives them
end-to-end numbers on a corpus big enough (> util.SMALL_CORPUS_INPUT_BYTES
of parquet) that every small-corpus gate takes its scale arm.

Where both arms live in HEAD behind the shared gate
(minhash_lsh_pairs signatures) the arms are A/B'd END-TO-END through
the public operator by flipping TIMBALA_SMALL_CORPUS_BYTES between
calls (huge -> small/fold arm, 0 -> scale arm), interleaved in one
session so box weather hits both.  The single-arm operators
(with_fingerprint, sliding_join_expr's default arm) are measured
end-to-end on HEAD at scale.

All timings: noop sink (guide §1.4), min of REPS interleaved runs.
Writes a markdown table to stdout; redirect into plans/.

Usage:  python tools/scale_probe.py [--docs N] [--reps K]
Env: SPARK_GRAFT_CPUS (default 32). Corpus parquet goes to a temp dir.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
GATE = "TIMBALA_SMALL_CORPUS_BYTES"


def write_docs(spark, path: str, docs: int, parts: int) -> None:
    """~300 tokens/doc from a 50k vocab, deterministic (hash-mixed id),
    mostly unique docs so pair joins stay bounded (~1.5 KB of parquet
    per doc)."""
    from pyspark.sql import functions as F

    (
        spark.range(docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(299)),
                    lambda i: F.concat(
                        F.lit("tok"),
                        (F.xxhash64(F.col("id") * 1000 + i) % 50_000),
                    ),
                ),
            ).alias("text"),
        )
        .repartition(parts)
        .write.mode("overwrite")
        .parquet(path)
    )


def main() -> None:
    docs = 120_000
    reps = 3
    args = sys.argv[1:]
    if "--docs" in args:
        docs = int(args[args.index("--docs") + 1])
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("timbala-scale-probe")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000_000).selectExpr("sum(id * 2)").collect()

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    docs_path = os.path.join(tmp, "docs")
    write_docs(spark, docs_path, docs, int(CPUS))

    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )

    print(f"# scale probe: docs={docs} ({du(docs_path)>>20} MB parquet), "
          f"gate cut=64 MB -> scale arms active by default; "
          f"local[{CPUS}], noop sink, min of {reps} interleaved reps")

    ddf = spark.read.parquet(docs_path)

    def noop_time(df) -> float:
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    def ab(label: str, mk, env_a: str, env_b: str, la: str, lb: str):
        ta, tb = [], []
        for _ in range(reps):
            os.environ[GATE] = env_a
            spark.sparkContext.setJobDescription(f"{label}:{la}")
            ta.append(noop_time(mk()))
            os.environ[GATE] = env_b
            spark.sparkContext.setJobDescription(f"{label}:{lb}")
            tb.append(noop_time(mk()))
        os.environ.pop(GATE, None)
        spark.sparkContext.setJobDescription(None)
        ra, rb = min(ta), min(tb)
        print(f"| {label} | {la} {ra:.2f}s {[round(x,2) for x in ta]} | "
              f"{lb} {rb:.2f}s {[round(x,2) for x in tb]} | "
              f"{ra/rb:.2f}x |")

    def solo(label: str, mk) -> None:
        ts = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(label)
            ts.append(noop_time(mk()))
        spark.sparkContext.setJobDescription(None)
        print(f"| {label} | min {min(ts):.2f}s of "
              f"{[round(x, 2) for x in ts]} | end-to-end (HEAD) | — |")

    print("| stage | A | B | A (fold) / B (scale arm) |")
    print("|---|---|---|---|")

    huge = str(1 << 60)  # everything "small" -> fold arms
    off = "0"            # never small -> scale arms

    # 1. minhash_lsh_pairs end-to-end: fold signatures+banding (small
    #    arm) vs codegen aggregation signatures (big arm)
    from timbala_spark.pipeline.dedup import minhash_lsh_pairs

    ab(
        "minhash_lsh_pairs (64 hashes, 5-gram)",
        lambda: minhash_lsh_pairs(ddf),
        huge, off, "fold", "codegen",
    )

    # 2. winnowing fingerprint end-to-end at scale (the r11 staged
    #    hash column; r11 micro A/B: 42.3 -> 1.69s full-eval)
    from timbala_spark.pipeline.text import with_fingerprint

    solo("with_fingerprint (winnowing, 300-tok docs)",
         lambda: with_fingerprint(ddf))

    # 3. shingle windows (sliding_join_expr let-bind, ungated; r11
    #    micro A/B: 20x on 400-token docs) — the n-gram dedup shingle
    #    stage end-to-end
    from timbala_spark.pipeline.text import sliding_join_expr, tokens_expr

    solo(
        "3-gram shingle arrays (sliding_join_expr)",
        lambda: ddf.select(
            "doc_id",
            F.array_distinct(
                sliding_join_expr(tokens_expr(F.col("text")), 3)
            ).alias("_sh"),
        ),
    )

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
