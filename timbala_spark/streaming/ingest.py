"""Structured Streaming ingest: the remote-write path as micro-batches.

Reference flow (``internal/write/write.go:53-170``): POST /write →
decode → shard/replicate → WAL → head.  Spark-first equivalent
(SURVEY.md §2.8): a streaming source of remote-write-shaped rows →
``foreachBatch`` → dedup on (series_id, t) → append to a day-partitioned
parquet/Delta table.  Durability & replication are the storage layer's
job (checkpointing gives exactly-once per micro-batch); day partitions
mirror the reference's ``xxhash(day)+xxhash(labels)`` partition key
(``internal/cluster/cluster.go:103-106``) and give readers partition
pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..model import dedup_replicas, prepare_samples, utc_day_expr

#: JSON shape accepted on the wire — one row per (series, sample):
#: {"labels": {...}, "t": epoch_ms, "v": value}
WIRE_SCHEMA = "labels map<string,string>, t long, v double"


def parse_wire_batch(df: DataFrame) -> DataFrame:
    """Raw JSON strings (column `value`) → canonical samples."""
    parsed = df.select(
        F.from_json(F.col("value").cast("string"), WIRE_SCHEMA).alias("r")
    ).select("r.labels", "r.t", "r.v")
    return prepare_samples(parsed)


def write_samples_batch(
    samples: DataFrame,
    path: str,
    layout: str = "split",
    dedup: bool = True,
    persist: bool = False,
) -> None:
    """Write one micro-batch of canonical samples to the stored layout.

    ``layout="split"`` (default) mirrors the reference's storage split —
    per-series labels live in the index, samples in columnar chunks
    (``tsdb/head.go:1096-1116`` memSeries + inverted index) — as TWO
    parquet tables:

    * ``<path>/samples``: narrow ``(series_id, t, v)`` rows,
      day-partitioned, sorted within partitions by ``(series_id, t)``
      so series_id RLE-compresses and ``t`` delta-encodes (parquet v2
      writer). Measured on 5M synthetic remote-write samples,
      local[32]: ~2M samples/s and ~10.5 B/sample, vs ~0.3M/s and
      15 B/sample storing the label map per sample.
    * ``<path>/series``: ``(series_id, name, labels)`` — one row per
      series seen in the batch (duplicates across batches collapse at
      read; a compaction pass can rewrite the dict, same as the
      reference's head→block index flush).

    ``layout="row"`` keeps the original single-table layout (labels
    per sample) for small fixtures.

    Both tables live inside the store's CURRENT manifest generation
    once maintenance has run (``streaming.store``); a never-compacted
    store keeps the flat ``<path>/{samples,series}`` layout.
    """
    # retention-horizon write guard: rows at or below a time the store
    # has already deleted are dropped — the reference's head likewise
    # refuses appends before its minimum valid time
    # (``tsdb/head.go:1151-1169``; it errors per sample, we filter and
    # keep the batch). This is what makes ARCHIVED rollup days
    # (``compact.apply_retention`` tiers) immutable: no write can ever
    # land under one again. One comparison, pushed into the scan.
    from .store import read_min_t

    horizon = read_min_t(path)
    if horizon is not None:
        samples = samples.filter(F.col("t") >= F.lit(int(horizon)))
    if layout == "row":
        _mark_dirty(path)  # BEFORE the data lands — see below
        deduped = dedup_replicas(samples) if dedup else samples
        out = deduped.withColumn("day", utc_day_expr(F.col("t")))
        out.write.mode("append").partitionBy("day").parquet(path)
        return
    # append into the CURRENT generation (store.resolve_store): appends
    # are reader-safe (a reader's listing only ever gains files), and a
    # batch racing a maintenance commit is carried into the new
    # generation by compact_store's straggler re-list — see the
    # concurrency contract in streaming.compact
    from .store import resolve_store

    st = resolve_store(path)
    # dirty marker FIRST, data second: readers decide whether to
    # replica-collapse by checking the marker AFTER building their
    # scan (read_samples_table), so marker-before-files guarantees no
    # reader can list this batch's files under a clean marker. A
    # failed batch leaves the marker set: conservative (one spurious
    # collapse exchange), never wrong.
    _mark_dirty(path, st.dirty_marker)
    # ``persist=False`` default: materializing the wide (labels-map)
    # batch costs more than recomputing each pruned branch (measured
    # 0.33M vs 1.3M samples/s at 5M rows / 333k series). The dict
    # branch reads the PRE-dedup batch — replica dedup cannot change
    # the distinct series set — so it column-prunes to 3 columns and
    # its dropDuplicates(series_id) partial-aggregates map-side to
    # ~one row per series per partition; only the samples branch pays
    # the (series_id, t) dedup shuffle — and it dedups AFTER
    # projecting to (series_id, t, v), so the labels map never enters
    # that shuffle either (measured: the wide dedup alone cost 3.5 s
    # of the 8 s batch at 5M rows). The tradeoff flips when the batch
    # is SERIES-dominated (millions of NEW series in one batch): there
    # the partial-agg no longer collapses the dict branch, both
    # branches re-pay the canonical-labels hash over the full width,
    # and ``persist=True`` (memory-and-disk, spill-safe) computes it
    # once — measured 1.9× (47.7 → 24.5 s) on a 5M-series ×
    # 3-sample batch, same session (PERF §12). Streaming micro-batches
    # (few new series per batch) should keep the default.
    if persist:
        from pyspark import StorageLevel

        samples = samples.persist(StorageLevel.MEMORY_AND_DISK)
    narrow = samples.select("series_id", "t", "v")

    def _write_samples() -> None:
        # ONE shuffle keyed on series_id, then an in-partition
        # (series_id, t) sort serves three purposes at once: replica
        # dedup becomes a lag-window equality filter (the window's
        # clustering+sort requirements are already satisfied — no
        # second exchange, no aggregation), every series is CONTIGUOUS
        # in its output file so series_id RLE-compresses and t
        # delta-encodes for real, and row-group (series_id, t) stats
        # become tight ranges. The previous dropDuplicates((series_id,
        # t)) hash-scattered each series across all partitions, which
        # defeated the layout: measured 10.5 → 1.1 bytes/sample on the
        # 5M-row bench shape at equal wall time.
        d = narrow.repartition(F.col("series_id")).sortWithinPartitions(
            "series_id", "t"
        )
        if dedup:
            w = Window.partitionBy("series_id").orderBy("t")
            d = (
                d.withColumn("_dup", F.lag("t").over(w) == F.col("t"))
                .filter(~F.coalesce(F.col("_dup"), F.lit(False)))
                .drop("_dup")
            )
        (
            d.withColumn("day", utc_day_expr(F.col("t")))
            .write.mode("append")
            .option("parquet.writer.version", "v2")
            .partitionBy("day")
            .parquet(st.samples)
        )

    def _write_dict() -> None:
        (
            samples.select("series_id", "name", "labels")
            .dropDuplicates(["series_id"])
            .write.mode("append")
            .parquet(st.series)
        )

    # the two writes are independent jobs; submitting them from two
    # threads lets the scheduler overlap the dict's shuffle with the
    # samples write's I/O (measured ~660k → ~900k samples/s at 5M rows)
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(_write_samples), ex.submit(_write_dict)]
            for f in futs:
                f.result()  # propagate either failure
    finally:
        if persist:
            samples.unpersist()


def _mark_dirty(path: str, marker: str | None = None) -> None:
    """Touch the store's uncompacted-tail marker: batches appended
    since the last compaction may duplicate earlier (series_id, t)
    rows, so reads must replica-collapse. Touched BEFORE the batch's
    data files so no reader can list the files under a clean marker.
    Compaction leaves the NEW generation clean (it performs the same
    collapse); the marker lives inside the generation it describes, so
    marking and committing never race. A zero-byte object — works on a
    filesystem or an object store alike."""
    import os

    from .backend import get_backend
    from .store import resolve_store

    if marker is None:
        marker = resolve_store(path).dirty_marker
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    get_backend().touch_stamp(marker)


def store_is_dirty(path: str) -> bool:
    import os

    from .store import resolve_store

    return os.path.exists(resolve_store(path).dirty_marker)


def start_ingest(
    source: DataFrame,
    path: str,
    checkpoint: str,
    parse: bool = True,
    layout: str = "split",
):
    """Start a streaming ingest job writing the day-partitioned store.

    ``source`` is any streaming DataFrame: either raw JSON lines (with a
    `value` column, parse=True) or already-shaped (labels, t, v) rows.
    Returns the StreamingQuery.
    """

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        samples = parse_wire_batch(batch) if parse else prepare_samples(batch)
        write_samples_batch(samples, path, layout=layout)

    return (
        source.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _file_status_cache_enabled(spark) -> bool:
    """Whether the session FileStatusCache can pin a catalog table's
    file listing.  The bucketed read path freezes its listing by
    enumerating ``inputFiles()`` into that cache BEFORE the
    dirty-marker check; with the cache disabled
    (``spark.sql.hive.filesourcePartitionFileCacheSize=0``) or
    filesource partition management off, the freeze is a no-op and the
    table would re-list per query — so callers must fall back to the
    eager ``spark.read.parquet`` path instead (r9 ADVICE).  Unknown or
    unparsable conf values fail OPEN to the default-on behavior only
    when the key is absent entirely (stock Spark default 250 MB)."""
    try:
        if (
            spark.conf.get(
                "spark.sql.hive.manageFilesourcePartitions", "true"
            ).lower()
            != "true"
        ):
            return False
        size = spark.conf.get(
            "spark.sql.hive.filesourcePartitionFileCacheSize", "262144000"
        )
        return int(size) > 0
    except Exception:
        return False


def _bucketed_frames(spark, gdir: str, n_buckets: int):
    """Catalog-register the generation's bucketed samples/series
    tables (idempotent per session) and return their frames.

    The store is path-based, so the catalog entry is re-derived from
    the on-disk layout whenever a session first reads a bucketed
    generation: ``CREATE TABLE … CLUSTERED BY (series_id) … LOCATION``
    over the existing files (bucket ids live in the file names Spark
    itself wrote).  Names are keyed on the generation directory, so a
    maintenance commit never aliases an old table; entries die with
    the session (in-memory catalog), matching the store's
    no-durable-catalog design."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(gdir).encode()).hexdigest()[:12]
    ts, td = f"timbala_b{tag}_samples", f"timbala_b{tag}_series"
    loc_s = os.path.join(gdir, "samples")
    loc_d = os.path.join(gdir, "series")
    if not spark.catalog.tableExists(ts):
        spark.sql(
            f"CREATE TABLE `{ts}` (series_id BIGINT, t BIGINT, v DOUBLE, "
            f"day INT) USING parquet PARTITIONED BY (day) "
            f"CLUSTERED BY (series_id) SORTED BY (series_id, t) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc_s}'"
        )
        spark.catalog.recoverPartitions(ts)
    if not spark.catalog.tableExists(td):
        spark.sql(
            f"CREATE TABLE `{td}` (series_id BIGINT, name STRING, "
            f"labels MAP<STRING,STRING>) USING parquet "
            f"CLUSTERED BY (series_id) SORTED BY (series_id) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc_d}'"
        )
    return spark.table(ts), spark.table(td)


def _bucketed_rollup_frame(spark, gdir: str, w: int, n_buckets: int):
    """Catalog-register one bucketed rollup table (idempotent per
    session) and return its frame.  Schema is derived from the table's
    own parquet footer (payload columns vary by rollup version); the
    `day` partition column is declared INT to match the plain read's
    partition inference."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(gdir).encode()).hexdigest()[:12]
    name = f"timbala_b{tag}_rollup_{w}"
    loc = os.path.join(gdir, f"rollup-{w}")
    if not spark.catalog.tableExists(name):
        fields = spark.read.parquet(loc).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in fields
            if f.name != "day"
        )
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}, day INT) USING parquet "
            f"PARTITIONED BY (day) CLUSTERED BY (series_id) "
            f"SORTED BY (series_id, t) INTO {n_buckets} BUCKETS "
            f"LOCATION '{loc}'"
        )
        spark.catalog.recoverPartitions(name)
    return spark.table(name)


def read_samples_table(
    spark: SparkSession, path: str, dedup: bool | str = "auto"
) -> DataFrame:
    """Read an ingested table back in canonical shape.

    Split layout: narrow samples join the series dictionary on
    ``series_id``. The dict is orders of magnitude smaller than the
    samples (one row per series), so AQE broadcast-joins it while it
    fits (and Spark's runtime bloom filter pushes the matched
    series_ids into the samples scan when a query filters on
    name/labels); at reference scale (40M active series,
    ``docs/assumptions.md:43-48``) it grows past broadcast size and
    the same plan degrades gracefully to a shuffle join on the 8-byte
    key. Day pruning still applies to `t` filters via the partition
    column; row-group stats on the sorted ``(series_id, t)`` prune
    within files.

    ``dedup`` collapses replica resends that landed in DIFFERENT
    micro-batches (the per-batch write already dedups within a batch):
    without it a retried remote-write sample appears twice at one
    ``(series, t)`` until compaction, which the reference's store
    never exposes (tsdb append rejects duplicate timestamps; the
    fan-out read merges replicas). The collapse runs on the narrow
    ``(series_id, t, v)`` scan BEFORE the dict join, so the labels map
    never enters its shuffle, and time/day filters still push through
    the aggregate into the scan.

    The exchange is NOT free — measured 1.7-2x on wide-window stored
    queries (interleaved A/B, 10M samples: rate[7d] 1.38 vs 0.70 s) —
    and buys nothing on a just-compacted store (compaction performs
    the same collapse). ``dedup="auto"`` (default) therefore checks
    the store's ``_dirty`` marker: writes set it, ``compact_store``
    clears it, so compacted stores read exchange-free and live stores
    stay correct. Both scans capture their file listings before the
    marker check, and writers mark before their files land, so a
    clean marker proves neither listing holds an un-collapsed batch.
    Pass True/False to override the samples collapse.

    The series dictionary collapse is gated on the same marker, and
    ``dedup`` does not override it: each batch appends its own
    dictionary rows, so a dirty generation reads the dictionary
    through ``dropDuplicates(series_id, name)``, while a clean one is
    a compacted dictionary (``compact_store`` writes one row per
    series and marks dirty any generation it carries straggler
    dictionary files into) and skips that aggregate and its shuffle —
    one Spark job fewer per query.

    The read resolves and PINS the store's current generation
    (``store.resolve_store``): the returned DataFrame keeps scanning
    that generation even if a maintenance pass commits a new one
    mid-query — the reference's reader-holds-block-refs guarantee
    (``tsdb/db.go:292-330``). Re-call this function to see the new
    generation (the server rebuilds its engine on invalidation)."""
    import os

    from .store import resolve_store

    st = resolve_store(path)
    if os.path.isdir(st.samples):
        from .compact import read_bucket_meta

        gdir = os.path.dirname(st.samples)
        bmeta = read_bucket_meta(gdir)
        if bmeta and not _file_status_cache_enabled(spark):
            # The freeze below (inputFiles() before the marker check)
            # only pins the listing while the session FileStatusCache
            # holds it: with the cache disabled
            # (spark.sql.hive.filesourcePartitionFileCacheSize=0) a
            # catalog table re-lists per query, so a later append of
            # plain-named files could poison an already-returned frame
            # with INVALID_BUCKET_FILE.  Fall back to the plain path
            # scan (value-identical, just not exchange-free) rather
            # than return a frame whose stability we cannot pin
            # (r9 ADVICE).
            bmeta = None
        if bmeta:
            # bucketed generation (compact_store(bucket_by_series=N),
            # r9): register both sides as bucketed catalog tables and
            # the dict join needs NO exchange below it.  Table frames
            # are constructed (listing captured) BEFORE the marker
            # check — same marker-before-files/check-after-listing
            # discipline as the dedup path below — and a dirty store
            # (straggler carry / live appends mix plain-named files
            # into the location, which a bucketed scan must not read)
            # falls through to the ordinary path scan, which treats
            # bucket-named files as plain parquet.
            try:
                s_b, d_b = _bucketed_frames(spark, gdir, bmeta["buckets"])
                # FREEZE the file listing now, while the store is
                # about to be verified clean: catalog tables list
                # their partitions lazily per query (unlike
                # spark.read.parquet's eager index), so without this a
                # LATER append of plain-named files would poison an
                # already-returned frame's scan (INVALID_BUCKET_FILE).
                # inputFiles() enumerates every partition metadata-only
                # and populates the session file-status cache; ordered
                # BEFORE the marker check (writers mark before their
                # files land), so a clean marker below proves this
                # listing holds only the compacted bucket files.
                s_b.inputFiles(), d_b.inputFiles()
            except Exception:
                s_b = None  # registration failure → plain read
            if s_b is not None and not os.path.exists(st.dirty_marker):
                if dedup is True:
                    # explicit override: the collapse groups on a
                    # superset of the bucket key, so even this runs
                    # exchange-free on the bucketed scan
                    s_b = s_b.dropDuplicates(["series_id", "t", "day"])
                d_b = d_b.dropDuplicates(["series_id", "name"])
                return s_b.join(d_b, "series_id").select(
                    "name", "labels", "series_id", "t", "v", "day"
                )
        s = spark.read.parquet(st.samples)
        d = spark.read.parquet(st.series)
        # checked AFTER both scans above captured their file listings:
        # writers mark BEFORE their files land, so a clean marker here
        # proves the listings contain no un-collapsed batch and no
        # un-collapsed dictionary file (marker-before-files /
        # check-after-listing — the pair closes the r5 "slip one
        # batch" visibility window)
        dirty = os.path.exists(st.dirty_marker)
        if dedup == "auto":
            dedup = dirty
        if dedup:
            # day is a deterministic function of t, so adding it to the
            # dedup keys changes nothing semantically — but as a
            # grouping key the engine's day predicates push THROUGH
            # this aggregate into the scan's PartitionFilters (same
            # trick as keeping `name` a dedup key on the dict below)
            s = s.dropDuplicates(["series_id", "t", "day"])
        if dirty:
            # a clean generation's dictionary is compacted, one row per
            # series (see the docstring). Dedup on (series_id, name) —
            # name is constant per series, and keeping it a grouping
            # key lets Catalyst push `__name__` selector filters
            # through this aggregate into the dict scan (dropDuplicates
            # on series_id alone turns name into first(name), which
            # blocks pushdown)
            d = d.dropDuplicates(["series_id", "name"])
        # `day` (the physical partition column) rides along so the
        # engine's time filters can emit partition-pruning predicates
        # (compiler._base_scan) — extra columns are dropped at the
        # first aggregation/projection.
        return s.join(d, "series_id").select(
            "name", "labels", "series_id", "t", "v", "day"
        )
    out = spark.read.parquet(path).select(
        "name", "labels", "series_id", "t", "v"
    )
    if dedup == "auto":  # after the listing, same ordering rule as above
        dedup = os.path.exists(st.dirty_marker)
    return dedup_replicas(out) if dedup else out


def store_missing_rollups(path: str, resolutions_ms) -> bool:
    """True when the store's current generation lacks a committed
    rollup for any of ``resolutions_ms`` — the server's maintenance
    loop uses this (filesystem metadata only, no Spark) so enabling
    rollups on an existing clean store triggers one materializing
    pass instead of waiting for the next write to dirty it."""
    import os

    from .store import resolve_store

    st = resolve_store(path)
    if not os.path.isdir(st.samples):
        return False  # nothing to roll up yet
    gdir = os.path.dirname(st.samples)
    return any(
        not os.path.isdir(os.path.join(gdir, f"rollup-{int(w)}"))
        for w in resolutions_ms
    )


def read_rollup_tables(
    spark: SparkSession, path: str
) -> dict[int, DataFrame]:
    """The store's committed multi-aggregate rollups, in the shape
    ``Engine(rollups=...)`` takes — ``{resolution_ms: DataFrame}`` —
    or ``{}`` when none are servable.

    Exactness gate: rollups are materialized by ``compact_store`` from
    the generation's own compacted samples, so they describe the
    generation's content — UNLESS appends landed afterwards (or
    stragglers were carried over), which the ``_dirty`` marker records.
    A dirty generation returns ``{}`` and queries fall back to the raw
    path; because writers create the marker BEFORE their files land
    and the marker is only ever absent on a generation born clean, a
    clean check here proves the rollups match every file the samples
    scan can list. Cross-generation skew with a concurrently-built
    samples snapshot is also exact: a clean generation's rollups
    describe the previous generation's content post-collapse — the
    same logical view a deduped read of that generation serves.

    Narrow rollup rows join the series dictionary for name/labels,
    exactly like :func:`read_samples_table` — same broadcast/shuffle
    degradation, same pushdown through the (series_id, name) dedup,
    and ``day`` rides along for partition pruning.

    **Archive tiers survive dirtiness.** When the store has a
    retention horizon (``apply_retention`` with ``rollup_min_t_ms``
    archived rollup days whose raw samples are deleted), a DIRTY
    generation still has to serve those days — falling back to raw
    would silently drop everything below the horizon. Archived days
    are immutable (the ingest write guard rejects rows below the
    horizon), so the dirty path serves a HYBRID frame: the stored
    archive rows (``t`` < horizon, exact forever) unioned with an
    on-the-fly :func:`~timbala_spark.rollup.build_rollup_narrow` over
    the live raw samples (replica-collapsed first — the same
    ``(series_id, t)`` rule the raw read path applies), which is
    exact by construction. Dirtiness changes the physical plan, never
    the answer; the next maintenance pass restores the cheap all-
    stored path. A dirty generation with no archive keeps today's
    behavior — ``{}``, raw fallback (the on-the-fly build would add
    cost without adding data)."""
    import os

    from .store import read_min_t, resolve_store

    from .compact import read_bucket_meta

    st = resolve_store(path)
    gdir = os.path.dirname(st.samples)
    out: dict[int, DataFrame] = {}
    if st.gen == 0:
        return out
    bmeta = read_bucket_meta(gdir)
    if bmeta and not _file_status_cache_enabled(spark):
        bmeta = None  # freeze-by-cache unavailable: plain scans (r9 ADVICE)
    dirty = os.path.exists(st.dirty_marker)
    horizon = read_min_t(st.root) if dirty else None
    if dirty and horizon is None:
        return out
    try:
        entries = sorted(os.listdir(gdir))
    except FileNotFoundError:
        return out
    d = None
    for entry in entries:
        if not entry.startswith("rollup-"):
            continue
        try:
            w = int(entry.split("-", 1)[1])
        except ValueError:
            continue
        rdir = os.path.join(gdir, entry)
        if dirty:
            import datetime

            hday = datetime.datetime.fromtimestamp(
                horizon / 1000, tz=datetime.timezone.utc
            ).strftime("%Y%m%d")
            has_archive = any(
                e.startswith("day=") and e.split("=", 1)[1] < hday
                for e in os.listdir(rdir)
            )
            if not has_archive:
                continue
            from ..rollup import build_rollup_narrow

            # archive windows end at/below the day-aligned horizon
            # (W divides a day — apply_retention only archives such
            # resolutions), live raw starts at it: no overlap
            stored = spark.read.parquet(rdir).filter(
                f"t < {int(horizon)}"
            )
            # day_partitioned keeps the PHYSICAL day partition column
            # through the on-the-fly build (lag window per (series_id,
            # day) — identical output since W divides a day), so the
            # engine's day bounds prune the live raw scan instead of
            # re-scanning every live day on each routed query; both
            # union sides then carry the same parquet-inferred day type
            # replica collapse with day ALSO in the dedup keys: day is
            # a function of t, so the result is identical to
            # dedup_replicas — but Catalyst refuses to push a predicate
            # on a non-key column through a Deduplicate node, and the
            # day key is what lets the engine's day bounds reach the
            # raw scan below
            fresh = build_rollup_narrow(
                spark.read.parquet(st.samples)
                .select("series_id", "t", "v", "day")
                .dropDuplicates(["series_id", "t", "day"]),
                w,
                day_partitioned=True,
            )
            r = stored.select(*fresh.columns).unionByName(fresh)
        else:
            r = None
            if bmeta and w in (bmeta.get("rollups_bucketed") or []):
                # bucketed rollup table: exchange-free dict join below.
                # Freeze the listing, then re-check the marker (same
                # check-after-listing rule as read_samples_table) — a
                # write that raced us falls back to the plain scan,
                # which reads bucket-named files like any parquet.
                try:
                    r = _bucketed_rollup_frame(
                        spark, gdir, w, bmeta["buckets"]
                    )
                    r.inputFiles()
                    if os.path.exists(st.dirty_marker):
                        r = None
                except Exception:
                    r = None
            if r is None:
                r = spark.read.parquet(rdir)
        if d is None:
            d = None
            if bmeta and not dirty:
                try:
                    _, d = _bucketed_frames(spark, gdir, bmeta["buckets"])
                    d.inputFiles()
                    if os.path.exists(st.dirty_marker):
                        d = None
                except Exception:
                    d = None
            if d is None:
                d = spark.read.parquet(st.series)
            d = d.dropDuplicates(["series_id", "name"])
        payload = [c for c in r.columns if c not in ("series_id", "day")]
        out[w] = r.join(d, "series_id").select(
            "name", "labels", "series_id", *payload, "day"
        )
    return out


def read_fanout(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Fan-out read over several stores, merged and replica-deduped.

    The reference's query node unions every peer's local store behind
    one Querier and merge-dedups series/samples
    (``internal/fanout/fanout.go:51-79``, ``storage/fanout.go``). The
    Spark equivalent is a union of scans — Catalyst pushes
    matcher/time filters into every branch — followed by the same
    ``(series_id, t)`` collapse used at ingest. Each ``path`` may be a
    split store or a row-layout table; day partition columns survive
    the union only if every branch has them (mixed layouts degrade to
    row-group pruning)."""
    # per-branch dedup is skipped: the cross-store collapse below
    # covers within-store duplicates too (one exchange, not two)
    frames = [read_samples_table(spark, p, dedup=False) for p in paths]
    cols = set.intersection(*(set(f.columns) for f in frames))
    order = [c for c in ("name", "labels", "series_id", "t", "v", "day") if c in cols]
    out = frames[0].select(*order)
    for f in frames[1:]:
        out = out.unionByName(f.select(*order))
    return dedup_replicas(out)


def synthetic_rate_source(spark: SparkSession, rows_per_second: int = 100):
    """A demo streaming source shaped like remote-write: the built-in
    rate source mapped to (labels, t, v) rows."""
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.create_map(
            F.lit("__name__"),
            F.lit("synthetic_metric"),
            F.lit("shard"),
            (F.col("value") % 8).cast("string"),
        ).alias("labels"),
        F.expr("unix_micros(timestamp) div 1000").alias("t"),
        F.col("value").cast("double").alias("v"),
    )
