"""Store maintenance: compaction and retention for the split layout.

The reference runs a leveled compactor that merges head/small blocks
into larger time-range blocks (``tsdb/compact.go:128-167`` plan,
``:308`` Compact; timbala uses 2h/10h/50h ranges,
``cmd/timbala/main.go:153``) and enforces retention by deleting whole
expired blocks (``tsdb/db.go:47-49``; timbala sets it to infinite,
``cmd/timbala/main.go:152``). Both swaps happen under the DB lock with
readers holding block references (``tsdb/db.go:292-330`` reload), so a
query never observes a half-state.

Spark-first equivalents over the split parquet store written by
``timbala_spark.streaming.ingest``, committed through the versioned
manifest in :mod:`timbala_spark.streaming.store` (write a complete new
generation → atomically flip one manifest object → GC retired
generations lazily). That gives the same reader guarantee as the
reference without a lock: an in-flight query keeps scanning the
generation it resolved, and the rename-isn't-atomic problem on object
stores disappears (the commit is a single-key PUT).

* ``compact_store`` — streaming micro-batches append one small file
  set per batch; compaction rewrites each day partition as few large
  files, re-sorted by ``(series_id, t)`` (restoring RLE/delta
  encoding efficiency), merge-dedups samples that were re-sent across
  batches, and collapses the series dictionary to one row per series.
  On a production lakehouse this job is Delta/Iceberg ``OPTIMIZE``;
  the manifest commit here is the plain-parquet version of their log.
* ``apply_retention`` — drops whole expired day partitions, a
  metadata-only delete exactly like the reference dropping expired
  blocks (the surviving files are carried into the new generation by
  hardlink, no data bytes move). Tombstone-style row deletes are NOT
  implemented by design: the reference's delete-series API is
  disabled (panics, ``internal/api/v1/api.go:279-371``).

Concurrency contract (mirrors the reference's db.mtx discipline):
**readers are always safe** (generation pinning above, plus the
time-based GC grace in ``store.gc_store`` so a reader spanning
several commits never loses its generation); **one maintenance pass
at a time** — enforced here by the cross-process ``maintenance_lock``
flock held for the whole pass, with a manifest CAS at commit time as
the backstop (a second committer racing on a lock-less store raises
``ConcurrentCommitError`` and discards its build instead of silently
dropping the winner's straggler links); and writers should be
coordinated with maintenance — a batch that finishes its append
during the compacted rewrite is carried into the new generation by
the straggler re-list below, but a batch that lands in the old
generation *after* the final re-list and *before* its writer
re-resolves the manifest would be stranded, so the server serializes
writes against maintenance (``TimbalaServer._store_lock``). Library
callers doing their own ingest should do the same.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from ..model import utc_day_expr
from .backend import get_backend
from .store import (
    commit_manifest,
    gc_store,
    gen_dirname,
    link_files,
    list_data_files,
    maintenance_lock,
    read_min_t,
    read_settled,
    resolve_store,
    write_min_t,
    write_settled,
)


#: Generation-level marker naming the bucketed layout (JSON:
#: ``{"buckets": N}``).  Present ⇒ the generation's samples AND series
#: tables are Spark-bucketed by ``series_id`` into N buckets and the
#: read path may register them as bucketed catalog tables
#: (exchange-free dict join).  Absent ⇒ plain path-parquet layout.
BUCKET_META = "_bucketed.json"


def read_bucket_meta(gdir: str) -> dict | None:
    """The generation's bucketed-layout descriptor, or ``None``."""
    import json

    p = os.path.join(gdir, BUCKET_META)
    if not os.path.exists(p):
        return None
    try:
        return json.loads(get_backend().read_small(p))
    except Exception:
        return None


#: Auto-ladder target: ~1M series per bucket.  At the reference's 40M
#: active-series bar this lands on 64 buckets — the shape the r9/r10
#: A/Bs measured (3.28× on the name-selector dict join, PERF §12) —
#: and a store growing 100× climbs to 4096 instead of silently
#: degrading one fixed count.  Power-of-two rungs mean growth WITHIN a
#: rung keeps the count stable (incremental compaction composes: equal
#: counts ⇒ linked settled files keep valid bucket names); crossing a
#: rung triggers exactly one sanctioned full re-bucket rewrite (the
#: existing count-transition path).
AUTO_SERIES_PER_BUCKET = 1 << 20


def auto_bucket_count(n_series: int) -> int:
    """The power-of-two bucket ladder: smallest power of two keeping
    buckets at or under :data:`AUTO_SERIES_PER_BUCKET` series, clamped
    to [4, 4096] (below 4 the exchange-free join saves nothing; above
    4096 the one-file-per-bucket-per-day layout outruns any realistic
    executor count on the 100 TB target)."""
    import math

    need = max(1, math.ceil(max(0, n_series) / AUTO_SERIES_PER_BUCKET))
    n = 1 << (need - 1).bit_length()
    return max(4, min(4096, n))


def _write_bucketed(spark, df, dst, n_buckets, sort_cols, partition_day):
    """Write ``df`` as a Spark-bucketed parquet layout AT ``dst``.

    ``bucketBy`` requires ``saveAsTable``, but the store is path-based
    (no durable catalog), so the write goes through a THROWAWAY
    external table at a sibling build location whose data files — the
    bucket ids live in the FILE NAMES (``part-…_00042.c000``) — are
    then shared into ``dst`` through the backend seam and re-described
    at read time by ``ingest``'s CREATE TABLE over the final location.
    The table entry itself is session-scoped scaffolding and dropped
    immediately (external: dropping never deletes files).

    The pre-shuffle on ``(day?, pmod(hash(series_id), N))`` clusters
    each bucket of each day into one task — ``F.hash`` IS Spark's
    bucket hash (Murmur3, seed 42), so without it every write task
    would emit one file per bucket it happens to hold (tasks × buckets
    small files); with it the layout lands as ~one file per (day,
    bucket), the shape row-group pruning and the one-file-per-bucket
    sorted-scan optimization want."""
    import uuid

    from .store import link_files, list_data_files

    build = dst + ".build"
    tmp_name = "timbala_bucket_build_" + uuid.uuid4().hex
    keys = ([F.col("day")] if partition_day else []) + [
        F.pmod(F.hash("series_id"), F.lit(n_buckets))
    ]
    w = (
        df.repartition(*keys)
        .write.mode("overwrite")
        .option("parquet.writer.version", "v2")
    )
    if partition_day:
        w = w.partitionBy("day")
    (
        w.bucketBy(n_buckets, "series_id")
        .sortBy(*sort_cols)
        .option("path", build)
        .saveAsTable(tmp_name)
    )
    spark.sql(f"DROP TABLE `{tmp_name}`")
    os.makedirs(dst, exist_ok=True)
    link_files(build, list_data_files(build), dst)
    get_backend().delete_tree(build)


def compact_store(
    spark: SparkSession,
    path: str,
    gc_keep: int = 1,
    gc_grace_s: float | None = None,
    lock_timeout_s: float = 0.0,
    rollup_ms: tuple[int, ...] = (),
    bucket_by_series: int | str | None = None,
    _after_rewrite=None,
) -> None:
    """Rewrite the store as a new generation with large sorted files
    and a deduped series dictionary, then commit atomically. Safe under
    concurrent readers (they stay pinned to the old generation until
    ``gc_keep`` more commits land).

    Scale notes: ``repartitionByRange(day, series_id)`` keeps each
    output task inside one day (so ``partitionBy`` emits one file per
    task) while splitting big days across many tasks by series range —
    no single-task-per-day skew. Samples duplicated by cross-batch
    re-sends collapse via the same ``(series_id, t)`` rule as ingest
    replica dedup.

    Batches appended while the rewrite runs are *carried over*: the
    source listing is snapshotted before the read, re-listed after the
    rewrite, and any straggler files hardlink into the new generation
    (which then stays marked dirty, since stragglers may duplicate
    compacted rows — the normal read path collapses them).
    ``_after_rewrite(src)`` is a test/ops hook invoked between the
    rewrite and the straggler re-list.

    The whole pass runs under the store's cross-process
    ``maintenance_lock`` (raises ``MaintenanceLockHeldError`` if
    another maintenance pass holds it past ``lock_timeout_s``), and
    the commit is a CAS against the resolved generation — two
    committers can never both claim ``gen-N+1``.

    ``rollup_ms``: resolutions (ms) of multi-aggregate downsampled
    rollups (:mod:`timbala_spark.rollup`) to materialize as part of
    the new generation — the Thanos-compactor-downsampling analog,
    except EXACT by construction: each ``rollup-<W>/`` table is built
    from the generation's own compacted, deduped samples, so it
    describes precisely the rows the generation serves, and the read
    path (``ingest.read_rollup_tables``) refuses rollups whenever the
    generation is dirty (straggler carry-over or later appends) —
    staleness is therefore impossible, queries just fall back to raw
    until the next pass. Narrow layout (no name/labels; the dict joins
    at read), day-partitioned for the same pruning as samples.

    ``bucket_by_series``: opt-in bucketed layout (r9, PERF §12) —
    write samples AND the series dictionary Spark-bucketed by
    ``series_id`` into this many buckets (samples additionally
    day-partitioned, both sorted on the bucket key).  A clean bucketed
    generation's read path (``ingest.read_samples_table``) registers
    the tables in the session catalog and the dict join runs with ZERO
    exchanges below the join — the biggest measured read lever at the
    40M-series bar (1.75× in the prototype A/B,
    PERF §12 extension 2).  Dirty reads (straggler carry,
    post-commit appends: plain-named files mixed into the location)
    fall back to the ordinary path scan, which reads bucketed files
    like any parquet.  Incremental compaction composes only when the
    SOURCE generation is already bucketed with the same count (bucket
    assignment is deterministic in series_id, so linked untouched-day
    files keep valid bucket names); otherwise the first bucketed pass
    is a full rewrite.  ``bucket_by_series="auto"`` (r10) picks the
    count from the source series dictionary's distinct-series count on
    the power-of-two ladder (:func:`auto_bucket_count`): stable within
    a rung (incremental composes), one sanctioned full re-bucket when
    growth crosses a rung.  ``None`` (the default) writes the plain
    layout."""
    with maintenance_lock(path, timeout_s=lock_timeout_s):
        _compact_locked(
            spark,
            path,
            gc_keep,
            gc_grace_s,
            rollup_ms,
            _after_rewrite,
            bucket_by_series,
        )


def _compact_locked(
    spark, path, gc_keep, gc_grace_s, rollup_ms, _after_rewrite, buckets=None
):
    src = resolve_store(path)
    if not os.path.isdir(src.samples):
        return  # nothing written yet
    if buckets == "auto":
        # one distinct-count over the (small, dict-sized) series table
        # per maintenance pass; the ladder keeps the count stable
        # within a power-of-two rung so incremental passes compose
        buckets = auto_bucket_count(
            spark.read.parquet(src.series)
            .select("series_id")
            .distinct()
            .count()
            if os.path.isdir(src.series)
            else 0
        )
    new_gen = src.gen + 1
    gdir = os.path.join(path, gen_dirname(new_gen))
    if os.path.exists(gdir):  # crashed uncommitted attempt: discard
        get_backend().delete_tree(gdir)
    new_s, new_d = os.path.join(gdir, "samples"), os.path.join(gdir, "series")
    src_gdir = os.path.dirname(src.samples)
    snap_s = list_data_files(src.samples)
    snap_d = list_data_files(src.series)
    # incremental plan: the settled listing (store.read_settled) names
    # the files a previous rewrite produced; everything else is an
    # append, and a (series_id, t) duplicate pair always shares its
    # day (equal t ⇒ equal day), so rewriting ONLY the day partitions
    # appends touched — and hardlinking every settled file of every
    # untouched day — is exactly equivalent to the full rewrite. This
    # is the reference compactor's plan step (``tsdb/compact.go:
    # 128-167`` — it merges head/small blocks, it never rewrites
    # settled old blocks), and at 100 TB it is the difference between
    # a maintenance pass costing O(appends' days) and O(store).
    settled = read_settled(src_gdir)
    touched: set[str] | None = None  # None → full rewrite
    if settled is not None:
        days = {_rel_day(f) for f in snap_s - settled}
        if None not in days:  # un-day-partitioned file → full rewrite
            touched = days
    if buckets and touched is not None:
        # incremental + bucketed composes only when the settled files
        # already carry valid bucket names for the SAME bucket count
        # (deterministic assignment ⇒ links stay correct); a layout
        # transition forces one full rewrite
        src_meta = read_bucket_meta(src_gdir)
        if not src_meta or src_meta.get("buckets") != buckets:
            touched = None
    if touched is None:
        full = (
            spark.read.parquet(src.samples)
            .dropDuplicates(["series_id", "t"])
            .withColumn("day", utc_day_expr(F.col("t")))
        )
        if buckets:
            _write_bucketed(
                spark, full, new_s, buckets, ("series_id", "t"), True
            )
        else:
            (
                full.repartitionByRange(F.col("day"), F.col("series_id"))
                .sortWithinPartitions("series_id", "t")
                .write.mode("overwrite")
                .option("parquet.writer.version", "v2")
                .partitionBy("day")
                .parquet(new_s)
            )
    else:
        if touched:
            part = (
                spark.read.parquet(src.samples)
                .filter(F.col("day").isin([int(d) for d in touched]))
                .dropDuplicates(["series_id", "t"])
            )
            if buckets:
                _write_bucketed(
                    spark, part, new_s, buckets, ("series_id", "t"), True
                )
            else:
                (
                    part.repartitionByRange(F.col("day"), F.col("series_id"))
                    .sortWithinPartitions("series_id", "t")
                    .write.mode("overwrite")
                    .option("parquet.writer.version", "v2")
                    .partitionBy("day")
                    .parquet(new_s)
                )
        os.makedirs(new_s, exist_ok=True)
        link_files(
            src.samples,
            {f for f in settled if _rel_day(f) not in touched},
            new_s,
        )
    # the new generation's settled set: everything present BEFORE the
    # straggler re-list below (stragglers stay outside the listing, so
    # the next pass rewrites their days)
    new_settled = list_data_files(new_s)
    write_settled(gdir, new_settled)
    # the series dictionary is always fully collapsed — it is the
    # index flush (one row per series; small next to the samples even
    # at the 40M-series bar, PERF §12)
    dict_df = spark.read.parquet(src.series).dropDuplicates(["series_id"])
    if buckets:
        _write_bucketed(
            spark, dict_df, new_d, buckets, ("series_id",), False
        )
    else:
        dict_df.write.mode("overwrite").parquet(new_d)
    # archived rollup days (below the retention horizon — their raw
    # samples are GONE, the rollup rows are the only remaining record)
    # are irreplaceable DATA, unlike the rebuildable fresh part: carry
    # them into every new generation, whether or not their resolution
    # is in this pass's rollup_ms, and rebuild the fresh part for any
    # archived resolution so each committed rollup table always covers
    # the generation's full time extent (routing never sees a gap).
    horizon = read_min_t(path)
    archive: dict[int, set[str]] = {}
    if horizon is not None and os.path.isdir(src_gdir):
        hday = _day_str(horizon)
        for entry in sorted(os.listdir(src_gdir)):
            if not entry.startswith("rollup-"):
                continue
            try:
                w = int(entry.split("-", 1)[1])
            except ValueError:
                continue
            files = {
                f
                for f in list_data_files(os.path.join(src_gdir, entry))
                if (_rel_day(f) or "~") < hday
            }
            if files:
                archive[w] = files
    # which src rollups carry valid bucket file names (linking them
    # into a bucketed table stays valid only at the SAME bucket count)
    _src_bmeta = read_bucket_meta(src_gdir) or {}
    src_rb = (
        set(_src_bmeta.get("rollups_bucketed", []))
        if _src_bmeta.get("buckets") == buckets
        else set()
    )
    rollups_bucketed: list[int] = []
    for w in sorted({int(w) for w in rollup_ms} | set(archive)):
        # built from the generation's OWN compacted output (already
        # (series_id, t)-deduped above), so rollup content == served
        # content by construction; sorted like the samples for the
        # same row-group pruning
        from ..rollup import build_rollup_narrow

        # day-divisible resolutions build with the lag window split per
        # (series_id, day) — identical output, bounded window partition
        # sizes on long series, and the physical day column carries
        # through (rollup.build_rollup_narrow day_partitioned)
        divisible = DAY_MS % int(w) == 0
        rdir_src = os.path.join(src_gdir, f"rollup-{int(w)}")
        rdir_new = os.path.join(gdir, f"rollup-{int(w)}")
        if (
            touched is not None
            and divisible
            and os.path.isdir(rdir_src)
            # linking src rollup files into a bucketed table is only
            # valid when they already carry the same bucket names; a
            # layout transition rebuilds this resolution fully below
            and (not buckets or w in src_rb)
        ):
            # incremental: a day-divisible window never crosses a day
            # boundary, so untouched days' rollup rows are still exact
            # (their raw is byte-identical) — hardlink them (the
            # archive days ride this same link: they are below the
            # write horizon, hence untouchable) and rebuild only the
            # touched days from the already-compacted new samples
            if touched:
                part_r = build_rollup_narrow(
                    spark.read.parquet(new_s)
                    .filter(F.col("day").isin([int(d) for d in touched]))
                    .select("series_id", "t", "v", "day"),
                    int(w),
                    day_partitioned=True,
                )
                if buckets:
                    _write_bucketed(
                        spark, part_r, rdir_new, buckets,
                        ("series_id", "t"), True,
                    )
                else:
                    (
                        part_r.repartitionByRange(
                            F.col("day"), F.col("series_id")
                        )
                        .sortWithinPartitions("series_id", "t")
                        .write.mode("overwrite")
                        .option("parquet.writer.version", "v2")
                        .partitionBy("day")
                        .parquet(rdir_new)
                    )
            if buckets:
                rollups_bucketed.append(int(w))
            os.makedirs(rdir_new, exist_ok=True)
            link_files(
                rdir_src,
                {
                    f
                    for f in list_data_files(rdir_src)
                    if _rel_day(f) not in touched
                },
                rdir_new,
            )
            continue
        cols = ["series_id", "t", "v"] + (["day"] if divisible else [])
        full_r = build_rollup_narrow(
            spark.read.parquet(new_s).select(*cols),
            int(w),
            day_partitioned=divisible,
        )
        # archive days are linked verbatim from src (their raw is
        # gone) — bucket this resolution only when those links carry
        # valid bucket names (or there are none)
        bucket_this = bool(buckets) and (w not in archive or w in src_rb)
        if bucket_this:
            _write_bucketed(
                spark, full_r, rdir_new, buckets, ("series_id", "t"), True
            )
            rollups_bucketed.append(int(w))
        else:
            (
                full_r.repartitionByRange(F.col("day"), F.col("series_id"))
                .sortWithinPartitions("series_id", "t")
                .write.mode("overwrite")
                .option("parquet.writer.version", "v2")
                .partitionBy("day")
                .parquet(rdir_new)
            )
        if w in archive:
            # no collision with the rebuilt part: raw holds nothing
            # below the horizon (retention dropped it, the write guard
            # keeps it out), so the rebuild wrote only day >= horizon
            # partitions
            link_files(rdir_src, archive[w], rdir_new)
    if buckets:
        import json as _json

        get_backend().put_small(
            os.path.join(gdir, BUCKET_META),
            _json.dumps(
                {"buckets": buckets, "rollups_bucketed": sorted(rollups_bucketed)}
            ).encode(),
        )
    if _after_rewrite is not None:
        _after_rewrite(src)
    # straggler carry-over: appends that landed after the snapshot are
    # not in the compacted output — link them in verbatim and keep the
    # new generation dirty so reads replica-collapse them
    extras_s = list_data_files(src.samples) - snap_s
    extras_d = list_data_files(src.series) - snap_d
    link_files(src.samples, extras_s, new_s)
    link_files(src.series, extras_d, new_d)
    if extras_s or extras_d:
        get_backend().touch_stamp(os.path.join(gdir, "_dirty"))
    # commit; the compacted collapse removed every cross-batch
    # duplicate, so (absent stragglers) reads of the new generation
    # skip the replica-dedup exchange — its _dirty marker was simply
    # never created. CAS on the generation we resolved: under the
    # maintenance lock this cannot fire; on a lock-less store it turns
    # a silent lost-commit into a loud abort.
    try:
        commit_manifest(path, new_gen, expect_gen=src.gen)
    except Exception:
        get_backend().delete_tree(gdir)  # discard loser's build
        raise
    gc_store(path, keep=gc_keep, grace_s=gc_grace_s)


class RetentionRequiresCompactionError(RuntimeError):
    """Raw-day retention was requested on a DIRTY store that carries
    rollup tables: batches appended since the last compaction may hold
    rows in the doomed days that the rollups never saw, so carrying
    the rollup days forward (and archiving the expired ones) would
    freeze a view missing those rows. Compact first — the server's
    maintenance loop does exactly that ordering."""


DAY_MS = 86_400_000


def _day_str(ms: int) -> str:
    # day partition format is yyyyMMdd in UTC
    import datetime

    return datetime.datetime.fromtimestamp(
        ms / 1000, tz=datetime.timezone.utc
    ).strftime("%Y%m%d")


def _day_floor_ms(ms: int) -> int:
    """Start (epoch ms) of the UTC day containing ``ms``."""
    import datetime

    d = datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc)
    return int(
        datetime.datetime(
            d.year, d.month, d.day, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1000
    )


def _rel_day(rel: str) -> str | None:
    """``day=YYYYMMDD/part-…`` → ``YYYYMMDD`` (None for unpartitioned
    files)."""
    head = rel.split(os.sep, 1)[0]
    return head.split("=", 1)[1] if head.startswith("day=") else None


def apply_retention(
    path: str,
    min_t_ms: int,
    gc_keep: int = 1,
    gc_grace_s: float | None = None,
    lock_timeout_s: float = 0.0,
    rollup_min_t_ms: int | None = None,
) -> list[str]:
    """Drop day partitions strictly older than ``min_t_ms``.

    Whole-partition deletes only — a day straddling the cutoff is
    kept in full (the reference likewise deletes whole expired blocks,
    ``tsdb/db.go``). Returns the dropped partition names. Commits a
    new generation whose surviving files are hardlinks of the old
    ones (metadata-only, no data bytes move — on an object store the
    new manifest just lists the surviving keys), so concurrent readers
    stay pinned and never see a half-pruned store. The series
    dictionary is carried as-is; a following ``compact_store`` plus an
    anti-join against live series_ids could shrink it, but a stale
    dict entry is harmless (never matched by the samples join).

    **Rollups and retention tiers.** Rollup day partitions whose
    resolution divides a day (windows can never straddle a day
    boundary) are carried forward down to ``rollup_min_t_ms``
    (default: the raw cutoff) — the Thanos retention-tier pattern
    (``--retention.resolution-raw`` < ``--retention.resolution-1h``),
    minus the approximation: with ``rollup_min_t_ms < min_t_ms`` the
    days in between keep ONLY their exact rollup rows (the archive
    tier), so routable ``*_over_time``/rate-family dashboards still
    answer exactly over ranges whose raw samples are gone, at 1/W the
    bytes. Dropping raw days advances the store's persistent write
    horizon (``store.read_min_t``): later writes below it are rejected
    (the reference's out-of-bounds append error, ``tsdb/head.go:
    1151-1169``), which is what makes archived days immutable —
    nothing can ever dirty them again. Resolutions that do NOT divide
    a day are dropped whenever raw days drop (straddle hazard) and
    rebuilt by the next ``compact_store``. Raw-day drops on a dirty
    store that has rollup tables raise
    :class:`RetentionRequiresCompactionError` (compact first, so the
    carried rollups describe every surviving row).

    Runs under the cross-process ``maintenance_lock`` with a CAS
    commit, exactly like ``compact_store``.
    """
    if rollup_min_t_ms is not None and rollup_min_t_ms > min_t_ms:
        raise ValueError("rollup_min_t_ms must be <= min_t_ms")
    with maintenance_lock(path, timeout_s=lock_timeout_s):
        return _retention_locked(
            path, min_t_ms, gc_keep, gc_grace_s, rollup_min_t_ms
        )


def _retention_locked(path, min_t_ms, gc_keep, gc_grace_s, rollup_min_t_ms):
    cutoff = _day_str(min_t_ms)
    r_cutoff = _day_str(
        min_t_ms if rollup_min_t_ms is None else rollup_min_t_ms
    )
    src = resolve_store(path)
    if not os.path.isdir(src.samples):
        return []
    dropped = [
        entry
        for entry in sorted(os.listdir(src.samples))
        if entry.startswith("day=") and entry.split("=", 1)[1] < cutoff
    ]
    # plan the rollup carry: {dir entry: surviving rel files}
    src_gdir = os.path.dirname(src.samples)
    rollup_plan: dict[str, set[str]] = {}
    rollups_dropping = False
    for entry in sorted(os.listdir(src_gdir)):
        if not entry.startswith("rollup-"):
            continue
        try:
            w = int(entry.split("-", 1)[1])
        except ValueError:
            continue
        files = list_data_files(os.path.join(src_gdir, entry))
        if w <= 0 or DAY_MS % w:
            # windows may straddle the cutoff day — not carryable
            # across a raw drop; rebuilt from raw by the next compact
            keep = files if not dropped else set()
        else:
            keep = {
                f for f in files if (_rel_day(f) or "") >= r_cutoff
            }
        rollup_plan[entry] = keep
        rollups_dropping = rollups_dropping or keep != files
    if not dropped and not rollups_dropping:
        return []
    if dropped and rollup_plan and os.path.exists(src.dirty_marker):
        raise RetentionRequiresCompactionError(
            f"store {path!r} has uncompacted appends; compact before "
            "dropping raw days so the carried rollups stay exact"
        )
    new_gen = src.gen + 1
    gdir = os.path.join(path, gen_dirname(new_gen))
    if os.path.exists(gdir):  # crashed uncommitted attempt: discard
        get_backend().delete_tree(gdir)
    doomed = set(dropped)
    keep_rel = [
        rel
        for rel in list_data_files(src.samples)
        if rel.split(os.sep, 1)[0] not in doomed
    ]
    link_files(src.samples, keep_rel, os.path.join(gdir, "samples"))
    # retention unsettles nothing: carry the settled listing minus the
    # dropped days so the next compaction stays incremental
    settled = read_settled(src_gdir)
    if settled is not None:
        os.makedirs(gdir, exist_ok=True)
        write_settled(
            gdir,
            {f for f in settled if f.split(os.sep, 1)[0] not in doomed},
        )
    link_files(
        src.series, list_data_files(src.series), os.path.join(gdir, "series")
    )
    for entry, keep in rollup_plan.items():
        if keep:
            link_files(
                os.path.join(src_gdir, entry), keep, os.path.join(gdir, entry)
            )
    os.makedirs(os.path.join(gdir, "samples"), exist_ok=True)
    os.makedirs(os.path.join(gdir, "series"), exist_ok=True)
    # retention deletes only whole days — surviving files keep their
    # bucket layout, so the bucketed descriptor carries (without it
    # the next bucketed compaction would see a layout transition and
    # needlessly force a full rewrite; reads would fall back to plain)
    bmeta = read_bucket_meta(src_gdir)
    if bmeta is not None:
        import json as _json

        get_backend().put_small(
            os.path.join(gdir, BUCKET_META), _json.dumps(bmeta).encode()
        )
    if os.path.exists(src.dirty_marker):  # uncompacted tail survives
        get_backend().touch_stamp(os.path.join(gdir, "_dirty"))
    if dropped:
        # advance the write horizon BEFORE the commit makes the drop
        # visible: from here on, no batch can recreate a doomed day
        # (and so no archived rollup day can ever go stale)
        write_min_t(path, _day_floor_ms(min_t_ms))
    try:
        commit_manifest(path, new_gen, expect_gen=src.gen)
    except Exception:
        get_backend().delete_tree(gdir)
        raise
    gc_store(path, keep=gc_keep, grace_s=gc_grace_s)
    return dropped
