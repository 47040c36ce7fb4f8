"""Shared pipeline utilities."""

from __future__ import annotations

import functools
import re
import threading

from pyspark.sql import Column, DataFrame, functions as F

#: Logical-plan nodes that imply the frame is shuffle-derived and so
#: already arrives with shuffle-partition parallelism (analyzed-plan
#: node names; Deduplicate = dropDuplicates, RepartitionByExpression =
#: repartition(cols)/hint; the FlatMap*InPandas group-map nodes are
#: applyInPandas / cogroup-apply / applyInPandasWithState — all keyed,
#: so shuffle-derived; plain mapInPandas is narrow and excluded).
#: Two narrow lookalikes are excluded on their flags:
#: `Repartition n, false` is coalesce and `Sort [...], false` is
#: sortWithinPartitions — both can leave a frame at 1 partition, so
#: only their shuffling (true) forms count.  Every alternative is
#: anchored to the NODE position — line start after tree-drawing
#: chars (`+- `, `:- `, indentation) — so attribute/alias names
#: cannot collide (a column aliased `Join` or `Window` appears inside
#: a node's bracketed argument list mid-line, never at a node slot;
#: r9 ADVICE).
_WIDE_NODE = re.compile(
    r"^[\s:+-]*(?:"
    r"(?:Join|Aggregate|Window|Distinct|Deduplicate|"
    r"RepartitionByExpression|Intersect|Except|"
    r"FlatMapGroupsInPandas(?:WithState)?|FlatMapCoGroupsInPandas)\b"
    r"|Repartition \d+, true"
    r"|Sort \[[^\n]*\], true"
    r")",
    re.M,
)


def hash64_expr(c: Column, algo: str = "xxhash64") -> Column:
    """64-bit string hash used by the sketch operators (minhash,
    simhash, winnowing fingerprint).

    * ``"xxhash64"`` — the production default: one JVM intrinsic per
      value, the fastest 64-bit mix Spark ships.
    * ``"md5"`` — the top 64 bits of md5's hex digest, assembled from
      two 32-bit halves (conv → shiftleft|or, so no 64-bit parse
      overflow). ~5× slower than xxhash64 but md5 is bit-identical in
      DuckDB, which makes every sketch operator replayable by the
      driver's SQL oracle; the contract entries use this variant.

    Both are uniform 64-bit mixes, so sketch quality is identical.
    """
    if algo == "xxhash64":
        return F.xxhash64(c)
    if algo == "md5":
        hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"unknown hash64 algo {algo!r}")

#: Each thread's pins (:func:`pin`), as (plan key, frame), in a stack
#: of lists: one per live :func:`pinning` call, innermost last, above
#: the pins of the thread's last finished call, which the lazy frame
#: it returned still reads.
#: The dict is guarded by ``_PINS_LOCK``; a stack is touched only by
#: its own thread, until the thread exits and a sweep takes it.
_PINS: dict[threading.Thread, list[list[tuple[object, DataFrame]]]] = {}
_PINS_LOCK = threading.Lock()

#: Live pins per plan, over every thread.  Frames whose plans give the
#: same result share ONE cache entry, and unpersisting any of them
#: drops it, so a pin is unpersisted only when it is the last live pin
#: of its plan.  Keyed by the analyzed plan's semantic hash: equal for
#: same-result plans, and a collision only keeps a frame cached
#: longer.  ``_LIVE_LOCK`` moves a count and its cache entry together.
_LIVE: dict[object, int] = {}
_LIVE_LOCK = threading.Lock()


def _plan_key(df) -> object:
    # a frame-like without a plan counts by identity
    h = getattr(df, "semanticHash", None)
    return id(df) if h is None else h()


def _pin_stack() -> list[list[tuple[object, DataFrame]]]:
    with _PINS_LOCK:
        return _PINS.setdefault(threading.current_thread(), [[]])


def _unpersist(frames: list[tuple[object, DataFrame]]) -> None:
    while frames:
        key, df = frames.pop()
        with _LIVE_LOCK:
            _LIVE[key] -= 1
            if _LIVE[key]:
                continue
            del _LIVE[key]
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped


def pin(df: DataFrame) -> DataFrame:
    """``persist()`` owned by the calling thread's current
    :func:`pinning` call.

    Sketch/signature stages feed several plan branches and must be
    persisted (PERF.md §7), but each pipeline result is consumed once —
    holding every call's blocks for the whole session piles up
    executor memory and GC pressure (measured: a warmed 1 s query
    degrading to 11 s after a dozen persist-leaking queries).  So the
    first pin made inside an outermost call releases the pins of the
    thread's previous call and those of threads that have exited.  A
    nested call never releases its caller's pins, and no call touches
    another live thread's, not even through a cache entry their plans
    share (:data:`_LIVE`).  A result already returned stays correct
    after its pins go: re-consuming it recomputes its lineage."""
    stack = _pin_stack()
    if len(stack) > 1:
        with _PINS_LOCK:
            gone = [_PINS.pop(t) for t in list(_PINS) if not t.is_alive()]
        for dead in gone:
            _unpersist(dead[0])
        _unpersist(stack[0])
    key = _plan_key(df)
    with _LIVE_LOCK:
        out = df.persist()
        _LIVE[key] = _LIVE.get(key, 0) + 1
    stack[-1].append((key, out))
    return out


def pinning(fn):
    """Marks a public operator that pins: the pins made inside a call,
    by it or by the calls nested in it, belong to the outermost call
    (see :func:`pin`)."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        stack = _pin_stack()
        stack.append([])
        try:
            return fn(*args, **kwargs)
        finally:
            mine = stack.pop()
            stack[-1].extend(mine)

    return call


def release_pins() -> None:
    """Unpersist the current call's pins: those made inside it and
    inside the calls it has returned from.  Outside any call, those of
    the thread's last call."""
    _unpersist(_pin_stack()[-1])


#: Shared small-corpus gate threshold (see :func:`small_corpus`).
#: 64 MB of parquet is ~150-200 MB of raw text (~100-200k typical
#: documents) or ~100M+ 64-d vectors' worth of fixed costs dominating.
SMALL_CORPUS_INPUT_BYTES = 64 << 20


def _leaf_files(df: DataFrame) -> set[str]:
    """The file paths of the frame's leaf scans, read from the ANALYZED
    plan.  ``DataFrame.inputFiles()`` reads the optimized plan, where a
    persisted subtree (a :func:`pin`) has been replaced by an in-memory
    relation that lists no files; the analyzed plan still holds the
    scans.  Metadata only: the relations' file indexes are listed when
    the frame is built, and no job runs."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: set[str] = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            files.update(leaf.relation().inputFiles())
    return files


def estimated_input_bytes(df: DataFrame) -> int | None:
    """Metadata-only size estimate: the byte sum of the frame's leaf
    scan files, read by :func:`_leaf_files` so a pinned frame measures
    as its unpinned twin.  No Spark job runs — the listing is catalog
    metadata and local ``file:`` sizes come from ``os.stat``.  Returns
    ``None`` (= "unknown, assume big") for in-memory frames, remote
    filesystems (at 100 TB the scratch machinery should stay on, and a
    driver-side remote listing is not worth the RPCs), or any error.
    Join/agg-derived frames report their LEAF files — an upper bound
    on the derived frame's bytes, which is the conservative direction
    for a small-corpus gate."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = _leaf_files(df)
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


def small_corpus(df: DataFrame) -> bool:
    """The pipeline's one corpus-size decision: ``True`` when the
    frame's leaf-scan bytes fit under :data:`SMALL_CORPUS_INPUT_BYTES`.
    Users: the n-gram and embedding fired-cap reports, the MinHash
    signature arm, the sliding-join shingle arm (n-gram/MinHash dedup,
    the incremental index, decontamination), the ``pack_greedy``
    single bucket and ``curate_corpus``'s components checkpoint.
    Env override ``TIMBALA_SMALL_CORPUS_BYTES``; 0 disables, i.e.
    never small.  Metadata-only (no job), fails CLOSED: unknown size
    ⇒ big ⇒ full machinery.  Gates PURE-ACTION work (fired-cap REPORT
    counts, the checkpoint) and result-identical PLAN-SHAPE choices —
    never anything that changes results."""
    import os

    cut = int(
        os.environ.get("TIMBALA_SMALL_CORPUS_BYTES", SMALL_CORPUS_INPUT_BYTES)
    )
    if cut <= 0:
        return False
    est = estimated_input_bytes(df)
    return est is not None and est <= cut


def ensure_parallelism(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives in fewer partitions.

    Small dimension tables often come as a single parquet file → a
    single partition → CPU-heavy per-row stages (shingling, minhash,
    simhash, vector math) run serially no matter how many cores exist.
    One cheap round-robin shuffle before the heavy map stage fixes
    that; inputs that already have enough splits are left untouched
    (no-op at 100 TB where scans produce thousands of splits).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    # Partition count WITHOUT Dataset.rdd on shuffle-derived frames:
    # under AQE, Dataset.rdd finalizes the adaptive plan, which
    # EXECUTES every upstream exchange eagerly — measured as a full
    # extra text-wide shuffle per operator call in the 20M composition
    # (PERF §20c take 8). Three metadata-safe cases:
    #
    # 1. A plan with a wide node (join/agg/window/repartition/sort):
    #    AQE may coalesce its output to a few partitions when small,
    #    so the repartition is still needed — gated on the LEAF file
    #    count as a metadata-only scale proxy (see branch below).
    # 2. A narrow plan over a file relation: inputFiles() is the split
    #    count, metadata-only.
    # 3. A narrow plan over an in-memory relation (createDataFrame /
    #    range): inputFiles() is [] — but with no exchange anywhere in
    #    the plan, rdd.getNumPartitions() plans without executing
    #    anything, so the partition count itself is safe to read.
    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:
        return df
    if _WIDE_NODE.search(tree):
        # Shuffle-derived frames do NOT reliably arrive with
        # shuffle-partition parallelism: AQE coalesces a small
        # shuffle output down to a handful of partitions, so a
        # CPU-heavy map stage on top (shingling survivors after the
        # digest join) serializes anyway — measured as dedup_pipeline
        # 4.1 → 9.2 s at sf0.1 when r9 briefly removed this branch on
        # the assumption the repartition was unneeded.  The LEAF file
        # count is the metadata-only scale proxy that keeps this
        # scale-safe: few leaf files ⇒ small frame ⇒ the restoring
        # shuffle is cheap; a scan-scale frame has many leaf files and
        # skips it (the 20M-doc composition never pays a text-wide
        # repartition here).
        try:
            n_files = len(df.inputFiles())
        except Exception:
            return df
        if 0 < n_files < target:
            return df.repartition(target)
        return df
    try:
        n_files = len(df.inputFiles())
        n = n_files if n_files > 0 else df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < n < target:
        return df.repartition(target)
    return df
