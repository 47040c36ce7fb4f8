"""Continuous downsampling: event-time windowed aggregation with a
watermark for late data.

The reference has no streaming aggregation — rollups happen at query
time (rate/avg_over_time) or via recording rules. At 100 TB a raw
store plus query-time rollups makes every dashboard query re-scan raw
samples, so the Spark-native extension is a continuous downsampler:
``readStream`` of wire samples → watermarked event-time windows → one
aggregate row per (series, window), appended to a rollup table that
the engine queries exactly like raw samples (it IS canonical samples,
with the window-end timestamp — the convention recording rules use).

Late data: rows later than ``late`` behind the stream's max event
time are dropped once their window has been finalized — the
watermark contract of Structured Streaming. The reference's batch
ingest accepts arbitrarily late samples (documented semantic upgrade
in ``model.prepare_samples``); streaming rollups cannot hold windows
open forever, so the tolerance is explicit here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: supported rollup aggregates → column expression factories
_AGGS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def streaming_downsample(
    samples: DataFrame,
    window: str = "1 minute",
    late: str = "5 minutes",
    agg: str = "avg",
    record_suffix: str = ":rollup",
) -> DataFrame:
    """Downsample a streaming canonical-samples frame.

    ``samples``: streaming DataFrame in canonical shape (``name``,
    ``labels``, ``series_id``, ``t`` epoch-ms, ``v``) — e.g.
    ``parse_wire_batch``'s output shape applied on a stream.

    Returns a streaming DataFrame in canonical shape: one row per
    (series, window) with ``t`` = window end (exclusive bound, the
    recording-rule convention), ``name`` suffixed so rollups never
    collide with raw series. Use ``outputMode("append")`` — rows emit
    exactly once, when the watermark passes the window.

    Scale notes: the aggregation state is keyed by
    (series_id, window) — constant-size per key, partial-aggregated
    map-side; state size is bounded by active series × windows within
    the lateness horizon, and the watermark reaps finalized windows.
    """
    if agg not in _AGGS:
        raise ValueError(f"unsupported agg {agg!r}; one of {sorted(_AGGS)}")
    win = F.window(F.col("event_time"), window)
    out = (
        samples.withColumn("event_time", F.timestamp_millis(F.col("t")))
        .withWatermark("event_time", late)
        .groupBy(win, F.col("series_id"))
        .agg(
            _AGGS[agg]("v").cast("double").alias("v"),
            F.first("name").alias("_name"),
            F.first("labels").alias("_labels"),
        )
    )
    from ..model import series_id_expr, sql_quote

    name = f"concat(_name, {sql_quote(record_suffix)})"
    labels = (
        "map_concat(map_filter(_labels, (k, v) -> k != '__name__'), "
        f"map('__name__', {name}))"
    )
    return out.select(
        F.expr(name).alias("name"),
        F.expr(labels).alias("labels"),
        # identity derives from the rollup's own label set (suffixed
        # name), not the raw series — rollup and raw series never alias
        series_id_expr(labels).alias("series_id"),
        F.expr("unix_micros(window.end) div 1000").alias("t"),
        F.col("v"),
    )
