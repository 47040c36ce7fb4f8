"""Sources: driver test tables → canonical samples.

The `events` table is the natural carrier for time-series parity checks
(FIXTURES.md §5): ``event_type → __name__``, a bucketed ``user_id`` as a
label, ``ts → t`` (epoch ms), ``value → v``.

At 100 TB these reads are plain columnar scans: only the four used
columns reach the scan (column pruning), and time/name predicates push
down to parquet row-group stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import SEP_KV, SEP_PAIR, prepare_samples

#: Number of user buckets used as the `user` label (keeps label
#: cardinality manageable and deterministic for the DuckDB oracle).
USER_BUCKETS = 8


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ``events`` table carries nanosecond parquet timestamps, which
    Spark reads only with ``spark.sql.legacy.parquet.nanosAsLong`` on:
    session setup sets it (``__spark_entry__._setup``)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def event_time_ms_expr(ev: DataFrame):
    """Epoch-ms expression for the events `ts` column, robust to it
    arriving as nanos-long (nanosAsLong), TIMESTAMP_NTZ (parquet
    isAdjustedToUTC=false under inferTimestampNTZ), or TIMESTAMP."""
    dt = dict(ev.dtypes)["ts"]
    if dt in ("bigint", "long"):
        return F.expr("ts div 1000000")
    if dt.startswith("timestamp_ntz"):
        # naive timestamps are UTC by convention; wall-clock arithmetic
        # against an NTZ epoch literal is session-tz-independent (a
        # cast to TIMESTAMP would shift non-UTC sessions by the offset)
        return F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 1000"
        )
    return F.expr("unix_micros(ts) div 1000")


def events_to_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot the events table into the canonical long format.

    Labels: ``__name__`` = event_type, ``user`` = user_id % USER_BUCKETS.
    """
    ev = load_table(spark, sf_dir, "events")
    user = (F.col("user_id") % USER_BUCKETS).cast("string")
    labels = F.create_map(
        F.lit("__name__"), F.col("event_type"), F.lit("user"), user
    )
    # `name` is the raw event_type column (not a map lookup) so that
    # engine filters on `name` push down into the parquet scan.
    # series_id: the label keys are statically known here, so build the
    # canonical string ("__name__" < "user") with plain concat —
    # whole-stage-codegen — instead of the generic per-row
    # map-sort HOFs in series_id_expr (measured 53 s → much less for a
    # 10M-row pivot; identical value to canonical_labels_sql)
    canon = F.concat(
        F.lit("__name__" + SEP_KV),
        F.col("event_type"),
        F.lit(SEP_PAIR + "user" + SEP_KV),
        user,
    )
    raw = ev.select(
        F.col("event_type").alias("name"),
        labels.alias("labels"),
        F.xxhash64(canon).alias("series_id"),
        event_time_ms_expr(ev).alias("t"),
        F.col("value").alias("v"),
    )
    return prepare_samples(raw)


#: The matching DuckDB CTE — keep in lockstep with events_to_samples().
EVENTS_SAMPLES_SQL = f"""
SELECT event_type AS name,
       CAST(user_id % {USER_BUCKETS} AS VARCHAR) AS user,
       epoch_ms(ts) AS t,
       value AS v
FROM events
"""
