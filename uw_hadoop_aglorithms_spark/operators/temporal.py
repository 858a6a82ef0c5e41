"""Temporal operators: session windows and as-of join.

Neither exists in the reference (its streaming is fixed tumbling windows,
its joins all equi-joins — SURVEY.md §2.3/§2.10); both are table-stakes
for an events pipeline, so the engine supplies them Spark-first:

- user_sessions — `F.session_window` (native Structured-Streaming-
  compatible sessionization; the `sessions` query body is shared with
  streaming/runner.stream_user_sessions). The DuckDB oracle derives the
  same sessions relationally (lag → gap ≥ GAP → cumulative-sum session
  ids), which is also exactly how a pre-3.2 Spark would implement it.
- asof_last_order — as-of join (each event matched to the most recent
  order of the same customer at-or-before the event time). Spark has no
  ASOF JOIN; the scalable composition is the union trick: tag both
  streams, sort within user by (time, tag), and carry the last order
  forward with `last(..., ignorenulls=True)` over a running window —
  one shuffle on the join key, no range-explosion join. The oracle is
  DuckDB's NATIVE `ASOF LEFT JOIN`, so the composition is checked
  against a first-class implementation.

Scale: both are single-shuffle-by-key window plans. Sessions at 100 TB
partition by user; the as-of union shuffles |events|+|orders| rows once.
Per-user event counts bound the window partitions — skew in a hot user
is the salted-join/AQE case (SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

#: Session gap (seconds). Event timestamps are microsecond-resolution, so
#: exact-boundary ties are not a concern (verified: zero 1800 s gaps).
SESSION_GAP_S = 1800


def sessions(frame: DataFrame) -> DataFrame:
    """The ONE sessionization query, batch or stream: per-user
    session_window with a SESSION_GAP_S inactivity gap — user_id,
    session_start (first event), last_ts (last event), n_events. A new
    session starts when the gap from the previous event is >=
    SESSION_GAP_S (session_window merges strictly-closer events; the
    oracle uses the same >= break)."""
    return (
        frame.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w")
        )
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 30-minute inactivity gap
    (`sessions` over the batch events table), one row per session."""
    return sessions(Catalog(spark, sf_dir).events).orderBy("user_id", "session_start")


def asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event → the same customer's most recent order
    at-or-before the event timestamp.

    Orders are first deduped to max(o_orderkey) per (customer, date) —
    day-granularity order dates collide, and an as-of match must be
    deterministic. The union-tag-carry composition costs ONE shuffle on
    user_id; a naive range join would be |events|×|orders per user|."""
    cat = Catalog(spark, sf_dir)
    od = (
        cat.orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    orders_tagged = od.select(
        "user_id",
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        F.col("o_orderdate").alias("odate"),
        F.lit(0).alias("is_q"),
    )
    events_tagged = cat.events.select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("odate"),
        F.lit(1).alias("is_q"),
    )
    u = orders_tagged.unionByName(events_tagged)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_q", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("last_order_key", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("last_order_date", F.last("odate", ignorenulls=True).over(w))
        .filter(F.col("is_q") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "last_order_key",
            "last_order_date",
        )
        .orderBy("event_id")
    )


#: Range-join window (seconds) and bucket width for the banded plan.
RANGE_WINDOW_S = 300


def range_join_nearby_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: pairs of events by the same user within ±5 minutes of
    a purchase event.

    A naive theta-join explodes to |purchases|×|user events|; the
    scalable plan BANDS time into RANGE_WINDOW_S buckets: each purchase
    probes its own bucket ±1 (any match within the window must fall
    there), so the shuffle key is (user_id, bucket) and the inequality
    is only evaluated on banded candidates. This is the interval-join
    strategy streaming engines use for stream-stream joins; the DuckDB
    oracle runs the plain inequality join.
    """
    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "user_id", "event_type", F.col("ts").alias("ts")
    )
    bucket = (F.unix_timestamp("ts") / RANGE_WINDOW_S).cast("long")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.explode(
                F.array(bucket - 1, bucket, bucket + 1)
            ).alias("bucket"),
        )
    )
    others = ev.select(
        F.col("event_id").alias("other_id"),
        "user_id",
        F.col("event_type").alias("other_type"),
        F.col("ts").alias("o_ts"),
        bucket.alias("bucket"),
    )
    return (
        purchases.join(others, ["user_id", "bucket"])
        .filter(
            (F.col("other_id") != F.col("purchase_id"))
            & (F.abs(F.unix_timestamp("o_ts") - F.unix_timestamp("p_ts")) <= RANGE_WINDOW_S)
        )
        .select("purchase_id", "other_id", "user_id", "other_type")
        .distinct()
        .orderBy("purchase_id", "other_id")
    )
