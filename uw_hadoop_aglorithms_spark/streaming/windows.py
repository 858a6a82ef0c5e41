"""Event-time windowing over `events` (SURVEY.md §2.10 T1-T3).

Replaces the reference's clock-driven DStream batches with event-time
windows computed from the `ts` column — the data declares its own time.
`event_type` plays the role of the reference's geo-region tag
(FIXTURES.md: the bounding-box predicate itself lives in functions/geo.py).

Each query body is one frame→frame function (`window_counts`,
`geo_tagged`): the batch functions below apply it to `Catalog.events`,
the `runner.stream_*` functions to the watermarked replay stream.

Window alignment: F.window() buckets align to the Unix epoch in the
session timezone (pinned UTC in session.py), identical to
floor(epoch/width)*width — the oracle SQL uses exactly that arithmetic.

Scale notes: tumbling-window counts are a single groupBy over (window,
key) — partial aggregation makes the shuffle |windows × keys|, independent
of event volume. The trend detection is a lag window over the *aggregated*
frame (tiny), never over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uw_hadoop_aglorithms_spark.functions.geo import region_tag, synth_lonlat
from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

#: Trend alert thresholds (reference Spark/Spark Streaming/
#: TrendingArrivals.scala:93-96: alert iff curr >= 10 and curr >= 2*prev).
TREND_MIN = 10
TREND_FACTOR = 2


def window_counts(
    frame: DataFrame,
    minutes: int,
    slide: int | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The ONE window-count query, batch or stream: counts of `frame`
    rows per event-time window of `minutes` (sliding by `slide` minutes
    when given, else tumbling) and per `keys` column. Output columns:
    window_start, *keys, cnt. A stream passes its watermarked frame; the
    query body is the same either way."""
    width = f"{minutes} minutes"
    w = F.window("ts", width, f"{slide} minutes") if slide else F.window("ts", width)
    return (
        frame.groupBy(w.alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *keys, "cnt")
    )


def geo_tagged(frame: DataFrame) -> DataFrame:
    """The REAL bounding-box tagger (reference RegionEventCount.scala:
    66-98): (ts, region) for points inside the goldman/citigroup boxes
    (citigroup priority, inclusive bounds); out-of-box rows are dropped.
    The fixture has no lon/lat, so coordinates derive deterministically
    from event_id (functions/geo.py synth_lonlat) — pure column
    arithmetic, identical doubles in the DuckDB oracle. Map-side: the
    filter drops ~99% of events before any shuffle or stream state."""
    lon, lat = synth_lonlat(F.col("event_id"))
    return frame.select("ts", region_tag(lon, lat).alias("region")).where(
        F.col("region").isNotNull()
    )


def event_count(spark: SparkSession, sf_dir: str, minutes: int = 60) -> DataFrame:
    """T1: tumbling-window total event counts (reference EventCount.scala:
    66-72, reduceByKeyAndWindow with window == slide == 60 min)."""
    events = Catalog(spark, sf_dir).events
    return window_counts(events, minutes).orderBy("window_start")


def sliding_event_count(
    spark: SparkSession, sf_dir: str, minutes: int = 60, slide: int = 30
) -> DataFrame:
    """T1 generalized to SLIDING windows (width 60 min, slide 30 min):
    each event lands in width/slide = 2 overlapping windows. The
    reference's windowed DStream supports this shape (window != slide)
    but never instantiates it; Structured Streaming's F.window() does it
    declaratively.

    Scale: Spark expands each event into width/slide window replicas
    map-side, then aggregates with partial combine — shuffle volume is
    |windows × 2| partials, independent of event volume.
    """
    events = Catalog(spark, sf_dir).events
    return window_counts(events, minutes, slide).orderBy("window_start")


def region_event_count(spark: SparkSession, sf_dir: str, minutes: int = 60) -> DataFrame:
    """T2: windowed counts per region tag (reference RegionEventCount.scala:
    85-98; `event_type` is the fixture's stand-in for the geo tag)."""
    events = Catalog(spark, sf_dir).events
    return window_counts(events, minutes, keys=("event_type",)).orderBy(
        "window_start", "event_type"
    )


def geo_region_count(spark: SparkSession, sf_dir: str, minutes: int = 60) -> DataFrame:
    """T2 with the real bounding-box tagger (geo_tagged), counted per
    tumbling window. Scale shape: tag + filter are map-side; the
    aggregate shuffles |windows×regions| partial counts only."""
    tagged = geo_tagged(Catalog(spark, sf_dir).events)
    return window_counts(tagged, minutes, keys=("region",)).orderBy(
        "window_start", "region"
    )


def trending_arrivals(spark: SparkSession, sf_dir: str, minutes: int = 10) -> DataFrame:
    """T3 batch form: 2×-trend detection via lag over window counts.

    Reference semantics (TrendingArrivals.scala:86-98): keyed state holds
    the previous batch's count; alert iff curr >= 10 and curr >= 2·prev.
    `prev` is the last window IN WHICH THE KEY APPEARED (mapWithState only
    updates keys present in a batch), which is exactly lag() over the
    present windows; first appearance ⇒ prev = 0.
    """
    counts = window_counts(
        Catalog(spark, sf_dir).events, minutes, keys=("event_type",)
    )
    w = Window.partitionBy("event_type").orderBy("window_start")
    return (
        counts.withColumn("prev", F.coalesce(F.lag("cnt").over(w), F.lit(0)))
        .withColumn(
            "alert",
            (F.col("cnt") >= TREND_MIN)
            & (F.col("cnt") >= TREND_FACTOR * F.col("prev")),
        )
        .orderBy("event_type", "window_start")
    )
