"""Structured Streaming path for the events stream.

The reference is strictly monthly batch (SURVEY.md §2.8) — streaming here is
the target-engine extension for incremental ingest: the same tumbling-window
aggregation as the batch query (queries_training.q_events_tumbling), run as a
file-source stream with a watermark, so late data is handled and the batch
query doubles as the correctness oracle (stream == batch on a closed input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType,
)

# Output shape of stream_tumbling_counts — shared with the sink read-back so
# the two cannot drift (an explicit-schema parquet read returns silent nulls
# for a renamed column instead of failing).
TUMBLING_OUT_SCHEMA = (
    "window_start_us long, event_type string, n_events long, value_sum_e6 long"
)

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampNTZType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def stream_tumbling_counts(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream(parquet dir) -> 1h tumbling window per event_type with a
    10-minute watermark -> streaming DataFrame (caller picks sink/trigger)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    withevent = src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    return (
        withevent.withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * 1000000.0 + 0.5).cast("bigint").alias("value_sum_e6"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum_e6",
        )
    )


def run_stream_available_now(spark: SparkSession, input_dir: str, name: str) -> DataFrame:
    """Drain the whole input with Trigger.AvailableNow into a memory sink;
    returns the final result table (complete mode).

    TEST/ORACLE PATH ONLY: complete mode + memory sink keep all state on the
    driver. The scale path is run_stream_file_sink (append mode, durable
    checkpoint, watermark-bounded state)."""
    q = (
        stream_tumbling_counts(spark, input_dir)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_stream_file_sink(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """The production-shaped streaming path: append-mode parquet sink with a
    durable checkpointLocation. Each invocation drains currently-available
    files (Trigger.AvailableNow) and emits exactly the windows the advancing
    watermark has closed; state is bounded by the watermark (not the corpus)
    and a killed/restarted job resumes from the checkpoint offsets with no
    duplicated or lost windows (tests/test_pipeline_and_streaming.py)."""
    q = (
        stream_tumbling_counts(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: a drain that closed zero windows leaves only
    # _spark_metadata in the sink and schema inference would fail
    return spark.read.schema(TUMBLING_OUT_SCHEMA).parquet(out_dir)


ENRICH_OUT_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string,"
    " value double, type_weight double, weighted_value_e6 long"
)


def run_stream_enrich(
    spark: SparkSession,
    input_dir: str,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream-static broadcast enrichment — the streaming analog of the
    batch pipeline's small-dimension joins (J6/J13): each micro-batch of
    events joins a STATIC dimension (event_type -> weight) via a broadcast
    hash join, so the stream side never shuffles and the join adds no
    state (stream-static joins are stateless by construction — only
    stream-stream joins buffer rows). Inner join: unknown event types drop,
    mirroring the batch dim-join semantics. Append parquet sink + durable
    checkpoint; restart-safe like the other streaming paths.

    At scale the dim is the broadcast side (place types: 200 rows; language
    weights: 39 rows); a dim too big to broadcast belongs in the batch
    layer, not inside a per-micro-batch join."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    enriched = (
        src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .join(F.broadcast(dim), "event_type")
        .select(
            "event_id",
            F.unix_micros(F.col("ts_ltz")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "type_weight",
            F.floor(F.col("value") * F.col("type_weight") * 1000000.0 + 0.5)
            .cast("bigint")
            .alias("weighted_value_e6"),
        )
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(ENRICH_OUT_SCHEMA).parquet(out_dir)


DEDUP_OUT_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)


def run_stream_dedup(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming exact deduplication — the streaming member of the dedup
    family (operators/dedup.py covers the batch side).

    ``dropDuplicatesWithinWatermark`` on the event id: an at-least-once
    upstream (file redelivery, producer retries) becomes effectively-once
    downstream, and — the 100-TB property — the dedup STATE holds only ids
    seen within the watermark horizon instead of every id ever seen (a plain
    ``dropDuplicates`` on a stream retains unbounded state). Append parquet
    sink + durable checkpoint; a restarted job resumes from the checkpoint
    offsets, and ids already emitted before the restart stay deduplicated
    across it as long as their duplicates arrive within the watermark
    (tests/test_pipeline_and_streaming.py drives a redelivery + restart).
    """
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    deduped = (
        src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.unix_micros(F.col("ts_ltz")).alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(DEDUP_OUT_SCHEMA).parquet(out_dir)


def stream_sliding_counts(spark: SparkSession, input_dir: str) -> DataFrame:
    """Sliding-window aggregation (1 h window, 30 min slide) per event_type
    with a 10-minute watermark — the overlapping-window member of the
    window family (tumbling/session/sliding). Each event belongs to exactly
    length/slide = 2 windows; Spark expands that assignment inside the
    stateful agg, and state stays watermark-bounded exactly like the
    tumbling path. Batch twin: queries_training.q_events_sliding (same
    epoch arithmetic, explode over the two window starts)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    withevent = src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    return (
        withevent.withWatermark("ts_ltz", "10 minutes")
        .groupBy(
            F.window("ts_ltz", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * 1000000.0 + 0.5).cast("bigint").alias("value_sum_e6"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum_e6",
        )
    )


def run_sliding_available_now(
    spark: SparkSession, input_dir: str, name: str
) -> DataFrame:
    """Drain the input through the sliding-window agg into a memory sink
    (complete mode). TEST/ORACLE PATH ONLY — the scale path is the same
    writeStream-parquet shape as run_stream_file_sink."""
    q = (
        stream_sliding_counts(spark, input_dir)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


ATTRIB_WINDOW_H = 6  # the DuckDB oracle writes it as INTERVAL n HOUR
ATTRIB_WINDOW_S = ATTRIB_WINDOW_H * 3600
ATTRIB_WATERMARK = "2 hours"


def stream_stream_attribution(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Stream-STREAM inner join with an event-time range condition — the
    attribution query (each 'view' joined to every same-user 'purchase'
    within the following ATTRIB_WINDOW_S seconds), the one streaming join
    shape the engine was missing (stream-static enrichment landed in r4).

    Both sides carry watermarks and the join predicate bounds purchase
    time to [view_ts, view_ts + window], so Spark's symmetric hash join
    keeps PROVABLY BOUNDED state: buffered views are evicted once the
    watermark passes view_ts + window (no future purchase can match), and
    buffered purchases once the watermark passes their own timestamp. On a
    closed, time-ordered input the drained result equals the batch
    theta-join exactly — the batch SQL is the oracle. Inner join emits on
    match (no watermark wait), so availableNow drains are complete.

    100-TB shape: one shuffle per side on user_id; state is
    O(events-per-watermark-horizon), independent of stream length."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    base = src.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts_ltz").alias("v_ts"),
        )
        .withWatermark("v_ts", ATTRIB_WATERMARK)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_ltz").alias("p_ts"),
        )
        .withWatermark("p_ts", ATTRIB_WATERMARK)
    )
    j = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_S} SECONDS")
        ),
        "inner",
    )
    return j.select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("v_ts")))
        .cast("bigint")
        .alias("delay_us"),
    )


def run_attribution_available_now(
    spark: SparkSession,
    input_dir: str,
    name: str,
    **kwargs,
) -> DataFrame:
    """Drain the stream-stream attribution join into a memory sink (append
    mode — the only mode stream-stream joins support). TEST/ORACLE PATH
    ONLY; the durable path is the same writeStream-parquet +
    checkpointLocation shape as run_stream_file_sink."""
    q = (
        stream_stream_attribution(spark, input_dir, **kwargs)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_stream_merge_to_catalog(
    spark: SparkSession,
    input_dir: str,
    catalog_root: str,
    name: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming upsert into the versioned catalog: foreachBatch MERGEs each
    micro-batch's per-(day, event_type) deltas into a running-total table,
    EXACTLY-ONCE end to end — the streaming-into-Iceberg shape of a
    production ingest (readStream -> foreachBatch -> MERGE with txn-id).

    Mechanics, each chosen for the at-scale property it buys:

    - Per-event quantization ``floor(value*1e6 + 0.5)`` BEFORE summation:
      integer sums are associative, so totals folded epoch-by-epoch equal
      one batch aggregation over all input bit-for-bit (the DuckDB oracle)
      regardless of how the stream was chopped into micro-batches.
    - ``catalog.merge(partition_by='day')``: an epoch touches only the day
      partitions present in its delta; every other partition carries over
      as file copies. At 10^12 rows an epoch costs O(its own days), not
      O(table).
    - Exactly-once via the Delta/Iceberg txn-id pattern: each epoch commits
      under fingerprint ``{name}:epoch={batch_id}``. Structured Streaming
      replays a failed epoch under the SAME batch_id; the sink sees a
      snapshot already committed with that fingerprint and no-ops, so a
      crash between catalog commit and checkpoint commit cannot double
      apply (pinned by tests/test_pipeline_and_streaming.py).

    Returns the final running-total table (current catalog version).
    """
    from ..sources.catalog import Catalog

    cat = Catalog(catalog_root)
    apply_batch = make_catalog_merge_batch_fn(spark, cat, name)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _read_totals(spark, cat, name)


def _read_totals(spark: SparkSession, cat, name: str) -> DataFrame:
    # day is a partition directory (day=2024-01-01); Spark's partition-column
    # type inference reads it back as DATE — pin it to the declared string
    # type so totals round-trip schema-stable across merges and engines
    return cat.read(spark, name).withColumn(
        "day", F.col("day").cast("string")
    )


def make_catalog_merge_batch_fn(spark: SparkSession, cat, name: str):
    """The foreachBatch applier of run_stream_merge_to_catalog, exposed so
    tests can redeliver an epoch under its original batch_id (the crash-
    between-catalog-commit-and-checkpoint-commit case) and pin the no-op."""

    def _epoch_done(fp: str) -> bool:
        return any(s.get("fingerprint") == fp for s in cat.snapshots(name))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        fp = f"{name}:epoch={batch_id}"
        if _epoch_done(fp):
            return
        delta = (
            batch_df.select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "event_type",
                F.floor(F.col("value") * 1000000.0 + 0.5)
                .cast("bigint")
                .alias("_e6"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("_e6").cast("bigint").alias("value_sum_e6"),
            )
        )
        if delta.isEmpty():
            return
        run_id = f"epoch-{batch_id}"
        if cat.current_version(name) is None:
            cat.write(spark, delta, name, fp, run_id, partition_by=["day"])
            return
        cur = _read_totals(spark, cat, name)
        touched = [r["day"] for r in delta.select("day").distinct().collect()]
        combined = (
            cur.filter(F.col("day").isin(touched))
            .unionByName(delta)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("value_sum_e6").cast("bigint").alias("value_sum_e6"),
            )
        )
        cat.merge(
            spark, combined, name, ["day", "event_type"], fp, run_id,
            partition_by="day",
        )

    return apply_batch
