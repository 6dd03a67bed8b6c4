"""Streaming jobs: the readStream twins of the declared batch queries.

Stream-table duality (SURVEY §2.11): each transformation here computes the
same result as its batch twin when the stream is a bounded file replay; the
tests assert set-equality against the batch builders.

100 TB / production design notes:
  * Sources: file replay here; in production the same transformations bind to
    Kafka/Kinesis sources — the logical plan is source-agnostic.
  * Watermarks bound state: every aggregation carries `withWatermark` so the
    state store evicts closed windows; without it state grows unboundedly.
  * `availableNow` trigger = incremental batch: replays the backlog through
    the streaming engine with bounded per-trigger work, then stops — the
    idiomatic pattern for periodic ETL over an append-only table.
  * State store: RocksDB-backed in production (config, not code); per-key
    state for sessionization/dedup shuffles on the key exactly once.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ai_to_cvent_etl_spark.io import SCHEMAS, load_table


def replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Materialize the events table as ``n_chunks`` parquet files in a temp
    dir — a deterministic replayable stream source."""
    out = tempfile.mkdtemp(prefix=f"events_replay_{uuid.uuid4().hex[:8]}_")
    events = load_table(spark, sf_dir, "events")
    events.repartition(n_chunks).write.mode("overwrite").parquet(out)
    return out


def read_events_stream(
    spark: SparkSession, src_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source readStream over a replay dir, micro-batching
    ``files_per_trigger`` files at a time."""
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_stream_tumbling (ST1)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DecimalType(12, 2)))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


def sliding_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_stream_sliding (ST2)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(stream: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Streaming sessionization via session_window (ST3's streaming twin).

    Boundary semantics DIFFER from the batch gaps-and-islands form at the
    exact-gap tie (ADVICE r1): session_window extends a session over
    [ts, ts + gap) and merges only OVERLAPPING windows, so a successor
    arriving at exactly ts + gap starts a NEW session (>= gap splits); the
    batch form in queries/streaming_batch.py splits on strictly > gap (an
    exact-gap successor merges). The fixtures contain no exact-gap pairs
    (event timestamps carry sub-second jitter), so the duality test is
    well-defined; any corpus with exact-gap ties would diverge on these rows.

    session_end also differs by construction: streaming session_end =
    last_ts + gap (window upper bound), batch session_end = MAX(ts). The
    duality test therefore compares only (user_id, session_start, n_events)
    and deliberately DROPS session_end — it is not comparable across the two
    forms."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def view_purchase_join(
    views: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """ST8: stream-stream inner join — purchases within ``horizon`` after a
    view by the same user (the attribution join, streaming form).

    Both sides carry watermarks and the join predicate carries an explicit
    time bound (purchase.ts in [view.ts, view.ts + horizon]), which is what
    lets Spark expire join state: a buffered view can be dropped once the
    purchase-side watermark passes view.ts + horizon. Without the bound the
    state store grows without limit — the canonical stream-stream join trap.
    Batch twin: the identical join on the static table (duality test)."""
    v = (
        views.withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"interval {horizon}")
        ),
        "inner",
    ).select("v_user", "view_id", "purchase_id", "view_ts", "purchase_ts")


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST5: streaming exact dedup on event_id, state bounded by the watermark."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "append",
    table_suffix: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive a bounded streaming query to completion through the memory sink
    and return the materialized result table.

    Pass the same ``checkpoint_dir`` across calls for incremental runs: the
    second run resumes source offsets AND watermark state from the
    checkpoint — the availableNow incremental-ETL pattern."""
    name = f"stream_out_{table_suffix or uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
        )
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def latest_per_key(
    df: DataFrame,
    key_cols: list[str] = ("user_id",),
    order_cols: list[str] = ("ts", "event_id"),
) -> DataFrame:
    """Latest record per key (E2's compaction): keep the row ranked first by
    ``order_cols`` descending, the unique id last, so ties break the same
    way as q_etl_latest_by_key and its DuckDB oracle."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] = ("user_id",),
    order_cols: list[str] = ("ts", "event_id"),
) -> None:
    """Micro-batch CDC upsert via foreachBatch: each batch is merged into a
    parquet target keeping the latest record per key (E2's compaction run
    incrementally, ``latest_per_key``). The merge is deterministic, so the
    final target equals the batch compaction of the full input regardless
    of how the stream was chunked into micro-batches.

    Production notes: against a real lakehouse table this body is a MERGE
    INTO; against plain parquet we read-union-compact-rewrite, which is
    correct but O(target) per batch. The merge itself is idempotent (a
    replayed batch re-derives the same latest-per-key rows), and the
    staged-write-then-swap below makes each rewrite crash-safe: the merged
    result is durable in a staging dir before the old target is touched, so
    a failure at any point leaves either the old or the new complete target
    on disk, never a half-written one. True exactly-once (atomic commit +
    batch-id tracking) needs a transactional table format, not plain
    parquet — that is a deliberate scope boundary of this local fake.
    """
    staging = f"{target_dir}__staging"
    retired = f"{target_dir}__retired"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # A crash between the two renames below leaves the previous target
        # only under __retired, and Spark replays the batch on restart: put
        # the target back first, or the merge would treat it as empty.
        if not os.path.isdir(target_dir) and os.path.isdir(retired):
            os.rename(retired, target_dir)
        merged = batch_df
        if os.path.isdir(target_dir):
            merged = batch_df.sparkSession.read.parquet(target_dir).unionByName(
                batch_df
            )
        compacted = latest_per_key(merged, key_cols, order_cols)
        # Stage-then-swap: writing the merged result straight over
        # target_dir would make the rewrite's input depend on files being
        # deleted (cache() does not survive executor loss — a mid-write
        # recompute would read a half-deleted target). The staged copy is
        # fully durable before the old target is touched.
        compacted.write.mode("overwrite").parquet(staging)
        shutil.rmtree(retired, ignore_errors=True)
        if os.path.isdir(target_dir):
            os.rename(target_dir, retired)
        os.rename(staging, target_dir)
        shutil.rmtree(retired, ignore_errors=True)

    (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
