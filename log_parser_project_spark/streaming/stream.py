"""Structured Streaming variant of the pipeline.

``readStream`` over a parquet directory of transcripts → the same
narrow parse→enrich→route plan (the pandas-UDF extract works
unchanged under micro-batching) → ``foreachBatch`` commits of each
micro-batch as a ``replace_partitions`` snapshot, which with Spark's own
checkpoint log gives exactly-once per micro-batch.
``trigger(availableNow=True)`` drains whatever has landed and stops —
the incremental-batch shape the reference approximates with its resume
loop (``ultra_light_parser.py:144-179``).

Event-time machinery the reference lacks but a streaming deployment
needs: ``with_watermarked_counts`` adds a 10-minute watermark on ``ts``
and windowed per-route counts, tolerating late turns without unbounded
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import SnapshotCatalog
from ..plans.pipeline import build_routed

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def batch_sink(spark: SparkSession, catalog: SnapshotCatalog, table: str):
    """foreachBatch sink, idempotent under micro-batch re-delivery.

    ``foreachBatch`` + plain append is only at-least-once: a crash
    after the write but before the checkpoint commit re-delivers the
    same ``batch_id``, double-appending. Committing each batch as a
    ``replace_partitions`` snapshot of its own ``batch=<id>`` subtree
    makes re-delivery replace the earlier commit of that batch —
    exactly-once end to end (the per-batch analog of the checkpointed
    pipeline's per-group replace).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        routed = build_routed(spark, batch_df).withColumns(
            {"day": F.to_date("ts"), "batch": F.lit(batch_id).cast("long")}
        )
        catalog.write_table(
            routed.repartition("route"),
            table,
            mode="replace_partitions",
            partition_by=["batch", "route", "day"],
            replace_leaves=[f"batch={batch_id}"],
            lineage={"stage": "stream_fan_out", "stream_batch_id": batch_id},
        )

    return sink


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    catalog: SnapshotCatalog,
    checkpoint_dir: str,
    table: str = "stream_staging",
):
    """Drain ``input_dir`` once (availableNow) into the routed table.

    Returns the terminated StreamingQuery. Re-invoking after new files
    land processes only the new files (source offsets live in the
    checkpoint), append-only with exactly-once per batch.
    """
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    q = (
        src.writeStream.foreachBatch(batch_sink(spark, catalog, table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def upsert_sink(
    catalog,
    table: str,
    keys: list[str],
    partition_by: list[str] | None = None,
):
    """foreachBatch MERGE sink — the streaming-upsert idiom (Structured
    Streaming + Iceberg ``MERGE INTO`` in ``foreachBatch``), truly
    exactly-once: each commit records its ``batch_id`` in snapshot
    lineage, and a re-delivered micro-batch (crash after the table
    commit but before the stream checkpoint advanced) sees its own id
    on the table pointer and skips — no duplicate snapshot, no
    double-apply. The batch frame must be key-unique on ``keys``
    (dropDuplicates upstream if the source can repeat keys within one
    batch).

    When ``partition_by`` ⊆ ``keys`` the merge rewrites only the
    partitions the batch touches (copy-on-write at partition
    granularity) — the shape a conv_id/day-keyed upsert stream wants at
    scale.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        snap = catalog.snapshot(table)
        if snap is not None and snap.lineage.get("stream_batch_id") == batch_id:
            return  # re-delivered batch: already committed
        # per-BATCH key dedup (merge requires a key-unique source; a
        # batch spanning several files can carry the same turn twice —
        # arbitrary winner within one batch, like Iceberg's merge on an
        # undeduped source would reject). Stream-level dropDuplicates
        # would be wrong here: stateful whole-stream dedup DROPS later
        # re-sends, the opposite of upsert.
        batch_df = batch_df.dropDuplicates(keys)
        lineage = {"stage": "stream_upsert", "stream_batch_id": batch_id}
        if snap is None:
            catalog.write_table(
                batch_df, table, mode="overwrite",
                partition_by=partition_by, lineage=lineage,
            )
        else:
            catalog.merge(
                batch_df, table, on=keys,
                partition_by=partition_by, lineage=lineage,
            )

    return sink


def stream_upsert(
    spark: SparkSession,
    input_dir: str,
    catalog,
    checkpoint_dir: str,
    table: str = "turns_upserted",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
):
    """Drain ``input_dir`` (availableNow) upserting each micro-batch
    into a snapshot table keyed on ``keys`` — late re-sends of a turn
    REPLACE the earlier row instead of duplicating it, which the
    append-only ``stream_pipeline`` cannot do. Source offsets live in
    the stream checkpoint; re-runs process only new files."""
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    q = (
        src.writeStream.foreachBatch(upsert_sink(catalog, table, list(keys)))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def with_watermarked_counts(stream_df: DataFrame) -> DataFrame:
    """Windowed per-route counts under a 10-minute watermark (late data
    beyond the watermark is dropped; state is bounded)."""
    routed = stream_df  # expects a routed stream (route column present)
    return (
        routed.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "route")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "route", "n")
    )


def dedup_within_watermark(
    stream_df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermark-bounded stateful dedup for at-least-once sources —
    the front-door data-quality op for re-delivered log streams
    (``dropDuplicatesWithinWatermark``): a key is held in state only
    while a duplicate can still arrive (until the event-time watermark
    passes it), so state is bounded by the watermark horizon instead of
    growing with the whole stream. Duplicates arriving within the
    watermark delay of each other — in the same micro-batch or across
    batches — collapse to one row; contrast with ``stream_upsert``,
    where a later re-send must REPLACE (this op would drop it).

    Size the watermark to the maximum EVENT-TIME lag of a re-delivery,
    not its wall-clock lag: a row whose event time trails the stream's
    max by more than the watermark is discarded as late data entirely
    (pinned in the test — a backfill replaying a month of history needs
    a month-scale watermark or a separate batch dedup).
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    upper: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked event-time interval join of two streams — the
    request→response correlation op (a user turn joined to the
    assistant/tool turn that answers it within ``upper``), which
    ``foreachBatch`` per-batch joins cannot express: the two sides of
    a pair may arrive in different micro-batches.

    Semantics (Spark's symmetric stateful hash join): each side
    buffers rows in state; a pair emits when its second row arrives;
    the interval inequalities (``left_ts <= right_ts <= left_ts +
    upper``) plus the watermarks on BOTH sides let Spark evict state
    older than ``watermark + upper`` — without the time bound the
    state grows with the whole stream. Rows within the watermark are
    guaranteed to match across micro-batches (pinned in the
    cross-batch pytest); rows trailing the watermark horizon may be
    dropped — size ``watermark`` to the maximum event-time lag of a
    late response, not its wall-clock lag. ``how="left_outer"``
    additionally emits unmatched left rows (null right columns) once
    the watermark crosses ``left_ts + upper`` — the "request never
    answered" audit stream — which needs the watermark to keep
    advancing: an availableNow drain only flushes horizons some LATER
    batch's watermark has already crossed, so tail-of-stream
    unanswered requests stay buffered (by design; a final empty batch
    has no new watermark).

    Scale: state is hash-partitioned on ``key`` (the same conv_id
    shuffle the batch pipeline uses) and bounded by the event-time
    horizon × arrival rate, not the stream length. The two event-time
    columns MUST be named differently (asserted): Spark resolves the
    interval condition by name across the join.
    """
    if left_ts == right_ts:
        raise ValueError(
            f"left_ts and right_ts must differ (both {left_ts!r}): rename "
            "one side so the interval condition is unambiguous"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])
