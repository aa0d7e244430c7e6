"""Stream-maintained SESSION table: a ``foreachBatch`` sink that
merges each micro-batch's events into a persistent per-user session
store — the streaming twin of the batch ``o18_incremental_sessionize``
entry, and the production shape for "keep sessions fresh under an
event stream" when the native session_window's state (T3) would have
to hold every open session in the checkpoint forever.

Invariant the merge preserves: every stored row is a session FRAGMENT
— an interval whose internal event gaps are ≤ G.  Merging a new batch
is then the ts12 interval-union-with-gap over (stored fragments ∪
batch points), per affected user: sort by start, a fragment opens a
new session iff its start exceeds the running max end by more than G.
This equals full re-sessionization of the underlying points for ANY
arrival order (late or out-of-order batches included): overlapping or
within-gap fragments merge exactly when their point sets would, and a
merged interval's internal gaps stay ≤ G, re-establishing the
invariant for the next batch.  tests/test_streaming.py proves the
stream-maintained table equals the batch one-shot sessionization.

Storage: a manifest-committed bucket store hash-bucketed on user_id
(streaming/manifest.py owns the snapshot read and the write-once
stage-and-publish, and documents the exactly-once epoch skip applied
here); each micro-batch rewrites only the buckets its users hash
into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.streaming import manifest as mf

SESSIONS_SCHEMA = "user_id bigint, s bigint, e bigint, n bigint"
# session gap of the catalog's batch and incremental sessionize entries
SESSION_GAP_MIN = 30


def _read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """One manifest snapshot of the store (time travel via ``version``)."""
    return mf.read_snapshot(
        spark, table_dir, SESSIONS_SCHEMA, mf.read_manifest(table_dir, version)
    )


def interval_union_with_gap(items: DataFrame, gap_us: int) -> DataFrame:
    """Merge session fragments (user_id, s, e, n) whose gaps are ≤ G:
    the ts12/o18 gaps-and-islands pass, user-partitioned."""
    run_end = F.max("e").over(
        Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    flagged = items.select(
        "user_id",
        "s",
        "e",
        "n",
        F.when(run_end.isNull() | (F.col("s") > run_end + gap_us), 1)
        .otherwise(0)
        .alias("st"),
    )
    wrun = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        flagged.select(
            "user_id", "s", "e", "n", F.sum("st").over(wrun).alias("island")
        )
        .groupBy("user_id", "island")
        .agg(
            F.min("s").alias("s"),
            F.max("e").alias("e"),
            F.sum("n").cast("bigint").alias("n"),
        )
        .drop("island")
    )


def merge_session_batch(
    spark: SparkSession,
    table_dir: str,
    batch_df: DataFrame,
    epoch_id: int,
    gap_us: int,
) -> None:
    """Merge one micro-batch of events into the session table,
    idempotently — only affected buckets whose manifest epoch has not
    yet reached ``epoch_id`` are merged and published."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = batch_df.select(
        "user_id", us.alias("s"), us.alias("e"), F.lit(1).cast("bigint").alias("n")
    ).withColumn("bucket", mf.bucket_of("user_id"))
    m = mf.read_manifest(table_dir)
    # buckets already carrying this (or a later) epoch were fully
    # PUBLISHED by a previous attempt — redelivery skips them (a tiny
    # literal list: control-plane metadata, not row data)
    done = [b for b, e in mf.bucket_epochs(m).items() if e >= int(epoch_id)]
    todo_pts = pts.filter(~F.col("bucket").isin(done)) if done else pts
    affected = sorted(
        r["bucket"] for r in todo_pts.select("bucket").distinct().collect()
    )
    if not affected:
        return  # fully-applied replay (or empty batch): no-op
    # a rewritten bucket must carry ALL its users forward, not just the
    # batch's: read every stored row of the affected buckets — by
    # exact manifest PATH, the strongest possible pruning (stored
    # fragments of untouched users pass through the union unchanged —
    # they are already maximal, so the gaps-and-islands pass is the
    # identity on them)
    stored = mf.read_snapshot(spark, table_dir, SESSIONS_SCHEMA, m, affected)
    merged = interval_union_with_gap(
        stored.unionByName(todo_pts.select("user_id", "s", "e", "n")), gap_us
    )
    mf.publish(
        merged.withColumn("bucket", mf.bucket_of("user_id")),
        table_dir,
        int(epoch_id),
        affected,
    )


def maintain_sessions(
    events_stream: DataFrame, table_dir: str, checkpoint_dir: str, gap_us: int
) -> DataFrame:
    """Run the stream-maintained session table to completion
    (AvailableNow) and return it."""
    spark = events_stream.sparkSession
    q = (
        events_stream.writeStream.foreachBatch(
            lambda bdf, eid: merge_session_batch(spark, table_dir, bdf, eid, gap_us)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _read_table(spark, table_dir).select("user_id", "s", "e", "n")
