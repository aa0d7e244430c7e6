"""Incrementally maintained aggregate table (streaming materialized
view): a ``foreachBatch`` sink that MERGEs each micro-batch's partial
aggregates into a persistent per-key table.

This is the production pattern behind "keep a rollup table fresh under
an event stream": the stream never holds the full aggregate in state
(unbounded keys would grow checkpoint state forever); instead each
micro-batch computes a batch-local partial agg (map-side combinable,
tiny) and upserts it into the table with read-modify-write MERGE
semantics — the same full-outer-join + coalesce shape as the batch
MERGE entry (plans/quality.py s8_merge_upsert), generalizing the
reference's per-file counter accumulation (R23/R26) to a keyed,
restart-safe table.

Storage: a manifest-committed bucket store hash-bucketed on user_id
(streaming/manifest.py owns the snapshot read and the write-once
stage-and-publish, and documents the exactly-once epoch skip applied
here); each micro-batch full-outer-merges its partials into only the
buckets its keys hash into, so per-batch write cost tracks the
batch's key spread, not the table size.  Values accumulate through exact DECIMAL(18,4) so
association order across micro-batches can never matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.streaming import manifest as mf

TABLE_SCHEMA = "user_id bigint, n_events bigint, total_value decimal(18,4)"


def _read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """One manifest snapshot of the store (time travel via ``version``)."""
    return mf.read_snapshot(
        spark, table_dir, TABLE_SCHEMA, mf.read_manifest(table_dir, version)
    )


def merge_batch(
    spark: SparkSession,
    table_dir: str,
    batch_df: DataFrame,
    epoch_id: int,
) -> None:
    """MERGE one micro-batch's partial aggregates into the table,
    idempotently — only affected buckets whose manifest epoch has not
    yet reached ``epoch_id`` are merged and published."""
    part = (
        batch_df.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("d_n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("d_total"),
        )
        .withColumn("bucket", mf.bucket_of("user_id"))
    )
    m = mf.read_manifest(table_dir)
    done = [b for b, e in mf.bucket_epochs(m).items() if e >= int(epoch_id)]
    todo = part.filter(~F.col("bucket").isin(done)) if done else part
    affected = sorted(r["bucket"] for r in todo.select("bucket").distinct().collect())
    if not affected:
        return  # fully-applied replay (or empty batch): no-op
    # a rewritten bucket carries ALL its keys forward: read the
    # affected buckets by exact manifest path (untouched keys in an
    # affected bucket flow through the full-outer join unchanged)
    stored = mf.read_snapshot(spark, table_dir, TABLE_SCHEMA, m, affected)
    merged = stored.join(todo.drop("bucket"), "user_id", "full_outer").select(
        "user_id",
        (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("bigint")
        .alias("n_events"),
        (
            F.coalesce(F.col("total_value"), F.lit(0).cast("decimal(18,4)"))
            + F.coalesce(F.col("d_total"), F.lit(0).cast("decimal(18,4)"))
        )
        .cast("decimal(18,4)")
        .alias("total_value"),
        mf.bucket_of("user_id").alias("bucket"),
    )
    mf.publish(merged, table_dir, int(epoch_id), affected)


def maintain_rollup(events_stream: DataFrame, table_dir: str, checkpoint_dir: str):
    """Run the stream-maintained rollup to completion (AvailableNow)."""
    spark = events_stream.sparkSession

    q = (
        events_stream.writeStream.foreachBatch(
            lambda bdf, eid: merge_batch(spark, table_dir, bdf, eid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _read_table(spark, table_dir).select("user_id", "n_events", "total_value")


def compact_table(spark: SparkSession, table_dir: str) -> int:
    """Small-file compaction through the SAME atomic protocol as the
    merges (round-12): a long-lived stream-maintained table accretes
    one commit directory per epoch — every bucket's live file sits in
    whichever commit last rewrote it, so a full read touches
    O(epochs) directories and the file count grows without bound.
    Compaction reads the CURRENT snapshot through one manifest,
    rewrites every live bucket into ONE new write-once directory (one
    file per bucket — ``repartition(bucket)`` before ``partitionBy``),
    and publishes with one manifest flip.  Readers never see a
    half-compacted table: they hold either the old manifest (all old
    paths, still on disk — write-once) or the new one; prune() then
    reclaims the dead directories.  This is exactly Delta OPTIMIZE /
    Iceberg rewrite_data_files re-expressed on the self-contained
    manifest store.

    It publishes at the manifest's CURRENT epoch, never a new one:
    every epoch up to it is fully published, so marking all buckets
    with it is exact, whereas epoch + 1 is the id the stream's next
    batch carries — that batch would find every bucket "done" and be
    skipped.  Returns the committed manifest version."""
    m = mf.read_manifest(table_dir)
    if m is None:
        raise ValueError(f"nothing to compact at {table_dir}")
    cur = mf.read_snapshot(spark, table_dir, TABLE_SCHEMA, m)
    return mf.publish(
        cur.withColumn("bucket", mf.bucket_of("user_id")).repartition("bucket"),
        table_dir,
        int(m["epoch"]),
        mf.bucket_epochs(m),
    )
